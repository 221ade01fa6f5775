"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload read_write_mixed --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The engine runs in this process at
``local[nproc]`` with ``nproc`` shuffle partitions; inputs are generated
from ``--seed`` (perfbench/gen.py) and every run is checked against an
independent oracle (perfbench/oracle.py) outside the timed region.
perfbench/README.md describes the workloads and every metric.

The engine keeps its own session settings (``get_spark``: driver heap,
code cache); the benchmark only moves scratch files, the warehouse and,
in traced runs, the event log into its work directory.

CPU seconds (see ``CpuMeter``) are user + system time of this process,
the driver JVM without its JIT compiler threads, and the pyspark worker
daemon with its Python workers.

End-to-end metrics (``--trace 0``), reported by every workload:

- ``setup_s``: median CPU seconds of three set-ups: generating the inputs
  and seeding the table (read_write_mixed), or generating the corpus and
  calling each query once (corpus_queries). The first set-up runs on the
  cold JVM before the measured operations, the other two after them;
- ``op_cpu_s``: median CPU seconds of the measured operations — a
  write/scan/lookup/feed cycle (read_write_mixed) or a round of the
  registry queries (corpus_queries) — on what the first set-up made;
- ``heap_live_mb``: driver heap in use after full collections at the end
  of the run: what the engine keeps.

Each workload measures a fixed number of operations (three untraced, five
traced), not as many as ``--seconds`` allows, so that every machine and
every commit measures the same ones; ``--seconds`` is recorded only.
Wall times (the operations' median ``op_p50_s`` and the set-ups'), the
peak resident memory and the JIT's compile time are on the ``detail``
line: on a 4-core machine shared with other tenants they spread too much
from one run to the next to gate on.

The line before the result (``detail``) carries the workload-specific
figures and the window evidence: a bare parquet-scan probe and the JIT
code-cache occupancy at the start and the end of the run.

``--trace 1`` turns the Spark event log on and runs five operations:
two untraced, two with spans around the calls into each layer (installed
only in this mode), then one untraced again. It reports the per-layer
ledger of the traced operations and the tracing overhead as their median
wall over that of the untraced ones after the first.

The last line of standard output is the JSON result. Results, with the
window evidence, are also written under ``perfbench/out/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.workloads import QUERIES  # noqa: E402
SET_UPS = 3
TICK = os.sysconf("SC_CLK_TCK")
PROBE_ROWS = 250_000

END_TO_END = {"setup_s": "s", "op_cpu_s": "s", "heap_live_mb": "MB"}

PHASES = ("lineage_join", "lww_and_stats", "routed_write", "merge", "quarantine_join")
PER_LAYER = {
    "session.start_s": "s",
    "jvm.code_cache_used_mb": "MB",
    "driver.peak_rss_mb": "MB",
    "jvm.gc_s": "s",
    "jvm.jit_compile_s": "s",
    "jvm.cpu_s": "s",
    "driver.python_cpu_s": "s",
    "pyspark.workers_cpu_s": "s",
    "trace.coverage": "ratio",
    "trace.overhead": "ratio",
    "streaming.runner.drain_s": "s",
    "streaming.runner.self_s": "s",
    "streaming.runner.batches": "count",
    "cdc.apply.batches": "count",
    "cdc.apply.s": "s",
    "cdc.apply.self_s": "s",
    "cdc.apply.jobs_per_batch": "count",
    "cdc.apply.tasks_per_batch": "count",
    "cdc.apply.codegen_compiles_per_batch": "count",
    "cdc.apply.driver_only_s": "s",
    "cdc.apply.executor_cpu_s": "s",
    "cdc.apply.shuffle_bytes": "B",
    "cdc.apply.spill_bytes": "B",
    "cdc.apply.max_key_rows": "count",
    "cdc.apply.winner_ratio": "ratio",
    "cdc.apply.quarantine_ratio": "ratio",
    **{f"cdc.apply.phase.{p}_s": "s" for p in PHASES},
    "lake.table.merge_s": "s",
    "lake.table.merges": "count",
    "lake.table.bytes_written_per_commit": "B",
    "lake.table.stack_depth_max": "count",
    "lake.table.folds": "count",
    "lake.table.files_live": "count",
    "lake.table.read_s": "s",
    "lake.table.read_input_bytes": "B",
    "lake.table.changes_s": "s",
    "lake.table.space_amp": "ratio",
    "streaming.changefeed.step_s": "s",
    **{
        f"plans.{q}{suffix}": unit
        for q in QUERIES
        for suffix, unit in (("_s", "s"), (".jobs", "count"), (".codegen_compiles", "count"), (".driver_only_s", "s"))
    },
}


def _proc_status_kb(pid, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def _proc_stat(path) -> list[str]:
    """Fields of a /proc .../stat file from the state on (field 3 is index 0)."""
    with open(f"{path}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _comm(path) -> str:
    with open(f"{path}/comm") as f:
        return f.read().strip()


def _proc_cpu_s(pid) -> float:
    fields = _proc_stat(f"/proc/{pid}")
    return (int(fields[11]) + int(fields[12])) / TICK


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) of ``root`` and every live descendant,
    each with the CPU of its children that already exited and were reaped."""
    ticks, children = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            fields = _proc_stat(f"/proc/{d}")
        except OSError:  # exited meanwhile
            continue
        pid = int(d)
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        children.setdefault(int(fields[1]), []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / TICK


def jvm_threads_cpu_s(pid: int) -> dict[int, float]:
    """CPU seconds per live thread of a JVM, its JIT compiler threads
    (``C1/C2 CompilerThreadN``) left out."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        path = f"/proc/{pid}/task/{tid}"
        try:
            if _comm(path).startswith(("C1 Compiler", "C2 Compiler")):
                continue
            fields = _proc_stat(path)
        except OSError:
            continue
        out[int(tid)] = (int(fields[11]) + int(fields[12])) / TICK
    return out


class CpuMeter:
    """CPU seconds (user + system) the program spends: this Python process,
    the driver JVM and the JVM's descendants (the pyspark worker daemon and
    its Python workers, which run the engine's pandas UDFs), reaped ones
    included.

    The JVM's JIT compiler threads are left out. Within a run of a minute
    they are still compiling the engine's hot paths, and how much of that
    work lands inside one operation depends on how much CPU the machine
    gives them: 1 to 4 CPU seconds in a 5-7 s query round, jumping from
    round to round, against a few percent for the other threads. Spark's
    own whole-stage codegen runs on the driver and task threads and is
    counted. ``jvm.jit_compile_s`` reports the JIT's time."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def snap(self) -> tuple[float, dict[int, float]]:
        threads = jvm_threads_cpu_s(self.jvm_pid)
        return tree_cpu_s(os.getpid()) - _proc_cpu_s(self.jvm_pid), threads

    def since(self, snap) -> float:
        procs0, threads0 = snap
        procs, threads = self.snap()
        # a thread that started meanwhile counts from 0; one that ended
        # meanwhile drops out (the JVM's pools keep their threads)
        return procs - procs0 + sum(v - threads0.get(t, 0.0) for t, v in threads.items())


class Jvm:
    """Management-bean probes of the driver JVM."""

    def __init__(self, spark):
        self.jvm = spark.sparkContext._jvm
        self.mf = self.jvm.java.lang.management.ManagementFactory
        self.pid = int(self.mf.getRuntimeMXBean().getPid())
        self.codegen = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def code_cache_mb(self) -> float:
        pools = self.mf.getMemoryPoolMXBeans()
        return sum(p.getUsage().getUsed() for p in pools if "Code" in p.getName()) / 2**20

    def heap_live_mb(self) -> list[float]:
        """Heap in use after each of three full collections, each once
        Python dropped its garbage references to JVM objects and Spark's
        cleaner had a quarter second to release what the previous one
        freed (broadcast and shuffle blocks); the last is the live heap."""
        import gc

        used = []
        for _ in range(3):
            gc.collect()
            self.jvm.java.lang.System.gc()
            used.append(self.mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20)
            time.sleep(0.25)
        return used

    def jit_compile_s(self) -> float:
        return self.mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0

    def gc_s(self) -> float:
        return sum(g.getCollectionTime() for g in self.mf.getGarbageCollectorMXBeans()) / 1000.0

    def compiles(self) -> int:
        return int(self.codegen.getCount())


def scan_probe(spark, path: str) -> float:
    """Median of three bare parquet scans: the window's own speed."""
    walls = []
    for _ in range(3):
        t = time.perf_counter()
        spark.read.parquet(path).selectExpr("sum(a)", "max(b)").collect()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def _write_probe(path: str, seed: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    pq.write_table(
        pa.table({"a": rng.integers(0, 1 << 40, PROBE_ROWS), "b": rng.random(PROBE_ROWS)}), path
    )


def _start_spark(work: str, trace: bool):
    from file_standardization_etl_spark.session import get_spark

    cpus = os.cpu_count() or 1
    # the engine's own driver settings (heap, code cache) stay as shipped;
    # only where the JVMs write scratch files moves into the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until it exited."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _install_spans(tracer, stats: dict) -> None:
    """Spans around the calls into each layer's public functions, plus the
    counts each call returns or leaves in the table snapshot."""
    from file_standardization_etl_spark.cdc.apply import CdcEngine
    from file_standardization_etl_spark.lake.table import LakeTable
    from file_standardization_etl_spark.streaming.changefeed import ChangeFeedFollower
    from file_standardization_etl_spark.streaming.runner import StreamingCdcRunner
    from perfbench.workloads import snapshot_files, stack_depths

    def table_files(table):
        files = snapshot_files(table)
        paths = {}
        for e in files.values():
            if e.get("path"):
                paths[e["path"]] = e.get("bytes", 0)
            for d in e.get("deltas") or []:
                paths[d["path"]] = d.get("bytes", 0)
        return paths, stack_depths(files)

    def after_merge(table, before, _):
        paths0, depth0 = before
        paths, depth = table_files(table)
        stats["merges"] += 1
        stats["bytes_written"] += sum(v for p, v in paths.items() if p not in paths0)
        stats["stack_depth_max"] = max(stats["stack_depth_max"], max(depth.values(), default=0))
        stats["folds"] += any(n and not depth.get(b) for b, n in depth0.items())
        stats["files_live"] = len(paths)

    def after_apply(engine, before, m):
        for k in ("rows_in", "rows_valid", "rows_quarantined", "rows_upserts", "rows_deletes"):
            stats[k] += getattr(m, k)
        stats["max_key_rows"] = max(stats["max_key_rows"], m.max_key_rows)
        for k, v in getattr(engine, "timings", {}).items():
            stats["phases"][k] = stats["phases"].get(k, 0.0) + v - before.get(k, 0.0)

    tracer.wrap(StreamingCdcRunner, "run_available_now", "streaming.runner")
    tracer.wrap(
        CdcEngine, "apply_batch", "cdc.apply",
        before=lambda e: dict(getattr(e, "timings", {})), after=after_apply,
    )
    tracer.wrap(LakeTable, "merge", "lake.table.merge", before=table_files, after=after_merge)
    tracer.wrap(ChangeFeedFollower, "step", "streaming.changefeed.step")


def _per_layer(led: dict, stats: dict, spans, windows, extra: dict) -> dict:
    from perfbench import trace

    def g(name, key):
        return led.get(name, {}).get(key, 0)

    batches = g("cdc.apply", "n")
    per_batch = lambda v: v / batches if batches else 0.0  # noqa: E731
    runner = [s for s in spans if s.name == "streaming.runner"]
    in_runner = sum(
        1 for s in spans if s.name == "cdc.apply" and any(r.start <= s.start <= r.end for r in runner)
    )
    out = {
        **extra,
        "trace.coverage": trace.coverage(spans, windows),
        "streaming.runner.drain_s": g("streaming.runner", "total_s"),
        "streaming.runner.self_s": g("streaming.runner", "self_s"),
        "streaming.runner.batches": in_runner,
        "cdc.apply.batches": batches,
        "cdc.apply.s": g("cdc.apply", "total_s"),
        "cdc.apply.self_s": g("cdc.apply", "self_s"),
        "cdc.apply.jobs_per_batch": per_batch(g("cdc.apply", "jobs")),
        "cdc.apply.tasks_per_batch": per_batch(g("cdc.apply", "tasks")),
        "cdc.apply.codegen_compiles_per_batch": per_batch(g("cdc.apply", "compiles")),
        "cdc.apply.driver_only_s": g("cdc.apply", "driver_only_s"),
        "cdc.apply.executor_cpu_s": g("cdc.apply", "cpu_s"),
        "cdc.apply.shuffle_bytes": g("cdc.apply", "shuffle_bytes"),
        "cdc.apply.spill_bytes": g("cdc.apply", "spill_bytes"),
        "cdc.apply.max_key_rows": stats["max_key_rows"],
        "cdc.apply.winner_ratio": (stats["rows_upserts"] + stats["rows_deletes"]) / max(stats["rows_valid"], 1),
        "cdc.apply.quarantine_ratio": stats["rows_quarantined"] / max(stats["rows_in"], 1),
        **{f"cdc.apply.phase.{p}_s": stats["phases"].get(p, 0.0) for p in PHASES},
        "lake.table.merge_s": g("lake.table.merge", "total_s"),
        "lake.table.merges": stats["merges"],
        "lake.table.bytes_written_per_commit": stats["bytes_written"] / max(stats["merges"], 1),
        "lake.table.stack_depth_max": stats["stack_depth_max"],
        "lake.table.folds": stats["folds"],
        "lake.table.files_live": stats["files_live"],
        "lake.table.read_s": g("lake.table.read", "total_s"),
        "lake.table.read_input_bytes": g("lake.table.read", "input_bytes"),
        "lake.table.changes_s": g("lake.table.changes", "total_s"),
        "streaming.changefeed.step_s": g("streaming.changefeed.step", "total_s"),
    }
    for q in QUERIES:
        n = f"plans.{q}"
        out[f"{n}_s"] = g(n, "total_s")
        out[f"{n}.jobs"] = g(n, "jobs") / max(g(n, "n"), 1)
        out[f"{n}.codegen_compiles"] = g(n, "compiles") / max(g(n, "n"), 1)
        out[f"{n}.driver_only_s"] = g(n, "driver_only_s")
    return out


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    work = os.path.join(BENCH, "out", f"work-{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    import tempfile

    tempfile.tempdir = None
    cpu0 = time.process_time()
    walls: dict[str, float] = {}  # where the run's own wall went
    t = time.perf_counter()

    def lap(stage: str) -> None:
        nonlocal t
        walls[stage] = time.perf_counter() - t
        t = time.perf_counter()

    spark = _start_spark(work, traced)
    lap("session")
    session_start_s = walls["session"]
    try:
        jvm = Jvm(spark)
        probe = os.path.join(work, "probe.parquet")
        _write_probe(probe, seed)
        window = {"scan_probe_start_s": scan_probe(spark, probe), "code_cache_start_mb": jvm.code_cache_mb()}
        lap("probe_start")

        wl = WORKLOADS[workload](spark, work, seed)
        wl.cpu = CpuMeter(jvm.pid)
        n_ops = wl.MEASURED_TRACED if traced else wl.MEASURED
        setups_cpu = []

        def setup(rep: int) -> None:
            c = wl.cpu.snap()
            wl.setup(rep)
            setups_cpu.append(wl.cpu.since(c))
            lap(f"setup{rep}")

        setup(0)
        wl.warm()
        lap("warm")

        if traced:
            # op 0 runs untraced and may be colder than the rest; after it,
            # ABBA: ops 2, 3, 6, 7, ... traced, 1, 4, 5, 8, ... not, so a
            # trend over the run (JIT warming, deeper stacks) cancels out of
            # the overhead ratio
            tracer = trace.Tracer(jvm.compiles)
            stats = {
                k: 0 for k in ("merges", "bytes_written", "stack_depth_max", "folds", "files_live",
                               "rows_in", "rows_valid", "rows_quarantined", "rows_upserts",
                               "rows_deletes", "max_key_rows")
            }
            stats["phases"] = {}
            windows: list[tuple[float, float]] = []

            @contextmanager
            def around(i):
                if i % 4 not in (2, 3):
                    yield
                    return
                _install_spans(tracer, stats)
                wl.tracer = tracer
                t0 = time.time()
                try:
                    yield
                finally:
                    windows.append((t0, time.time()))
                    tracer.unwrap_all()
                    wl.tracer = None

            wl.measure(n_ops, around)
            traced_ops = [op for i, op in enumerate(wl.ops) if i % 4 in (2, 3)]
            untraced = [op for i, op in enumerate(wl.ops) if i and i % 4 not in (2, 3)]
        else:
            wl.measure(n_ops)
        op_p50 = wl.op_p50()
        lap("measure")

        errors = wl.check() if not wl.failed else ["an operation raised"]
        detail = dict(wl.headline_metrics())
        lap("check")
        # the other set-ups run once the JVM is warm, where a set-up's cost
        # no longer depends on how far the JIT got; the median of the three
        # is then the slower warm one, and the cold first one is on the
        # detail line
        for rep in range(1, SET_UPS):
            setup(rep)
        window.update(scan_probe_end_s=scan_probe(spark, probe), code_cache_end_mb=jvm.code_cache_mb())
        lap("probe_end")
        heap_mb = jvm.heap_live_mb()
        lap("heap")
        jvm_end = {
            "jvm.code_cache_used_mb": window["code_cache_end_mb"],
            "driver.peak_rss_mb": (
                _proc_status_kb(jvm.pid, "VmHWM") + _proc_status_kb("self", "VmHWM")
            ) / 1024,
            "jvm.gc_s": jvm.gc_s(),
            "jvm.jit_compile_s": jvm.jit_compile_s(),
            "jvm.cpu_s": _proc_cpu_s(jvm.pid),
            "driver.python_cpu_s": time.process_time() - cpu0,
            "pyspark.workers_cpu_s": tree_cpu_s(jvm.pid) - _proc_cpu_s(jvm.pid),
        }
    finally:
        _stop_spark(spark)
    lap("stop")

    if traced:
        jobs = trace.parse_event_log(trace.event_log_files(os.path.join(work, "eventlog")))
        led = trace.ledger(tracer.spans, jobs)
        extra = {
            "session.start_s": session_start_s,
            **jvm_end,
            "trace.overhead": statistics.median(traced_ops) / statistics.median(untraced),
        }
        per_layer = _per_layer(led, stats, tracer.spans, windows, extra)
        if "space_amp" in detail:
            per_layer["lake.table.space_amp"] = detail["space_amp"][0]
        for k in PER_LAYER:
            per_layer.setdefault(k, 0.0)
    shutil.rmtree(work, ignore_errors=True)
    lap("ledger")

    e2e = {
        "setup_s": statistics.median(setups_cpu),
        "op_cpu_s": statistics.median(wl.ops_cpu),
        "heap_live_mb": heap_mb[-1],
    }
    detail["op_p50_s"] = (op_p50, "s")
    metrics = per_layer if traced else e2e
    units = PER_LAYER if traced else END_TO_END
    return {
        "result": {
            "correct": not errors,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        },
        "detail": {
            "workload": workload,
            "seed": seed,
            "seconds": seconds,
            "trace": int(traced),
            "cpus": os.cpu_count(),
            "ops": len(wl.ops),
            "op_s": wl.ops,
            "op_cpu_s": wl.ops_cpu,
            "setups_s": [walls[f"setup{i}"] for i in range(SET_UPS)],
            "setups_cpu_s": setups_cpu,
            "heap_after_gc_mb": heap_mb,
            "jvm_end": jvm_end,
            "walls_s": walls,
            "errors": errors[:20],
            "headline": {k: {"value": v, "unit": u} for k, (v, u) in detail.items()},
            "end_to_end": e2e,
            "window": window,
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("read_write_mixed", "corpus_queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import file_standardization_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    res_dir = os.path.join(BENCH, "out", "results")
    os.makedirs(res_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(res_dir, name), "w") as f:
        json.dump(out, f, indent=1)
    for e in out["detail"]["errors"]:
        print(f"perfbench: MISMATCH {e}", file=sys.stderr)
    keys = ("headline", "window", "setups_s", "setups_cpu_s", "op_s", "op_cpu_s", "heap_after_gc_mb", "jvm_end")
    print(json.dumps({"detail": {k: out["detail"][k] for k in keys}}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
