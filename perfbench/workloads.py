"""The benchmark's workloads. Each one is set up on the cold JVM, runs a
fixed number of operations in a closed loop on what that set-up made, and
checks everything it produced against the oracle outside the timed region;
``run.py`` then sets it up twice more for the set-up metric. The first
measured operation is the coldest; the median leaves it out.

The number of measured operations is fixed per workload and mode, not
bounded by time, so every machine and every commit measures the same
operations (for read_write_mixed: the same MOR stack depths).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import gen, oracle


def _engine(spark, path):
    from file_standardization_etl_spark.cdc.apply import CdcEngine

    eng = CdcEngine(spark, path, whitelist=list(gen.WHITELIST), n_buckets=16)
    eng.init()
    return eng


def _state_arrow(engine) -> pa.Table:
    return engine.state(include_deleted=True).toArrow()


def _quarantine_counts(engine) -> dict[str, int]:
    return {r["reason"]: r["count"] for r in engine.quarantine().groupBy("reason").count().collect()}


def check_engine(engine, events: pa.Table) -> list[str]:
    """Gate for one engine table fed exactly ``events`` (with the DDL)."""
    want = oracle.expected_state(events, gen.WHITELIST)
    errs = oracle.compare_state(_state_arrow(engine), want, {gen.DDL["name"]: gen.DDL["type"]})
    wq = oracle.quarantine_counts(events, gen.WHITELIST)
    gq = _quarantine_counts(engine)
    if gq != wq:
        errs.append(f"quarantine by reason: engine={gq} expected={wq}")
    max_lsn = int(pc.max(events["lsn"]).as_py())
    if engine.applied_lsn() != max_lsn:
        errs.append(f"max_applied_lsn: engine={engine.applied_lsn()} expected={max_lsn}")
    return errs


def snapshot_files(table) -> dict[str, dict]:
    """Per bucket, the base file and the merge-on-read deltas stacked on
    it in the table's current snapshot."""
    snap = table.snapshot()
    return snap["files"] if "files" in snap else table._files_load(snap)


def stack_depths(files: dict[str, dict]) -> dict[str, int]:
    return {b: len(e.get("deltas") or []) for b, e in files.items()}


def space_amp(engine, events: pa.Table) -> float:
    """Live-snapshot bytes over 4 bytes per live token of the expected state."""
    want = oracle.expected_state(events, gen.WHITELIST)
    return engine.table.history()[-1]["bytes"] / max(4 * oracle.live_tokens(want), 1)


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer = None  # set while an operation is traced
        self.cpu = None  # a run.CpuMeter: the program's CPU seconds
        self.ops: list[float] = []  # op wall seconds, timed region only
        self.ops_cpu: list[float] = []
        self.attempted = self.failed = 0

    def span(self, name):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def measure(self, n_ops: int, around=None) -> None:
        """Run ``n_ops`` operations (fewer if the inputs run out or one
        raises). ``around(i)``, when given, is a context entered around the
        i-th op, outside its timing; ``after_op`` runs outside it too."""
        while len(self.ops) < n_ops and self.has_next():
            self.attempted += 1
            with around(len(self.ops)) if around else nullcontext():
                c, s = self.cpu.snap(), time.perf_counter()
                try:
                    self.op()
                except Exception:
                    traceback.print_exc()
                    self.failed += 1
                    break
                self.ops.append(time.perf_counter() - s)
                self.ops_cpu.append(self.cpu.since(c))
            self.after_op()

    def has_next(self) -> bool:
        return True

    def warm(self) -> None:
        """Once, after the first set-up and outside every metric."""

    def after_op(self) -> None:
        """After each measured operation, outside its timing."""

    def op_p50(self) -> float:
        return statistics.median(self.ops)


class ReadWriteMixed(Workload):
    """One client on a table seeded through the WAL runner. Each cycle
    appends one 5k-event uniform-key segment to the WAL and drains it with
    ``StreamingCdcRunner.run_available_now``, aggregates the full state,
    looks up 100 keys and steps a change-feed follower.

    Every cycle's drain stacks one merge-on-read delta file on the table
    (the engine folds the stack at depth 8). A fixed number of cycles is
    measured, so the measured cycles sit at the same stack depths on every
    machine and every commit."""

    name = "read_write_mixed"
    MEASURED = 3
    MEASURED_TRACED = 5  # one untraced, then ABBA
    N_SEED = 20_000
    N_KEYS = 50_000
    CYCLE = 5_000
    CYCLES = MEASURED_TRACED
    LOOKUPS = 100

    def setup(self, rep: int) -> None:
        from file_standardization_etl_spark.streaming.changefeed import ChangeFeedFollower
        from file_standardization_etl_spark.streaming.runner import StreamingCdcRunner

        rng = np.random.default_rng(self.seed)
        n = self.N_SEED + self.CYCLE * self.CYCLES
        # the DDL is the first event: every data file is then written under
        # the new schema, and the seed drain pays one extra (empty) chunk
        ev = gen.events(self.seed, n, self.N_KEYS, ddl_lsn=1)
        # arrival-order slices on disorder-window boundaries are LSN-coherent:
        # the seed, then one 5k slice per cycle
        self.seed_events = ev.slice(0, self.N_SEED)
        self.cycle_events = [
            ev.slice(self.N_SEED + i * self.CYCLE, self.CYCLE) for i in range(self.CYCLES)
        ]
        for d in ("wal", "staged", "table", "checkpoint"):
            shutil.rmtree(os.path.join(self.work, d), ignore_errors=True)
        self.wal = os.path.join(self.work, "wal")
        gen.write_segment(self.seed_events, self.wal, 0)
        staged = os.path.join(self.work, "staged")
        self.staged = [
            gen.write_segment(c, staged, 1 + i) for i, c in enumerate(self.cycle_events)
        ]
        self.lookup_keys = [
            gen.doc_ids(rng.integers(0, self.N_KEYS, self.LOOKUPS)).to_pylist()
            for _ in range(self.CYCLES)
        ]
        self.engine = _engine(self.spark, os.path.join(self.work, "table"))
        self.runner = StreamingCdcRunner(
            self.spark, self.wal, self.engine, checkpoint_dir=os.path.join(self.work, "checkpoint")
        )
        self.runner.run_available_now()
        cursor = os.path.join(self.work, "feed_cursor.json")
        if os.path.exists(cursor):
            os.remove(cursor)
        self.feed = ChangeFeedFollower(
            self.engine.table, cursor, lsn_column="last_lsn", deleted_column="deleted"
        )
        self.feed.position()
        self.i = 0
        self.depth0 = self._depth()  # deepest stack after seeding
        self.results: list[dict] = []
        self.parts = {k: [] for k in ("write", "scan", "lookup", "feed")}
        self.depths: list[int] = []  # ... and after each measured cycle
        self.folds = 0  # measured cycles that left a shallower stack

    def has_next(self) -> bool:
        return self.i < self.CYCLES

    def _depth(self) -> int:
        return max(stack_depths(snapshot_files(self.engine.table)).values(), default=0)

    def after_op(self) -> None:
        depth = self._depth()
        self.folds += depth < (self.depths[-1] if self.depths else self.depth0)
        self.depths.append(depth)

    def _timed(self, part: str, fn):
        t = time.perf_counter()
        out = fn()
        self.parts[part].append(time.perf_counter() - t)
        return out

    def op(self) -> None:
        from pyspark.sql import functions as F

        i, eng, res = self.i, self.engine, {}
        seg = self.staged[i]
        os.rename(seg, os.path.join(self.wal, os.path.basename(seg)))
        self._timed("write", self.runner.run_available_now)

        def scan():
            with self.span("lake.table.read"):
                agg = eng.state().agg(F.count(F.lit(1)).alias("n"), F.sum("n_tok").alias("s"))
                row = agg.collect()[0]
            return row["n"], row["s"] or 0

        def lookup():
            with self.span("lake.table.read"):
                state = eng.state().filter(F.col("doc_id").isin(self.lookup_keys[i]))
                rows = state.select("doc_id", "last_lsn").collect()
            return sorted((r["doc_id"], r["last_lsn"]) for r in rows)

        def consume(df, v_from, v_to):
            with self.span("lake.table.changes"):
                counts = df.groupBy("change_op").count().collect()
            res["feed"] = {r["change_op"]: r["count"] for r in counts}

        res["scan"] = self._timed("scan", scan)
        res["lookup"] = self._timed("lookup", lookup)
        res["windows"] = self._timed("feed", lambda: self.feed.step(consume))
        self.results.append(res)
        self.i += 1

    def check(self) -> list[str]:
        errs = []
        applied = [self.seed_events]
        before = oracle.expected_state(self.seed_events, gen.WHITELIST)
        for i, res in enumerate(self.results):
            applied.append(self.cycle_events[i])
            after = oracle.expected_state(pa.concat_tables(applied), gen.WHITELIST)
            lv = oracle.live(after)
            want_scan = (lv.num_rows, oracle.live_tokens(after))
            if res["scan"] != want_scan:
                errs.append(f"cycle {i}: scan engine={res['scan']} expected={want_scan}")
            keys = pa.array(self.lookup_keys[i])
            hit = lv.filter(pc.is_in(lv["doc_id"], value_set=keys))
            want_lookup = sorted(zip(hit["doc_id"].to_pylist(), hit["last_lsn"].to_pylist()))
            if res["lookup"] != want_lookup:
                errs.append(f"cycle {i}: lookup of {len(keys)} keys differs")
            want_feed = oracle.feed_counts(before, after)
            if res["windows"] != 1 or res.get("feed") != want_feed:
                errs.append(f"cycle {i}: feed engine={res.get('feed')} expected={want_feed}")
            before = after
        self.all_events = pa.concat_tables(applied)
        return errs + check_engine(self.engine, self.all_events)

    def headline_metrics(self) -> dict:
        med = {k: statistics.median(v) for k, v in self.parts.items()}
        return {
            **{f"mixed_{k}_p50_s": (v, "s") for k, v in med.items()},
            "space_amp": (space_amp(self.engine, self.all_events), "ratio"),
            "stack_depth_seeded": (self.depth0, "count"),
            "stack_depth_min": (min(self.depths), "count"),
            "stack_depth_max": (max(self.depths), "count"),
            "folds": (self.folds, "count"),
        }


# A round of these four takes about 3 s on 4 cores. join_entity_cascade,
# scalar_dates, tokens_strip_dup_spans_rewrite and ann_ivf_kmeans_topk
# would add 14 s a round (and four more tables to generate) and do not fit
# the run's time budget.
QUERIES = (
    "tpch_q1_pricing",
    "dedup_minhash_lsh",
    "tokens_dup_spans",
    "tokens_pack_examples",
)


class CorpusQueries(Workload):
    """Four registry queries over a generated corpus; one operation is
    one call of every query, each timed with its action."""

    name = "corpus_queries"
    MEASURED = 3
    MEASURED_TRACED = 5  # one untraced, then ABBA
    # without a warm-up round, the second and even the third call of a
    # query sometimes cost twice the CPU of the later ones
    WARM_ROUNDS = 1
    SCALE = 0.01

    def setup(self, rep: int) -> None:
        from file_standardization_etl_spark.plans.queries import QUERIES as REGISTRY

        self.sf_dir = os.path.join(self.work, "corpus")
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        gen.corpus(self.seed, self.sf_dir, self.SCALE)
        self.fns = {q: REGISTRY[q][0] for q in QUERIES}
        self.sql = {q: REGISTRY[q][1] for q in QUERIES}
        self.per_query = {q: [] for q in QUERIES}
        self.op()
        self.per_query = {q: [] for q in QUERIES}

    def warm(self) -> None:
        for _ in range(self.WARM_ROUNDS):
            self.op()
        self.per_query = {q: [] for q in QUERIES}

    def op(self) -> None:
        self.rows = {}
        for q, fn in self.fns.items():
            t = time.perf_counter()
            with self.span(f"plans.{q}"):
                df = fn(self.spark, self.sf_dir)
                rows = df.collect()
            self.per_query[q].append(time.perf_counter() - t)
            self.rows[q] = (df.columns, [tuple(r) for r in rows])

    def check(self) -> list[str]:
        import duckdb

        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.sf_dir)):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(self.sf_dir, f)}')"
                )
            errs = []
            for q in QUERIES:
                want = None
                if self.sql[q]:
                    rel = con.sql(self.sql[q])
                    want = (rel.columns, rel.fetchall())
                errs += _compare_rows(q, self.rows[q], want)
            return errs
        finally:
            con.close()

    def headline_metrics(self) -> dict:
        return {
            "queries_wall_s": (sum(statistics.median(v) for v in self.per_query.values()), "s"),
            **{f"query.{q}_s": (statistics.median(v), "s") for q, v in self.per_query.items()},
        }


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if isinstance(v, float) and v != v:
            return "NaN"
        if isinstance(v, (list, tuple)):
            return tuple(cell(x) for x in v)
        return v

    return sorted((tuple(cell(r[i]) for i in order) for r in rows), key=repr)


def _compare_rows(q: str, got, want) -> list[str]:
    """``got``/``want`` are (columns, rows); ``want`` None when the query
    has no SQL oracle, and then only a non-empty result is required."""
    if not got[1]:
        return [f"{q}: no rows"]
    if want is None:
        return []
    if sorted(got[0]) != sorted(want[0]):
        return [f"{q}: columns {sorted(got[0])}, oracle {sorted(want[0])}"]
    if len(got[1]) != len(want[1]):
        return [f"{q}: {len(got[1])} rows, oracle {len(want[1])}"]
    if _canon(*got) != _canon(*want):
        return [f"{q}: values differ from the oracle"]
    return []


WORKLOADS = {w.name: w for w in (ReadWriteMixed, CorpusQueries)}
