"""Tests of the benchmark's own parts: generator, oracle, gate, span
arithmetic and the event-log parser.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pytest

from perfbench import gen, oracle, trace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.events(5, 3000, 500, zipf_s=1.3, ddl_lsn=1500)
    assert a.equals(gen.events(5, 3000, 500, zipf_s=1.3, ddl_lsn=1500))
    assert not a.equals(gen.events(6, 3000, 500, zipf_s=1.3, ddl_lsn=1500))
    assert gen.corpus(5, str(tmp_path / "a")) == gen.corpus(5, str(tmp_path / "b"))
    for f in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes()


def test_generator_covers_every_event_kind():
    ev = gen.events(1, 20_000, 1000, ddl_lsn=10_000)
    ops = Counter(ev["op"].to_pylist())
    assert ops["schema_change"] == 1 and ops["delete"] > 0
    assert set(oracle.quarantine_counts(ev, gen.WHITELIST)) == set(oracle.REASONS)
    # bounded disorder: out of order, but never by more than one window
    lsn = ev["lsn"].to_numpy()
    assert (lsn[1:] < lsn[:-1]).any()
    assert abs(lsn - (1 + pa.array(range(len(lsn))).to_numpy())).max() < gen.DISORDER_WINDOW


def test_oracle_agrees_with_dict_replay():
    from file_standardization_etl_spark.cdc.oracle import replay

    ev = gen.events(7, 4000, 300, zipf_s=1.3, ddl_lsn=2000)
    want = replay(ev.to_pylist())
    got = oracle.expected_state(ev, gen.WHITELIST)
    assert got["doc_id"].to_pylist() == sorted(want.docs)
    for d, lsn, deleted, tokens in zip(
        *(got[c].to_pylist() for c in ("doc_id", "last_lsn", "deleted", "tokens"))
    ):
        doc = want.docs[d]
        assert (doc["last_lsn"], doc["deleted"]) == (lsn, deleted)
        if not deleted:
            assert doc["tokens"] == tokens
    assert oracle.quarantine_counts(ev, gen.WHITELIST) == dict(
        Counter(q["reason"] for q in want.quarantine)
    )
    assert want.max_applied_lsn == pc.max(ev["lsn"]).as_py()


def _engine_like(state: pa.Table) -> pa.Table:
    return state.append_column("quality", pa.nulls(state.num_rows, pa.float64()))


def test_gate_rejects_one_perturbed_token():
    ev = gen.events(3, 3000, 200, ddl_lsn=1500)
    want = oracle.expected_state(ev, gen.WHITELIST)
    added = {"quality": "double"}
    got = _engine_like(want)
    assert oracle.compare_state(got, want, added) == []

    rows = got.to_pylist()
    i = next(i for i, r in enumerate(rows) if not r["deleted"])
    rows[i]["tokens"] = [rows[i]["tokens"][0] + 1] + rows[i]["tokens"][1:]
    bad = pa.Table.from_pylist(rows, schema=got.schema)
    errs = oracle.compare_state(bad, want, added)
    assert errs and "tokens" in errs[0] and rows[i]["doc_id"] in errs[0]

    assert oracle.compare_state(got.drop_columns(["quality"]), want, added)


def test_feed_counts():
    before = oracle.expected_state(gen.events(1, 2000, 100), gen.WHITELIST)
    after = oracle.expected_state(
        pa.concat_tables([gen.events(1, 2000, 100), gen.events(2, 500, 100, lsn_start=2001)]),
        gen.WHITELIST,
    )
    got = oracle.feed_counts(before, after)
    assert oracle.feed_counts(after, after) == {}
    assert sum(got.values()) > 0 and set(got) <= {"insert", "update", "delete"}


def test_span_self_time_arithmetic():
    S = trace.Span
    spans = [
        S("root", 0.0, 10.0),
        S("a", 1.0, 4.0),
        S("a.x", 2.0, 3.0),
        S("b", 3.5, 6.0),  # overlaps a: nested by time under root
        S("c", 8.0, 9.0),
    ]
    order = trace.nest(spans)
    names = [s.name for s in order]
    selfs = dict(zip(names, trace.self_times(order)))
    assert selfs["a.x"] == pytest.approx(1.0)
    assert selfs["a"] == pytest.approx(2.0)
    # root: 10 minus the union of a, b (1.0..6.0) and c (8.0..9.0)
    assert selfs["root"] == pytest.approx(4.0)
    assert trace.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert trace.union_length([(0, 2), (1, 3)], 1.5, 2.5) == pytest.approx(1.0)
    assert order[trace.innermost(order, 2.5)].name == "a.x"
    assert trace.coverage(spans, [(0.0, 20.0)]) == pytest.approx(0.5)
    assert trace.coverage(spans, [(1.0, 4.0), (8.0, 9.0)]) == pytest.approx(1.0)

    jobs = [
        {"submit": 2.5, "end": 2.9, **{k: 1 for k in trace.JOB_FIELDS}},
        {"submit": 8.5, "end": 8.6, **{k: 1 for k in trace.JOB_FIELDS}},
    ]
    led = trace.ledger(spans, jobs)
    assert led["a.x"]["jobs"] == led["a"]["jobs"] == 1
    assert led["root"]["jobs"] == 2 and led["b"]["jobs"] == 0
    assert led["a"]["driver_only_s"] == pytest.approx(3.0 - 0.4)


def test_tree_cpu_counts_descendants_live_and_reaped():
    import subprocess
    import sys

    from perfbench.run import tree_cpu_s

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"
    # a grandchild that burns CPU and is reaped by its parent, which stays
    # alive until told to exit: its CPU is in the parent's cutime
    c0 = tree_cpu_s(os.getpid())
    parent = subprocess.Popen(
        [sys.executable, "-c", f"import subprocess, sys; subprocess.run([sys.executable, '-c', {burn!r}]); "
         "print('done', flush=True); sys.stdin.read()"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        assert parent.stdout.readline().strip() == "done"
        assert tree_cpu_s(os.getpid()) - c0 >= 0.4
        assert tree_cpu_s(parent.pid) >= 0.4
    finally:
        parent.stdin.close()
        parent.wait()


def test_event_log_parser_on_a_live_log(tmp_path):
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    try:
        n = spark.range(0, 1000, 1, 3).selectExpr("id % 7 AS k").groupBy("k").count().count()
    finally:
        spark.stop()
    assert n == 7
    files = trace.event_log_files(str(log_dir))
    assert files
    jobs = trace.parse_event_log(files)
    assert jobs and all(j["end"] >= j["submit"] for j in jobs)
    assert sum(j["tasks"] for j in jobs) >= 3
    assert sum(j["shuffle_bytes"] for j in jobs) > 0
    assert sum(j["cpu_s"] for j in jobs) > 0


def test_benchmark_json_lists_what_run_reports():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
