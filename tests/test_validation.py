"""Validation parity: Catalyst expression == slim Arrow UDF == pure-Python
oracle, on the same generated events (including every corruption class),
and the engine's expression split + UDF reasons against the dict oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from file_standardization_etl_spark.cdc.apply import CdcEngine
from file_standardization_etl_spark.cdc.events import (
    SOURCE_WHITELIST,
    EventGenConfig,
    events_df,
    generate_events,
)
from file_standardization_etl_spark.cdc.oracle import replay, validation_reason
from file_standardization_etl_spark.functions.validation import (
    validation_reason_expr,
    with_reason,
)


def _events(spark, n=2000, seed=31):
    cfg = EventGenConfig(
        n_events=n, n_docs=100, seed=seed,
        corrupt_frac=0.1, bad_source_frac=0.1, null_tokens_frac=0.05, empty_tokens_frac=0.05,
    )
    evs = [e for e in generate_events(cfg) if e["op"] != "schema_change"]
    return evs, events_df(spark, evs)


def _expr_reason():
    return validation_reason_expr(
        F.col("op"), F.col("tokens"), F.col("n_tok"), F.col("source"), SOURCE_WHITELIST
    )


def test_expr_matches_oracle(spark):
    evs, df = _events(spark)
    got = {r["lsn"]: r["reason"] for r in df.withColumn("reason", _expr_reason()).collect()}
    want = {e["lsn"]: validation_reason(e) for e in evs}
    assert got == want
    assert set(filter(None, want.values())) == {
        "null_tokens", "empty_tokens", "bad_n_tok", "bad_source"
    }  # fixture exercises every reason


def test_pandas_udf_matches_expr(spark):
    """The slim Arrow UDF, the Catalyst expression and the oracle assign
    the same reason to every event, every reason class included."""
    evs, df = _events(spark, seed=37)
    rows = with_reason(df, SOURCE_WHITELIST).select(
        "lsn", F.col("reason").alias("udf_reason"), _expr_reason().alias("expr_reason")
    ).collect()
    udf = {r["lsn"]: r["udf_reason"] for r in rows}
    expr = {r["lsn"]: r["expr_reason"] for r in rows}
    want = {e["lsn"]: validation_reason(e) for e in evs}
    assert udf == expr == want
    assert set(filter(None, want.values())) == {
        "null_tokens", "empty_tokens", "bad_n_tok", "bad_source"
    }


def test_split_is_partition(spark, tmp_path):
    """The engine's split: every event is either valid (expression null)
    or quarantined with a non-null reason, never both, never neither."""
    evs, df = _events(spark, seed=41)
    engine = CdcEngine(spark, str(tmp_path / "cdc"))
    engine.init()
    m = engine.apply_batch(df, batch_id=0)
    quar = engine.quarantine()
    assert quar.filter(F.col("reason").isNull()).count() == 0
    q_lsns = {r["lsn"] for r in quar.select("lsn").collect()}
    valid_lsns = {r["lsn"] for r in df.filter(_expr_reason().isNull()).select("lsn").collect()}
    assert m.rows_in == len(evs)
    assert m.rows_quarantined == len(q_lsns)
    assert not q_lsns & valid_lsns
    assert q_lsns | valid_lsns == {e["lsn"] for e in evs}
    state_lsns = {r["last_lsn"] for r in engine.state(include_deleted=True).collect()}
    assert state_lsns <= valid_lsns


def test_engine_validation_modes_agree(spark, tmp_path):
    """The engine's one validation path (expression pre-split, slim UDF
    reasons on the candidates): final state AND quarantine (lsn → reason)
    equal the dict oracle's."""
    evs, df = _events(spark, n=1500, seed=77)
    oracle = replay(evs)
    engine = CdcEngine(spark, str(tmp_path / "cdc"))
    engine.init()
    engine.apply_batch(df, batch_id=0)
    got_state = {
        r["doc_id"]: (list(r["tokens"]), r["last_lsn"]) for r in engine.state().collect()
    }
    want_state = {
        k: (list(v["tokens"]), v["last_lsn"]) for k, v in oracle.live_docs().items()
    }
    assert got_state == want_state
    got_quar = {(r["lsn"], r["reason"]) for r in engine.quarantine().collect()}
    assert got_quar == {(q["lsn"], q["reason"]) for q in oracle.quarantine}
