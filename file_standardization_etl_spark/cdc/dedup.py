"""Last-writer-wins dedup per key — the heart of the CDC engine.

Re-expresses the reference's latest-event-per-file EXISTS/GROUP BY/max(id)
query (``/root/reference/config/queries.py:21-44``, SURVEY.md J1/W1/A3)
over (doc_id, lsn), with explicit skew handling.

Two functions, one per consumer:

- :func:`lww_winners` — the engine's LWW (``CdcEngine.apply_batch`` and
  ``requeue_quarantine``). A narrow all-primitive ``max(lsn*2 +
  is_delete)`` per doc_id: a HashAggregate with full map-side combine, so
  a hot doc_id collapses to one row per task before the shuffle. The
  caller fetches the winning payload rows by joining back on (doc_id,
  lsn). An optional two-phase salted reduction covers the adversarial
  case where even the partial-agg input is one giant partition.
- :func:`lww_maxby` — ``groupBy(key).agg(max_by(struct(payload), lsn))``,
  the registry's LWW (``cdc_lww_state``, ``cdc_replay_state``), which
  carries the payload in the aggregate. The struct buffer plans as a
  SortAggregate (still map-side combined).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# salt fan-out of the two-phase LWW (lww_winners(salted=True))
SALT_BUCKETS = 32


def lww_winners(events: DataFrame, salted: bool = False) -> DataFrame:
    """(doc_id, lsn, win_del, cnt): per doc_id, the greatest LSN, whether
    that winning event is a delete, and the doc's row count in ``events``
    (the skew/lineage stat rides the same pass).

    ``events`` needs doc_id, lsn and op. The winner's op rides INSIDE the
    lsn as ``lsn*2 + is_delete``, so token arrays never enter an agg
    buffer: a string/struct buffer (max_by) would force SortAggregate
    (per-partition sorts, spill-prone at high thread counts). LSNs are
    unique (FIXTURES.md §2), so the winner is deterministic.

    With ``salted`` the max is reduced within (doc_id, salt) first, then
    across the ``SALT_BUCKETS`` salts. The salt derives from the LSN (no
    rand()), so a retried task routes identically — required for
    exactly-once under retry.
    """
    combined = F.col("lsn") * 2 + F.when(F.col("op") == "delete", F.lit(1)).otherwise(
        F.lit(0)
    )
    if salted:
        partial = events.select(
            "doc_id",
            combined.alias("__c"),
            F.pmod(F.xxhash64(F.col("lsn")), F.lit(SALT_BUCKETS)).alias("__salt"),
        ).groupBy("doc_id", "__salt").agg(
            F.max("__c").alias("__c"), F.count(F.lit(1)).alias("__cnt")
        )
        agg = partial.groupBy("doc_id").agg(
            F.max("__c").alias("__c"), F.sum("__cnt").alias("cnt")
        )
    else:
        agg = events.select("doc_id", combined.alias("__c")).groupBy("doc_id").agg(
            F.max("__c").alias("__c"), F.count(F.lit(1)).alias("cnt")
        )
    return agg.select(
        "doc_id",
        F.shiftright("__c", 1).alias("lsn"),
        (F.col("__c") % 2 == 1).alias("win_del"),
        "cnt",
    )


def lww_maxby(df: DataFrame, key: str = "doc_id", order: str = "lsn") -> DataFrame:
    """One row per key: the payload with the greatest ``order`` value.

    LSNs are unique (FIXTURES.md §2), so max_by is deterministic.
    """
    payload = [c for c in df.columns if c != key]
    agg = df.groupBy(key).agg(F.max_by(F.struct(*payload), F.col(order)).alias("__r"))
    return agg.select(key, *[F.col(f"__r.{c}").alias(c) for c in payload])
