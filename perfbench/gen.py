"""Seeded input generators for the benchmark (numpy + pyarrow, one process).

Everything here is a pure function of its arguments: the same seed gives
byte-identical inputs. Nothing imports the engine's own generators
(``cdc.events``), which run inside the system under test.

Held-out seed: 20261017 is reserved for checking a performance claim after
the change was written; do not tune against it.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HELD_OUT_SEED = 20261017

WHITELIST = ("web", "books", "code", "wiki", "forum")
BAD_SOURCES = ("spam", "unknown", "")
VOCAB = 50_257
MAX_TOKENS = 64
# share of all events per invalid kind (≈8% in total) and of deletes
INVALID_FRACS = {"null_tokens": 0.01, "empty_tokens": 0.01, "bad_n_tok": 0.04, "bad_source": 0.02}
DELETE_FRAC = 0.05
DISORDER_WINDOW = 200
DDL = {"action": "add_column", "name": "quality", "type": "double"}

EVENT_ARROW_SCHEMA = pa.schema(
    [
        pa.field("lsn", pa.int64(), nullable=False),
        pa.field("op", pa.string(), nullable=False),
        pa.field("doc_id", pa.string()),
        pa.field("tokens", pa.list_(pa.int32())),
        pa.field("n_tok", pa.int32()),
        pa.field("source", pa.string()),
        pa.field("schema_change", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def doc_ids(ids: np.ndarray, mask: np.ndarray | None = None) -> pa.Array:
    """``doc%07d`` strings for integer ids (null where ``mask``)."""
    digits = pc.utf8_lpad(pa.array(ids, type=pa.int64(), mask=mask).cast(pa.string()), 7, "0")
    return pc.binary_join_element_wise("doc", digits, "")


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    """Bounded Zipf(s) over ``n_keys`` ids; rank r is drawn with weight
    r^-s. Ranks are mapped to ids through a seeded permutation so the hot
    keys land in different buckets."""
    cdf = np.cumsum(np.arange(1, n_keys + 1, dtype=np.float64) ** -s)
    rank = np.searchsorted(cdf, rng.random(n) * cdf[-1], side="right")
    return rng.permutation(n_keys)[np.minimum(rank, n_keys - 1)]


def events(
    seed: int,
    n_events: int,
    n_keys: int,
    zipf_s: float | None = None,
    lsn_start: int = 1,
    ddl_lsn: int | None = None,
) -> pa.Table:
    """A WAL slice of ``n_events`` change events with LSNs
    ``lsn_start..lsn_start+n_events-1`` in arrival order.

    Keys are Zipf(``zipf_s``) or uniform over ``n_keys`` ids. 5% of events
    are deletes; about 8% carry one of the four invalid payload kinds.
    Arrival order is shuffled within windows of ``DISORDER_WINDOW`` events,
    so any slice on window boundaries is LSN-coherent. When ``ddl_lsn`` is
    given, that event is the ``add_column`` DDL."""
    rng = np.random.default_rng(seed)
    n = n_events
    lsn = np.arange(lsn_start, lsn_start + n, dtype=np.int64)
    keys = zipf_keys(rng, n, n_keys, zipf_s) if zipf_s else rng.integers(0, n_keys, n)

    kind = rng.random(n)
    is_del = kind < DELETE_FRAC
    edges = np.cumsum([DELETE_FRAC] + list(INVALID_FRACS.values()))
    null_t, empty_t, bad_n, bad_s = (
        (kind >= lo) & (kind < hi) for lo, hi in zip(edges[:-1], edges[1:])
    )
    is_ddl = np.zeros(n, dtype=bool)
    if ddl_lsn is not None:
        is_ddl[ddl_lsn - lsn_start] = True
        is_del &= ~is_ddl
    payload = ~is_del & ~is_ddl

    lengths = rng.integers(1, MAX_TOKENS + 1, n)
    lengths[~payload | null_t | empty_t] = 0
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    values = rng.integers(0, VOCAB, int(offsets[-1]), dtype=np.int32)
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(values), mask=pa.array(~payload | null_t)
    )
    n_tok = lengths + np.where(bad_n, 1 + rng.integers(0, 3, n), 0)
    src = np.array(WHITELIST)[rng.integers(0, len(WHITELIST), n)]
    src = np.where(bad_s, np.array(BAD_SOURCES)[rng.integers(0, len(BAD_SOURCES), n)], src)
    op = np.where(rng.random(n) < 0.5, "insert", "update")
    op = np.where(is_del, "delete", np.where(is_ddl, "schema_change", op))
    ddl_json = json.dumps(DDL, sort_keys=True)

    table = pa.table(
        {
            "lsn": lsn,
            "op": op,
            "doc_id": doc_ids(keys, mask=is_ddl),
            "tokens": tokens,
            "n_tok": pa.array(n_tok.astype(np.int32), mask=~payload),
            "source": pa.array(src, mask=~payload),
            "schema_change": pa.array(np.where(is_ddl, ddl_json, None), type=pa.string()),
            "ts": pa.nulls(n, pa.timestamp("us", tz="UTC")),
        },
        schema=EVENT_ARROW_SCHEMA,
    )
    # bounded disorder: permute within consecutive windows
    order = np.lexsort((rng.random(n), np.arange(n) // DISORDER_WINDOW))
    return table.take(pa.array(order))


def write_segment(table: pa.Table, wal_dir: str, index: int) -> str:
    """Write one WAL segment; lexical order of the names is arrival order."""
    os.makedirs(wal_dir, exist_ok=True)
    path = os.path.join(wal_dir, f"seg-{index:06d}.parquet")
    pq.write_table(table, path)
    return path


# ---------------------------------------------------------------------------
# corpus tables for the registry queries (schemas of the shared testdata)
# ---------------------------------------------------------------------------

_WORDS = np.array(
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big group "
    "filter stream vector".split()
)
_LANGS = np.array(["en", "en", "en", "zh", "es", "de", "fr"])


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def corpus(seed: int, out_dir: str, scale: float = 0.01) -> dict[str, int]:
    """Write the ``lineitem`` and ``documents`` tables the benchmarked
    registry queries read (the shared testdata's schemas), one parquet file
    each. Returns rows per table; ``scale`` 0.01 gives 60k lineitems and
    500 documents."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_li = int(6_000_000 * scale)
    n_docs = int(50_000 * scale)
    t = {
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_li // 4, n_li),
                "l_partkey": rng.integers(0, n_li // 30, n_li),
                "l_suppkey": rng.integers(0, n_li // 600, n_li),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                "l_shipdate": _days(rng, n_li, "1995-01-01", 2555),
            }
        ),
    }
    lengths = rng.integers(8, 80, n_docs)
    words = _WORDS[rng.integers(0, len(_WORDS), int(lengths.sum()))]
    # a share of documents repeat a passage of another one, so duplicate
    # spans and near-duplicate candidates exist
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lengths)[:-1])]
    for i in np.flatnonzero(rng.random(n_docs) < 0.1):
        j = int(rng.integers(0, n_docs))
        texts[i] = texts[i] + " " + texts[j]
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": _LANGS[rng.integers(0, len(_LANGS), n_docs)],
            "source": np.char.add("src", (np.arange(n_docs) % 20).astype(str)),
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
