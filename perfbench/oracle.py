"""Vectorized reference for the CDC engine's outputs, independent of it.

Semantics (the engine's contract): events apply in LSN order; an event
that fails validation is quarantined with the first failing reason of
null_tokens → empty_tokens → bad_n_tok → bad_source; every other data
event is last-writer-wins per doc by LSN, and a delete leaves a tombstone
that keeps its LSN. When a WAL is applied from an empty table in
LSN-coherent batches, each doc's final row is therefore its valid event
with the highest LSN, which is what :func:`expected_state` computes with
one group-by instead of a replay.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

REASONS = ("null_tokens", "empty_tokens", "bad_n_tok", "bad_source")
STATE_COLUMNS = ("doc_id", "tokens", "n_tok", "source", "last_lsn", "deleted")


def reasons(ev: pa.Table, whitelist) -> np.ndarray:
    """Per-event quarantine reason (object array, None = not quarantined)."""
    op = ev["op"].to_numpy(zero_copy_only=False)
    payload = (op == "insert") | (op == "update")
    tok_null = ev["tokens"].is_null().to_numpy(zero_copy_only=False)
    lens = pc.list_value_length(ev["tokens"]).fill_null(-1).to_numpy()
    n_tok = ev["n_tok"].fill_null(-1).to_numpy()
    src_ok = pc.is_in(ev["source"], value_set=pa.array(list(whitelist))).fill_null(False)
    src_ok = src_ok.to_numpy(zero_copy_only=False)
    out = np.full(len(op), None, dtype=object)
    # reverse precedence: later assignment wins
    out[payload & ~src_ok] = "bad_source"
    out[payload & (n_tok != lens)] = "bad_n_tok"
    out[payload & (lens == 0)] = "empty_tokens"
    out[payload & tok_null] = "null_tokens"
    return out


def quarantine_counts(ev: pa.Table, whitelist) -> dict[str, int]:
    r = reasons(ev, whitelist)
    return {k: int(np.count_nonzero(r == k)) for k in REASONS if np.any(r == k)}


def expected_state(ev: pa.Table, whitelist) -> pa.Table:
    """Final per-doc state, tombstones included, sorted by doc_id."""
    op = ev["op"].to_numpy(zero_copy_only=False)
    r = reasons(ev, whitelist)
    valid = ((op == "insert") | (op == "update") | (op == "delete")) & (r == None)  # noqa: E711
    v = ev.filter(pa.array(valid))
    last = v.group_by("doc_id").aggregate([("lsn", "max")])
    w = v.filter(pc.is_in(v["lsn"], value_set=last["lsn_max"]))
    w = w.take(pc.sort_indices(w["doc_id"]))
    deleted = pc.equal(w["op"], "delete")
    return pa.table(
        {
            "doc_id": w["doc_id"],
            "tokens": w["tokens"],
            "n_tok": w["n_tok"],
            "source": w["source"],
            "last_lsn": w["lsn"],
            "deleted": deleted,
        }
    )


def live(state: pa.Table) -> pa.Table:
    return state.filter(pc.invert(state["deleted"]))


def live_tokens(state: pa.Table) -> int:
    return int(pc.sum(pc.list_value_length(live(state)["tokens"])).as_py() or 0)


def _first_diff(a: pa.Array, b: pa.Array, keys: pa.Array) -> str:
    for i in range(len(a)):
        if a[i] != b[i]:
            return f"{keys[i].as_py()}: engine={a[i].as_py()!r} expected={b[i].as_py()!r}"
    return "?"


def compare_state(got: pa.Table, want: pa.Table, added: dict[str, str] = ()) -> list[str]:
    """Mismatches between the engine's ``state(include_deleted=True)`` and
    :func:`expected_state`: doc set, ``last_lsn`` and tombstones for every
    doc; token arrays (bitwise), ``n_tok`` and ``source`` for live docs;
    each ``added`` column (name → arrow type) present and all-null."""
    errs = []
    for name, typ in dict(added).items():
        if name not in got.column_names:
            errs.append(f"added column {name!r} missing")
        elif str(got.schema.field(name).type) != typ:
            errs.append(f"added column {name!r} has type {got.schema.field(name).type}")
        elif got[name].null_count != got.num_rows:
            errs.append(f"added column {name!r} has non-null values")
    got = got.select(list(STATE_COLUMNS))
    got = got.take(pc.sort_indices(got["doc_id"]))
    got = got.set_column(5, "deleted", got["deleted"].fill_null(False))
    if got.num_rows != want.num_rows or not got["doc_id"].equals(want["doc_id"]):
        return errs + [f"doc set differs: engine={got.num_rows} expected={want.num_rows} docs"]
    for c in ("last_lsn", "deleted"):
        if not got[c].equals(want[c]):
            errs.append(f"{c} differs at " + _first_diff(got[c], want[c], got["doc_id"]))
    if errs:
        return errs
    g, w = live(got), live(want)
    for c in ("tokens", "n_tok", "source"):
        a, b = g[c].combine_chunks(), w[c].combine_chunks()
        if not a.cast(b.type).equals(b):
            errs.append(f"{c} differs at " + _first_diff(a, b, g["doc_id"]))
    return errs


def feed_counts(before: pa.Table, after: pa.Table) -> dict[str, int]:
    """Change-feed rows between two states, by ``change_op``: a doc live on
    one side only is an insert or a delete; live on both with a higher LSN
    after is an update."""
    j = after.select(["doc_id", "last_lsn", "deleted"]).join(
        before.select(["doc_id", "last_lsn", "deleted"]),
        "doc_id",
        join_type="full outer",
        right_suffix="_b",
    )
    n_live = pc.invert(j["deleted"].fill_null(True)).to_numpy(zero_copy_only=False)
    o_live = pc.invert(j["deleted_b"].fill_null(True)).to_numpy(zero_copy_only=False)
    adv = pc.greater(j["last_lsn"], j["last_lsn_b"]).fill_null(False)
    adv = adv.to_numpy(zero_copy_only=False)
    out = {
        "insert": int(np.count_nonzero(n_live & ~o_live)),
        "delete": int(np.count_nonzero(o_live & ~n_live)),
        "update": int(np.count_nonzero(o_live & n_live & adv)),
    }
    return {k: v for k, v in out.items() if v}
