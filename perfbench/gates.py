"""Correctness gates, run after the timed window.  Each returns a list of
human-readable mismatches; an empty list is a pass."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from clin_variant_etl_spark.engine.oracle import replay_oracle

STATE_COLS = ("doc_id", "n_tok", "source", "tokens")


def _norm(v):
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(int(x) for x in v)
    if v is None or (isinstance(v, float) and np.isnan(v)) or v is pd.NA:
        return None
    if isinstance(v, np.integer):
        return int(v)
    return v


def _rows_by_key(df: pd.DataFrame) -> dict:
    cols = [df[c].tolist() for c in STATE_COLS]
    return {r[0]: tuple(_norm(v) for v in r) for r in zip(*cols)}


def state_mismatches(got: pd.DataFrame, want: pd.DataFrame, limit: int = 5) -> list[str]:
    """Row-for-row equality of a visible state (token arrays included)."""
    if set(got.columns) != set(want.columns):
        return [f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    out = []
    if got["doc_id"].duplicated().any():
        out.append("duplicate keys in state")
    g, w = _rows_by_key(got), _rows_by_key(want)
    for k in sorted(g.keys() | w.keys()):
        if g.get(k) != w.get(k):
            out.append(f"{k}: got {str(g.get(k))[:120]} want {str(w.get(k))[:120]}")
            if len(out) >= limit:
                break
    return out


def lookup_mismatches(log: pa.Table, lookups: list[tuple[int, str, list[dict]]]) -> list[str]:
    """Each ``(through_epoch, key, rows)`` lookup against the oracle state of
    that key after epochs ``0..through_epoch``."""
    keys = sorted({k for _, k, _ in lookups})
    sub = log.filter(pc.is_in(log.column("doc_id"), pa.array(keys)))
    out = []
    for through, key, rows in lookups:
        part = sub.filter(
            pc.and_(pc.equal(sub.column("doc_id"), key), pc.less_equal(sub.column("epoch_hint"), through))
        )
        want = replay_oracle(part.to_pandas()) if part.num_rows else pd.DataFrame(columns=list(STATE_COLS))
        got = pd.DataFrame(rows, columns=list(STATE_COLS))
        bad = state_mismatches(got, want[list(STATE_COLS)], limit=1)
        if bad:
            out.append(f"lookup({key}) after epoch {through}: {bad[0]}")
    return out


def matview_mismatches(mv_rows: pd.DataFrame, oracle: pd.DataFrame) -> list[str]:
    """The incrementally maintained per-source aggregate against a full
    recompute from the oracle state."""
    want = (
        oracle.groupby("source")
        .agg(n_docs=("doc_id", "size"), total_tok=("n_tok", "sum"))
        .reset_index()
    )
    w = {r.source: (int(r.n_docs), int(r.total_tok)) for r in want.itertuples()}
    g = {r.source: (int(r.n_docs), int(r.total_tok)) for r in mv_rows.itertuples()}
    return [f"matview[{k}]: got {g.get(k)} want {w.get(k)}" for k in sorted(g.keys() | w.keys()) if g.get(k) != w.get(k)]


def query_mismatches(got: pd.DataFrame, want: pd.DataFrame, limit: int = 3) -> list[str]:
    """A registry query's result against its DuckDB oracle, under the
    package's parity rule: same row count and column names, and equal
    values once both frames are sorted on every column (floats exactly)."""
    if len(got) != len(want):
        return [f"row count {len(got)} != oracle {len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]

    def norm(df: pd.DataFrame) -> pd.DataFrame:
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].map(lambda v: str(v) if v is not None else None)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    g, w = norm(got), norm(want)
    out = []
    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            same = a == b or (pd.isna(a) and pd.isna(b))
            if not same:
                out.append(f"{c}[{i}]: {a!r} != {b!r}")
                if len(out) >= limit:
                    return out
    return out
