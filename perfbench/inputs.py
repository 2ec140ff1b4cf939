"""Seeded inputs for the benchmark: a churn change-event log with
incompressible token payloads, and the replay oracle over it.

Keys, ops, duplicates and lateness come from the package's own event
generator (``testgen.generate_change_events``).  Its token payloads are an
arithmetic progression per row, structure that a delta-aware encoder can
squeeze and so hide encode and write cost; here the payload is replaced by
hash-mixed token ids, uniform over the vocabulary, which leave an encoder
nothing but the ~16 bits of the id (2 bytes or more per token in Parquet).
Tokens stay a pure function of (seed, lsn, position), so a redelivered
duplicate carries the identical payload, as the engine's redelivery contract
requires.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from clin_variant_etl_spark.engine.oracle import replay_oracle
from clin_variant_etl_spark.testgen import VOCAB, EventGenConfig, generate_change_events

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser: a bijective, well-spread hash of uint64."""
    x = x ^ (x >> np.uint64(30))
    x = x * _M1
    x = x ^ (x >> np.uint64(27))
    x = x * _M2
    return x ^ (x >> np.uint64(31))


def token_payload(seed: int, lsn: np.ndarray, n_tok: np.ndarray) -> pa.ListArray:
    """tokens[i][j] = mix64(seed, lsn[i], j) mod VOCAB, built without a
    per-row Python loop."""
    offsets = np.zeros(len(n_tok) + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offsets[1:])
    pos = np.arange(offsets[-1], dtype=np.int64) - np.repeat(offsets[:-1], n_tok)
    row_lsn = np.repeat(lsn.astype(np.int64), n_tok)
    with np.errstate(over="ignore"):
        x = (row_lsn.astype(np.uint64) << np.uint64(16)) + pos.astype(np.uint64)
        x = _mix64(x + np.uint64(seed) * _GOLDEN)
    values = (x % np.uint64(VOCAB)).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), pa.array(values))


@dataclass(frozen=True)
class LogShape:
    """Shape of one generated change log (every field fixed per workload)."""

    events_per_epoch: int
    n_epochs: int
    n_docs: int  # key space
    min_tokens: int = 8
    max_tokens: int = 64
    hot_key_skew: float = 1.1
    dup_rate: float = 0.05
    late_rate: float = 0.05
    delete_rate: float = 0.10

    @property
    def n_events(self) -> int:
        return self.events_per_epoch * self.n_epochs


def generate_log(shape: LogShape, seed: int) -> pa.Table:
    """The whole change log in delivery order, tokens replaced (see module
    docstring).  Epoch k's events are the rows with ``epoch_hint == k``."""
    cfg = EventGenConfig(
        n_docs=shape.n_docs,
        n_events=shape.n_events,
        n_epochs=shape.n_epochs,
        dup_rate=shape.dup_rate,
        late_rate=shape.late_rate,
        delete_rate=shape.delete_rate,
        hot_key_skew=shape.hot_key_skew,
        min_tokens=shape.min_tokens,
        max_tokens=shape.max_tokens,
        seed=seed,
    )
    tbl = generate_change_events(cfg)
    n_tok = tbl.column("n_tok").fill_null(0).to_numpy()
    tokens = token_payload(seed, tbl.column("lsn").to_numpy(), n_tok)
    is_del = pc.equal(tbl.column("op"), "D")
    tokens = pc.if_else(is_del, pa.nulls(len(tbl), tokens.type), tokens)
    return tbl.set_column(tbl.schema.get_field_index("tokens"), "tokens", tokens)


def write_epoch(log: pa.Table, epoch: int, out_dir: str, files: int) -> None:
    """Write epoch ``epoch`` of ``log`` as ``files`` parquet files under
    ``out_dir/epoch=<k>``."""
    sub = log.filter(pc.equal(log.column("epoch_hint"), epoch))
    d = os.path.join(out_dir, f"epoch={epoch}")
    os.makedirs(d, exist_ok=True)
    step = max(1, -(-sub.num_rows // files))
    for i in range(0, max(sub.num_rows, 1), step):
        pq.write_table(sub.slice(i, step), os.path.join(d, f"part-{i // step:04d}.parquet"))


EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
_TS_US = pa.timestamp("us")


def write_query_tables(seed: int, out_dir: str, n_events: int, n_lineitems: int) -> None:
    """``events.parquet`` and ``lineitem.parquet`` with the columns and
    types of the package's fixture tables, for the registry queries that
    read them.  Money is whole cents / 100 and quantities are whole, as the
    registry's exact-match contract assumes."""
    rng = np.random.default_rng([seed, 2])
    base = np.datetime64("2024-01-01T00:00:00", "us")
    n_users = max(10, n_events // 50)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            # about 2 weeks of events, so sessions (30 min gaps) and hours vary
            "ts": pa.array(base + rng.integers(0, 14 * 86400 * 10**6, n_events).astype("timedelta64[us]"), _TS_US),
            "user_id": pa.array(rng.zipf(1.3, n_events) % n_users, pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)]),
            "value": pa.array(rng.integers(0, 100_000, n_events) / 100.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    n = n_lineitems
    qty = rng.integers(1, 51, n)
    day0 = np.datetime64("1992-01-01T00:00:00", "us")
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(1, max(2, n // 4), n), pa.int64()),
            "l_partkey": pa.array(rng.integers(1, 2001, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, 101, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(qty.astype(np.float64)),
            "l_extendedprice": pa.array(qty * rng.integers(90_000, 210_000, n) / 100.0),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(day0 + (rng.integers(0, 3650, n) * 86400 * 10**6).astype("timedelta64[us]"), _TS_US),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))
    pq.write_table(lineitem, os.path.join(out_dir, "lineitem.parquet"))


def oracle_state(log: pa.Table, through_epoch: int) -> pd.DataFrame:
    """Expected visible state after epochs ``0..through_epoch`` were applied."""
    sub = log.filter(pc.less_equal(log.column("epoch_hint"), through_epoch))
    return replay_oracle(sub.to_pandas())
