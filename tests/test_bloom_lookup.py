"""Manifest bloom filters (``write_data_files(bloom_cols=…)``) + keyed point
lookups (``CdcPipeline.lookup``): file skipping for equality probes that
min/max stats cannot serve (high-cardinality string keys), layered under the
existing bucket pruning.

Correctness oracle: lookup == read_state filtered to the same keys, on a mor
table where base + delta files coexist.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
from clin_variant_etl_spark.lake import table as table_mod
from clin_variant_etl_spark.lake.table import (
    _bloom_may_contain,
    _blooms_may_match,
    _build_bloom,
    _collect_parquet_stats,
)
from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA
from clin_variant_etl_spark.testgen import (
    EventGenConfig,
    generate_change_events,
    write_events_by_epoch,
)


def test_bloom_membership_and_fpr():
    vals = [f"doc-{i}" for i in range(500)]
    b = _build_bloom(vals)
    assert all(_bloom_may_contain(b, v) for v in vals)  # no false negatives
    misses = sum(_bloom_may_contain(b, f"other-{i}") for i in range(2000))
    assert misses / 2000 < 0.05  # ~1% design FPR, generous margin
    # None is skipped on build and conservative on probe
    b2 = _build_bloom(["x", None])
    assert _bloom_may_contain(b2, "x") and _bloom_may_contain(b2, None)
    # oversize → no bloom (file stays unprunable, never wrongly dropped)
    assert _build_bloom(["v"] * 10, max_bits=16) is None


def test_blooms_may_match_conservative():
    b = _build_bloom(["a", "b"])
    e = {"blooms": {"doc_id": b}}
    assert _blooms_may_match(e, {"doc_id": ["a"]})
    assert _blooms_may_match(e, {"doc_id": ["zz-not-there", "b"]})
    assert not _blooms_may_match(e, {"doc_id": ["zz-not-there"]})
    # no bloom for the column / no blooms at all / empty probe → keep
    assert _blooms_may_match(e, {"other": ["q"]})
    assert _blooms_may_match({}, {"doc_id": ["q"]})
    assert _blooms_may_match(e, {"doc_id": []})


def test_driver_and_executor_bloom_paths_agree(spark, tmp_path, monkeypatch):
    """The executor closure inlines the bloom build (cloudpickle by-value
    convention) — pin it bit-for-bit equal to the canonical _build_bloom."""
    paths = []
    for i in range(6):
        p = str(tmp_path / f"f{i}.parquet")
        pd.DataFrame({"doc_id": [f"d{i}-{j}" for j in range(40)]}).to_parquet(p)
        paths.append(p)
    driver = _collect_parquet_stats(spark, paths, (), ("doc_id",))
    monkeypatch.setattr(table_mod, "EXECUTOR_STATS_THRESHOLD", 2)
    executor = _collect_parquet_stats(spark, paths, (), ("doc_id",))
    assert driver == executor
    assert all(driver[p][2]["doc_id"]["b64"] for p in paths)


@pytest.fixture(scope="module")
def bloom_pipe(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("bloom")
    cfg = EventGenConfig(n_docs=120, n_events=1200, n_epochs=4, seed=11)
    tbl = generate_change_events(cfg)
    write_events_by_epoch(tbl, str(tmp / "events"))
    create_cdc_table(str(tmp / "docs"), BASE_DOCS_SCHEMA, n_buckets=4)
    pipe = CdcPipeline(spark, str(tmp / "docs"), apply_mode="mor", key_blooms=True)
    for ep in range(4):
        pipe.apply_epoch(spark.read.parquet(f"{tmp}/events/epoch={ep}"), epoch_id=ep)
    return pipe


def test_lookup_matches_filtered_read_state(spark, bloom_pipe):
    state = bloom_pipe.read_state().toPandas().sort_values("doc_id")
    live = list(state["doc_id"])
    probe = live[:3] + ["doc-never-existed"]
    got = bloom_pipe.lookup(probe).toPandas().sort_values("doc_id")
    want = state[state["doc_id"].isin(probe)]
    assert list(got["doc_id"]) == list(want["doc_id"])
    for a, b in zip(
        got.to_dict("records"), want.to_dict("records"), strict=True
    ):
        assert list(a["tokens"]) == list(b["tokens"]) and a["n_tok"] == b["n_tok"]
    # a deleted key returns no row
    deleted = bloom_pipe._read_resolved().where(F.col("_deleted")).limit(1).collect()
    if deleted:
        assert bloom_pipe.lookup([deleted[0]["doc_id"]]).count() == 0
    # empty probe: empty frame, state schema
    assert bloom_pipe.lookup([]).count() == 0


def test_lookup_opens_strictly_fewer_files(spark, bloom_pipe):
    """Both pruning layers bite: the lookup's scan opens a strict subset of
    the full-state scan's files (bucket pruning alone can't explain it on a
    single-bucket probe of a 4-epoch mor table — the bloom must drop delta
    files of the same bucket that don't mention the key)."""
    state = bloom_pipe.read_state()
    key = state.limit(1).collect()[0]["doc_id"]
    looked = bloom_pipe.lookup([key])
    assert set(looked.inputFiles()) < set(state.inputFiles())
    # every file entry this pipeline committed carries a key bloom
    snap = bloom_pipe.table.current_snapshot()
    assert all("doc_id" in (e.get("blooms") or {}) for e in snap.files)


def test_compaction_preserves_blooms(spark, tmp_path):
    """A mor fold must not erase lookup()'s pruning: compact re-blooms the
    columns its input files carried blooms for."""
    from clin_variant_etl_spark.lake.maintenance import compact
    from clin_variant_etl_spark.schemas import INTERNAL_LAST_LSN

    cfg = EventGenConfig(n_docs=80, n_events=800, n_epochs=3, seed=7)
    tbl = generate_change_events(cfg)
    write_events_by_epoch(tbl, str(tmp_path / "events"))
    create_cdc_table(str(tmp_path / "docs"), BASE_DOCS_SCHEMA, n_buckets=4)
    pipe = CdcPipeline(spark, str(tmp_path / "docs"), apply_mode="mor", key_blooms=True)
    for ep in range(3):
        pipe.apply_epoch(spark.read.parquet(f"{tmp_path}/events/epoch={ep}"), epoch_id=ep)
    before = pipe.read_state().toPandas().sort_values("doc_id")
    compact(spark, pipe.table, resolve_keep_latest=("doc_id", INTERNAL_LAST_LSN))
    snap = pipe.table.current_snapshot()
    assert all("doc_id" in (e.get("blooms") or {}) for e in snap.files)
    after = pipe.read_state().toPandas().sort_values("doc_id")
    assert list(before["doc_id"]) == list(after["doc_id"])
    key = before["doc_id"].iloc[0]
    looked = pipe.lookup([key])
    assert looked.count() == 1
    assert set(looked.inputFiles()) < set(pipe.read_state().inputFiles())


def test_lookup_time_travel_across_partition_respec(spark, tmp_path):
    """A time-traveled lookup must hash keys with the PINNED snapshot's
    spec, not the current one — after update_partitioning the old layout's
    buckets would otherwise all be pruned (code-review finding)."""
    from clin_variant_etl_spark.lake.migrate import update_partitioning
    from clin_variant_etl_spark.lake.table import PartitionField

    cfg = EventGenConfig(n_docs=60, n_events=600, n_epochs=2, seed=5)
    tbl = generate_change_events(cfg)
    write_events_by_epoch(tbl, str(tmp_path / "events"))
    create_cdc_table(str(tmp_path / "docs"), BASE_DOCS_SCHEMA, n_buckets=4)
    pipe = CdcPipeline(spark, str(tmp_path / "docs"), key_blooms=True)
    for ep in range(2):
        pipe.apply_epoch(spark.read.parquet(f"{tmp_path}/events/epoch={ep}"), epoch_id=ep)
    old_sid = pipe.table.current_snapshot().snapshot_id
    key = pipe.read_state().limit(1).collect()[0]["doc_id"]

    update_partitioning(
        spark, pipe.table, [PartitionField("bucket", "doc_id", "bucket_m3", 8)]
    )
    # blooms survive the respec rewrite (same invariant as compact)
    assert all(
        "doc_id" in (e.get("blooms") or {})
        for e in pipe.table.current_snapshot().files
    )
    # current-snapshot lookup under the new spec
    assert pipe.lookup([key]).count() == 1
    # time-traveled lookup under the OLD spec
    assert pipe.lookup([key], snapshot_id=old_sid).count() == 1


def test_lookup_unknown_key_col_raises(spark, bloom_pipe):
    bad = CdcPipeline(spark, bloom_pipe.table.path, key_col="not_a_column")
    with pytest.raises(ValueError, match="not_a_column"):
        bad.lookup(["x"])


def test_bloom_cap_skips_large_files_and_warns(spark, tmp_path):
    """Files past BLOOM_MAX_ROWS commit without a bloom (row-count gate, no
    wasted column read) and the writer surfaces it instead of staying
    silent."""
    from pyspark.sql import types as T

    from clin_variant_etl_spark.lake.table import (
        BLOOM_MAX_ROWS,
        LakeTable,
        PartitionField,
    )

    schema = T.StructType([T.StructField("doc_id", T.LongType(), False)])
    t = LakeTable.create(
        str(tmp_path / "big"), schema, [PartitionField("bucket", "doc_id", "bucket", 1)]
    )
    df = spark.range(BLOOM_MAX_ROWS + 1).withColumnRenamed("id", "doc_id")
    with pytest.warns(UserWarning, match="BLOOM_MAX_ROWS"):
        files = t.write_data_files(
            df.coalesce(1), 0, t.partition_spec, bloom_cols=("doc_id",)
        )
    assert files and all(not e.get("blooms") for e in files)


@pytest.fixture(scope="module")
def payload_bloom_pipe(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("pbloom")
    cfg = EventGenConfig(n_docs=120, n_events=1200, n_epochs=4, seed=11)
    tbl = generate_change_events(cfg)
    write_events_by_epoch(tbl, str(tmp / "events"))
    create_cdc_table(str(tmp / "docs"), BASE_DOCS_SCHEMA, n_buckets=4)
    pipe = CdcPipeline(
        spark, str(tmp / "docs"), apply_mode="mor",
        key_blooms=True, bloom_cols=("n_tok",),
    )
    for ep in range(4):
        pipe.apply_epoch(spark.read.parquet(f"{tmp}/events/epoch={ep}"), epoch_id=ep)
    return pipe


def test_lookup_by_matches_filtered_state_and_skips_files(spark, payload_bloom_pipe):
    """Secondary-column lookup (bloom_cols payload blooms): exact vs the
    post-resolve filtered read_state, and the candidate scan opens strictly
    fewer files than the full scan — the file-skip measurement on a NON-KEY
    column (VERDICT r4 task #10 'done' bar)."""
    pipe = payload_bloom_pipe
    state = pipe.read_state()
    # pick a sparse value: the rarest live n_tok
    counts = state.groupBy("n_tok").count().orderBy("count", "n_tok").limit(1).collect()
    val = counts[0]["n_tok"]

    got = pipe.lookup_by("n_tok", [val]).toPandas().sort_values("doc_id")
    want = state.where(F.col("n_tok") == val).toPandas().sort_values("doc_id")
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert list(got["n_tok"]) == list(want["n_tok"])

    # every committed file carries BOTH blooms
    snap = pipe.table.current_snapshot()
    assert all(
        {"doc_id", "n_tok"} <= set(e.get("blooms") or {}) for e in snap.files
    )
    # the file-skip measurement: the candidate pass's pruned scan
    cand = pipe.table.read(spark, key_filter={"n_tok": [int(val)]})
    assert set(cand.inputFiles()) < set(pipe.table.read(spark).inputFiles())

    # a value that never existed: empty, zero candidate keys
    assert pipe.lookup_by("n_tok", [99999]).count() == 0
    # unknown column errors loudly
    with pytest.raises(ValueError, match="not in table schema"):
        pipe.lookup_by("nope", [1])


def test_lookup_by_version_history_exactness(spark, payload_bloom_pipe):
    """A key whose OLD version matched but latest doesn't must NOT appear;
    conversely a key matching in its latest version appears even if some
    matching version lives in a file the candidate scan pruned (the key
    lookup re-reads the full version set)."""
    pipe = payload_bloom_pipe
    raw = pipe.table.read(spark).select("doc_id", "n_tok", "_last_lsn")
    state = {r["doc_id"]: r["n_tok"] for r in pipe.read_state().select("doc_id", "n_tok").collect()}
    # some doc with >1 distinct historical n_tok (updates changed it)
    hist = {}
    for r in raw.collect():
        hist.setdefault(r["doc_id"], set()).add(r["n_tok"])
    movers = {d: v for d, v in hist.items() if len(v) > 1 and d in state}
    if not movers:
        pytest.skip("no doc changed n_tok in this seed")
    doc, vals = next(iter(movers.items()))
    stale = sorted(v for v in vals if v != state[doc])[0]
    got = {r["doc_id"] for r in pipe.lookup_by("n_tok", [stale]).collect()}
    assert doc not in got  # old-version match must not leak
    live = state[doc]
    got_live = {r["doc_id"] for r in pipe.lookup_by("n_tok", [live]).collect()}
    assert doc in got_live


@pytest.mark.parametrize("transform", ["bucket_m3", "bucket"])
@pytest.mark.parametrize("key_type", ["int", "long"])
def test_numeric_key_lookups_match_filtered_state(spark, tmp_path, key_type, transform):
    """Lookups on int- and long-keyed tables under both bucket transforms.
    The bucket probe hashes each key cast to the key column's type: a
    small long key hashed as an int literal lands in the wrong bucket, and
    the lookup would silently miss the row."""
    from pyspark.sql import types as T

    from clin_variant_etl_spark.engine.apply import BUCKET_PARTITION
    from clin_variant_etl_spark.lake.table import LakeTable, PartitionField
    from clin_variant_etl_spark.schemas import INTERNAL_DELETED, INTERNAL_LAST_LSN

    kt = T.IntegerType() if key_type == "int" else T.LongType()
    schema = T.StructType(
        [
            T.StructField("k", kt, False),
            T.StructField("v", T.StringType(), True),
            T.StructField(INTERNAL_LAST_LSN, T.LongType(), True),
            T.StructField(INTERNAL_DELETED, T.BooleanType(), True),
        ]
    )
    LakeTable.create(
        str(tmp_path / "t"), schema, [PartitionField(BUCKET_PARTITION, "k", transform, 4)]
    )
    pipe = CdcPipeline(
        spark, str(tmp_path / "t"), key_col="k", apply_mode="mor",
        key_blooms=True, bloom_cols=("v",),
    )
    ev_schema = T.StructType(
        [
            T.StructField("lsn", T.LongType(), False),
            T.StructField("op", T.StringType(), False),
            T.StructField("k", kt, False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    # small keys (where int and long hashes differ) and, for long, keys
    # past the int range
    keys = [i * 7 - 50 for i in range(40)]
    if key_type == "long":
        keys += [(1 << 40) + i for i in range(10)]
    epoch0 = [(i, "I", k, f"v{k % 5}") for i, k in enumerate(keys)]
    epoch1 = [
        (1000 + i, "D" if i % 4 == 0 else "U", k, f"v{k % 3}")
        for i, k in enumerate(keys[::3])
    ]
    for ep, rows in enumerate((epoch0, epoch1)):
        pipe.apply_epoch(spark.createDataFrame(rows, ev_schema), epoch_id=ep)

    state = {r["k"]: r["v"] for r in pipe.read_state().collect()}
    deleted = [k for k in keys if k not in state]
    assert deleted  # the probe covers a dead key
    probe = keys[:3] + keys[-3:] + deleted[:2] + [123456]
    for k in probe:
        got = [(r["k"], r["v"]) for r in pipe.lookup([k]).collect()]
        assert got == ([(k, state[k])] if k in state else []), k
    got = sorted((r["k"], r["v"]) for r in pipe.lookup(probe).collect())
    assert got == sorted((k, state[k]) for k in probe if k in state)
    # CLI callers pass strings; they are coerced to the key type
    assert pipe.lookup([str(keys[1])]).count() == (keys[1] in state)

    for vals in (["v0"], ["v1", "v2"]):
        got = sorted(r["k"] for r in pipe.lookup_by("v", vals).collect())
        assert got == sorted(k for k, v in state.items() if v in vals)


@pytest.fixture
def small_bloom_pipe(spark, tmp_path):
    cfg = EventGenConfig(n_docs=40, n_events=300, n_epochs=2, seed=13)
    write_events_by_epoch(generate_change_events(cfg), str(tmp_path / "events"))
    create_cdc_table(str(tmp_path / "docs"), BASE_DOCS_SCHEMA, n_buckets=4)
    pipe = CdcPipeline(
        spark, str(tmp_path / "docs"), apply_mode="mor",
        key_blooms=True, bloom_cols=("n_tok",),
    )
    for ep in range(2):
        pipe.apply_epoch(spark.read.parquet(f"{tmp_path}/events/epoch={ep}"), epoch_id=ep)
    return pipe


def _most_common_n_tok(pipe) -> tuple[int, list[str]]:
    """The live n_tok value held by the most keys, and those keys."""
    by_val: dict[int, list[str]] = {}
    for r in pipe.read_state().select("doc_id", "n_tok").collect():
        by_val.setdefault(r["n_tok"], []).append(r["doc_id"])
    val = max(sorted(by_val), key=lambda v: len(by_val[v]))
    return val, sorted(by_val[val])


def test_lookup_by_pins_one_snapshot_across_passes(spark, small_bloom_pipe, monkeypatch):
    """A commit landing between the candidate scan and the key lookup must
    not leak into the result: both passes read the snapshot current when
    lookup_by was called.  The racing commit deletes every key the value
    matches, so a key pass on the new snapshot would return nothing."""
    from clin_variant_etl_spark.schemas import CHANGE_EVENTS_SCHEMA

    pipe = small_bloom_pipe
    val, want = _most_common_n_tok(pipe)
    pinned = pipe.table.current_snapshot().snapshot_id
    max_lsn = pipe._read_resolved().agg(F.max("_last_lsn")).collect()[0][0]
    deletes = spark.createDataFrame(
        [
            {"lsn": max_lsn + 1 + i, "op": "D", "doc_id": d, "tokens": None,
             "n_tok": None, "source": None, "event_ts": None, "epoch_hint": None}
            for i, d in enumerate(want)
        ],
        CHANGE_EVENTS_SCHEMA,
    )
    key_lookup = pipe.lookup

    def racing_lookup(keys, snapshot_id=None):
        pipe.apply_epoch(deletes, epoch_id=2)
        return key_lookup(keys, snapshot_id=snapshot_id)

    monkeypatch.setattr(pipe, "lookup", racing_lookup)
    got = sorted(r["doc_id"] for r in pipe.lookup_by("n_tok", [val]).collect())
    assert pipe.table.current_snapshot().snapshot_id != pinned  # the race ran
    assert got == want
    monkeypatch.undo()
    assert pipe.lookup_by("n_tok", [val]).count() == 0
    assert pipe.lookup_by("n_tok", [val], snapshot_id=pinned).count() == len(want)


def test_lookup_by_candidate_limit_raises(spark, small_bloom_pipe, monkeypatch):
    """The candidate-key collect is bounded: past LOOKUP_BY_MAX_KEYS keys,
    lookup_by raises and points at read_state().where(...)."""
    from clin_variant_etl_spark.engine import apply as apply_mod

    pipe = small_bloom_pipe
    val, want = _most_common_n_tok(pipe)
    assert len(want) >= 2
    # the candidates (keys with ANY version holding val) include every live
    # holder, so a limit one below the live count must trip
    monkeypatch.setattr(apply_mod, "LOOKUP_BY_MAX_KEYS", len(want) - 1)
    with pytest.raises(ValueError, match=r"read_state\(\)\.where"):
        pipe.lookup_by("n_tok", [val])
    # the fixture table holds 40 keys in all
    monkeypatch.setattr(apply_mod, "LOOKUP_BY_MAX_KEYS", 40)
    assert pipe.lookup_by("n_tok", [val]).count() == len(want)
