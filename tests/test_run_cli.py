"""The spark-submit CLI (clin_variant_etl_spark.run) end-to-end.

Drives main() in-process (same SparkSession via getOrCreate) through the
three deployment modes a production scheduler composes:

1. ``--mode drain --apply-mode mor`` — batch-drain the event log; final
   state must equal the pure-pandas replay oracle.
2. ``--mode maintain`` — the out-of-band maintenance pass (compact + mor
   fold, snapshot expiry, orphan GC).  Visible state must be unchanged and
   the fold must leave <=1 physical row per key (delta files resolved away).
3. arg validation — drain/tail without an event source must exit(2), and
   maintain must not require one.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from clin_variant_etl_spark.engine import CdcPipeline
from clin_variant_etl_spark.engine.oracle import assert_state_equals, replay_oracle
from clin_variant_etl_spark.lake.table import LakeTable
from clin_variant_etl_spark.run import main
from clin_variant_etl_spark.testgen import (
    EventGenConfig,
    generate_change_events,
    write_events_by_epoch,
)


@pytest.fixture(scope="module")
def cli_env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("run_cli")
    events_dir = os.path.join(root, "events")
    cfg = EventGenConfig(n_docs=120, n_events=1500, n_epochs=3, seed=7)
    tbl = generate_change_events(cfg)
    write_events_by_epoch(tbl, events_dir)
    return {
        "root": str(root),
        "events": events_dir,
        "events_pdf": tbl.to_pandas(),
        "table": os.path.join(root, "docs"),
        "ckpt": os.path.join(root, "ckpt"),
        "lineage": os.path.join(root, "lineage"),
        "epochs": os.path.join(root, "epochs"),
    }


def _drain_args(e):
    base = {
        "--events-dir": e["events"],
        "--table": e["table"],
        "--lineage": e["lineage"],
        "--checkpoint-table": e["epochs"],
        "--stream-checkpoint": e["ckpt"],
        "--apply-mode": "mor",
        "--n-buckets": "4",
    }
    argv = ["--mode", "drain"]
    for k, v in base.items():
        argv += [k, v]
    return argv


def test_drain_matches_replay_oracle(spark, cli_env):
    assert main(_drain_args(cli_env)) == 0
    pipe = CdcPipeline(spark, cli_env["table"], apply_mode="mor")
    assert_state_equals(pipe.read_state(), replay_oracle(cli_env["events_pdf"]))


def test_maintain_folds_and_preserves_state(spark, cli_env):
    t = LakeTable(cli_env["table"])
    pipe = CdcPipeline(spark, cli_env["table"], apply_mode="mor")
    before = {r["doc_id"]: r["n_tok"] for r in pipe.read_state().collect()}
    # physical rows before the fold exceed visible keys (delta files pending)
    raw_before = t.read(spark).count()
    assert raw_before > len(before)

    argv = [
        "--mode", "maintain",
        "--table", cli_env["table"],
        "--apply-mode", "mor",
        "--keep-snapshots", "1",
        "--orphan-grace-hours", "0",
        "--target-file-bytes", str(1 << 20),
    ]
    assert main(argv) == 0

    after = {r["doc_id"]: r["n_tok"] for r in pipe.read_state().collect()}
    assert after == before
    # fold resolved base+delta down to exactly one physical row per key
    raw_after = t.read(spark).groupBy("doc_id").count()
    assert raw_after.filter(F.col("count") > 1).count() == 0
    # expiry honored --keep-snapshots 1
    assert len(t.snapshot_ids()) == 1


def test_drain_discovers_evolved_event_schema(spark, tmp_path):
    """--event-schema auto must pick up a producer upgrade (new columns in
    later epochs) from the log's parquet footers; pre-upgrade rows read the
    new columns as null.  A pinned v1 read would silently drop them."""
    events_dir = str(tmp_path / "events")
    cfg = EventGenConfig(n_docs=60, n_events=800, n_epochs=3, seed=13, v2_from_epoch=1)
    tbl = generate_change_events(cfg)
    write_events_by_epoch(tbl, events_dir)
    table = str(tmp_path / "docs")
    argv = [
        "--mode", "drain",
        "--events-dir", events_dir,
        "--table", table,
        "--stream-checkpoint", str(tmp_path / "ckpt"),
        "--apply-mode", "mor",
        "--n-buckets", "4",
    ]
    assert main(argv) == 0
    pipe = CdcPipeline(spark, table, apply_mode="mor")
    state = pipe.read_state()
    assert {"lang", "quality"} <= set(state.columns)
    assert_state_equals(state, replay_oracle(tbl.to_pandas()))


def test_drain_requires_event_source(cli_env):
    with pytest.raises(SystemExit) as ei:
        main(["--mode", "drain", "--table", cli_env["table"]])
    assert ei.value.code == 2


def test_maintain_requires_no_event_source(spark, cli_env):
    # re-running maintain on an already-folded table is a harmless no-op pass
    assert main(["--mode", "maintain", "--table", cli_env["table"]]) == 0


def test_drain_with_key_blooms_then_lookup_mode(spark, cli_env, capsys):
    """--key-blooms stamps blooms on ingest commits; --mode lookup prints
    the visible state of the requested keys as JSON lines."""
    import json

    root = cli_env["root"]
    argv = _drain_args(cli_env)
    argv[argv.index("--table") + 1] = os.path.join(root, "docs_bloomed")
    argv[argv.index("--stream-checkpoint") + 1] = os.path.join(root, "ckpt_bloomed")
    argv[argv.index("--checkpoint-table") + 1] = os.path.join(root, "epochs_bloomed")
    argv[argv.index("--lineage") + 1] = os.path.join(root, "lineage_bloomed")
    assert main(argv + ["--key-blooms"]) == 0
    t = LakeTable(os.path.join(root, "docs_bloomed"))
    assert all("doc_id" in (e.get("blooms") or {}) for e in t.current_snapshot().files)

    pipe = CdcPipeline(spark, os.path.join(root, "docs_bloomed"), apply_mode="mor")
    keys = [r["doc_id"] for r in pipe.read_state().limit(2).collect()]
    capsys.readouterr()  # drop drain-mode output
    assert main(["--mode", "lookup", "--table", os.path.join(root, "docs_bloomed"),
                 "--keys", ",".join(keys + ["nope-never"])]) == 0
    out = [json.loads(line) for line in capsys.readouterr().out.strip().splitlines()]
    assert sorted(r["doc_id"] for r in out) == sorted(keys)
    assert all("tokens" in r and "n_tok" in r for r in out)


def test_lookup_mode_requires_keys(cli_env):
    with pytest.raises(SystemExit):
        main(["--mode", "lookup", "--table", cli_env["table"]])


def test_lookup_mode_rejects_mismatched_key_col(cli_env):
    """The lookup key is the table's OWN bucket-spec key; an explicitly
    mismatched --key-col must error (exit 2), never silently resolve
    keep-max-LSN on the wrong column."""
    with pytest.raises(SystemExit) as ei:
        main(["--mode", "lookup", "--table", cli_env["table"],
              "--keys", "whatever", "--key-col", "source"])
    assert ei.value.code == 2


def test_lookup_by_col_mode(spark, cli_env, capsys):
    """--mode lookup --by-col: secondary-column lookup through the CLI,
    over a table ingested with --bloom-cols."""
    import json

    root = cli_env["root"]
    argv = _drain_args(cli_env)
    argv[argv.index("--table") + 1] = os.path.join(root, "docs_pb")
    argv[argv.index("--stream-checkpoint") + 1] = os.path.join(root, "ckpt_pb")
    argv[argv.index("--checkpoint-table") + 1] = os.path.join(root, "epochs_pb")
    argv[argv.index("--lineage") + 1] = os.path.join(root, "lineage_pb")
    assert main(argv + ["--key-blooms", "--bloom-cols", "n_tok"]) == 0
    t = LakeTable(os.path.join(root, "docs_pb"))
    assert all(
        {"doc_id", "n_tok"} <= set(e.get("blooms") or {})
        for e in t.current_snapshot().files
    )
    pipe = CdcPipeline(spark, os.path.join(root, "docs_pb"), apply_mode="mor")
    val = pipe.read_state().limit(1).collect()[0]["n_tok"]
    want = sorted(
        r["doc_id"]
        for r in pipe.read_state().where(F.col("n_tok") == val).collect()
    )
    capsys.readouterr()
    assert main(["--mode", "lookup", "--table", os.path.join(root, "docs_pb"),
                 "--keys", str(val), "--by-col", "n_tok"]) == 0
    out = [json.loads(line) for line in capsys.readouterr().out.strip().splitlines()]
    assert sorted(r["doc_id"] for r in out) == want


def test_identity_partitioned_table_uses_cli_key(spark, tmp_path, capsys):
    """Only a bucket spec names the table's key.  On a table partitioned by
    identity on a payload column (``source``), lookup and the maintain fold
    must key on ``--key-col``: keyed on ``source``, the lookup finds nothing
    and the mor fold collapses each source to a single row."""
    import json

    from pyspark.sql import types as T

    from clin_variant_etl_spark.lake.table import PartitionField
    from clin_variant_etl_spark.schemas import (
        BASE_DOCS_SCHEMA,
        INTERNAL_DELETED,
        INTERNAL_LAST_LSN,
    )

    path = str(tmp_path / "by_source")
    schema = T.StructType(
        BASE_DOCS_SCHEMA.fields
        + [
            T.StructField(INTERNAL_LAST_LSN, T.LongType(), True),
            T.StructField(INTERNAL_DELETED, T.BooleanType(), True),
        ]
    )
    t = LakeTable.create(path, schema, [PartitionField("source", "source", "identity")])
    rows = [(f"d{i}", [i], 1, f"src-{i % 2}", i, False) for i in range(6)]
    files = t.write_data_files(
        spark.createDataFrame(rows, schema),
        t.current_snapshot().schema_id,
        t.partition_spec,
    )
    t.commit("append", files)

    capsys.readouterr()
    assert main(["--mode", "lookup", "--table", path, "--keys", "d1,d2"]) == 0
    out = [json.loads(line) for line in capsys.readouterr().out.strip().splitlines()]
    assert sorted(r["doc_id"] for r in out) == ["d1", "d2"]

    assert main(["--mode", "maintain", "--table", path, "--apply-mode", "mor"]) == 0
    state = CdcPipeline(spark, path, apply_mode="mor").read_state()
    assert sorted(r["doc_id"] for r in state.collect()) == [f"d{i}" for i in range(6)]
