"""The engine's per-call paths stay inside the JVM: none of them may start a
PySpark Python worker or run work on one.

A Python worker costs a fork plus an interpreter start-up and serialises
every row across the JVM/Python boundary.  On a point lookup that was most
of the call's CPU.  The one deliberate Python-worker path,
``_collect_parquet_stats``'s executor-side footer reads above
``EXECUTOR_STATS_THRESHOLD`` files, is not reached by these small tables.
"""

from pyspark.sql import functions as F

from clin_variant_etl_spark.engine import (
    AggSpec,
    CdcPipeline,
    CdfConsumer,
    MaterializedAggregate,
    create_cdc_table,
)
from clin_variant_etl_spark.lake.maintenance import auto_fold
from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA, INTERNAL_LAST_LSN
from clin_variant_etl_spark.testgen import (
    EventGenConfig,
    generate_change_events,
    write_events_by_epoch,
)
from tests.conftest import python_worker_activity, python_workers


def test_engine_hot_paths_start_no_python_worker(spark, tmp_path):
    cfg = EventGenConfig(n_docs=60, n_events=600, n_epochs=3, seed=3)
    events = generate_change_events(cfg)
    write_events_by_epoch(events, str(tmp_path / "events"))
    key = events.column("doc_id")[0].as_py()
    n_tok = events.column("n_tok")[0].as_py()

    def ev(e):
        return spark.read.parquet(f"{tmp_path}/events/epoch={e}")

    pipes = {}
    for mode in ("cow", "mor"):
        create_cdc_table(str(tmp_path / mode), BASE_DOCS_SCHEMA, n_buckets=4)
        pipes[mode] = CdcPipeline(
            spark, str(tmp_path / mode), apply_mode=mode,
            key_blooms=True, bloom_cols=("n_tok",),
        )
    cow, mor = pipes["cow"], pipes["mor"]
    mv = MaterializedAggregate(
        mor, str(tmp_path / "mv"), ["source"],
        {"n": AggSpec("count"), "tok": AggSpec("sum", "n_tok")}, n_buckets=4,
    )
    consumer = CdfConsumer(mor, str(tmp_path / "cursor.json"))

    calls = [
        ("cow apply_epoch into an empty table", lambda: cow.apply_epoch(ev(0), 0)),
        ("cow apply_epoch", lambda: cow.apply_epoch(ev(1), 1)),
        ("mor apply_epoch into an empty table", lambda: mor.apply_epoch(ev(0), 0)),
        ("mor apply_epoch", lambda: mor.apply_epoch(ev(1), 1)),
        ("MaterializedAggregate.refresh", mv.refresh),
        ("CdfConsumer.drain", lambda: consumer.drain(lambda df: df.count())),
        ("mor apply_epoch after hooks", lambda: mor.apply_epoch(ev(2), 2)),
        ("MaterializedAggregate.refresh, incremental", mv.refresh),
        ("CdfConsumer.drain, incremental", lambda: consumer.drain(lambda df: df.count())),
        ("cow lookup", lambda: cow.lookup([key, "doc-never-existed"]).collect()),
        ("mor lookup", lambda: mor.lookup([key]).collect()),
        ("mor lookup_by", lambda: mor.lookup_by("n_tok", [n_tok]).collect()),
        ("cow read_state", lambda: cow.read_state().agg(F.count("*")).collect()),
        ("mor read_state", lambda: mor.read_state().agg(F.count("*")).collect()),
        (
            "read_changes with pre-images",
            lambda: mor.read_changes(2, include_pre_images=True).collect(),
        ),
        (
            "auto_fold",
            lambda: auto_fold(
                spark, mor.table, ("doc_id", INTERNAL_LAST_LSN),
                max_delta_ratio=0.0, min_delta_files=1,
            ),
        ),
    ]
    outs = {}
    for name, call in calls:
        before = python_workers(spark)
        outs[name] = call()
        assert python_worker_activity(before, python_workers(spark)) == [], name
    assert outs["auto_fold"] is not None  # the fold really ran
