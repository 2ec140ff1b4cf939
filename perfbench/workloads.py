"""The two workloads: one closed-loop caller, each call waiting for the last.

Each run drives one target table with everything that writes to or reads
from it (a ``Target``), bulk-loaded with epoch 0 through the workload's own
ingest path during set-up.  A traced run does the same work; only its spans
tag Spark jobs (see spans.py).

Sizes are fixed constants, never derived from the host: the same seed gives
the same inputs, table layout and plan shapes on every machine.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from clin_variant_etl_spark.engine import CdcPipeline, CdfConsumer, create_cdc_table
from clin_variant_etl_spark.engine.matview import AggSpec, MaterializedAggregate
from clin_variant_etl_spark.lake.maintenance import auto_fold
from clin_variant_etl_spark.queries import all_queries
from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA, CHANGE_EVENTS_SCHEMA, INTERNAL_LAST_LSN
from clin_variant_etl_spark.streaming.stream import StreamingCdc

from host import cpu_probe
from inputs import LogShape, generate_log, write_epoch, write_query_tables

N_BUCKETS = 4
N_SALTS = 4
SHUFFLE_PARTITIONS = 4
FILES_PER_EPOCH = 4
MV_BUCKETS = 2
MV_AGGS = {"n_docs": AggSpec("count"), "total_tok": AggSpec("sum", "n_tok")}
# headline registry queries that read only the two generated query tables
QUERY_SET = ("q1_pricing_summary", "cdc_latest_by_lsn_salted", "session_stats_per_user")
QUERY_EVENTS = 20_000
QUERY_LINEITEMS = 30_000
QUERY_REPS = 2
QUERIES = all_queries(include_suite_only=True)


class Target:
    """The target table plus its sidecars, driven epoch by epoch."""

    apply_mode = "cow"
    ingest_span = "batch"

    def __init__(self, workload, root: str):
        self.workload = workload
        self.spark = workload.spark
        self.span = workload.tracer.span
        self.root = root
        self.table_path = os.path.join(root, "table")
        create_cdc_table(self.table_path, BASE_DOCS_SCHEMA, n_buckets=N_BUCKETS)
        self.pipe = CdcPipeline(
            self.spark,
            self.table_path,
            lineage_path=os.path.join(root, "lineage"),
            checkpoint_path=os.path.join(root, "epochs"),
            n_salts=N_SALTS,
            apply_mode=self.apply_mode,
        )
        self.results: dict[int, tuple] = {}  # epoch -> (ApplyResult, span)
        self.lookups: list[tuple[int, str, list[dict]]] = []
        self.last_epoch = -1
        call = self.pipe.apply_epoch

        def apply_epoch(events, epoch_id):
            with self.span("engine.apply_epoch", epoch=epoch_id) as s:
                res = call(events, epoch_id)
            self.results[epoch_id] = (res, s)
            return res

        # instance attribute: the stream's foreachBatch calls it too
        self.pipe.apply_epoch = apply_epoch

    def ingest(self, epoch: int) -> None:
        with self.span("batch", epoch=epoch):
            events = self.spark.read.parquet(self.workload.epoch_dir(epoch))
            self.pipe.apply_epoch(events, epoch)
        self.last_epoch = epoch

    def lookup(self, key: str) -> None:
        with self.span("engine.lookup", key=key, epoch=self.last_epoch):
            rows = self.pipe.lookup([key]).collect()
        self.lookups.append((self.last_epoch, key, [r.asDict() for r in rows]))

    def read_state(self) -> None:
        """A full visible-state aggregate scan."""
        with self.span("engine.read_state"):
            self.pipe.read_state().agg(F.count("*"), F.sum("n_tok"), F.sum(F.size("tokens"))).collect()


class StreamTarget(Target):
    """Merge-on-read table fed by ``StreamingCdc.run_available``; after each
    micro-batch: auto-fold, matview refresh, change-feed drain."""

    apply_mode = "mor"
    ingest_span = "streaming.run_available"

    def __init__(self, workload, root: str):
        super().__init__(workload, root)
        self.events_dir = os.path.join(root, "events")
        os.makedirs(self.events_dir)
        self.mv = MaterializedAggregate(self.pipe, os.path.join(root, "mv"), ["source"], MV_AGGS, n_buckets=MV_BUCKETS)
        self.consumer = CdfConsumer(self.pipe, os.path.join(root, "cdf_cursor.json"))
        self.drained: dict[int, int] = {}  # epoch -> change-feed rows
        self.folds: list[int] = []  # snapshot ids committed by auto_fold
        self.stream = StreamingCdc(
            self.spark,
            self.pipe,
            events_dir=self.events_dir,
            event_schema=CHANGE_EVENTS_SCHEMA,
            checkpoint_dir=os.path.join(root, "stream_ckpt"),
            after_batch=self.after_batch,
        )

    def after_batch(self, pipeline, epoch_id, res) -> None:
        with self.span("lake.maintenance.auto_fold", epoch=epoch_id):
            snap = auto_fold(self.spark, pipeline.table, ("doc_id", INTERNAL_LAST_LSN))
        if snap is not None:
            self.folds.append(snap.snapshot_id)
        with self.span("engine.matview.refresh", epoch=epoch_id):
            self.mv.refresh()

        def handler(feed):
            self.drained[epoch_id] = feed.count()

        with self.span("engine.consume.drain", epoch=epoch_id):
            self.consumer.drain(handler)

    def ingest(self, epoch: int) -> None:
        # the producer: publish the epoch's files atomically (hard links in a
        # private directory, then one rename into the watched log)
        src = self.workload.epoch_dir(epoch)
        tmp = os.path.join(self.root, f".incoming-{epoch}")
        os.makedirs(tmp)
        for f in sorted(os.listdir(src)):
            os.link(os.path.join(src, f), os.path.join(tmp, f))
        os.rename(tmp, os.path.join(self.events_dir, f"epoch={epoch}"))
        with self.span("streaming.run_available", epoch=epoch):
            self.stream.run_available()
        self.last_epoch = epoch


class Workload:
    """Shared set-up, measured loop and bookkeeping; subclasses pick the target."""

    name = ""
    target_cls = Target
    shape: LogShape
    lookups_per_epoch = 0
    n_warm_epochs = 0
    queries: tuple[str, ...] = ()  # registry queries run after ingest

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        # epoch 0 is the bulk load; the warm-up epochs follow in set-up, and
        # the rest are measured
        self.warm_epochs = list(range(1, 1 + self.n_warm_epochs))
        self.epochs = list(range(1 + self.n_warm_epochs, self.shape.n_epochs))
        self.gen_s = self.bulk_load_s = self.warmup_s = 0.0

    @property
    def query_dir(self) -> str:
        return os.path.join(self.work, "qdata")

    def epoch_dir(self, epoch: int) -> str:
        return os.path.join(self.work, "log", f"epoch={epoch}")

    def setup(self) -> None:
        with self.tracer.span("testgen.gen") as s:
            self.log = generate_log(self.shape, self.seed)
            for e in range(self.shape.n_epochs):
                write_epoch(self.log, e, os.path.join(self.work, "log"), FILES_PER_EPOCH)
            if self.queries:
                write_query_tables(self.seed, self.query_dir, QUERY_EVENTS, QUERY_LINEITEMS)
        self.gen_s = s.dur
        rng = np.random.default_rng([self.seed, 1])
        # lookup keys are drawn uniformly over the key space: hot and cold
        # keys, live, deleted and never-written ones alike
        self.lookup_keys = [
            [f"doc_{k:08d}" for k in rng.integers(0, self.shape.n_docs, self.lookups_per_epoch)]
            for _ in range(self.shape.n_epochs)
        ]
        with self.tracer.span("setup.bulk_load") as s:
            self.target = self.target_cls(self, os.path.join(self.work, "target"))
            self.target.ingest(0)
        self.bulk_load_s = s.dur
        # the first calls of the read paths (and, where the first merge into
        # a loaded table costs far more than the next, a warm-up epoch)
        # compile their plans here, so the window times warm code
        with self.tracer.span("setup.warmup") as s:
            for e in self.warm_epochs:
                self.target.ingest(e)
            self.target.lookup(self.lookup_keys[0][0])
            self.target.read_state()
        self.warmup_s = s.dur

    def probe(self) -> None:
        """Time the CPU-speed probe on every vCPU (see host.cpu_probe)."""
        with self.tracer.span("perfbench.cpu_probe") as s:
            s.attrs["samples"] = cpu_probe()

    def measure(self) -> None:
        """Closed loop: ingest an epoch, then look up keys, over the
        measured epochs, whatever ``--seconds`` says, so every run does the
        same work and count metrics repeat at a fixed seed.  The CPU-speed
        probe runs before and after every ingest and every group of lookups."""
        t = self.target
        t.mark_start = t.pipe.table.current_snapshot().snapshot_id
        with self.tracer.span("measure") as m:
            self.probe()
            for e in self.epochs:
                t.ingest(e)
                self.probe()
                for key in self.lookup_keys[e]:
                    t.lookup(key)
                self.probe()
        self.window = m
        t.mark_end = t.pipe.table.current_snapshot().snapshot_id

    def read_phase(self, reps: int = 2) -> None:
        for _ in range(reps):
            self.target.read_state()
        # registry queries: the first call of each compiles its plans, the
        # rest are the warm calls the metrics use
        self.query_results = {}
        for name in self.queries:
            fn = QUERIES[name].fn
            for rep in range(QUERY_REPS):
                with self.tracer.span(f"queries.{name}", rep=rep):
                    self.query_results[name] = fn(self.spark, self.query_dir).toPandas()


class ChurnCow(Workload):
    """Hot-key churn log replayed through ``apply_epoch``, copy-on-write."""

    name = "churn_cow"
    target_cls = Target
    # a warm-up epoch saves the first measured epoch little here (JIT
    # warm-up is gradual), so the median of the measured epochs absorbs it
    shape = LogShape(events_per_epoch=10_000, n_epochs=4, n_docs=4_000)
    lookups_per_epoch = 3
    queries = QUERY_SET


class StreamMor(Workload):
    """The same kind of churn log drained by ``StreamingCdc.run_available``
    into a merge-on-read table, with the per-batch hooks."""

    name = "stream_mor"
    target_cls = StreamTarget
    shape = LogShape(events_per_epoch=5_000, n_epochs=4, n_docs=1_500)
    lookups_per_epoch = 2
    # the first merge-on-read batch after the bulk load costs ~1.4x a later one
    n_warm_epochs = 1


WORKLOADS = {w.name: w for w in (ChurnCow, StreamMor)}
