"""Turn a finished workload into gates, end-to-end metrics and per-layer
metrics.  Runs after the timed window: nothing here is measured."""

from __future__ import annotations

import os
import statistics

import duckdb
import numpy as np
import pyarrow.compute as pc

from clin_variant_etl_spark.qc import run_cdc_qc

from gates import lookup_mismatches, matview_mismatches, query_mismatches, state_mismatches
from host import PROBE_REF_S
from inputs import oracle_state
from spans import Span
from workloads import QUERIES, QUERY_REPS, QUERY_SET, StreamTarget


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def timing(values: list[float]) -> dict:
    """Median, and the highest of p75/p90/p95/p99 that still has at least
    ten samples above it, with the sample count."""
    out = {"n": len(values), "p50": _median(values), "samples": values}
    for p in (99, 95, 90, 75):
        if len(values) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = float(np.percentile(values, p))
            break
    return out


def window_spans(wl, name: str) -> list[Span]:
    """The ``name`` spans inside the measured window."""
    w = wl.window
    return [s for s in wl.tracer.named(name) if w.start <= s.start and s.end <= w.end]


def read_spans(wl) -> list[Span]:
    """The ``read_state`` calls after the window."""
    return [s for s in wl.tracer.named("engine.read_state") if s.start > wl.window.end]


# the calls a batch passes through before readers see all of it
_VISIBLE = {
    "batch",
    "engine.apply_epoch",
    "lake.maintenance.auto_fold",
    "engine.matview.refresh",
    "engine.consume.drain",
}


def visible_span(wl, epoch: int) -> Span:
    """From the first call that handles the batch until the last returns:
    read + apply_epoch on churn_cow; apply_epoch through the change-feed
    drain on stream_mor (the stream's own start/stop cost is not part of it)."""
    spans = [
        s
        for s in wl.tracer.spans
        if s.attrs.get("epoch") == epoch
        and s.name in _VISIBLE
        and s.start >= wl.window.start
    ]
    first = min(spans, key=lambda s: s.start)
    last = max(spans, key=lambda s: s.end)
    return Span(-1, "batch_visible", None, first.start, last.end, first.cpu_start, last.cpu_end)


def bytes_added(table, after_sid: int, upto_sid: int, only: set[int] | None = None) -> int:
    """Data bytes of files that snapshots in (after_sid, upto_sid] added."""
    total = 0
    for sid in table.snapshot_ids():
        if not after_sid < sid <= upto_sid or (only is not None and sid not in only):
            continue
        snap = table.snapshot(sid)
        old = {f["path"] for f in table.snapshot(snap.parent_id).files} if snap.parent_id is not None else set()
        total += sum(
            os.path.getsize(os.path.join(table.path, f["path"])) for f in snap.files if f["path"] not in old
        )
    return total


def gate(wl) -> tuple[list[str], int]:
    """Every correctness gate; returns (failures, attempted), where
    attempted counts each operation and each check."""
    failures: list[str] = []
    attempted = 0
    t = wl.target
    for e in wl.warm_epochs + wl.epochs:
        attempted += 1
        res = t.results.get(e, (None,))[0]
        want = wl.log.filter(pc.equal(wl.log.column("epoch_hint"), e)).num_rows
        if res is None or res.skipped or res.event_count != want:
            failures.append(f"epoch {e}: {res} (expected {want} events)")
    attempted += len(t.lookups) + len(wl.tracer.named("engine.read_state"))
    failures += lookup_mismatches(wl.log, t.lookups)

    oracle = oracle_state(wl.log, t.last_epoch)
    attempted += 1
    got = t.pipe.read_state().toPandas()
    failures += [f"state {m}" for m in state_mismatches(got, oracle)]
    qc = run_cdc_qc(wl.spark, t.pipe, raise_on_failure=False)
    attempted += len(qc)
    failures += [f"qc {r.name}: {r.n_offending} rows" for r in qc if not r.passed]
    if isinstance(t, StreamTarget):
        attempted += 3 * len(wl.warm_epochs + wl.epochs) + 1  # hooks, then the matview check
        failures += matview_mismatches(t.mv.read().toPandas(), oracle)
    if wl.queries:
        con = duckdb.connect()
        for table in ("events", "lineitem"):
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(wl.query_dir, table)}.parquet'")
        for name in wl.queries:
            attempted += QUERY_REPS + 1  # the calls, then the oracle check
            want = con.execute(QUERIES[name].oracle).df()
            failures += [f"queries.{name}: {m}" for m in query_mismatches(wl.query_results[name], want)]
        con.close()
    return failures, attempted


def probe_samples(wl) -> list[float]:
    return [x for p in wl.tracer.named("perfbench.cpu_probe") for x in p.attrs["samples"]]


def cpu_speed(wl) -> float:
    """How much faster than the reference the cores ran during the window:
    ``PROBE_REF_S`` / mean ``cpu_probe`` time.  CPU seconds times this are
    reference-CPU seconds, which the host's CPU speed (clock, hyperthread
    siblings busy with other tenants, another host) moves less than it
    moves CPU seconds."""
    return PROBE_REF_S / statistics.fmean(probe_samples(wl))


def end_to_end_metrics(wl, session_s: float) -> dict:
    """End-to-end metrics: reference-CPU seconds in the result; raw CPU and
    wall seconds of the same calls in the record."""
    t = wl.target
    ep = wl.epochs
    speed = cpu_speed(wl)
    ingest = window_spans(wl, t.ingest_span)
    events = sum(t.results[e][0].event_count for e in ep)
    applies = [t.results[e][1] for e in ep]
    visible = [visible_span(wl, e) for e in ep]
    lookups = window_spans(wl, "engine.lookup")
    reads = read_spans(wl)
    written = bytes_added(t.pipe.table, t.mark_start, t.mark_end)
    ingest_cpu = sum(s.cpu for s in ingest)
    values = {
        "setup_s": session_s + wl.gen_s + wl.bulk_load_s + wl.warmup_s,
        "ingest_events_per_ref_cpu_s_p50": _median(
            [t.results[s.attrs["epoch"]][0].event_count / (s.cpu * speed) for s in ingest]
        ),
        "epoch_ref_cpu_s_p50": _median([s.cpu for s in applies]) * speed,
        "batch_visible_ref_cpu_s_p50": _median([s.cpu for s in visible]) * speed,
        "lookup_ref_cpu_s_p50": _median([s.cpu for s in lookups]) * speed,
        "write_bytes_per_event": written / events,
    }
    wall = sum(s.dur for s in ingest)
    detail = {
        "setup": {
            "session_start_s": session_s,
            "gen_s": wl.gen_s,
            "bulk_load_s": wl.bulk_load_s,
            "warmup_s": wl.warmup_s,
        },
        "ingest": {
            "epochs": ep,
            "events": events,
            "wall_s": wall,
            "events_per_s": events / wall,
            "cpu_s": ingest_cpu,
            "events_per_cpu_s": events / ingest_cpu,
            "window_s": wl.window.dur,
        },
        "cpu_speed": {"factor": speed, "probe_ref_s": PROBE_REF_S, "probe_s": timing(probe_samples(wl))},
        "epoch_s": timing([s.dur for s in applies]),
        "batch_visible_s": timing([s.dur for s in visible]),
        "lookup_s": timing([s.dur for s in lookups]),
        "read_state_s": timing([s.dur for s in reads]),
        "cpu_s": {
            "epoch": timing([s.cpu for s in applies]),
            "batch_visible": timing([s.cpu for s in visible]),
            "lookup": timing([s.cpu for s in lookups]),
            "read_state": timing([s.cpu for s in reads]),
            "window": wl.window.cpu,
        },
        "write_bytes": {"bytes": written, "events": events},
        "values": values,
    }
    return {"values": values, "detail": detail}


def query_seconds(wl, name: str) -> float:
    """Median wall seconds of the warm calls (all but the first) of a
    registry query; 0 on a workload that does not run it."""
    return _median([s.dur for s in wl.tracer.named(f"queries.{name}") if s.attrs["rep"] > 0])


def layer_metrics(wl, session_s: float) -> dict:
    """Per-layer metrics of a traced run.  Layers a workload does not run
    read 0."""
    t = wl.target
    ep = wl.epochs
    res = {e: t.results[e][0] for e in ep}
    apply_spans = [t.results[e][1] for e in ep]

    def per_epoch(key: str) -> float:
        return _median([s.attrs["incl"][key] for s in apply_spans])

    def span_s(name: str) -> float:
        return _median([s.dur for s in window_spans(wl, name)])

    lookups = window_spans(wl, "engine.lookup")
    final = t.pipe.table.snapshot(t.mark_end)
    in_window = [s for s in wl.tracer.spans if wl.window.start < s.start < wl.window.end]
    tag_s = sum(s.attrs["tag_s"] for s in in_window)
    stream = isinstance(t, StreamTarget)
    folds = {sid for sid in t.folds if t.mark_start < sid <= t.mark_end} if stream else set()
    values = {
        "engine.apply.dedup_s": _median([res[e].phase_ms["dedup"] / 1000 for e in ep]),
        "engine.apply.write_s": _median([res[e].phase_ms["write"] / 1000 for e in ep]),
        "engine.apply.commit_s": _median([res[e].phase_ms["commit"] / 1000 for e in ep]),
        "engine.apply.sidecar_s": _median([s.dur - res[e].wall_ms / 1000 for e, s in zip(ep, apply_spans)]),
        "engine.apply.jobs": per_epoch("jobs"),
        "engine.apply.stages": per_epoch("stages"),
        "engine.apply.task_skew": _median([s.attrs["counters"]["task_skew"] for s in apply_spans]),
        "engine.apply.input_bytes": per_epoch("input_bytes"),
        "engine.apply.shuffle_read_bytes": per_epoch("shuffle_read_bytes"),
        "engine.apply.shuffle_write_bytes": per_epoch("shuffle_write_bytes"),
        "engine.apply.spill_bytes": per_epoch("spill_bytes"),
        "engine.apply.gc_s": per_epoch("gc_s"),
        "engine.apply.task_s": per_epoch("task_s"),
        "engine.apply.net_keys_per_event": sum(
            res[e].applied_inserts + res[e].applied_updates + res[e].applied_deletes for e in ep
        )
        / sum(res[e].event_count for e in ep),
        "engine.dedup.join_pick_frac": sum(res[e].dedup_variant_used == "join" for e in ep) / len(ep),
        "engine.apply.lookup_s": _median([s.dur for s in lookups]),
        "engine.apply.lookup_input_bytes": _median([s.attrs["incl"]["input_bytes"] for s in lookups]),
        "engine.apply.read_state_s": _median([s.dur for s in read_spans(wl)]),
        "lake.table.bytes_written": bytes_added(t.pipe.table, t.mark_start, t.mark_end),
        "lake.table.files": len(final.files),
        "lake.table.delta_files": sum(1 for f in final.files if f.get("delta")),
        "lake.maintenance.auto_fold_s": span_s("lake.maintenance.auto_fold"),
        "lake.maintenance.folds_run": len(folds),
        "lake.maintenance.bytes_rewritten": bytes_added(t.pipe.table, t.mark_start, t.mark_end, only=folds)
        if folds
        else 0,
        "engine.matview.refresh_s": span_s("engine.matview.refresh"),
        "engine.consume.drain_s": span_s("engine.consume.drain"),
        "engine.consume.rows": sum(t.drained[e] for e in ep) if stream else 0,
        "streaming.stream.overhead_s": _median(
            [wl.tracer.self_time(s) for s in window_spans(wl, "streaming.run_available")]
        ),
        **{f"queries.{name}_s": query_seconds(wl, name) for name in QUERY_SET},
        "session.start_s": session_s,
        "testgen.gen_s": wl.gen_s,
        "setup.bulk_load_s": wl.bulk_load_s,
        # the tagging is all a traced run adds to the window (spans.py)
        "trace.overhead_frac": tag_s / (wl.window.dur - tag_s),
        "trace.unattributed_s": wl.tracer.self_time(wl.window),
    }
    self_s: dict[str, float] = {"measure": wl.tracer.self_time(wl.window)}
    for s in in_window:
        self_s[s.name] = self_s.get(s.name, 0.0) + wl.tracer.self_time(s)
    return {"values": values, "self_s": self_s}
