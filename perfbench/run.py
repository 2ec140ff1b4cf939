"""CDC-lake benchmark: run one workload and print its metrics.

    python3 perfbench/run.py --workload churn_cow --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer ones.
The line before it is the full record (host, Spark conf, every timing with
its sample count, per-layer self times); the same record, with the spans of
a traced run, is written to ``perfbench/out/``.  Exit code 0 only when every
correctness gate passed.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {
    "setup_s": "s",
    "ingest_events_per_ref_cpu_s_p50": "events/ref_cpu_s",
    "epoch_ref_cpu_s_p50": "ref_cpu_s",
    "batch_visible_ref_cpu_s_p50": "ref_cpu_s",
    "lookup_ref_cpu_s_p50": "ref_cpu_s",
    "write_bytes_per_event": "B",
}

# the result line of a traced run; a layer the workload does not run reads 0
PER_LAYER_UNITS = {
    "engine.apply.dedup_s": "s",
    "engine.apply.write_s": "s",
    "engine.apply.commit_s": "s",
    "engine.apply.sidecar_s": "s",
    "engine.apply.jobs": "count",
    "engine.apply.stages": "count",
    "engine.apply.task_skew": "ratio",
    "engine.apply.input_bytes": "B",
    "engine.apply.shuffle_read_bytes": "B",
    "engine.apply.shuffle_write_bytes": "B",
    "engine.apply.spill_bytes": "B",
    "engine.apply.gc_s": "s",
    "engine.apply.task_s": "s",
    "engine.apply.net_keys_per_event": "ratio",
    "engine.dedup.join_pick_frac": "ratio",
    "engine.apply.lookup_s": "s",
    "engine.apply.lookup_input_bytes": "B",
    "engine.apply.read_state_s": "s",
    "lake.table.bytes_written": "B",
    "lake.table.files": "count",
    "lake.table.delta_files": "count",
    "lake.maintenance.auto_fold_s": "s",
    "lake.maintenance.folds_run": "count",
    "lake.maintenance.bytes_rewritten": "B",
    "engine.matview.refresh_s": "s",
    "engine.consume.drain_s": "s",
    "engine.consume.rows": "count",
    "streaming.stream.overhead_s": "s",
    "queries.q1_pricing_summary_s": "s",
    "queries.cdc_latest_by_lsn_salted_s": "s",
    "queries.session_stats_per_user_s": "s",
    "session.start_s": "s",
    "testgen.gen_s": "s",
    "setup.bulk_load_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.unattributed_s": "s",
}

def spark_conf(work: str) -> dict[str, str]:
    """Everything the benchmark sets on top of ``build_session``; all Spark
    scratch space stays inside the work directory."""
    return {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
        # the status store feeds the traced run's counters; keep every job
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    # every run does the same fixed work (see workloads.py); the argument is
    # accepted and recorded so the command line stays uniform
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import clin_variant_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    import host
    from workloads import SHUFFLE_PARTITIONS, WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"--workload must be one of {sorted(WORKLOADS)}")
    traced = args.trace == 1
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    os.makedirs(os.path.join(work, "tmp"))
    # the run's configuration is the benchmark's alone: no inherited knobs
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": host.nproc(),
        "mem_total_kb": host.mem_total_kb(),
        "loadavg_start": host.loadavg(),
        **host.program_version(ROOT),
    }
    conf = spark_conf(work)
    master = f"local[{info['nproc']}]"
    ticks0 = host.cpu_ticks()
    spark = None
    try:
        from clin_variant_etl_spark.session import build_session

        from spans import Tracer

        t0 = time.monotonic()
        spark = build_session("perfbench", master=master, shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
        session_s = time.monotonic() - t0
        info["spark_conf"] = dict(sorted(spark.sparkContext.getConf().getAll()))
        jvm_pid = spark.sparkContext._gateway.proc.pid
        tracer = Tracer(spark, run_id, host.CpuClock(jvm_pid), counters=traced)
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
        wl.setup()
        phases = {"session": session_s, "setup": time.monotonic() - t0}
        wl.measure()
        wl.read_phase()
        phases["measure_and_read"] = time.monotonic() - t0
        info["peak_rss_kb"] = {"driver": host.vm_hwm_kb(), "jvm": host.vm_hwm_kb(jvm_pid)}
        if traced:
            tracer.attach_counters()
        from report import end_to_end_metrics, gate, layer_metrics

        failures, attempted = gate(wl)
        phases["gates"] = time.monotonic() - t0
        e2e = end_to_end_metrics(wl, session_s)
        layers = layer_metrics(wl, session_s) if traced else {}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    phases["stopped"] = time.monotonic() - t0
    info["elapsed_s"] = phases
    info["loadavg_end"] = host.loadavg()
    info["cpu_steal_share"] = host.steal_share(ticks0, host.cpu_ticks())
    info["failures"] = failures
    info["ops_failed_frac"] = len(failures) / attempted
    info["end_to_end"] = e2e["detail"]
    if traced:
        info["per_layer"] = layers["values"]
        info["self_s"] = layers["self_s"]
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as fh:
        json.dump({**info, "spans": tracer.dump()}, fh, default=str)
    print(json.dumps(info, default=str))
    units = PER_LAYER_UNITS if traced else END_TO_END_UNITS
    values = layers["values"] if traced else e2e["values"]
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
