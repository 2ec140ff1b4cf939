"""Self-test of the correctness gates: a clean run passes them and a
corrupted final state, lookup or matview is caught.

    python3 perfbench/selftest.py

Runs a small churn_cow through the real workload code, checks that every
gate passes, then commits one event the oracle never saw (an update of a
live key with a foreign payload) and checks that the state gate fails.  The
lookup, matview and query gates get a tampered row each.  Exit code 0 when every
corruption was caught.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from clin_variant_etl_spark.schemas import CHANGE_EVENTS_SCHEMA  # noqa: E402
from clin_variant_etl_spark.session import build_session  # noqa: E402

from gates import lookup_mismatches, matview_mismatches  # noqa: E402
from inputs import LogShape, oracle_state  # noqa: E402
from report import gate  # noqa: E402
from run import spark_conf, stop_spark  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import SHUFFLE_PARTITIONS, ChurnCow  # noqa: E402


class SmallChurn(ChurnCow):
    shape = LogShape(events_per_epoch=2_000, n_epochs=3, n_docs=400)
    lookups_per_epoch = 2


def check(name: str, caught: list[str], problems: list[str]) -> None:
    print(f"selftest: {name}: {'caught' if caught else 'MISSED'} {caught[:1]}")
    if not caught:
        problems.append(name)


def main() -> int:
    work = os.path.join(HERE, ".work", f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = build_session("perfbench-selftest", master="local[2]", shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=spark_conf(work))
    problems: list[str] = []
    try:
        wl = SmallChurn(spark, Tracer(spark, "selftest", time.process_time, counters=False), work, seed=7)
        wl.setup()
        wl.measure()
        wl.read_phase(reps=1)
        failures, _ = gate(wl)
        print(f"selftest: clean run: {failures or 'all gates pass'}")
        if failures:
            problems.append("clean run failed its gates")

        target = wl.target
        oracle = oracle_state(wl.log, target.last_epoch)
        victim = oracle.iloc[0]
        max_lsn = max(wl.log.column("lsn").to_pylist())
        rogue = spark.createDataFrame(
            [(max_lsn + 1, "U", victim["doc_id"], [1, 2, 3], 3, victim["source"], None, target.last_epoch + 1)],
            CHANGE_EVENTS_SCHEMA,
        )
        target.pipe.apply_epoch(rogue, target.last_epoch + 1)
        failures, _ = gate(wl)
        check("corrupted final state", [f for f in failures if f.startswith("state ")], problems)

        through, key, rows = next((x for x in target.lookups if x[2]), target.lookups[0])
        bad_rows = [{**rows[0], "n_tok": rows[0]["n_tok"] + 1}] if rows else [victim.to_dict()]
        check("corrupted lookup", lookup_mismatches(wl.log, [(through, key, bad_rows)]), problems)

        mv = oracle.groupby("source").agg(n_docs=("doc_id", "size"), total_tok=("n_tok", "sum")).reset_index()
        mv.loc[0, "total_tok"] += 1
        check("corrupted matview", matview_mismatches(mv, oracle), problems)

        name = wl.queries[0]
        got = wl.query_results[name].copy()
        col = got.select_dtypes("number").columns[-1]
        got.loc[0, col] += 1
        wl.query_results[name] = got
        failures, _ = gate(wl)
        check("corrupted query result", [f for f in failures if f.startswith("queries.")], problems)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("selftest: ok" if not problems else f"selftest: FAILED {problems}")
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
