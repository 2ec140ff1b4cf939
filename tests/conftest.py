import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clin_variant_etl_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def _proc_stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended meanwhile
        return None


def python_workers(spark) -> dict[int, tuple[bool, int]]:
    """Snapshot of the PySpark Python processes under the session's JVM:
    ``{pid: (is the daemon, utime + stime in clock ticks)}`` for every JVM
    descendant whose command line mentions ``pyspark`` (the worker daemon,
    a direct child of the JVM, and the workers it forks)."""
    jvm = str(spark.sparkContext._gateway.proc.pid)
    stats = {p: _proc_stat(p) for p in os.listdir("/proc") if p.isdigit()}
    kids: dict[str, list[str]] = {}
    for p, f in stats.items():
        if f is not None:
            kids.setdefault(f[1], []).append(p)
    out, todo = {}, list(kids.get(jvm, []))
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        f = stats[p]
        if b"pyspark" in cmd and f is not None:
            out[int(p)] = (f[1] == jvm, int(f[11]) + int(f[12]))
    return out


def python_worker_activity(
    before: dict[int, tuple[bool, int]], after: dict[int, tuple[bool, int]]
) -> list[str]:
    """What changed between two ``python_workers`` snapshots: processes that
    appeared, and forked workers whose CPU time grew.  The daemon polls its
    socket once a second, so only its appearance counts, not its CPU."""
    out = [f"new pid {p}" for p in sorted(set(after) - set(before))]
    out += [
        f"pid {p} used {after[p][1] - before[p][1]} more ticks"
        for p in sorted(set(after) & set(before))
        if not after[p][0] and after[p][1] > before[p][1]
    ]
    return out
