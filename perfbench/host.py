"""What a result needs to describe its own run: host, load, CPU steal,
CPU time and speed, memory high-water marks and the program version."""

from __future__ import annotations

import hashlib
import os
import subprocess
import time

import numpy as np


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks() -> list[int]:
    """Aggregate ``cpu`` line of /proc/stat: user nice system idle iowait
    irq softirq steal ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU ticks between two readings that the hypervisor
    stole.  Recorded so throttled runs can be seen; never used to filter."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if total > 0 else 0.0


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set (VmHWM) of a process, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# the CPU-speed probe: random 8-byte reads over a 32 MiB array, far beyond
# the caches, like the hash tables, sorts and shuffles the program spends
# its CPU on
_PROBE_WORDS = np.arange(1 << 22, dtype=np.int64)
_PROBE_INDEX = np.random.default_rng(0).integers(0, 1 << 22, 1 << 19)
# cpu_probe's mean CPU seconds per vCPU on the machine the benchmark was
# sized on (4-vCPU 2.0 GHz Xeon VM); it only sets the scale of
# reference-CPU seconds
PROBE_REF_S = 0.022


def cpu_probe() -> list[float]:
    """CPU seconds the fixed probe takes on each vCPU the run may use, the
    calling thread pinned to one vCPU at a time.  The probe does the same
    work every call, so its time tracks how fast that vCPU runs memory-bound
    code; thread CPU time leaves out time the vCPU was stolen or
    descheduled.  Every vCPU is probed because their speeds differ at the
    same moment (another tenant's load lands on some hyperthreads, not all)
    and the program's tasks run on all of them."""
    cpus = os.sched_getaffinity(0)
    out = []
    try:
        for c in sorted(cpus):
            os.sched_setaffinity(0, {c})
            t0 = time.thread_time()
            for _ in range(2):
                int(_PROBE_WORDS[_PROBE_INDEX].sum())
            out.append(time.thread_time() - t0)
    finally:
        os.sched_setaffinity(0, cpus)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended meanwhile
        return None


class CpuClock:
    """CPU seconds used so far by the Python driver process, the JVM and
    every Python worker the JVM forks, minus the JVM's JIT compiler threads:
    compilation is warm-up that lingers into the first timed calls, not the
    program's work.  The JVM must run with a fixed set of compiler threads
    (``-XX:-UseDynamicNumberOfCompilerThreads``), or a compiler thread that
    exits would take its time out of reach."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._compiler: dict[str, bool] = {}  # tid -> is a JIT compiler thread

    def _jit_seconds(self) -> float:
        total = 0
        task_dir = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task_dir):
            if tid not in self._compiler:
                try:
                    with open(f"{task_dir}/{tid}/comm") as fh:
                        self._compiler[tid] = "CompilerThre" in fh.read()
                except OSError:
                    continue
            if self._compiler[tid]:
                f = _stat(f"{self.jvm_pid}/task/{tid}")
                if f is not None:
                    total += int(f[11]) + int(f[12])
        return total / _TICK

    def __call__(self) -> float:
        return time.process_time() + tree_cpu_seconds(self.jvm_pid) - self._jit_seconds()


def tree_cpu_seconds(root: int) -> float:
    """CPU time (user + system, own and reaped children's) of a process and
    all its live descendants: the JVM plus the Python workers it forks."""
    stats = {p: _stat(p) for p in os.listdir("/proc") if p.isdigit()}
    kids: dict[str, list[str]] = {}
    for p, f in stats.items():
        if f is not None:
            kids.setdefault(f[1], []).append(p)
    total, todo = 0, [str(root)]
    while todo:
        p = todo.pop()
        f = stats.get(p)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
        todo.extend(kids.get(p, []))
    return total / _TICK


def program_version(root: str) -> dict:
    """git commit when the tree is a git checkout, and always a digest of
    the package sources (the benchmark may run from an exported tree)."""
    commit = None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=root,
            capture_output=True,
            text=True,
            timeout=10,
            # look for .git in the tree itself only, never above it
            env=dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root)),
        )
        if out.returncode == 0:
            commit = out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha256()
    pkg = os.path.join(root, "clin_variant_etl_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()}
