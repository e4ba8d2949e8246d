"""Host record and process-tree memory, read from ``/proc``."""

from __future__ import annotations

import os
import subprocess
import sys
import time
from dataclasses import dataclass

_PROBE = "s=0\nfor i in range(2_000_000): s+=i\n"


def capacity_probe(n_procs: int) -> dict:
    """Effective cores: a fixed pure-Python loop timed alone, then as
    ``n_procs`` parallel copies. On an idle host both take the same wall
    time; on a shared one the parallel run slows with the capacity
    actually delivered. Run outside every timed window."""
    t0 = time.monotonic()
    subprocess.run([sys.executable, "-c", _PROBE], check=True)
    solo = time.monotonic() - t0
    t0 = time.monotonic()
    procs = [subprocess.Popen([sys.executable, "-c", _PROBE]) for _ in range(n_procs)]
    for p in procs:
        p.wait()
    par = time.monotonic() - t0
    return {
        "n_procs": n_procs,
        "solo_s": round(solo, 3),
        "parallel_s": round(par, 3),
        "effective_cores": round(n_procs * solo / max(par, 1e-9), 2),
    }


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the whole host since boot, from
    ``/proc/stat``. On a virtual machine, stolen ticks are time the
    hypervisor ran something else while this host had work."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]   # guest time is already in user


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we looked
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(root: int | None = None):
    """(pid, part) of this process (``driver``), of its direct children
    (``jvm``: the Spark gateway) and of every deeper descendant
    (``workers``: the Python workers)."""
    kids = _children()
    root = root or os.getpid()
    yield root, "driver"
    todo = [(pid, "jvm") for pid in kids.get(root, [])]
    while todo:
        pid, part = todo.pop()
        yield pid, part
        todo.extend((k, "workers") for k in kids.get(pid, []))


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root: int | None = None) -> dict[str, float]:
    """Peak RSS (VmHWM) of the driver, the JVM and the workers, in MB.
    ``total`` is driver plus JVM: the workers come and go, and a worker
    that has exited leaves no peak to read, so their sum depends on when
    it is read."""
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid, part in _tree(root):
        out[part] += _peak_rss_kb(pid) / 1024.0
    out["total"] = out["driver"] + out["jvm"]
    return out


_HZ = os.sysconf("SC_CLK_TCK")


def _proc_ticks(path: str) -> int:
    """User and system ticks of a process (and of the children it reaped)
    or of one thread, from its ``stat`` file."""
    try:
        with open(path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:  # it ended while we looked
        return 0
    return sum(int(x) for x in fields[11:15])


def _jit_ticks(pid: int) -> dict[int, int]:
    """Ticks of each JIT compiler thread of a JVM, by thread id."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():   # "C2 CompilerThread0"
                    continue
        except OSError:
            continue
        out[int(tid)] = _proc_ticks(f"/proc/{pid}/task/{tid}/stat")
    return out


@dataclass
class CpuSample:
    ticks: dict[str, int]   # by part: driver, jvm, workers
    jit: dict[int, int]     # by JIT compiler thread


def cpu_sample(root: int | None = None) -> CpuSample:
    ticks, jit = {"driver": 0, "jvm": 0, "workers": 0}, {}
    for pid, part in _tree(root):
        ticks[part] += _proc_ticks(f"/proc/{pid}/stat")
        if part == "jvm":
            jit.update(_jit_ticks(pid))
    return CpuSample(ticks, jit)


def cpu_between(a: CpuSample | None, b: CpuSample) -> dict[str, float]:
    """CPU seconds the process tree used from sample ``a`` (None: its
    start) to ``b``, by part. ``jit`` is the JVM's JIT compiler threads,
    left out of ``jvm``; ``work`` is everything but the JIT, ``total``
    everything. A worker that has ended stays counted in the process that
    reaped it. The JVM starts and stops compiler threads as its queue
    grows and shrinks; one that ends between the samples, after idling,
    is counted in ``jvm``. Time the hypervisor steals is not CPU time,
    so on a shared host these are far steadier than wall times."""
    t0 = a.ticks if a else dict.fromkeys(b.ticks, 0)
    j0 = a.jit if a else {}
    out = {k: (v - t0[k]) / _HZ for k, v in b.ticks.items()}
    out["jit"] = sum(max(0, v - j0.get(t, 0)) for t, v in b.jit.items()) / _HZ
    out["jvm"] -= out["jit"]
    out["work"] = out["driver"] + out["jvm"] + out["workers"]
    out["total"] = out["work"] + out["jit"]
    return out
