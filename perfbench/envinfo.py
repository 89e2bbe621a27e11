"""Environment record and memory sampling, read from ``/proc``."""

from __future__ import annotations

import os


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
            out[int(d)] = int(rest[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
    return out


def descendants(root: int) -> list[int]:
    """``root`` and every process below it (the JVM and its Python
    workers are children of this process)."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass  # the process ended while we looked
    return 0


def tree_peak_rss_bytes() -> int:
    """Summed peak resident memory (VmHWM) of this process, the JVM and
    its Python workers: each process's own peak, so no sampling thread
    is needed to catch it."""
    return sum(_status_kb(pid, "VmHWM:") * 1024 for pid in descendants(os.getpid()))


def other_spark_jvms() -> list[int]:
    """Spark JVMs alive outside this process tree: they compete for the
    same cores and make timings read high."""
    mine = set(descendants(os.getpid()))
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in mine:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark" in cmd:
            found.append(int(d))
    return found


def preread(paths: list[str]) -> int:
    """Read every file under ``paths`` once, so the page cache is warm
    before the clock starts.  Returns the bytes read."""
    n = 0
    for p in paths:
        for root, _dirs, files in os.walk(p):
            for name in files:
                with open(os.path.join(root, name), "rb") as f:
                    while chunk := f.read(1 << 22):
                        n += len(chunk)
    return n


def cpu_ticks() -> tuple[int, int]:
    """Host-wide (steal, total) CPU ticks from /proc/stat.  Steal is time
    a virtual CPU was ready but the hypervisor ran something else: a
    share of it over a run makes every timing of that run read high."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal; guest time is
    # already inside user and nice
    return ticks[7], sum(ticks[:8])


def steal_share(before: tuple[int, int]) -> float:
    steal, total = cpu_ticks()
    return (steal - before[0]) / max(1, total - before[1])


def record(cpus: int) -> dict:
    return {
        "nproc": os.cpu_count(),
        "master": f"local[{cpus}]",
        "loadavg_before": list(os.getloadavg()),
        "other_spark_jvms": other_spark_jvms(),
    }
