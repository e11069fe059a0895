"""CPU and resident memory of a process tree, read from /proc.

The tree is split into three classes:

- ``driver``: the root process (the Python driver);
- ``jvm``: the ``java`` processes below it (Spark's driver JVM);
- ``pyworker``: every process below a JVM (the PySpark daemon and the
  Python workers it forks), except a child the JVM is still spawning.

CPU is user plus system time. A pyworker's CPU also counts its reaped
children (``cutime``/``cstime``), so workers that exit between two
readings are not lost: their time has moved into the daemon that reaped
them. The driver and the JVM count only their own time, because their
children are counted in the classes below them.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
CLASSES = ("driver", "jvm", "pyworker")


def _read_stat(pid: int) -> tuple[str, int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    lp, rp = data.find("("), data.rfind(")")
    rest = data[rp + 2 :].split()
    return data[lp + 1 : rp], int(rest[1]), rest


def tree(root: int) -> dict[int, tuple[str, list[str]]]:
    """{pid: (class, stat fields)} for ``root`` and its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out = {}
    if root in stats:
        out[root] = ("driver", stats[root][2])
    stack = [(c, "other") for c in children.get(root, [])]
    while stack:
        pid, parent_cls = stack.pop()
        comm, ppid, rest = stats[pid]
        if parent_cls == "jvm" and rest[20] == stats[ppid][2][20]:
            # same virtual size as the JVM: a child being spawned, which
            # shares the JVM's memory until it execs; counting it would
            # double the JVM's RSS
            cls = "other"
        elif parent_cls in ("jvm", "pyworker"):
            cls = "pyworker"
        elif comm == "java":
            cls = "jvm"
        else:
            cls = "other"
        out[pid] = (cls, rest)
        stack.extend((c, cls) for c in children.get(pid, []))
    return out


def cpu_seconds(root: int) -> dict[str, float]:
    """Cumulative CPU seconds per class for the tree under ``root``."""
    cpu = dict.fromkeys(CLASSES, 0.0)
    for cls, rest in tree(root).values():
        if cls not in cpu:
            continue
        ticks = int(rest[11]) + int(rest[12])
        if cls == "pyworker":
            ticks += int(rest[13]) + int(rest[14])
        cpu[cls] += ticks / _TICK
    return cpu


def running(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    st = _read_stat(pid)
    return st is not None and st[2][0] != "Z"


def rss_mb(procs: dict[int, tuple[str, list[str]]]) -> dict[str, float]:
    """Resident MB of the JVM and of the Python workers in ``tree()``'s
    result."""
    pages = {"jvm": 0, "pyworker": 0}
    for cls, rest in procs.values():
        if cls in pages:
            pages[cls] += int(rest[21])
    return {cls: n * _PAGE / 2**20 for cls, n in pages.items()}


def cpu_probe_s() -> float:
    """Wall time of a fixed single-threaded loop (about 0.1 s on the
    reference host). It moves with the host's speed, not the program's,
    so it tells a slow host from a slow program."""
    import time

    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def host_facts() -> dict:
    """Cores, load, memory and CPU speed now, so a contended run is
    visible."""
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            key, val = line.split(":", 1)
            if key in ("MemTotal", "MemAvailable"):
                mem[key] = int(val.split()[0]) // 1024
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": load,
        "mem_total_mb": mem["MemTotal"],
        "mem_available_mb": mem["MemAvailable"],
        "cpu_probe_s": cpu_probe_s(),
    }
