"""Process-tree accounting from ``/proc``: CPU seconds of a process and all
its descendants (driver, JVM, Python workers), and waiting for them to end."""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return s[s.rfind(")") + 2:].split()


def _table() -> dict[int, list[str]]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                out[int(d)] = st
    return out


def descendants(root: int, table: dict[int, list[str]] | None = None) -> list[int]:
    table = _table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, st in table.items():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` and every live descendant,
    including the children each has already reaped (``cutime``/``cstime``),
    so a worker that ends between two readings is still counted."""
    root = os.getpid() if root is None else root
    table = _table()
    ticks = 0
    for pid in [root] + descendants(root, table):
        st = table.get(pid)
        if st is not None:
            # fields 14-17 of stat(5): utime stime cutime cstime
            ticks += sum(int(v) for v in st[11:15])
    return ticks / _TICK


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every pid has exited; SIGKILL the stragglers after
    ``timeout_s`` and wait for those too."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)
    killed = [p for p in pids if _alive(p)]
    for p in killed:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10.0
    while time.monotonic() < deadline and any(_alive(p) for p in killed):
        time.sleep(0.05)


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from ``/proc/stat``.
    Steal is time the hypervisor gave this machine's vCPUs to others; its
    share over a run shows runs taken while the host was contended."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user and nice
    return fields[7], sum(fields[:8])
