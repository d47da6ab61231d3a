"""Host telemetry for the benchmark's own process tree (Linux /proc).

CPU accounting reuses ``bench._cpu_snapshot`` from the repository's
suite harness: vm_busy (CPU this VM executed), steal (the hypervisor ran
someone else while our vCPUs were runnable) and own (utime+stime of this
process and every live descendant: the Spark JVM and its python
workers).  vm_busy minus own is in-VM external work.
"""

from __future__ import annotations

import os
import signal
import time

from bench import _cpu_snapshot

CLK = os.sysconf("SC_CLK_TCK")


def snapshot() -> tuple[int, int, int, int]:
    return _cpu_snapshot(os.getpid())


def interval(s0, s1, wall: float) -> dict:
    """Own CPU seconds plus external and steal load in cores between two
    ``snapshot`` readings.  A descendant that exits mid-interval loses
    its ticks from the end reading, so external load is over-reported,
    never hidden."""
    own = (s1[3] - s0[3]) / CLK
    wall = max(wall, 1e-6)
    return {
        "cpu_s": own,
        "ext_cores": max(0.0, (s1[0] - s0[0]) / CLK / wall - own / wall),
        "steal_cores": (s1[1] - s0[1]) / CLK / wall,
    }


def descendants(root: int | None = None) -> set[int]:
    """Live descendants of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    parent = {}
    for ent in os.listdir("/proc"):
        if ent.isdigit():
            try:
                with open(f"/proc/{ent}/stat") as f:
                    st = f.read()
            except OSError:
                continue
            parent[int(ent)] = int(st[st.rfind(")") + 2:].split()[1])
    tree, grew = {root}, True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    tree.discard(root)
    return tree


def tree_hwm() -> dict[int, tuple[str, float]]:
    """pid -> (command name, peak resident set MB) for this process and
    each live descendant.  Their sum bounds the tree's peak from above,
    since members peak at different times."""
    out = {}
    for pid in descendants() | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
            out[pid] = (fields["Name"].strip(), int(fields["VmHWM"].split()[0]) / 1024.0)
        except (OSError, KeyError):
            continue
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read()
    except OSError:
        return False
    return st[st.rfind(")") + 2] != "Z"


def wait_gone(pids: set[int], timeout: float = 30.0) -> None:
    """Wait until every pid in ``pids`` has exited; SIGKILL the ones
    still alive after ``timeout`` seconds.  Spark's python workers are
    children of the JVM, so they are orphaned (not our children) by the
    time the JVM has exited and can only be polled, not waited on."""
    deadline = time.time() + timeout
    while True:
        left = {p for p in pids if _alive(p)}
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 5.0
        time.sleep(0.05)
