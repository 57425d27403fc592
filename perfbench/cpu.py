"""CPU time of the benchmark's process tree: this Python driver, the Spark
JVM it started and the Python workers the JVM forked.

The end-to-end latencies and throughputs are reported in CPU time, not
wall time.  The host is a shared VM whose CPU supply drifts from run to
run (hypervisor steal, neighbours); wall time stretches with it, while a
thread's CPU time (``sum_exec_runtime`` from ``/proc/.../schedstat``, in
ns, which the kernel keeps net of steal with paravirtual time accounting)
counts only what the program itself ran.  Every thread the program runs on
counts, so work spread over more cores costs the same and work removed
shows as less time.

The JVM's JIT compiler threads are left out: in a JVM as young as a
benchmark run's they use more CPU than the program itself, in bursts that
fall into whichever request is running, while a long-lived server has long
finished compiling.
"""

from __future__ import annotations

import os

# /proc/<pid>/task/<tid>/comm of HotSpot's compiler threads (15 chars max)
_JIT = (b"C1 CompilerThre", b"C2 CompilerThre")


def _read(path: str) -> bytes | None:
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:  # exited between listing and reading
        return None


def _tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            raw = _read(f"/proc/{name}/stat")
            if raw is not None:
                ppid = int(raw[raw.rindex(b")") + 2:].split()[1])
                kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def snapshot(root: int | None = None) -> dict[tuple[int, int], int]:
    """``{(pid, tid): ns on CPU so far}`` of every thread of ``root``
    (default: this process) and its live descendants, compiler threads
    excepted."""
    out = {}
    for pid in _tree(os.getpid() if root is None else root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            comm = _read(f"/proc/{pid}/task/{tid}/comm")
            if comm is None or comm.startswith(_JIT):
                continue
            st = _read(f"/proc/{pid}/task/{tid}/schedstat")
            if st is not None:
                out[(pid, int(tid))] = int(st.split()[0])
    return out


def used_s(before: dict, after: dict) -> float:
    """CPU seconds the tree used between two snapshots.  A thread started
    in between counts in full; one that ended in between loses what it
    used after ``before`` (Spark pools its task threads and reuses its
    Python workers, so that is rare)."""
    return sum(t - before.get(k, 0) for k, t in after.items()) / 1e9
