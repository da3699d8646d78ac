"""Process and file-system readings the benchmark takes around each op:
CPU seconds and peak memory from ``/proc``, and a snapshot of a directory
tree whose difference shows what an op wrote."""

from __future__ import annotations

import os
import resource
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(stat: Path) -> list[str]:
    # fields after the ")" that closes the command name: utime, stime,
    # cutime and cstime are the 12th to 15th
    return stat.read_text().rsplit(")", 1)[1].split()


def _children(pid: int) -> list[int]:
    out = []
    for task in Path(f"/proc/{pid}/task").iterdir():
        try:
            out += [int(c) for c in (task / "children").read_text().split()]
        except (FileNotFoundError, ProcessLookupError):
            continue  # the thread ended
    return out


def jvm_cpu_s(pid: int) -> float:
    """CPU seconds of the JVM ``pid`` and the processes under it (the
    Python workers Spark starts), less the JVM's JIT compiler threads.

    The JIT keeps compiling for dozens of ops after start-up; its CPU is
    warm-up, not the op's work, and varies from op to op by more than the
    bound a regression must stay within. A thread that ends between two
    readings takes its CPU with it."""
    ticks = 0
    for task in Path(f"/proc/{pid}/task").iterdir():
        try:
            if "CompilerThre" not in (task / "comm").read_text():
                f = _stat_fields(task / "stat")
                ticks += int(f[11]) + int(f[12])
        except (FileNotFoundError, ProcessLookupError):
            continue
    stack = _children(pid)
    while stack:
        child = stack.pop()
        try:
            f = _stat_fields(Path(f"/proc/{child}/stat"))
            ticks += sum(int(x) for x in f[11:15])
            stack += _children(child)
        except (FileNotFoundError, ProcessLookupError):
            continue
    return ticks / _TICK


def proc_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of process ``pid`` in MiB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for pid {pid}")


def self_hwm_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def tree_state(root: Path) -> dict[str, tuple[int, int, int]]:
    """``{relative path: (inode, size, mtime_ns)}`` of the data files under
    ``root``; hidden and ``_``-prefixed files (checksums, markers) are left
    out. An absent ``root`` is an empty tree."""
    state = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for name in filenames:
            if name.startswith((".", "_")):
                continue
            path = os.path.join(dirpath, name)
            st = os.stat(path)
            state[os.path.relpath(path, root)] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return state


def tree_diff(before: dict, after: dict) -> tuple[int, set[str]]:
    """Bytes of the files created or replaced between two ``tree_state``
    readings, and the partition directories whose file set changed
    (a file created, replaced or removed)."""
    written = [p for p, s in after.items() if before.get(p) != s]
    removed = [p for p in before if p not in after]
    nbytes = sum(after[p][1] for p in written)
    dirs = {os.path.dirname(p) for p in written + removed}
    return nbytes, dirs
