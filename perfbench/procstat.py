"""Process-tree CPU and memory from ``/proc`` (Linux), without py4j.

A tree is a root pid and every live descendant: for a Spark run that is the
Python driver, the JVM it launched and the JVM's Python workers. CPU of a
descendant that has exited and been reaped moves into its parent's
``cutime``/``cstime``, so summing all four fields over the live tree keeps
the total continuous across worker exits.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def _all_stats():
    """(pid, stat fields after the command name) of every process."""
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                yield int(name), fields


def group_pids(pgid: int) -> list[int]:
    """Live (not zombie) members of process group ``pgid``."""
    return [pid for pid, f in _all_stats() if int(f[2]) == pgid and f[0] != "Z"]


def tree_pids(root: int) -> list[int]:
    """``root`` and its live descendants."""
    children: dict[int, list[int]] = {}
    for pid, fields in _all_stats():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_bytes(root: int) -> int:
    """Resident bytes summed over the tree."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total
