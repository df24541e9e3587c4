"""Measurements taken from outside the engine: process-tree CPU and peak
resident memory from ``/proc``, and file counts/bytes of the tables a
workload writes, by walking its directories."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants, such as
    the JVM that PySpark launches."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_seconds(pid: int) -> float:
    """User + system CPU seconds of one live process (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return 0.0
    fields = stat[stat.rindex(")") + 2 :].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one live process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_usage() -> dict[str, float]:
    """CPU seconds of this process (``py``) and of its descendants
    (``jvm``), and the peak resident memory of all of them."""
    me = os.getpid()
    tree = process_tree(me)
    return {
        "py": cpu_seconds(me),
        "jvm": sum(cpu_seconds(p) for p in tree if p != me),
        "peak_rss_mb": sum(peak_rss_mb(p) for p in tree),
    }


def snapshot(root: str) -> dict[str, tuple[int, int, int]]:
    """``path -> (inode, size, mtime_ns)`` of every regular file under
    ``root``; two snapshots tell which files an operation (re)wrote."""
    out: dict[str, tuple[int, int, int]] = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(data files, bytes) present in ``after`` that are new or changed
    since ``before``. Hidden and underscore files (Spark's ``_SUCCESS``,
    ``.crc`` checksums, merge metadata sidecars) are not data."""
    files = size = 0
    for p, ident in after.items():
        if os.path.basename(p)[:1] in "._":
            continue
        if before.get(p) != ident:
            files += 1
            size += ident[1]
    return files, size


def tree_size(root: str) -> tuple[int, int]:
    """(data files, bytes) currently under ``root``."""
    return written({}, snapshot(root))
