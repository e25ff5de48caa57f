"""Peak resident memory of this process and its descendants, from /proc."""

from __future__ import annotations

import os


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces; fields resume after ")"
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def _hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of the peak resident set (VmHWM) of ``root`` (default: this
    process) and every live descendant: here the Spark driver JVM and
    the Python workers, in MB."""
    tree = _children()
    pending, total = [root or os.getpid()], 0
    while pending:
        pid = pending.pop()
        total += _hwm_kib(pid)
        pending.extend(tree.get(pid, ()))
    return total / 1024
