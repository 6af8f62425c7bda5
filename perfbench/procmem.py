"""Memory of a process tree, read from /proc."""

from __future__ import annotations

import os


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_mb(pid: int, field: str) -> dict[str, float]:
    """Sum of ``field`` (``VmRSS``, ``VmHWM``) in MB over the ``java`` and
    ``python*`` processes under ``pid``, by command name. Children the JVM
    forks to run shell commands start as copies of it under other names;
    counting them would count the JVM's pages twice."""
    out: dict[str, float] = {}
    for p in _descendants(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                status = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        name = status.get("Name", "").strip()
        if field in status and (name == "java" or name.startswith("python")):
            out[name] = out.get(name, 0.0) + int(status[field].split()[0]) / 1024
    return out
