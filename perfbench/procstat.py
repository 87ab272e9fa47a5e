"""Process-tree figures read from ``/proc``: CPU seconds per class of
process (the driver's Python, the JVM, PySpark's Python workers), the
tree's resident memory, and file counts and bytes of the keyed stores."""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def classify(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    cmd = _cmdline(pid)
    if os.path.basename(cmd.split(" ", 1)[0]) == "java":
        return "jvm"
    if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
        return "pyworkers"
    return "other"


def tree_cpu(root: int) -> dict[str, float]:
    """Cumulative CPU seconds of the tree under ``root``, by class.
    PySpark's daemon reaps the workers it forks, so its children's time
    (cutime + cstime) counts for the worker class too."""
    out = {"driver": 0.0, "jvm": 0.0, "pyworkers": 0.0, "other": 0.0}
    for pid in descendants(root):
        st = _stat(pid)
        if not st:
            continue
        cls = classify(pid, root)
        ticks = int(st[11]) + int(st[12])
        if cls == "pyworkers":
            ticks += int(st[13]) + int(st[14])
        out[cls] += ticks / TICK
    return out


def tree_rss_bytes(root: int) -> tuple[int, list[int]]:
    """(resident bytes, pids) of the tree under ``root``. Pages shared
    between processes count once: PySpark's workers are forked from one
    daemon and share most of their pages with it, so they contribute
    their proportional set size. The others contribute their resident
    size, which is cheap to read (walking the JVM's page tables for its
    proportional size takes milliseconds and holds its memory map lock)."""
    pids = descendants(root)
    total = 0
    for pid in pids:
        try:
            if classify(pid, root) == "pyworkers":
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    total += next(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:")) * 1024
            else:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError, StopIteration):
            pass
    return total, pids


def store_stats(stores_dir: str) -> dict[str, dict[str, int]]:
    """Per store under ``stores_dir``: parquet data files and their bytes."""
    out: dict[str, dict[str, int]] = {}
    if not os.path.isdir(stores_dir):
        return out
    for name in sorted(os.listdir(stores_dir)):
        files = nbytes = 0
        for dirpath, _dirs, fnames in os.walk(os.path.join(stores_dir, name)):
            for f in fnames:
                if f.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, f))
        out[name] = {"files": files, "bytes": nbytes}
    return out
