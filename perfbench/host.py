"""Process-tree CPU and memory read from /proc, and the host window stamp.

psutil is not installed, so the benchmark reads ``/proc/<pid>/stat``
directly. The tree is the benchmark's own Python process plus every
descendant: the Spark JVM it launched, the PySpark daemon and the Python
workers forked from it.
"""

from __future__ import annotations

import importlib.util
import os
import platform
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_table() -> dict[int, tuple[int, list[str]]]:
    """pid -> (ppid, stat fields after the command name)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # the process ended while we listed /proc
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        table[int(name)] = (int(fields[1]), fields)
    return table


def _descendants(table: dict, root: int) -> list[list[str]]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(table[pid][1])
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by this process and all its descendants."""
    table = _stat_table()
    me = os.getpid()
    procs = _descendants(table, me) + ([table[me][1]] if me in table else [])
    # utime, stime, cutime, cstime are stat fields 14-17; the list starts
    # at field 3 (state)
    return sum(sum(int(f[i]) for i in (11, 12, 13, 14)) for f in procs) / _CLK


def children_rss_mb() -> float:
    """Resident memory of every descendant (JVM plus Python workers), MiB."""
    procs = _descendants(_stat_table(), os.getpid())
    return sum(int(f[21]) for f in procs) * _PAGE / (1 << 20)


class RssPeak:
    """Samples :func:`children_rss_mb` on a background thread while the
    ``with`` block runs; ``peak_mb`` holds the highest sample."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, children_rss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> RssPeak:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, children_rss_mb())


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_stamp(repo_root: str) -> dict:
    """Core count, library versions and one ``bench/host_probe.py`` reading.

    The probe is loaded by file path (a top-level ``bench`` import would
    resolve to ``bench.py``) and called unchanged. Call this after the
    Spark session stopped, so the probe sees the host and not our JVM."""
    import numpy
    import pandas
    import pyarrow
    import pyspark

    stamp = {
        "nproc": nproc(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    path = os.path.join(repo_root, "bench", "host_probe.py")
    try:
        spec = importlib.util.spec_from_file_location("host_probe", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        stamp["host_probe"] = mod.probe()
    except OSError as exc:  # the probe file is absent from this tree
        stamp["host_probe"] = f"unavailable: {exc}"
    return stamp
