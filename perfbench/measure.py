"""Measurement helpers that need no Spark session: raw input bytes, the
sample reducer, the host fingerprint, and process-tree RSS sampling."""

from __future__ import annotations

import os
import platform
import statistics
import threading
import time

import pyarrow as pa
import pyarrow.compute as pc


def raw_bytes(table: pa.Table) -> dict[str, int]:
    """Raw bytes per column, defined from the values alone.

    String and binary values count their octet length; fixed-width
    values (timestamps, numbers, booleans) count their byte width.
    Nulls count nothing. The result depends only on the rows, not on
    how they are chunked, batched or buffered, so it can serve as the
    MB/s denominator across runs with different chunk counts."""
    out: dict[str, int] = {}
    for name, col in zip(table.column_names, table.columns):
        t = col.type
        if pa.types.is_string(t) or pa.types.is_binary(t) \
                or pa.types.is_large_string(t) or pa.types.is_large_binary(t):
            total = pc.sum(pc.binary_length(col)).as_py()
            out[name] = int(total or 0)
        elif pa.types.is_boolean(t):
            out[name] = col.length() - col.null_count
        else:
            out[name] = (t.bit_width // 8) * (col.length() - col.null_count)
    return out


def add_raw(a: dict[str, int], b: dict[str, int]) -> dict[str, int]:
    return {k: a.get(k, 0) + b.get(k, 0) for k in {*a, *b}}


def summarize(samples: list[float]) -> dict:
    """Median plus the highest percentile that has at least ten samples
    beyond it, with the sample count. With ten samples or fewer no tail
    percentile is supported and `p`/`p_value` are None."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    out = {"n": n, "median": statistics.median(xs), "p": None,
           "p_value": None}
    if n > 10:
        # xs[n - 11] has exactly ten samples above it
        out["p"] = (100 * (n - 10)) // n
        out["p_value"] = xs[n - 11]
    return out


def _meminfo_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def fingerprint(spark, n_chunks) -> dict:
    """Host and software identity a result is only comparable within."""
    import numpy
    import pyspark
    jvm_sys = spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": _meminfo_total_kb(),
        "machine": platform.machine(),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "pyarrow": pa.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
        "java": jvm_sys.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "n_chunks": n_chunks,
    }


def check_comparable(a: dict, b: dict) -> None:
    """Raise when two results come from different fingerprints."""
    fa, fb = a.get("fingerprint"), b.get("fingerprint")
    if not fa or not fb:
        raise ValueError("result without a host fingerprint")
    diff = sorted(k for k in {*fa, *fb} if fa.get(k) != fb.get(k))
    if diff:
        raise ValueError("results are not comparable; fingerprints differ "
                         f"in {', '.join(diff)}")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows the closing ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until every pid has exited; return those still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (the Spark driver JVM and its Python workers) on a background
    thread; `peak_mb` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 1e6
