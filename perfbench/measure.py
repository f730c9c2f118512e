"""Measurement helpers that need no Spark: the metric catalogue read from
``BENCHMARK.json``, percentiles, failure accounting, process-tree RSS
sampling and the result line."""

from __future__ import annotations

import json
import os
import statistics
import threading

TAIL_BEYOND = 10
RSS_INTERVAL_S = 0.1


def load_catalogue(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def metric_units(catalogue: dict, trace: bool) -> dict[str, str]:
    """Name -> unit of every metric one run must print."""
    return {m["name"]: m["unit"] for m in catalogue["per_layer" if trace else "end_to_end"]}


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ``TAIL_BEYOND`` samples above
    it, as (value, percentile).  None with fewer than
    ``2 * TAIL_BEYOND + 1`` samples, where that percentile would not lie
    above the median."""
    s = sorted(values)
    n = len(s)
    if n < 2 * TAIL_BEYOND + 1:
        return None
    k = n - TAIL_BEYOND - 1
    return float(s[k]), 100.0 * (k + 1) / n


def failed_share(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operation was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def feed_failures(planned: list[str], committed: set[str], check_ok: bool) -> int:
    """Failed feed operations: every planned drop not committed by the
    end of the run (a drop the generator failed to make included); all
    of them when the output check failed."""
    if not check_ok:
        return len(planned)
    return sum(1 for f in planned if f not in committed)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _descendants(root: int):
    """Every descendant pid of ``root``, ``root`` excluded (for this
    process: the JVM and its Python workers)."""
    kids = _children()
    todo = list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        yield pid


def tree_rss_bytes(root: int) -> int:
    """Resident set size of all descendants of ``root``."""
    total = 0
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of all
    descendants of ``root``."""
    total = 0
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the RSS of a process's descendants every
    ``RSS_INTERVAL_S`` on a daemon thread; ``peak_mb`` is the largest
    sample seen."""

    def __init__(self, root: int):
        self.root = root
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


def end_to_end(setup_s: float, cpu_s: float) -> dict[str, float]:
    """The end-to-end metric values of one run."""
    return {"setup_s": setup_s, "cpu_s": cpu_s}


def result_line(units: dict[str, str], values: dict[str, float], correct: bool, attempted: int, failed: int) -> str:
    """The final JSON line.  Raises when a catalogued metric is missing
    or an uncatalogued one is present."""
    missing = sorted(set(units) - set(values))
    extra = sorted(set(values) - set(units))
    if missing or extra:
        raise KeyError(f"metric set mismatch: missing={missing} extra={extra}")
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
        }
    )
