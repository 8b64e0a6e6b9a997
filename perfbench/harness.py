"""Timing, job-count and correctness bookkeeping shared by the workloads.

Every call into an engine layer goes through ``Bench.timed``: it runs
under the Spark job group named after the layer, records its wall
time, and counts the jobs it launched from ``statusTracker`` -- a
host-independent witness recorded in every run, traced or not.
Anything else the benchmark asks of Spark (input generation, expected
answers) runs under the ``bench`` group, which no layer row counts.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

LAYERS = ("build", "upsert", "compact", "open", "wand", "brute")
UNTIMED_GROUP = "bench"


class Bench:
    def __init__(self, spark, seed: int, seconds: float, tmp: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.seconds = seconds
        self.tmp = tmp
        self.walls: dict[str, list[float]] = defaultdict(list)
        # jobs of each call, keyed "layer:kind": identical between
        # traced and untraced runs of the same calls
        self.call_jobs: dict[str, list[int]] = defaultdict(list)
        self.layer_extra: dict[str, float] = defaultdict(float)
        self.blocks: dict[str, list[int]] = defaultdict(lambda: [0, 0])
        self.query_ms: list[float] = []   # wand calls in the timed part
        self.rank_wall_s = 0.0            # wand + brute, timed part
        self.rank_queries = 0
        self.attempted = 0
        self.failures: list[str] = []
        self._failed_ops: set[int] = set()
        self.timed_start: float | None = None
        self.timed_end: float | None = None
        self._untimed()

    def _untimed(self) -> None:
        self.sc.setJobGroup(UNTIMED_GROUP, "benchmark inputs and checks")

    # -- layer calls -------------------------------------------------------
    def timed(self, layer: str, fn, kind: str = ""):
        """Run ``fn()`` as one operation of ``layer``; returns
        ``(result, op_id, wall_s)``."""
        tracker = self.sc.statusTracker()
        self.sc.setJobGroup(layer, kind or layer)
        before = len(tracker.getJobIdsForGroup(layer))
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            wall = time.perf_counter() - t0
            self._untimed()
        n_jobs = len(tracker.getJobIdsForGroup(layer)) - before
        self.call_jobs[f"{layer}:{kind}" if kind else layer].append(n_jobs)
        self.walls[layer].append(wall)
        self.attempted += 1
        return out, self.attempted, wall

    def check(self, op_id: int, ok: bool, what: str) -> None:
        """A failed check marks its operation as failed (once)."""
        if not ok:
            self.failures.append(what)
            self._failed_ops.add(op_id)

    @property
    def jobs(self) -> dict[str, int]:
        """Jobs per layer, from ``statusTracker``."""
        out: dict[str, int] = defaultdict(int)
        for key, counts in self.call_jobs.items():
            out[key.split(":")[0]] += sum(counts)
        return dict(out)

    @property
    def failed(self) -> int:
        return len(self._failed_ops)

    # -- timed window -------------------------------------------------------
    def start_timing(self) -> None:
        self.timed_start = time.monotonic()

    def stop_timing(self) -> None:
        self.timed_end = time.monotonic()

    def time_left(self) -> bool:
        return time.monotonic() - self.timed_start < self.seconds

    def ranked(self, n_queries: int, wall_s: float, wand: bool) -> None:
        """Account a ranking call of the timed part."""
        self.rank_wall_s += wall_s
        self.rank_queries += n_queries
        if wand:
            self.query_ms.append(wall_s * 1e3)

    def count_blocks(self, query_class: str, rows) -> None:
        """Sum WAND's per-query decode counters, one row per query."""
        seen = set()
        for r in rows:
            if r.query_id in seen:
                continue
            seen.add(r.query_id)
            self.blocks[query_class][0] += r.blocks_decoded
            self.blocks[query_class][1] += r.blocks_total


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    ``(percentile, value)``; None below eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    i = n - 11          # s[i] has exactly ten samples above it
    return 100.0 * (i + 1) / n, s[i]
