"""Shared pieces: the run context and latency statistics."""

from __future__ import annotations

import math
import os
import shutil
import statistics

# tail percentile: the highest of these with at least TAIL_MIN_BEYOND
# samples above it
TAIL_PERCENTILES = (99, 95, 90, 75)
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it. With too
    few samples for any of them, p75 is reported and ``beyond`` says how thin
    it is."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n * (100 - p) / 100.0 >= TAIL_MIN_BEYOND:
            break
    else:
        p = TAIL_PERCENTILES[-1]
    return {"value": percentile(values, p), "pct": p, "n": n,
            "beyond": int(n * (100 - p) / 100.0)}


def unit_count(seconds: float, unit_s: float, least: int = 1) -> int:
    """How many units a run times: ``--seconds`` over the nominal length of
    one unit on a 4-core box, and at least ``least``. It depends only on the
    arguments, so the mix of cold and warm units is the same on every run and
    every commit, however fast the machine or the program is."""
    return max(least, int(round(seconds / unit_s)))


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def dir_bytes(path: str, skip: tuple[str, ...] = ()) -> int:
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d not in skip]
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Ctx:
    """Everything one run shares: seed, work directory, Spark session,
    tracer, and the failure ledger."""

    def __init__(self, work: str, seed: int, tracer, nproc: int):
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.nproc = nproc
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []

    def fresh_dir(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p

    def fail(self, what: str) -> None:
        self.failures.append(what)
