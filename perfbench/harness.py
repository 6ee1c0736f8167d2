"""Closed-loop driver shared by the workloads: one client issues the next
operation only after the previous one returned and was checked.

An operation's latency runs from the call until its result is in pandas
or numpy, the noop sink completed, or the write or maintenance call
returned.  The oracle check runs after the clock stops; a check that
fails or an operation that raises counts as failed and never aborts the
run.
"""

from __future__ import annotations

import gc
import json
import math
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

# fixture ingests per run; set-up time reports their median
INGEST_REPEATS = 3


@dataclass
class Op:
    family: str  # read | write | scan | maintain | pass
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], Optional[str]]
    # filled by the workload while (or after) the operation runs
    info: dict = field(default_factory=dict)


@dataclass
class Result:
    op_id: int
    family: str
    kind: str
    seconds: float
    error: Optional[str]
    warmup: bool
    info: dict


class Workload:
    """Base class: a workload owns its arrays under ``work_dir`` and
    generates a seeded operation stream."""

    name = ""
    # operations run before the clock starts, so JIT compilation,
    # Python-worker start-up and first-touch planning of every operation
    # kind stay out of the measured samples
    WARMUP = 6
    # the operation stream repeats with this period; a run measures whole
    # periods so every run sees the same mix of operation kinds
    PERIOD = 1
    # a run measures at least this many periods, however short --seconds
    MIN_PERIODS = 1
    # reads or writes through format("tiledb"), which must be registered
    # on the session first
    DATASOURCE = True

    def __init__(self, spark, tdb, work_dir: str, data_dir: Optional[str],
                 rng, tracer, stages):
        self.spark, self.tdb = spark, tdb
        self.work_dir, self.data_dir = work_dir, data_dir
        self.rng, self.tracer, self.stages = rng, tracer, stages
        self.user_bytes = 0

    def path(self, name: str) -> str:
        return os.path.join(self.work_dir, name)

    def source(self, filename: str, generate: Callable[[str], str]) -> str:
        """The fixture parquet: ``data_dir/filename`` when a data directory
        was given, else generated into the work directory."""
        if self.data_dir:
            return os.path.join(self.data_dir, filename)
        return generate(self.work_dir)

    def setup(self) -> list[float]:
        raise NotImplementedError

    def next_op(self) -> Op:
        raise NotImplementedError

    def array_paths(self) -> list[str]:
        raise NotImplementedError

    def after_op(self, op: Op) -> None:
        """Hook for measurements taken after the clock stopped."""

    def detail(self, results: list[Result]) -> dict:
        return {}


def timed_ingest(spark, tdb, src: str, uri: str, prepare=None, **kwargs):
    """Ingest ``src`` (passed through ``prepare``, if given) with
    ``from_spark`` ``INGEST_REPEATS`` times into fresh arrays; keeps the
    first at ``uri`` and returns the per-ingest seconds."""
    times = []
    for i in range(INGEST_REPEATS):
        target = uri if i == 0 else f"{uri}.copy{i}"
        t0 = time.perf_counter()
        df = spark.read.parquet(src)
        tdb.from_spark(target, prepare(df) if prepare else df, **kwargs)
        times.append(time.perf_counter() - t0)
        if i:
            shutil.rmtree(target)
    return times


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def run_loop(wl: Workload, seconds: float, tracer, stages,
             counters=None) -> list[Result]:
    """``stages`` (a StageReader) and ``counters`` (the library's
    ``stats_*`` functions) are given in the traced run only."""
    results: list[Result] = []

    def one(op: Op, op_id: int, warmup: bool) -> Result:
        if stages is not None:
            stages.begin(op_id, op.kind)
        if counters is not None:
            counters.stats_reset()
        tracer.op_id = op_id
        err = None
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                out = op.run()
        except Exception:  # a failed operation is counted, never fatal
            out, err = None, "raised: " + traceback.format_exc(limit=3)
        dt = time.perf_counter() - t0
        tracer.op_id = None
        if stages is not None:
            stages.end(op_id)
        if counters is not None:
            op.info["stats"] = json.loads(
                counters.stats_dump(json=True, print_out=False))
        if err is None:
            try:
                err = op.check(out)
            except Exception:
                err = "check raised: " + traceback.format_exc(limit=3)
        res = Result(op_id, op.family, op.kind, dt, err, warmup, op.info)
        wl.after_op(op)
        return res

    for _ in range(wl.WARMUP):
        results.append(one(wl.next_op(), len(results), True))
    # start the measurement from a collected heap on both sides
    gc.collect()
    wl.spark.sparkContext._jvm.System.gc()
    deadline = time.perf_counter() + seconds
    n = 0
    while (time.perf_counter() < deadline or n % wl.PERIOD
           or n < wl.MIN_PERIODS * wl.PERIOD):
        results.append(one(wl.next_op(), len(results), False))
        n += 1
    return results


def tail(samples: list[float]) -> tuple[Optional[int], Optional[float]]:
    """Highest whole percentile (nearest rank, at least the median) with
    at least ten samples above it; ``(None, None)`` when the sample is
    too small to support one."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 49, -1):
        idx = max(math.ceil(p / 100 * n) - 1, 0)
        if n - (idx + 1) >= 10:
            return p, xs[idx]
    return None, None


def latency_summary(samples: list[float]) -> dict:
    if not samples:
        return {"n": 0}
    p, v = tail(samples)
    return {"n": len(samples),
            "p50_ms": statistics.median(samples) * 1e3,
            "tail_pct": p,
            "tail_ms": v * 1e3 if v is not None else None}
