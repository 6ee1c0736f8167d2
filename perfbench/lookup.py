"""``array_lookup``: interactive reads of one single-fragment array.

sf0.1 ``lineitem`` (600k rows) is ingested once into a sparse array keyed
on ``(l_orderkey, l_linenumber)``.  The loop cycles through six read
forms (slice, ``multi_index``, conditioned ``multi_index``, conditioned
``.df``, conditioned ``agg`` and a ``format("tiledb")`` read with a pushed
range filter), each at one of three selectivities (one order, ~300 and
~3000 cells).  The seed picks each range and condition.

Per-read cost is mostly driver-side work (manifest read, pruning,
condition compile, plan build) plus collection to pandas; the working set
fits in memory and nothing is written, so changes to the write path,
consolidation or the operators predict no change here.

Oracle: a pyarrow/numpy reference over the source parquet checks the row
count and the sum of every numeric column each read returns.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import data
from harness import Op, Workload, timed_ingest

KEYS = ["l_orderkey", "l_linenumber"]
FORMS = ["slice", "multi_index", "qc_multi_index", "qc_df", "qc_agg",
         "datasource"]
# orders per read: one order (~4 cells), ~300 cells, ~3000 cells; form i
# reads SPANS[i % 3], so each selectivity is read by two forms a period
SPANS = [1, 75, 750]
NUMERIC = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
           "l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _condition(which: int, rng):
    """Condition template ``which`` (0-3) with seeded parameters:
    ``(QueryCondition text, numpy mask fn)``."""
    if which == 0:
        q = int(rng.randint(5, 46))
        return f"l_quantity > {q}", lambda r: r["l_quantity"] > q
    if which == 1:
        d = round(float(rng.randint(1, 9)) / 100, 2)
        return (f"l_discount <= {d} and l_returnflag == 'R'",
                lambda r: (r["l_discount"] <= d) & (r["l_returnflag"] == "R"))
    if which == 2:
        p = float(rng.randint(5_000, 60_000))
        return (f"l_extendedprice < {p} or l_linestatus == 'F'",
                lambda r: (r["l_extendedprice"] < p) | (r["l_linestatus"] == "F"))
    t = round(float(rng.randint(1, 8)) / 100, 2)
    return f"l_tax >= {t}", lambda r: r["l_tax"] >= t


def _close(a: float, b: float) -> bool:
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)


class ArrayLookup(Workload):
    name = "array_lookup"
    # one read of each form.  One period warms up (the datasource's Python
    # worker starts, each form's planning path runs once).  The JIT then
    # keeps compiling the planning path, about one core's worth over the
    # first minute of reads on a 4-core host, so latency drifts down and
    # moves with other tenants' load from period to period; ten periods
    # (60 reads) are measured, which the run budget still allows.
    PERIOD = len(FORMS)
    WARMUP = PERIOD
    MIN_PERIODS = 10

    def setup(self) -> list[float]:
        src = self.source("lineitem.parquet",
                          lambda d: data.lineitem(d))
        self.user_bytes = os.path.getsize(src)
        self.uri = self.path("lineitem")
        times = timed_ingest(self.spark, self.tdb, src, self.uri,
                             index_dims=KEYS)
        tbl = pq.read_table(src).sort_by([(k, "ascending") for k in KEYS])
        self.ref = {c: tbl[c].to_numpy(zero_copy_only=False)
                    for c in tbl.column_names}
        self.max_key = int(self.ref["l_orderkey"][-1])
        self.i = 0
        return times

    def array_paths(self) -> list[str]:
        return [self.uri]

    # -- reference ----------------------------------------------------------
    def _expect(self, lo, hi, mask_fn=None, cols=NUMERIC):
        """Row count and column sums of cells with lo <= l_orderkey <= hi."""
        keys = self.ref["l_orderkey"]
        a, b = np.searchsorted(keys, [lo, hi + 1])
        rows = {c: v[a:b] for c, v in self.ref.items()}
        if mask_fn is not None:
            m = mask_fn(rows)
            rows = {c: v[m] for c, v in rows.items()}
        return len(rows["l_orderkey"]), {c: float(rows[c].sum()) for c in cols}

    @staticmethod
    def _compare(got_n, got_sums, want):
        n, sums = want
        if got_n != n:
            return f"rows {got_n} != {n}"
        for c, v in got_sums.items():
            if not _close(v, sums[c]):
                return f"sum({c}) {v} != {sums[c]}"
        return None

    def _check_columns(self, cols: dict, want):
        present = [c for c in NUMERIC if c in cols]
        if not present:
            return "no numeric column returned"
        n = len(np.asarray(cols[present[0]]))
        return self._compare(n, {c: np.asarray(cols[c]).sum() for c in present},
                             want)

    # -- operations -----------------------------------------------------------
    def next_op(self) -> Op:
        # every run reads the same sequence of kinds: the position in the
        # period fixes the form and the span, the period number rotates
        # the condition template
        form = FORMS[self.i % len(FORMS)]
        span = SPANS[self.i % len(SPANS)]
        template = (self.i + self.i // len(FORMS)) % 4
        self.i += 1
        rng = self.rng
        lo = int(rng.randint(0, self.max_key - span + 2))
        hi = lo + span - 1
        cond, mask = _condition(template, rng)
        attrs = ["l_extendedprice", "l_quantity", "l_discount"]
        tdb, uri, tr = self.tdb, self.uri, self.tracer

        if form == "slice":
            def run():
                return tdb.open(uri)[lo:hi + 1]
            return Op("read", form, run, lambda r: self._check_columns(
                r, self._expect(lo, hi)))
        if form == "multi_index":
            def run():
                return tdb.open(uri).multi_index[lo:hi]
            return Op("read", form, run, lambda r: self._check_columns(
                r, self._expect(lo, hi)))
        if form == "qc_multi_index":
            def run():
                return tdb.open(uri).query(cond=cond, attrs=attrs).multi_index[lo:hi]
            return Op("read", form, run, lambda r: self._check_columns(
                r, self._expect(lo, hi, mask)))
        if form == "qc_df":
            def run():
                return tdb.open(uri).query(cond=cond, attrs=attrs).df[lo:hi]
            return Op("read", form, run, lambda r: self._check_columns(
                r.reset_index(), self._expect(lo, hi, mask)))
        if form == "qc_agg":
            spec = {"l_extendedprice": ["sum", "count"], "l_quantity": ["sum"]}

            def run():
                return tdb.open(uri).query(cond=cond).agg(spec)[lo:hi + 1]

            def check(r):
                n, sums = self._expect(lo, hi, mask)
                if int(r["l_extendedprice"]["count"]) != n:
                    return f"count {r['l_extendedprice']['count']} != {n}"
                for c in ("l_extendedprice", "l_quantity"):
                    got = r[c]["sum"]
                    got = 0.0 if got is None or (n == 0 and np.isnan(got)) else got
                    if not _close(got, sums[c]):
                        return f"sum({c}) {got} != {sums[c]}"
                return None
            return Op("read", form, run, check)

        def run():
            with tr.span("spark_datasource.load"):
                df = self.spark.read.format("tiledb").load(uri)
            df = df.filter((F.col("l_orderkey") >= lo) & (F.col("l_orderkey") <= hi))
            if tr.enabled:
                with tr.span("spark_datasource.plan"):
                    df._jdf.queryExecution().executedPlan()
            return df.toPandas()
        return Op("read", form, run, lambda r: self._check_columns(
            {c: r[c].to_numpy() for c in r.columns}, self._expect(lo, hi)))
