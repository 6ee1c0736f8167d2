"""``fragment_churn``: commits beside full scans on a growing array.

A sparse ``orders`` array (``full_domain=True``, 60k rows) receives a
seeded stream of commits in a fixed cycle of seven operations: a
``from_spark`` append of new keys, a full scan over the two disjoint
fragments, a ``from_spark`` upsert of a hot key set, a
``format("tiledb")`` append (new keys on even cycles, hot-key upserts on
odd ones), a ``delete_cells``, a full scan over the overlapping
fragments, then ``consolidate`` + ``vacuum``, so the live fragment count
follows a saw-tooth (1 -> 4 -> 1).  Scans go to the noop sink, through
``Array.dataframe()`` first and ``format("tiledb")`` second on even
cycles and the other way round on odd ones.  A run warms up with one
cycle and measures two, so every measured period scans each path over
disjoint and over overlapping fragments and holds both append variants.
The seed picks batch sizes, keys and delete conditions.

This is writes beside reads: it exercises the manifest commit (the whole
manifest is rewritten on every version), the fragment writer, and
last-write-wins merging as fragments pile up.  The detail output reports
the share of scans whose live fragments overlap, so a change that only
helps disjoint appends shows.

Oracle: a pandas last-write-wins/delete model, compared after every scan
on both scan paths (row count and the sums of key, version and price).
The model follows the library's read semantics (``Array._scan_df`` and
the ``format("tiledb")`` reader): a delete removes every stored version
of a cell that matches its condition, then the latest surviving version
wins, so an older version of a cell whose newest version was deleted is
visible again until consolidation folds it away.
"""

from __future__ import annotations

import io
import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import data
from harness import Op, Workload, dir_bytes, timed_ingest

KEY = "o_orderkey"
# the fixture's columns plus o_version, the commit that wrote the cell
# (0 for the base ingest), so the model can order versions
COLUMNS = [*data.orders_frame(np.arange(1), np.random.RandomState(0)),
           "o_version"]
BASE_ROWS = 60_000
HOT_KEYS = 5_000
BATCH_ROWS = (500, 3_000)
# one cycle: an append, a scan of disjoint fragments, two commits and a
# delete, a scan of overlapping fragments, then consolidate + vacuum
# (live fragments: 1 -> 4 -> 1); the two scans swap paths every cycle
CYCLE = ["from_spark_append", "scan_disjoint", "from_spark_upsert",
         "datasource_append", "delete", "scan_overlap", "maintain"]


def _parquet_bytes(pdf: pd.DataFrame) -> int:
    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), buf)
    return buf.tell()


def _overlapping(domains: list) -> bool:
    iv = sorted((int(d[0][0]), int(d[0][1]))
                for d in domains if d and d[0][0] is not None)
    return any(b[0] <= a[1] for a, b in zip(iv, iv[1:]))


class FragmentChurn(Workload):
    name = "fragment_churn"
    WARMUP = len(CYCLE)
    PERIOD = 2 * len(CYCLE)

    def setup(self) -> list[float]:
        src = self.source("orders.parquet",
                          lambda d: data.orders(d, BASE_ROWS))
        self.uri = self.path("orders")
        times = timed_ingest(
            self.spark, self.tdb, src, self.uri,
            prepare=lambda df: df.withColumn("o_version", F.lit(0).cast("long"))
            .select(*COLUMNS),
            index_dims=[KEY], full_domain=True)
        self.user_bytes = os.path.getsize(src)
        base = pq.read_table(src, columns=[KEY, "o_totalprice",
                                           "o_orderstatus"]).to_pandas()
        base["o_version"] = 0
        # every cell version still stored (o_version orders commits)
        self.cells = base[[KEY, "o_version", "o_totalprice", "o_orderstatus"]]
        self.next_key = int(base[KEY].max()) + 1
        self.hot = min(HOT_KEYS, len(base))
        self.version = 0
        self.step = 0
        self.manifest_bytes = self.fragment_bytes = 0
        return times

    def array_paths(self) -> list[str]:
        return [self.uri]

    # -- model ---------------------------------------------------------------
    def _batch(self, upsert: bool) -> pd.DataFrame:
        n = int(self.rng.randint(*BATCH_ROWS))
        if upsert:
            keys = np.sort(self.rng.choice(self.hot, size=min(n, self.hot),
                                           replace=False))
        else:
            keys = np.arange(self.next_key, self.next_key + n)
            self.next_key += n
        self.version += 1
        pdf = pd.DataFrame(data.orders_frame(keys, self.rng))
        pdf["o_version"] = self.version
        self.user_bytes += _parquet_bytes(pdf)
        return pdf

    def _apply(self, pdf: pd.DataFrame) -> None:
        self.cells = pd.concat([self.cells, pdf[self.cells.columns]],
                               ignore_index=True)

    def _visible(self) -> pd.DataFrame:
        """Last write wins among the cells no delete removed."""
        return (self.cells.sort_values("o_version", kind="stable")
                .drop_duplicates(KEY, keep="last"))

    def _expect(self):
        m = self._visible()
        return (len(m), int(m[KEY].sum()), int(m["o_version"].sum()),
                float(m["o_totalprice"].sum()))

    def _check_scan(self, df):
        row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(KEY).alias("k"),
                     F.sum("o_version").alias("v"),
                     F.sum("o_totalprice").alias("p")).collect()[0]
        n, k, v, p = self._expect()
        got = (row["n"], row["k"] or 0, row["v"] or 0, row["p"] or 0.0)
        if got[:3] != (n, k, v) or not math.isclose(got[3], p, rel_tol=1e-9):
            return f"scan (rows, sum key, sum version, sum price) {got} != {(n, k, v, p)}"
        return None

    # -- operations ----------------------------------------------------------
    def _write_op(self, kind: str, upsert: bool) -> Op:
        pdf = self._batch(upsert)
        sdf = self.spark.createDataFrame(pdf)
        tdb, uri, tr = self.tdb, self.uri, self.tracer
        if kind == "datasource_append":
            def run():
                with tr.span("spark_datasource.write"):
                    sdf.write.format("tiledb").mode("append").save(uri)
        else:
            def run():
                tdb.from_spark(uri, sdf, mode="append")

        def check(_):
            self._apply(pdf)
            return None
        return Op("write", kind, run, check, {"rows": len(pdf)})

    def _delete_op(self) -> Op:
        x = float(self.rng.randint(20_000, 80_000))
        cond = f"o_totalprice < {x} and o_orderstatus == 'P'"
        tdb, uri = self.tdb, self.uri

        def run():
            tdb.open(uri, mode="d").delete_cells(cond)

        def check(_):
            c = self.cells
            self.cells = c[~((c["o_totalprice"] < x) & (c["o_orderstatus"] == "P"))]
            return None
        return Op("write", "delete", run, check, {"rows": 0})

    def _scan_op(self, kind: str) -> Op:
        tdb, uri, tr, spark = self.tdb, self.uri, self.tracer, self.spark

        def run():
            if kind == "scan_native":
                df = tdb.open(uri).dataframe()
            else:
                with tr.span("spark_datasource.load"):
                    df = spark.read.format("tiledb").load(uri)
                if tr.enabled:
                    with tr.span("spark_datasource.plan"):
                        df._jdf.queryExecution().executedPlan()
            with tr.span("spark.execute"):
                df.write.format("noop").mode("overwrite").save()
            return df

        info = {"overlap": _overlapping(
            [f.nonempty_domain for f in tdb.FragmentInfoList(uri)])}
        return Op("scan", kind, run, self._check_scan, info)

    def _maintain_op(self) -> Op:
        tdb, uri = self.tdb, self.uri
        fdir = tdb.manifest.fragments_dir(uri)
        before = set(os.listdir(fdir))
        info = {"live_before": len(tdb.FragmentInfoList(uri))}

        def run():
            tdb.consolidate(uri)
            tdb.vacuum(uri)

        def check(_):
            new = set(os.listdir(fdir)) - before
            info["bytes_rewritten"] = sum(dir_bytes(os.path.join(fdir, n))
                                          for n in new)
            # consolidation materializes the visible cells: older versions
            # are gone for good
            self.cells = self._visible()
            live = len(tdb.FragmentInfoList(uri))
            return None if live == 1 else f"{live} live fragments after consolidate"
        return Op("maintain", "consolidate_vacuum", run, check, info)

    def next_op(self) -> Op:
        # built when due: a scan or maintenance looks at the fragments
        # the preceding commits left
        c, step = divmod(self.step, len(CYCLE))
        self.step += 1
        kind = CYCLE[step]
        if kind.startswith("scan"):
            native_first = c % 2 == 0
            native = (kind == "scan_disjoint") == native_first
            return self._scan_op("scan_native" if native else "scan_datasource")
        if kind == "delete":
            return self._delete_op()
        if kind == "maintain":
            return self._maintain_op()
        upsert = kind == "from_spark_upsert" or (
            kind == "datasource_append" and c % 2 == 1)
        return self._write_op(kind, upsert)

    def after_op(self, op: Op) -> None:
        if not self.tracer.enabled:
            return
        # bytes the operation added to the manifest directory: every
        # commit writes the whole manifest as a new version
        mf = self.tdb.manifest
        now = dir_bytes(mf.manifest_dir(self.uri))
        frags = dir_bytes(mf.fragments_dir(self.uri))
        if op.family == "write":
            op.info["manifest_bytes"] = max(now - self.manifest_bytes, 0)
            op.info["fragment_bytes"] = max(frags - self.fragment_bytes, 0)
        self.manifest_bytes, self.fragment_bytes = now, frags

    def detail(self, results) -> dict:
        scans = [r for r in results if r.family == "scan" and not r.warmup]
        return {"overlap_scan_share": (sum(r.info["overlap"] for r in scans)
                                       / len(scans)) if scans else None,
                "cycles": self.step / len(CYCLE),
                "live_rows": len(self._visible())}
