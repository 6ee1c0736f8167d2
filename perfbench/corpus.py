"""``corpus_pipeline``: one array -> operators -> array pass per operation.

A documents array is read through ``Array.dataframe()`` and passed
through the corpus-preparation chain: ``quality_score`` + language gate,
``exact_dedup``, ``minhash_dedup``, ``sample_exact`` with an anti-join
against the held-out set, ``decontaminate``, ``hash_split``,
``chunk_documents`` and ``pack_sequences``.  The result is written back
with ``from_spark``.  The seed picks the held-out sample (size and hash
seed) and the train/val split.  A run measures one pass with no warm-up
pass: like a batch job, the pass is the session's first run of the chain
(the set-up ingests have already warmed the read and write paths), and a
warm-up pass would double the run's length.

This is executor- and shuffle-heavy: time goes to Arrow UDFs, Python
workers and the build-time jobs the operators run (``pack_sequences``'
sampled-quantile job re-runs the chain above it); nothing on the chain
is persisted, and the manifest is barely touched.

Oracle: the output array is read back and must hold the invariants the
chain guarantees: unique ``(doc_id, chunk_id)``, chunk ids ``0..k-1`` with
``k`` given by the chunking rule and the source text, chunks within the
token budget, pack offsets within the pack, one split per document,
only gated languages, no two output documents with the same text.  The
digest of the ``(doc_id, chunk_id)`` set is reported; two runs with one
seed must report the same digest.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import data
from harness import Op, Workload, dir_bytes, timed_ingest

N_DOCS = 2_000
LANGS = ("en", "zh", "de")
CHUNK, OVERLAP, PACK = 128, 16, 512
OUT_COLS = ["doc_id", "chunk_id", "split", "chunk_n_tokens", "pack_id",
            "pack_offset"]


class CorpusPipeline(Workload):
    name = "corpus_pipeline"
    WARMUP = 0
    DATASOURCE = False

    def setup(self) -> list[float]:
        src = self.source("documents.parquet",
                          lambda d: data.documents(d, N_DOCS))
        self.user_bytes = os.path.getsize(src)
        self.uri = self.path("documents")
        times = timed_ingest(self.spark, self.tdb, src, self.uri,
                             index_dims=["doc_id"])
        docs = pq.read_table(src, columns=["doc_id", "text", "lang"]).to_pandas()
        self.docs = docs.set_index("doc_id")
        self.passes = 0
        self.out = None
        self.digests: list[str] = []
        return times

    def array_paths(self) -> list[str]:
        return [self.uri] + ([self.out] if self.out else [])

    def next_op(self) -> Op:
        from tiledb_py_spark.operators import dedup, pipeline, text

        tdb, stages, tr = self.tdb, self.stages, self.tracer
        n_bench = int(self.rng.randint(10, 31))
        sample_seed = int(self.rng.randint(0, 1 << 30))
        train = float(self.rng.choice([0.8, 0.85, 0.9]))
        prev, out = self.out, self.path(f"chunks{self.passes}")
        self.passes += 1
        info: dict = {}

        def run():
            docs = tdb.open(self.uri).dataframe()
            kept = text.quality_score(docs, "text").filter(
                (F.col("quality") >= 0.2) & F.col("lang").isin(*LANGS))
            d1 = dedup.exact_dedup(kept, ["text"], id_col="doc_id")
            d2 = dedup.minhash_dedup(d1, "text", "doc_id", num_perm=32,
                                     bands=16, threshold=0.85)
            bench = pipeline.sample_exact(d2, ["doc_id"], n=n_bench,
                                          seed=sample_seed, salt="bench")
            corpus = d2.join(bench.select("doc_id"), on="doc_id",
                             how="left_anti")
            clean = dedup.decontaminate(corpus, bench, "text", "doc_id", n=8)
            split = pipeline.hash_split(clean, ["doc_id"],
                                        {"train": train, "val": 1 - train})
            chunks = pipeline.chunk_documents(
                split, "text", ["doc_id"], chunk_tokens=CHUNK,
                overlap=OVERLAP, keep_cols=["split"])
            packed = pipeline.pack_sequences(
                chunks, "chunk_n_tokens", ["doc_id", "chunk_id"],
                max_tokens=PACK, by="split")
            if stages is not None:
                info["build_jobs"] = stages.jobs_so_far(tr.op_id)
            tdb.from_spark(out, packed.select(*OUT_COLS),
                           index_dims=["doc_id", "chunk_id"])
            return out

        def check(uri):
            self.out = uri
            if prev:
                shutil.rmtree(prev, ignore_errors=True)
            info["cached_rdds"] = len(self.spark.sparkContext._jsc
                                      .getPersistentRDDs())
            got = tdb.open(uri).dataframe().toPandas()
            info["rows"] = len(got)
            info["fragment_bytes"] = dir_bytes(tdb.manifest.fragments_dir(uri))
            err = self._invariants(got)
            pairs = sorted(zip(got["doc_id"].tolist(), got["chunk_id"].tolist()))
            info["digest"] = hashlib.sha256(repr(pairs).encode()).hexdigest()[:16]
            self.digests.append(info["digest"])
            return err
        return Op("pass", "corpus_pass", run, check, info)

    def _invariants(self, got) -> str | None:
        if got.empty:
            return "empty output"
        if got.duplicated(["doc_id", "chunk_id"]).any():
            return "duplicate (doc_id, chunk_id)"
        if not got["split"].isin(["train", "val"]).all():
            return "unknown split"
        if (got.groupby("doc_id")["split"].nunique() != 1).any():
            return "document in two splits"
        if not got["chunk_n_tokens"].between(1, CHUNK).all():
            return "chunk outside the token budget"
        if not got["pack_offset"].between(0, PACK - 1).all():
            return "pack offset outside the pack"
        src = self.docs.reindex(got["doc_id"].unique())
        if src["text"].isna().any():
            return "doc_id not in the source"
        if not src["lang"].isin(LANGS).all():
            return "language gate leaked"
        if src["text"].duplicated().any():
            return "exact duplicate survived"
        per_doc = got.groupby("doc_id")["chunk_id"].agg(["min", "max", "count"])
        n_tok = src["text"].str.split().str.len()
        stride = CHUNK - OVERLAP
        want = n_tok.map(lambda n: max(1, math.ceil((n - OVERLAP) / stride)))
        if not ((per_doc["min"] == 0) & (per_doc["max"] == per_doc["count"] - 1)
                & (per_doc["count"] == want.reindex(per_doc.index))).all():
            return "chunk ids do not follow the chunking rule"
        return None

    def detail(self, results) -> dict:
        return {"digests": self.digests, "documents": len(self.docs)}
