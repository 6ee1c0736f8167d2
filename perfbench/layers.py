"""Layer spans and per-layer metrics of the traced run.

``install`` wraps the library's public entry points of each layer at
every name their callers resolve.  ``per_layer`` turns the spans, the
library's ``stats_*`` counters and the Spark stage metrics into the
per-layer figures named in ``BENCHMARK.json``: self times in ms per
operation of the kind the layer serves, and counts per operation.
"""

from __future__ import annotations

import statistics

from stages import mean_of

PACKAGE = "tiledb_py_spark"

# the corpus chain, in pass order: (module, function)
CHAIN = [("text", "quality_score"), ("dedup", "exact_dedup"),
         ("dedup", "minhash_dedup"), ("pipeline", "sample_exact"),
         ("dedup", "decontaminate"), ("pipeline", "hash_split"),
         ("pipeline", "chunk_documents"), ("pipeline", "pack_sequences")]

# (name, unit) of every per-layer metric, in report order
PER_LAYER = [
    ("session.get_spark_ms", "ms"),
    ("manifest.read_manifest_ms", "ms"),
    ("manifest.read_calls_per_op", "count"),
    ("manifest.commit_ms", "ms"),
    ("manifest.bytes_per_commit", "B"),
    ("manifest.versions", "count"),
    ("array.open_ms", "ms"),
    ("array.index_ms", "ms"),
    ("array.build_ms", "ms"),
    ("array.plan_ms", "ms"),
    ("array.read_ms", "ms"),
    ("array.fragments_scanned_per_read", "count"),
    ("array.fragments_pruned_ratio", "ratio"),
    ("query_condition.compile_ms", "ms"),
    ("query_condition.compiles_per_op", "count"),
    ("spark.jobs_per_op", "count"),
    ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.input_bytes_per_op", "B"),
    ("spark.executor_run_ms_per_op", "ms"),
    ("spark.executor_cpu_ms_per_op", "ms"),
    ("spark.shuffle_write_bytes_per_op", "B"),
    ("spark.shuffle_read_bytes_per_op", "B"),
    ("spark.spill_bytes_per_op", "B"),
    ("spark.task_skew", "ratio"),
    ("collect.to_pandas_ms", "ms"),
    ("spark_datasource.load_ms", "ms"),
    ("spark_datasource.plan_ms", "ms"),
    ("spark_datasource.read_ms", "ms"),
    ("spark_datasource.write_ms", "ms"),
    ("spark_datasource.splits_per_read", "count"),
    ("dataframe_.from_spark_ms", "ms"),
    ("fragment_writer.write_ms", "ms"),
    ("fragment_writer.rows_per_s", "1/s"),
    ("fragment_writer.bytes_per_row", "B"),
    ("fragment.consolidate_ms", "ms"),
    ("fragment.vacuum_ms", "ms"),
    ("fragment.bytes_rewritten", "B"),
    ("fragment.live_fragments_before", "count"),
    *[(f"operators.{fn}.build_ms", "ms") for _m, fn in CHAIN],
    ("operators._mat.materialize_calls", "count"),
    ("operators._mat.materialize_ms", "ms"),
    ("spark.build_jobs_per_pass", "count"),
    ("spark.cached_rdds_end", "count"),
    ("trace.op_p50_ms", "ms"),
    ("trace.unattributed_ms", "ms"),
    ("trace.unattributed_share", "ratio"),
]


def install(tracer) -> None:
    """Wrap each layer's public functions (traced run only)."""
    import importlib

    from pyspark.sql.classic.dataframe import DataFrame

    def mod(name):
        return importlib.import_module(f"{PACKAGE}.{name}")

    arr = mod("array")
    patch = tracer.patch
    patch(mod("highlevel"), "open", "array.open", PACKAGE)
    for cls in (arr.MultiRangeIndexer, arr.DataFrameIndexer,
                arr.SparseArray, arr.Aggregation):
        setattr(cls, "__getitem__",
                tracer.wrap("array.index", cls.__getitem__))
    patch(mod("functions.query_condition"), "compile_condition",
          "query_condition.compile", PACKAGE)
    patch(mod("manifest"), "read_manifest", "manifest.read_manifest", PACKAGE)
    patch(mod("manifest"), "commit", "manifest.commit", PACKAGE)
    patch(mod("sources.dataframe_"), "from_spark", "dataframe_.from_spark",
          PACKAGE)
    patch(mod("sources.fragment_writer"), "write_fragment_spark",
          "fragment_writer.write", PACKAGE)
    patch(mod("fragment"), "consolidate", "fragment.consolidate", PACKAGE)
    patch(mod("fragment"), "vacuum", "fragment.vacuum", PACKAGE)
    patch(mod("aggregation"), "compute_aggregates", "spark.execute", PACKAGE)
    for m, fn in CHAIN:
        patch(mod(f"operators.{m}"), fn, f"operators.{fn}", PACKAGE)
    patch(mod("operators._mat"), "materialize", "operators._mat.materialize",
          PACKAGE)

    # build (until the DataFrame is returned), then force the executed
    # plan so planning shows apart from execution
    execute = arr.Array._execute

    def _execute(self, plan):
        with tracer.span("array.build"):
            df = execute(self, plan)
        with tracer.span("array.plan"):
            df._jdf.queryExecution().executedPlan()
        return df
    arr.Array._execute = _execute

    # collection: execute once to the noop sink, then collect; the
    # collect span's self time is toPandas minus the noop run
    to_pandas = DataFrame.toPandas

    def toPandas(self):
        if tracer.op_id is None:
            return to_pandas(self)
        with tracer.span("collect.to_pandas"):
            with tracer.span("spark.execute"):
                self.write.format("noop").mode("overwrite").save()
            return to_pandas(self)
    DataFrame.toPandas = toPandas


DS_KINDS = {"datasource", "scan_datasource"}


def per_layer(results, tracer, stage_metrics, session_s: float,
              versions: int) -> dict[str, float]:
    """Per-layer figures over the measured (non-warm-up) operations."""
    ops = [r for r in results if not r.warmup]
    self_t, counts = tracer.self_times(), tracer.counts()
    reads = [r for r in ops if r.family in ("read", "scan")]
    ds_reads = [r for r in reads if r.kind in DS_KINDS]
    native_reads = [r for r in reads if r.kind not in DS_KINDS]
    writes = [r for r in ops if r.family == "write"]
    maint = [r for r in ops if r.family == "maintain"]
    passes = [r for r in ops if r.family == "pass"]

    def ms(name, sel):
        return (statistics.fmean(self_t[r.op_id].get(name, 0.0) for r in sel)
                * 1e3) if sel else 0.0

    def per_op(name, sel):
        return statistics.fmean(counts[r.op_id].get(name, 0)
                                for r in sel) if sel else 0.0

    def info_mean(key, sel):
        vals = [r.info[key] for r in sel if key in r.info]
        return statistics.fmean(vals) if vals else 0.0

    def stat(key, sel):
        return sum(r.info.get("stats", {}).get(key, 0.0) for r in sel)

    def calling(name):
        """The operations that called the wrapped function ``name``."""
        return [r for r in ops if counts[r.op_id].get(name)]

    def spark(key, sel=ops):
        return mean_of(stage_metrics, key, [r.op_id for r in sel])

    inclusive = tracer.inclusive("fragment_writer.write")
    # commits that wrote cells: the churn batches and the corpus output
    written = [r for r in calling("fragment_writer.write")
               if r.info.get("rows")]
    write_s = sum(inclusive.get(r.op_id, 0.0) for r in written)
    scanned = stat("py.fragments_scanned", native_reads)
    pruned = stat("py.fragments_pruned", native_reads)
    wall = {r.op_id: r.seconds for r in ops}
    # the root span's self time is what no wrapped layer covers; the
    # layers' self times sum to wall time minus it
    unattributed = sum(self_t[o].get("op", 0.0) for o in wall)
    out = {
        "session.get_spark_ms": session_s * 1e3,
        "manifest.read_manifest_ms": ms("manifest.read_manifest", ops),
        "manifest.read_calls_per_op": per_op("manifest.read_manifest", ops),
        "manifest.commit_ms": ms("manifest.commit",
                                 calling("manifest.commit")),
        "manifest.bytes_per_commit": info_mean("manifest_bytes", writes),
        "manifest.versions": versions,
        "array.open_ms": ms("array.open", reads),
        "array.index_ms": ms("array.index", reads),
        "array.build_ms": ms("array.build", reads),
        "array.plan_ms": ms("array.plan", reads),
        "array.read_ms": ms("spark.execute", native_reads),
        "array.fragments_scanned_per_read":
            scanned / len(native_reads) if native_reads else 0.0,
        "array.fragments_pruned_ratio":
            pruned / (scanned + pruned) if scanned + pruned else 0.0,
        "query_condition.compile_ms": ms("query_condition.compile", ops),
        "query_condition.compiles_per_op":
            per_op("query_condition.compile", ops),
        "spark.jobs_per_op": spark("jobs"),
        "spark.stages_per_op": spark("stages"),
        "spark.tasks_per_op": spark("tasks"),
        "spark.input_bytes_per_op": spark("input_bytes"),
        "spark.executor_run_ms_per_op": spark("executor_run_ms"),
        "spark.executor_cpu_ms_per_op": spark("executor_cpu_ms"),
        "spark.shuffle_write_bytes_per_op": spark("shuffle_write_bytes"),
        "spark.shuffle_read_bytes_per_op": spark("shuffle_read_bytes"),
        "spark.spill_bytes_per_op": spark("spill_bytes"),
        "spark.task_skew": statistics.median(
            [stage_metrics[r.op_id]["task_skew"] for r in ops
             if r.op_id in stage_metrics] or [1.0]),
        "collect.to_pandas_ms": ms("collect.to_pandas", reads),
        "spark_datasource.load_ms": ms("spark_datasource.load", ds_reads),
        "spark_datasource.plan_ms": ms("spark_datasource.plan", ds_reads),
        "spark_datasource.read_ms": ms("spark.execute", ds_reads),
        "spark_datasource.write_ms": ms(
            "spark_datasource.write",
            [r for r in writes if r.kind == "datasource_append"]),
        "spark_datasource.splits_per_read": spark("scan_tasks", ds_reads),
        "dataframe_.from_spark_ms": ms("dataframe_.from_spark",
                                       calling("dataframe_.from_spark")),
        "fragment_writer.write_ms": ms("fragment_writer.write",
                                       calling("fragment_writer.write")),
        "fragment_writer.rows_per_s":
            sum(r.info["rows"] for r in written) / write_s if write_s else 0.0,
        "fragment_writer.bytes_per_row": (
            sum(r.info.get("fragment_bytes", 0) for r in written)
            / sum(r.info["rows"] for r in written)) if written else 0.0,
        "fragment.consolidate_ms": ms("fragment.consolidate", maint),
        "fragment.vacuum_ms": ms("fragment.vacuum", maint),
        "fragment.bytes_rewritten": info_mean("bytes_rewritten", maint),
        "fragment.live_fragments_before": info_mean("live_before", maint),
        **{f"operators.{fn}.build_ms": ms(f"operators.{fn}", passes)
           for _m, fn in CHAIN},
        "operators._mat.materialize_calls":
            per_op("operators._mat.materialize", passes),
        "operators._mat.materialize_ms":
            ms("operators._mat.materialize", passes),
        "spark.build_jobs_per_pass": info_mean("build_jobs", passes),
        "spark.cached_rdds_end": passes[-1].info.get("cached_rdds", 0)
        if passes else 0,
        "trace.op_p50_ms": statistics.median(wall.values()) * 1e3
        if wall else 0.0,
        "trace.unattributed_ms": ms("op", ops),
        "trace.unattributed_share":
            unattributed / sum(wall.values()) if wall else 0.0,
    }
    if list(out) != [n for n, _u in PER_LAYER]:
        raise RuntimeError("per-layer metrics out of step with PER_LAYER")
    return out
