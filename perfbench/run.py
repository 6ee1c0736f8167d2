"""Benchmark entry point: one workload, one fresh process, one client in a
closed loop.

    python3 perfbench/run.py --workload array_lookup --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The run pins its environment (all
cores, ``PYTHONPATH`` for Spark's Python workers, a driver heap sized to
host memory, Spark and JVM scratch space under ``.perfbench/`` in the
checkout), generates its fixtures, ingests them, warms up, then measures
whole periods of its operation stream for at least ``--seconds`` and at
least the workload's minimum number of periods.  Every operation is
checked against an oracle; the
last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  Lines before it print every
metric by name with its unit, latency tails with their percentile and
sample count, and the run's host context.  Results (and, traced, the
spans) are written to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ["array_lookup", "fragment_churn", "corpus_pipeline"]

# (name, unit) of every end-to-end metric, in report order
END_TO_END = [
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("op_p50_ms", "ms"),
    ("retained_mb", "MB"),
    ("bytes_per_user_byte", "B/B"),
]


def driver_heap_gib() -> int:
    """A quarter of host memory, between 1 and 4 GiB: the session default
    (16g) exceeds small hosts, and oversized local-mode heaps slow GC."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(1, min(4, total // (4 << 30)))


def pin_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # Spark's Python workers import the library (format("tiledb")
        # fails in the worker without it)
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_heap_gib()}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # no hsperfdata file: a JVM (the launcher's too) writes it under /tmp
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
            f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell",
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })


def workload_class(name: str):
    if name == "array_lookup":
        from lookup import ArrayLookup
        return ArrayLookup
    if name == "fragment_churn":
        from churn import FragmentChurn
        return FragmentChurn
    from corpus import CorpusPipeline
    return CorpusPipeline


def peak_rss_mb(spark) -> tuple[float, float]:
    """(JVM VmHWM, driver Python max RSS) in MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return jvm_kb / 1024, py_kb / 1024


def python_rss_mb() -> float:
    """Resident set of the driver Python after a collection."""
    gc.collect()
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20


def jvm_heap_mb(spark) -> float:
    """JVM heap in use once full collections stop freeing memory.  The
    first collection mostly enqueues weak references, which Spark's
    ContextCleaner then releases (shuffles, broadcasts, checkpoints), so
    one collection leaves a figure that depends on the cleaner's timing.
    The cleaner can release in more than one step after a collection (on
    ``corpus_pipeline`` the readings went 241, 116, then 84 MB), and two
    readings 0.2 s apart sometimes both caught the middle step, so the
    heap counts as settled once three readings 0.5 s apart agree."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    for _ in range(12):
        jvm.System.gc()
        readings.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        last = readings[-3:]
        if len(last) == 3 and max(last) - min(last) < 1:
            break
        time.sleep(0.5)
    return readings[-1]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat:
    steal is time the hypervisor ran something else while this host's
    CPUs had work."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def steal_share(start: tuple[int, int]) -> float:
    steal, total = cpu_ticks()
    return (steal - start[0]) / max(total - start[1], 1)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def measure(args, work: str) -> dict:
    import numpy as np

    from harness import dir_bytes, latency_summary, run_loop
    from stages import StageReader
    from spans import Tracer

    t0 = time.perf_counter()
    import tiledb_py_spark as tdb
    from tiledb_py_spark.sources.spark_datasource import register

    spark = tdb.get_spark()
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        cls = workload_class(args.workload)
        if cls.DATASOURCE:
            register(spark)
        tracer = Tracer(bool(args.trace))
        stages = StageReader(spark) if args.trace else None
        wl = cls(spark, tdb, work, args.data, np.random.RandomState(args.seed),
                 tracer, stages)
        ingest = wl.setup()
        if args.trace:
            import layers

            layers.install(tracer)
            tdb.stats_enable()
        # the benchmark's own state (oracle models, imports, fixtures)
        # is resident before the loop; only growth during it is retained
        # by the library
        py_before = python_rss_mb()
        results = run_loop(wl, args.seconds, tracer,
                           stages, tdb if args.trace else None)
        py_growth = python_rss_mb() - py_before
        heap = jvm_heap_mb(spark)

        import bench  # read-only: the repo's fixed contention probe

        probe_s = bench._contention_probe(spark)
        jvm_mb, py_mb = peak_rss_mb(spark)
        measured = [r for r in results if not r.warmup]
        lat = [r.seconds for r in measured]
        failed = [r for r in results if r.error]
        families = {}
        for fam in sorted({r.family for r in measured}):
            families[fam] = latency_summary(
                [r.seconds for r in measured if r.family == fam])
        e2e = {
            "setup_s": session_s + statistics.median(ingest),
            "ops_per_s": len(lat) / sum(lat),
            "op_p50_ms": statistics.median(lat) * 1e3,
            "retained_mb": heap + max(py_growth, 0.0),
            "bytes_per_user_byte": sum(dir_bytes(p) for p in wl.array_paths())
            / wl.user_bytes,
        }
        out = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "attempted": len(results), "failed": len(failed),
            "error_rate": len(failed) / len(results),
            "errors": [f"{r.kind}: {r.error}" for r in failed][:5],
            "end_to_end": e2e,
            "latency": families,
            "op_tail": latency_summary(lat),
            "setup": {"session_s": session_s, "ingest_s": ingest},
            "host": {"cpus": os.environ["SPARK_GRAFT_CPUS"],
                     "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
                     "load_1m_start": args.load_start,
                     "load_1m_end": os.getloadavg()[0],
                     "cpu_steal_share": steal_share(args.ticks_start),
                     "probe_s": probe_s,
                     "host_factor": probe_s / bench.PROBE_REF_S},
            "peak_rss_mb": jvm_mb + py_mb,
            "peak_rss": {"jvm_mb": jvm_mb, "python_mb": py_mb},
            "retained": {"jvm_heap_mb": heap, "python_growth_mb": py_growth,
                         "python_before_loop_mb": py_before},
            "workload_detail": wl.detail(results),
            "ops": [[r.kind, r.seconds, r.warmup, r.error is None]
                    for r in results],
        }
        if args.trace:
            import layers

            out["per_layer"] = layers.per_layer(
                results, tracer, stages.per_op(), session_s,
                tdb.manifest.latest_version(wl.array_paths()[0]))
            tracer.dump(os.path.join(STATE, "out", run_name(args) + "-spans.json"))
        return out
    finally:
        stop_spark(spark)


def run_name(args) -> str:
    return f"{args.workload}-seed{args.seed}-trace{args.trace}"


def report(out: dict) -> None:
    """Human-readable lines: every metric by name with its unit."""
    print(f"workload {out['workload']} seed {out['seed']} "
          f"seconds {out['seconds']} trace {out['trace']}")
    for name, unit in END_TO_END:
        print(f"  {name} = {out['end_to_end'][name]:.6g} {unit}")
    print(f"  error_rate = {out['error_rate']:.6g} "
          f"({out['failed']} failed / {out['attempted']} attempted)")
    r = out["retained"]
    print(f"  retained: JVM heap {r['jvm_heap_mb']:.6g} MB + Python growth "
          f"{r['python_growth_mb']:.6g} MB over the loop (Python before the "
          f"loop, benchmark state included: {r['python_before_loop_mb']:.6g} MB)")
    print(f"  peak_rss_mb = {out['peak_rss_mb']:.6g} MB "
          f"(JVM VmHWM {out['peak_rss']['jvm_mb']:.6g} + Python max RSS "
          f"{out['peak_rss']['python_mb']:.6g})")
    for fam, s in out["latency"].items():
        if fam in ("read", "scan", "write"):
            tail = (f"{s['tail_ms']:.6g} ms (p{s['tail_pct']})"
                    if s["tail_ms"] is not None else "n/a (too few samples)")
            print(f"  {fam}_p50_ms = {s['p50_ms']:.6g} ms; "
                  f"{fam}_tail_ms = {tail}; n = {s['n']}")
    if "maintain" in out["latency"]:
        s = out["latency"]["maintain"]
        print(f"  maintain_s = {s['p50_ms'] / 1e3:.6g} s (median, n = {s['n']})")
    if "pass" in out["latency"]:
        s = out["latency"]["pass"]
        print(f"  pipeline_s = {s['p50_ms'] / 1e3:.6g} s (median, n = {s['n']})")
    h = out["host"]
    print(f"  host: cpus {h['cpus']}, driver heap {h['driver_mem']}, load "
          f"{h['load_1m_start']:.2f}->{h['load_1m_end']:.2f}, CPU steal "
          f"{h['cpu_steal_share']:.3f}, probe "
          f"{h['probe_s']:.3f} s, host_factor {h['host_factor']:.2f}")
    for k, v in out["workload_detail"].items():
        print(f"  {k} = {v}")
    for e in out["errors"]:
        print(f"  error: {e}")
    if "per_layer" in out:
        import layers

        for name, unit in layers.PER_LAYER:
            print(f"  {name} = {out['per_layer'][name]:.6g} {unit}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", help="directory holding lineitem/orders/"
                    "documents parquet to ingest instead of the generated "
                    "fixtures (smoke tests)")
    args = ap.parse_args(argv)
    args.load_start = os.getloadavg()[0]
    args.ticks_start = cpu_ticks()
    if not os.path.isdir(os.path.join(ROOT, "tiledb_py_spark")):
        print(f"perfbench: no tiledb_py_spark/ package under {ROOT}; run "
              "from the root of a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(STATE, f"work-{os.getpid()}")
    os.makedirs(os.path.join(STATE, "out"), exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    pin_env(work)
    sys.path[:0] = [HERE, ROOT]
    try:
        out = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(STATE, "out", run_name(args) + ".json"), "w") as f:
        json.dump(out, f, indent=1)
    report(out)
    if args.trace:
        import layers

        metrics = {n: {"value": out["per_layer"][n], "unit": u}
                   for n, u in layers.PER_LAYER}
    else:
        metrics = {n: {"value": out["end_to_end"][n], "unit": u}
                   for n, u in END_TO_END}
    print(json.dumps({"correct": out["failed"] == 0,
                      "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
