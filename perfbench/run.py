"""pgsync_spark benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload sync_steady --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``perfbench/out/`` and removed at the end; nothing outside the
checkout is read or written. Every line before the last names a metric
with its value and unit; the last line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A traced run also writes its spans to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORKLOADS = ("sync_steady", "sync_bulk", "serve_mixed", "registry_pass")
MAX_HEAP_MB = 2048


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_sizing() -> tuple[int, int]:
    """(cpus, driver heap MB): every CPU this process may run on, and a
    quarter of physical memory capped at MAX_HEAP_MB — the package's
    default heap (24g) does not fit a small host."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    return cpus, max(1024, min(MAX_HEAP_MB, mem_mb // 4))


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than eleven."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(run, workload: str, session_s: float) -> dict:
    """The workload's own end-to-end metrics, as {name: (value, unit)}."""
    s = run.samples
    out = {"setup_s": (session_s + statistics.median(run.setup_samples), "s")}
    if workload == "sync_steady":
        v, p, n = tail(s["batch"])
        out["sync.batch_p50_s"] = (statistics.median(s["batch"]), "s")
        out["sync.batch_tail_s"] = (v, f"s@p{p:.1f}/n={n}")
    elif workload == "sync_bulk":
        out["bulk.full_sync_s"] = (statistics.median(s["full_sync"]), "s")
        out["bulk.events_per_s"] = (statistics.median(s["bulk.events_per_s"]), "events/s")
    elif workload == "serve_mixed":
        for kind in ("bm25", "ann", "hybrid", "registry", "write"):
            out[f"serve.{kind}_p50_s"] = (statistics.median(s[kind]), "s")
        v, p, n = tail(s["bm25"] + s["ann"] + s["hybrid"])
        out["serve.read_tail_s"] = (v, f"s@p{p:.1f}/n={n}")
        out["serve.round_p50_s"] = (statistics.median(run.latencies), "s")
    else:
        out["registry.pass_s"] = (statistics.median(s["pass"]), "s")
    return out


# per-layer metrics from spans: metric prefix -> span name
SPAN_LAYERS = {
    "cdc.materializer_apply": "TableMaterializer.apply",
    "plans.compile": "sqlgen.compile_assembled",
    "overlay.compact": "KeyedOverlay.compact",
    "index_sync.apply": "SearchIndexMaintainer.apply",
    "bm25_index.apply_cdc": "BM25Index.apply_cdc",
    "bm25_index.compact": "BM25Index.compact",
    "bm25_index.topk": "BM25Index.topk",
    "vector_index.apply_cdc": "VectorIndex.apply_cdc",
    "vector_index.compact": "VectorIndex.compact",
    "vector_index.topk": "VectorIndex.topk",
}


def per_layer(run, tracer) -> dict:
    """Per-layer metrics of a traced run, as {name: (value, unit)}:
    medians per timed operation, or per call for a span."""
    timed_ops = {o["op"]: o for o in tracer.ops if o["kind"] != "warmup"}
    ops = list(timed_ops.values())
    out = {}
    for key, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("task_time_s", "s"), ("job_wall_s", "s"),
        ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"),
    ):
        out[f"spark.{key}"] = (statistics.median([o[key] for o in ops]), unit)
    out["driver.outside_jobs_s"] = (statistics.median([o["driver_outside_jobs_s"] for o in ops]), "s")
    out["py4j.roundtrips"] = (statistics.median([o["py4j_roundtrips"] for o in ops]), "count")
    out["driver.gc_s"] = (statistics.fmean(o["gc_s"] for o in ops), "s")
    out["trace.overhead_s"] = (statistics.median([o["trace_cost_s"] for o in ops]), "s")

    spans = [sp for sp in tracer.spans if sp["op"] in timed_ops]
    for prefix, name in SPAN_LAYERS.items():
        calls = [sp for sp in spans if sp["name"] == name]
        if not calls:
            continue
        out[f"{prefix}_s"] = (statistics.median([c["end"] - c["start"] for c in calls]), "s")
        out[f"{prefix}_calls_per_op"] = (len(calls) / len(ops), "count")
        out[f"{prefix}_roundtrips"] = (statistics.median([c["roundtrips"] for c in calls]), "count")
        out[f"{prefix}_jobs"] = (statistics.median([c["jobs"] for c in calls]), "count")
    for sp_name in sorted({sp["name"] for sp in spans if sp["name"].startswith("registry.")}):
        calls = [sp for sp in spans if sp["name"] == sp_name]
        out[f"{sp_name}_roundtrips"] = (statistics.median([c["roundtrips"] for c in calls]), "count")
        out[f"{sp_name}_jobs"] = (statistics.median([c["jobs"] for c in calls]), "count")
    for name, xs in run.samples.items():
        if name.startswith(("incremental.", "stream.", "registry.")):
            unit = "s" if name.endswith("_s") else "count"
            out[name] = (statistics.median(xs), "share" if name.endswith("_share") else unit)
    out["trace.self_time_s"] = (
        {k: round(v, 6) for k, v in sorted(tracer.self_times().items())}, "s"
    )
    return out


# the generic per-layer metrics every workload reports in its JSON line
JSON_PER_LAYER = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_time_s",
    "spark.job_wall_s", "driver.outside_jobs_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "py4j.roundtrips",
    "driver.gc_s", "trace.overhead_s",
)


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pgsync_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import pgsync_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus, heap_mb = host_sizing()
    # keep every scratch file of Python, the JVMs and Spark in the checkout
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    tempfile.tempdir = tmp
    import datagen
    import pyspark
    import spans
    import workloads
    from pgsync_spark import get_spark

    try:
        tables = datagen.make_tables(
            args.seed, workloads.ORDERS, workloads.DOCUMENTS, workloads.VECTORS
        )
        data_dir = datagen.write_tables(tables, os.path.join(work, "data"))
        workloads.log("inputs generated")
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
        )
        session_s = time.perf_counter() - t0
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        workloads.log(f"session started in {session_s:.1f}s")
        tracer = spans.Tracer(spark, enabled=bool(args.trace))
        run = workloads.Run(spark, tracer, work, args.seed, args.seconds, jvm_pid)
        try:
            workloads.WORKLOADS[args.workload](run, tables, data_dir)
        finally:
            tracer.close()
            stop_spark(spark)
            workloads.log("session stopped")
    except Exception:  # noqa: BLE001 - report, print no result
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    params = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "driver_heap": f"{heap_mb}m",
        "pyspark": pyspark.__version__, "orders": workloads.ORDERS,
        "documents": workloads.DOCUMENTS, "vectors": workloads.VECTORS,
        "loop": "closed, one client",
    }
    latency = statistics.median(run.latencies)
    untraced = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace0.json")
    if args.trace:
        named = per_layer(run, tracer)
        json_metrics = {k: named[k] for k in JSON_PER_LAYER}
        if os.path.exists(untraced):
            # same workload and seed, run earlier without tracing
            with open(untraced) as f:
                base = json.load(f)["metrics"]["latency_p50_s"][0]
            named["trace.traced_minus_untraced_s"] = (latency - base, "s")
    else:
        named = end_to_end(run, args.workload, session_s)
        named["latency_p50_s"] = (latency, "s")
        py_mb, jvm_mb = run.peak_rss
        named["peak_rss_mb"] = (py_mb + jvm_mb, "MB")
        named["peak_rss_python_mb"] = (py_mb, "MB")
        named["peak_rss_jvm_mb"] = (jvm_mb, "MB")
        json_metrics = {k: named[k] for k in ("latency_p50_s", "setup_s")}
    named["ops.attempted"] = (run.attempted, "count")
    named["ops.failed"] = (run.failed, "count")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump({"params": params, "metrics": named, "problems": run.problems,
                   "samples": run.samples, "setup_samples": run.setup_samples}, f, indent=1)
    if args.trace:
        tracer.write(os.path.join(OUT, f"{tag}.spans.json"), {"params": params})

    print("# " + " ".join(f"{k}={v}" for k, v in params.items()))
    for p in run.problems:
        print(f"# FAILED {p}")
    for name, (value, unit) in named.items():
        if not isinstance(value, dict):
            print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in json_metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
