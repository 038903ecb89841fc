"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke runs start one Spark driver each (about a minute apiece).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen  # noqa: E402
import run as bench_run  # noqa: E402

# the end-to-end metrics each workload prints under its own names
NAMED = {
    "sync_steady": ["sync.batch_p50_s", "sync.batch_tail_s"],
    "sync_bulk": ["bulk.full_sync_s", "bulk.events_per_s"],
    "serve_mixed": [
        "serve.bm25_p50_s", "serve.ann_p50_s", "serve.hybrid_p50_s",
        "serve.registry_p50_s", "serve.read_tail_s", "serve.write_p50_s",
        "serve.round_p50_s",
    ],
    "registry_pass": ["registry.pass_s"],
}
COMMON = ["setup_s", "peak_rss_mb", "ops.attempted", "ops.failed"]


def _run(workload, trace, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _printed(stdout: str) -> dict[str, str]:
    """{metric name: unit} from the 'name value unit' lines."""
    out = {}
    for line in stdout.splitlines()[:-1]:
        parts = line.split()
        if len(parts) == 3 and not line.startswith("#"):
            float(parts[1])
            out[parts[0]] = parts[2]
    return out


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", sorted(NAMED))
def test_smoke_prints_every_named_metric(workload):
    proc = _run(workload, trace=0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    printed = _printed(proc.stdout)
    for name in NAMED[workload] + COMMON:
        assert printed.get(name), f"{name} missing: {proc.stdout}"
    result = json.loads(proc.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_smoke_writes_spans_and_per_layer_metrics():
    proc = _run("sync_steady", trace=1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    printed = _printed(proc.stdout)
    for name in ("incremental.bronze_resolve_wave_s", "incremental.recompute_tree_s",
                 "stream.trigger_overhead_s", "cdc.materializer_apply_s",
                 "plans.compile_s", "index_sync.apply_s", "bm25_index.apply_cdc_s",
                 "py4j.roundtrips", "spark.jobs", "trace.overhead_s"):
        assert name in printed, f"{name} missing: {proc.stdout}"
    result = json.loads(proc.stdout.splitlines()[-1])
    declared = {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    with open(os.path.join(BENCH, "out", "sync_steady-seed1-trace1.spans.json")) as f:
        spans = json.load(f)["spans"]
    names = {s["name"] for s in spans}
    assert {"op.batch", "IncrementalEngine.process_batch", "phase.recompute_tree"} <= names
    ids = {s["id"] for s in spans}
    assert all(s["parent"] is None or s["parent"] in ids for s in spans)


def test_fails_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("out", "__pycache__"))
    proc = _run("sync_steady", trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_generator_is_deterministic_per_seed():
    a = datagen.make_tables(7, 300, 50, 50)
    b = datagen.make_tables(7, 300, 50, 50)
    assert a == b
    assert datagen.make_tables(8, 300, 50, 50)["orders"] != a["orders"]
    mix = dict(inserts=5, updates=10, deletes=5, customers=5, lineitems=10, nations=1)
    g1, g2 = datagen.CdcGenerator(7, a), datagen.CdcGenerator(7, b)
    batches = [g1.batch(**mix) for _ in range(3)]
    assert batches == [g2.batch(**mix) for _ in range(3)]
    assert batches != [datagen.CdcGenerator(8, a).batch(**mix) for _ in range(3)]


def test_generated_batches_are_distinct_and_valid():
    tables = datagen.make_tables(3, 300, 10, 10)
    gen = datagen.CdcGenerator(3, tables)
    mix = dict(inserts=5, updates=10, deletes=5, customers=5, lineitems=10, nations=1)
    events = [e for _ in range(4) for e in gen.batch(**mix)]
    txids = [e["txid"] for e in events]
    assert txids == sorted(set(txids))
    inserted = [e["new"]["o_orderkey"] for e in events if e["table"] == "orders" and e["op"] == "INSERT"]
    assert len(set(inserted)) == len(inserted)
    assert min(inserted) > max(o["o_orderkey"] for o in tables["orders"])
    # every UPDATE/DELETE names a row that is live at that point of the stream
    live = {t: {datagen._key(t, r) for r in tables[t]} for t in datagen.PKS}
    for e in events:
        t = e["table"]
        if e["op"] in ("UPDATE", "DELETE"):
            key = tuple(e["old"][c] for c in datagen.PKS[t])
            assert key in live[t], e
            live[t].discard(key)
        if e["op"] in ("INSERT", "UPDATE"):
            live[t].add(datagen._key(t, e["new"]))
    assert {e["table"] for e in events} == {"orders", "lineitem", "customer", "nation"}
    final = datagen.replay(tables, events)
    assert {datagen._key("orders", r) for r in final["orders"]} == live["orders"]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from pgsync_spark import get_spark

    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    return get_spark(app_name="perfbench-tests", extra_conf={"spark.sql.warehouse.dir": warehouse})


def test_corrupted_doc_fails_its_check(spark, tmp_path):
    import spans
    import workloads
    from pgsync_spark import TPCH_TABLES, schemas
    from pgsync_spark.plans.oracle import oracle_doc_sql
    from pgsync_spark.testing import duckdb_connect
    from pyspark.sql import functions as F

    tables = datagen.make_tables(5, 200, 10, 10)
    data_dir = datagen.write_tables(
        {t: v for t, v in tables.items() if t in datagen.PKS or t in ("region", "supplier", "part")},
        str(tmp_path / "data"),
    )
    con = duckdb_connect(data_dir)
    rows = con.execute(
        oracle_doc_sql(schemas.tree("orders_full"), TPCH_TABLES, schemas.columns_of,
                       schemas.column_type_of)
    ).fetchall()
    con.close()
    docs = spark.createDataFrame(rows, "_id string, doc string")
    first = rows[0][0]
    corrupted = docs.withColumn(
        "doc", F.when(F.col("_id") == first, F.lit('{"o_orderkey": -1}')).otherwise(F.col("doc"))
    )
    run = workloads.Run(spark, spans.Tracer(spark, enabled=False), str(tmp_path), 5, 1, os.getpid())
    workloads._check_docs(run, types.SimpleNamespace(docs=docs), tables, [])
    assert (run.attempted, run.failed) == (1, 0)
    workloads._check_docs(run, types.SimpleNamespace(docs=corrupted), tables, [])
    assert (run.attempted, run.failed) == (2, 1)
    assert "docs == oracle_doc_sql" in run.problems[0]


def test_changed_names_pair_each_rename_with_the_name_it_replaced():
    import workloads

    tables = datagen.make_tables(3, 300, 50, 50)
    gen = datagen.CdcGenerator(3, tables)
    events = gen.batch(inserts=1, updates=1, deletes=1, customers=2, lineitems=1, nations=1)
    events += gen.batch(inserts=1, updates=1, deletes=1, customers=2, lineitems=1, nations=1)
    names = workloads._changed_names(tables, events, n=3)
    nations = [e["new"] for e in events if e["table"] == "nation"]
    assert names[:2] == [nations[0]["n_name"], f"NATION_{nations[0]['n_nationkey']}"]
    assert names[2] == nations[1]["n_name"]
    customers = [e["new"]["c_name"] for e in events if e["table"] == "customer"]
    assert names[-6::2] == customers[-3:]
    assert len(names) == 4 + 6


def test_tail_rule():
    assert bench_run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    xs = [float(i) for i in range(1, 101)]
    assert bench_run.tail(xs) == (90.0, 90.0, 100)
