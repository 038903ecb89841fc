"""The benchmark's workloads: each a closed loop with one client.

Every workload builds its initial state several times (``setup_s`` is
the median), warms up untimed, then sends operations one after another
until the run's time is up, and finally checks the program's outputs
(untimed). All calls into the package are public:
``IncrementalEngine.full_sync`` / ``process_batch(timings=)``,
``start_cdc_stream``, the index ``ingest`` / ``apply_cdc`` / ``compact``
/ ``topk`` calls and ``REGISTRY[...].fn``.
"""

from __future__ import annotations

import inspect
import math
import os
import queue
import resource
import sys
import time

import numpy as np

import checks
import datagen

# scale of the generated tables: a tenth of the package's sf0.1 test
# data, so one run (session start, set-up, warm-up, the measured window
# and the checks) fits the per-run time budget
ORDERS = 3_000
DOCUMENTS = 500
VECTORS = 500
SETUP_REPEATS = 3
TOPK = 10

# small mixed CDC batch of sync_steady (~300 events): orders INSERTs with
# their lineitems, UPDATEs and DELETEs (with cascading lineitem DELETEs),
# customer and lineitem UPDATEs and one nation rename, which fans out to
# every order of that nation's customers
STEADY_MIX = dict(inserts=20, updates=60, deletes=20, customers=20, lineitems=60, nations=1)
# large batch of sync_bulk (~tens of thousands of events)
BULK_MIX = dict(
    inserts=1500, updates=4000, deletes=1000, customers=800, lineitems=12000, nations=1
)

# the text a SearchIndexMaintainer indexes for each orders_full doc
DOC_TEXT_EXPR = (
    "concat_ws(' ', get_json_object(doc, '$.o_orderpriority'), "
    "get_json_object(doc, '$.customer.c_mktsegment'), "
    "get_json_object(doc, '$.customer.nation.n_name'), "
    "get_json_object(doc, '$.customer.c_name'))"
)

REGISTRY_QUERIES = (
    "denorm_orders_full",
    "denorm_supplier_parts_through",
    "text_bm25_topk",
    "hybrid_search_rrf",
    "ccnet_perplexity_buckets",
    "dsir_select",
    "ann_bruteforce_topk",
    "ann_pq_adc_topk",
    "ann_recall_eval",
    "text_quality_classifier",
    "dedup_minhash_lsh_pairs",
)

# serve_mixed: each round sends one read of every kind in ROUND; between
# rounds one index CDC epoch upserts EPOCH_UPSERTS documents and vectors
# (half of them new) and deletes EPOCH_DELETES. The "registry" read is one pass
# over SERVE_REGISTRY, the registry's one-shot twins of the hybrid and
# ANN reads, which run through queries and functions.similarity instead
# of the maintained indexes
ROUND = ("bm25", "ann", "hybrid", "registry")
SERVE_REGISTRY = ("hybrid_search_rrf", "ann_pq_adc_topk")
EPOCH_UPSERTS = 40
EPOCH_DELETES = 10


_T0 = time.perf_counter()


def _vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of process ``pid`` so far, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


def log(msg: str) -> None:
    """Progress to stderr, stamped with seconds since start."""
    print(f"[{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


class Run:
    """State shared by a workload's phases: the session, the tracer, the
    scratch directory and everything measured."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float, jvm_pid: int):
        self.spark = spark
        self.jvm_pid = jvm_pid
        self.tracer = tracer
        self.trace = tracer.enabled
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.rng = np.random.default_rng([seed, 3])
        # named samples, one per timed operation (or per setup build)
        self.samples: dict[str, list[float]] = {}
        # the gated latencies: latency_p50_s is their median
        self.latencies: list[float] = []
        self.setup_samples: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        # (Python, JVM) peak RSS in MB at the end of the measured window,
        # before the checks run
        self.peak_rss: tuple[float, float] | None = None
        self._op = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        log(f"check {'passed' if ok else 'FAILED'}: {name}")
        if not ok:
            self.failed += 1
            self.problems.append(f"{name}: {detail}"[:2000])

    def setup(self, build, teardown=None):
        """Build the initial state SETUP_REPEATS times and keep the last;
        each build is one setup sample."""
        state = None
        for _ in range(SETUP_REPEATS):
            if state is not None and teardown is not None:
                teardown(state)
            t0 = time.perf_counter()
            state = build()
            self.setup_samples.append(time.perf_counter() - t0)
        log(f"set up {SETUP_REPEATS}x: {[round(x, 2) for x in self.setup_samples]}")
        return state

    def op(self, kind: str, fn):
        """One client operation ``fn()``; returns ``(result, wall_s)``."""
        self._op += 1
        tr = self.tracer
        start = tr.begin()
        tr.current = (self._op, None)
        try:
            with tr.span(f"op.{kind}") as sid:
                tr.current = (self._op, sid)
                t0 = time.perf_counter()
                result = fn()
                wall = time.perf_counter() - t0
        finally:
            tr.current = (None, None)
        tr.end(kind, start, self._op, wall)
        return result, wall

    def record(self, kind: str, latency: float, gated: bool = True) -> None:
        """One timed operation's end-to-end latency; ``gated`` ones make
        up the workload's ``latency_p50_s``."""
        self.attempted += 1
        self.add(kind, latency)
        if gated:
            self.latencies.append(latency)

    def window(self, min_ops: int = 1):
        """Yields 0, 1, 2, ... until the measured window of ``seconds`` has
        passed and the loop ran at least ``min_ops`` times; then takes the
        peak RSS, before any check runs."""
        log("warm-up done; measuring")
        t_start = time.perf_counter()
        n = 0
        while time.perf_counter() - t_start < self.seconds or n < min_ops:
            yield n
            n += 1
        self.peak_rss = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
            _vm_hwm_mb(self.jvm_pid),
        )
        log(f"measured {n} iterations; checking")


# ---------------------------------------------------------------------------
# sync_steady / sync_bulk
# ---------------------------------------------------------------------------


def _build_engine(run: Run, data_dir: str, with_index: bool):
    from pgsync_spark import Catalog, schemas
    from pgsync_spark.functions.bm25_index import BM25Index
    from pgsync_spark.streaming import IncrementalEngine, SearchIndexMaintainer

    tr = run.tracer
    eng = IncrementalEngine(run.spark, schemas.tree("orders_full"), Catalog(run.spark, data_dir))
    with tr.span("IncrementalEngine.full_sync"):
        t0 = time.perf_counter()
        eng.full_sync()
        run.add("full_sync", time.perf_counter() - t0)
    idx = maint = None
    if with_index:
        idx = BM25Index(run.spark)
        maint = SearchIndexMaintainer(idx, text_expr=DOC_TEXT_EXPR)
        with tr.span("BM25Index.ingest"):
            maint.seed(eng.docs_for_sink())
        eng.doc_consumers.append(maint)
    return eng, idx, maint


def _instrument_engine(run: Run, eng, idx, maint) -> None:
    """Traced runs: spans around the layers process_batch calls into."""
    if not run.trace:
        return
    from pgsync_spark.operators.overlay import KeyedOverlay
    from pgsync_spark.plans import sqlgen

    tr = run.tracer
    tr.wrap(eng.materializer, "apply", "TableMaterializer.apply")
    tr.wrap(sqlgen, "compile_assembled", "sqlgen.compile_assembled")
    tr.wrap(KeyedOverlay, "compact", "KeyedOverlay.compact")
    if maint is not None:
        tr.wrap(maint, "apply", "SearchIndexMaintainer.apply")
        tr.wrap(idx, "apply_cdc", "BM25Index.apply_cdc")
        tr.wrap(idx, "compact", "BM25Index.compact")


def _process(run: Run, eng, events_df):
    """eng.process_batch with its phases; returns (start, end, timings,
    docs recomputed, events suppressed)."""
    timings: dict = {}
    before = dict(eng.stats)
    with run.tracer.span("IncrementalEngine.process_batch") as sid:
        t0 = time.perf_counter()
        eng.process_batch(events_df, timings=timings)
        t1 = time.perf_counter()
    run.tracer.phases(sid, t0, timings)
    return (
        t0, t1, timings,
        eng.stats["recomputed_docs"] - before["recomputed_docs"],
        eng.stats["suppressed_updates"] - before["suppressed_updates"],
    )


class _StreamSink:
    """What start_cdc_stream drives: runs each micro-batch through the
    engine and hands the client the outcome."""

    def __init__(self, run: Run, engine):
        self.run = run
        self.engine = engine
        self.done: queue.Queue = queue.Queue()

    def process_batch(self, batch_df) -> None:
        try:
            self.done.put(_process(self.run, self.engine, batch_df))
        except BaseException as e:
            self.done.put(e)
            raise


def _batch_samples(run: Run, n_events: int, timings: dict, recomputed: int,
                   suppressed: int) -> None:
    for name, secs in timings.items():
        run.add(f"incremental.{name}_s", secs)
    run.add("incremental.events_per_batch", n_events)
    run.add("incremental.recomputed_docs_per_batch", recomputed)
    run.add("incremental.suppressed_share", suppressed / n_events)


def _check_docs(run: Run, engine, tables: dict, events: list[dict]) -> None:
    final = datagen.replay(tables, events)
    final_dir = datagen.write_tables(
        {t: final[t] for t in final if t not in ("documents", "embeddings")},
        run.path("final"),
    )
    ok, msg = checks.docs_match_oracle(engine.docs, final_dir)
    run.check("docs == oracle_doc_sql(orders_full)", ok, msg)


def _changed_names(tables: dict, events: list[dict], n: int = 3) -> list[str]:
    """Names the last ``n`` nation and customer renames set, and the names
    they replaced: the maintained index must match the new ones and no
    longer the old ones."""
    cols = {"nation": ("n_nationkey", "n_name"), "customer": ("c_custkey", "c_name")}
    out = []
    for t, (key, col) in cols.items():
        names = {r[key]: r[col] for r in tables[t]}
        renames = []
        for e in events:
            if e["op"] == "UPDATE" and e["table"] == t:
                k = e["new"][key]
                renames += [e["new"][col], names[k]]
                names[k] = e["new"][col]
        out += renames[-2 * n:]
    return out


def sync_steady(run: Run, tables: dict, data_dir: str) -> None:
    """Small distinct CDC batches through start_cdc_stream into a warm
    engine with a BM25 consumer; latency is event file written ->
    process_batch returned."""
    from pgsync_spark.streaming.stream import start_cdc_stream

    eng, idx, maint = run.setup(
        lambda: _build_engine(run, data_dir, with_index=True),
        teardown=lambda s: s[1].close(),
    )
    _instrument_engine(run, eng, idx, maint)
    gen = datagen.CdcGenerator(run.seed, tables)
    events: list[dict] = []
    events_dir = run.path("events")
    os.makedirs(events_dir)
    sink = _StreamSink(run, eng)
    query = start_cdc_stream(run.spark, sink, events_dir, run.path("checkpoint"))

    def send():
        batch = gen.batch(**STEADY_MIX)
        events.extend(batch)
        datagen.write_event_file(batch, os.path.join(events_dir, f"batch-{len(events):09d}.json"))
        t_written = time.perf_counter()
        res = sink.done.get(timeout=150)
        if isinstance(res, BaseException):
            raise res
        return len(batch), t_written, res

    try:
        # the first batch on a new stream starts it and compiles; the
        # next one or two still run slower, so the median takes three
        run.op("warmup", send)
        for _ in run.window(min_ops=3):
            (n_ev, t_written, res), _ = run.op("batch", send)
            t0, t1, timings, recomputed, suppressed = res
            run.record("batch", t1 - t_written)
            run.add("stream.trigger_overhead_s", t0 - t_written)
            _batch_samples(run, n_ev, timings, recomputed, suppressed)
    finally:
        query.stop()
    _check_docs(run, eng, tables, events)
    ok, msg = checks.bm25_matches_fresh(
        run.spark, eng, idx, DOC_TEXT_EXPR, run.rng, _changed_names(tables, events)
    )
    run.check("maintained BM25 top-k == fresh index", ok, msg)
    idx.close()


def sync_bulk(run: Run, tables: dict, data_dir: str) -> None:
    """Large CDC batches applied directly through process_batch."""
    from pgsync_spark.streaming import CDC_SCHEMA

    eng, _, _ = run.setup(lambda: _build_engine(run, data_dir, with_index=False))
    _instrument_engine(run, eng, None, None)
    gen = datagen.CdcGenerator(run.seed, tables)
    events: list[dict] = []
    os.makedirs(run.path("bulk"))

    def prepare():
        batch = gen.batch(**BULK_MIX)
        events.extend(batch)
        path = run.path("bulk", f"batch-{len(events):09d}.json")
        datagen.write_event_file(batch, path)
        return len(batch), run.spark.read.schema(CDC_SCHEMA).json(path)

    _, df = prepare()
    run.op("warmup", lambda: _process(run, eng, df))
    for _ in run.window():
        n_ev, df = prepare()
        (_, _, timings, recomputed, suppressed), wall = run.op(
            "batch", lambda: _process(run, eng, df)
        )
        run.record("batch", wall)
        run.add("bulk.events_per_s", n_ev / wall)
        _batch_samples(run, n_ev, timings, recomputed, suppressed)
    _check_docs(run, eng, tables, events)


# ---------------------------------------------------------------------------
# serve_mixed
# ---------------------------------------------------------------------------


class Corpus:
    """The client's copy of the served corpus, kept in step with every
    CDC epoch it sends (the fresh-index check rebuilds from it)."""

    def __init__(self, tables: dict):
        self.docs = {d["doc_id"]: d for d in tables["documents"]}
        self.vecs = {v["vec_id"]: v["embedding"] for v in tables["embeddings"]}
        self.next_doc = max(self.docs) + 1
        self.next_vec = max(self.vecs) + 1


def _build_indexes(run: Run, data_dir: str):
    from pgsync_spark.functions.bm25_index import BM25Index
    from pgsync_spark.functions.vector_index import VectorIndex

    spark, tr = run.spark, run.tracer
    docs = spark.read.parquet(os.path.join(data_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(data_dir, "embeddings.parquet"))
    bidx, hidx, vidx = BM25Index(spark), VectorIndex(spark), VectorIndex(spark)
    with tr.span("BM25Index.ingest"):
        bidx.ingest(docs.select("doc_id", "text", "lang", "source"))
    with tr.span("VectorIndex.ingest"):
        hidx.ingest(checks.hashed(docs))
    with tr.span("VectorIndex.ingest"):
        vidx.ingest(emb.select("vec_id", "embedding"))
    return bidx, hidx, vidx


def _close_all(indexes) -> None:
    for i in indexes:
        i.close()


def _pick_changes(rng, live: dict, next_id: int):
    """EPOCH_DELETES live ids to delete and EPOCH_UPSERTS ids to upsert,
    half of them live and half new; returns (deletes, upserts, next id)."""
    ids = sorted(live)
    picked = [ids[int(i)] for i in rng.choice(len(ids), EPOCH_DELETES + EPOCH_UPSERTS // 2, replace=False)]
    fresh = list(range(next_id, next_id + EPOCH_UPSERTS - EPOCH_UPSERTS // 2))
    return picked[:EPOCH_DELETES], picked[EPOCH_DELETES:] + fresh, next_id + len(fresh)


def _epoch_frames(spark, corpus: Corpus, rng):
    """One index CDC epoch: (docs cdc, hashed-docs cdc, vectors cdc)."""
    dels, ups, corpus.next_doc = _pick_changes(rng, corpus.docs, corpus.next_doc)
    doc_rows = []
    for d in ups:
        text = datagen.doc_text(rng, int(rng.integers(10, 90)))
        corpus.docs[d] = {"doc_id": d, "text": text, "lang": "en", "source": f"src{d % 20}"}
        doc_rows.append((d, text, "en", f"src{d % 20}", "u"))
    for d in dels:
        del corpus.docs[d]
        doc_rows.append((d, None, None, None, "d"))
    dels, ups, corpus.next_vec = _pick_changes(rng, corpus.vecs, corpus.next_vec)
    vec_rows = []
    for v, e in zip(ups, datagen.unit_vectors(rng, len(ups))):
        corpus.vecs[v] = e.tolist()
        vec_rows.append((v, corpus.vecs[v], "u"))
    for v in dels:
        del corpus.vecs[v]
        vec_rows.append((v, None, "d"))
    dcdc = spark.createDataFrame(
        doc_rows, "doc_id bigint, text string, lang string, source string, op string"
    )
    vcdc = spark.createDataFrame(vec_rows, "vec_id bigint, embedding array<double>, op string")
    return dcdc, checks.hashed(dcdc, "op"), vcdc


def _rrf_fuse(lex: dict, sem: dict, rrf_k: float) -> list[tuple[int, int]]:
    """Reciprocal-rank fusion of two {id: rank} legs, integer-snapped as
    the registry's hybrid_search_rrf does; ties break by id."""

    def score(rank):
        return 0 if rank is None else int(math.floor(1e9 / (rrf_k + rank) + 0.5))

    return sorted(
        ((score(lex.get(d)) + score(sem.get(d)), d) for d in set(lex) | set(sem)),
        key=lambda t: (-t[0], t[1]),
    )[:TOPK]


def serve_mixed(run: Run, tables: dict, data_dir: str) -> None:
    """Rounds of top-k reads (BM25, ANN and hybrid against maintained
    indexes, plus a pass over the registry's one-shot search queries),
    with an index CDC epoch between rounds."""
    from pgsync_spark.functions.hashing import hash_embed_py
    # the CLI --hybrid-topk read's candidate depth and fusion constant
    from pgsync_spark.queries import _ENGINE_HYB_CAND_K, HYBRID_RRF_K
    from pgsync_spark.streaming import SearchIndexMaintainer

    spark, tr, rng = run.spark, run.tracer, run.rng
    bidx, hidx, vidx = run.setup(lambda: _build_indexes(run, data_dir), teardown=_close_all)
    corpus = Corpus(tables)
    # the doc-index maintainers' default compaction cadence, in epochs
    compact_every = inspect.signature(SearchIndexMaintainer.__init__).parameters[
        "compact_every"
    ].default
    rrf_k = float(HYBRID_RRF_K)

    def terms():
        n = int(rng.integers(1, 5))
        return tuple(datagen.VOCAB[int(i)] for i in rng.choice(len(datagen.VOCAB), n, replace=False))

    def read(kind):
        if kind == "registry":
            return _registry_reads(run, data_dir, SERVE_REGISTRY)
        if kind == "bm25":
            t = terms()

            def fn():
                with tr.span("BM25Index.topk"):
                    return bidx.topk(t, k=TOPK).collect()
        elif kind == "ann":
            ids = sorted(corpus.vecs)
            q = checks.query_frame(spark, [corpus.vecs[ids[int(rng.integers(0, len(ids)))]]])

            def fn():
                with tr.span("VectorIndex.topk"):
                    return vidx.topk(q, k=TOPK).collect()
        else:
            t = terms()
            q = checks.query_frame(spark, [hash_embed_py(" ".join(t))])

            def fn():
                with tr.span("BM25Index.topk"):
                    lex = bidx.topk(t, k=_ENGINE_HYB_CAND_K).collect()
                with tr.span("VectorIndex.topk"):
                    sem = hidx.topk(q, k=_ENGINE_HYB_CAND_K).collect()
                return _rrf_fuse(
                    {r["doc_id"]: r["rank"] for r in lex},
                    {r["neighbor_id"]: r["rank"] for r in sem},
                    rrf_k,
                )
        return fn

    def write(epoch, frames):
        def fn():
            for name, index, cdc in zip(("BM25Index", "VectorIndex", "VectorIndex"),
                                         (bidx, hidx, vidx), frames):
                with tr.span(f"{name}.apply_cdc"):
                    index.apply_cdc(cdc)
                if epoch % compact_every == 0:
                    with tr.span(f"{name}.compact"):
                        index.compact()
        return fn

    # warm-up: the registry reads' first runs are their checks
    _check_registry(run, data_dir, SERVE_REGISTRY)
    for kind in ROUND:
        if kind != "registry":
            run.op("warmup", read(kind))
    for i in run.window(min_ops=2):
        if i:
            # index CDC epoch i, between consecutive rounds
            _, wall = run.op("write", write(i, _epoch_frames(spark, corpus, rng)))
            run.record("write", wall, gated=False)
        round_s = 0.0
        for kind in ROUND:
            _, wall = run.op(kind, read(kind))
            run.record(kind, wall, gated=False)
            round_s += wall
        # the gated latency is a whole round, one read of every kind, so
        # it does not hang on how many of each kind fit in the window
        run.latencies.append(round_s)
    ok, msg = checks.serving_matches_fresh(
        spark, (bidx, hidx, vidx), corpus, rng, _ENGINE_HYB_CAND_K, TOPK
    )
    run.check("maintained index reads == fresh indexes", ok, msg)
    _close_all((bidx, hidx, vidx))


# ---------------------------------------------------------------------------
# registry queries
# ---------------------------------------------------------------------------


def _check_registry(run: Run, data_dir: str, names) -> None:
    """Run each named query once against its registry oracle. Also the
    queries' warm-up: each one's first (cold) build and run."""
    for q in names:
        ok, msg = checks.registry_matches_oracle(run.spark, q, data_dir)
        run.check(f"{q} == registry oracle", ok, msg)


def _registry_reads(run: Run, data_dir: str, names):
    """An operation that builds each named query and runs it with
    count(), recording each query's wall as ``registry.<name>_s``."""
    from pgsync_spark.queries import REGISTRY

    def fn():
        for q in names:
            with run.tracer.span(f"registry.{q}"):
                t0 = time.perf_counter()
                REGISTRY[q].fn(run.spark, data_dir).count()
                run.add(f"registry.{q}_s", time.perf_counter() - t0)

    return fn


def registry_pass(run: Run, tables: dict, data_dir: str) -> None:
    """Passes over the registry queries for the whole window."""

    def load():
        # the queries read their tables straight from the data directory
        for t in sorted(tables):
            run.spark.read.parquet(os.path.join(data_dir, f"{t}.parquet")).count()

    run.setup(load)
    _check_registry(run, data_dir, REGISTRY_QUERIES)
    for _ in run.window():
        _, wall = run.op("pass", _registry_reads(run, data_dir, REGISTRY_QUERIES))
        run.record("pass", wall)


WORKLOADS = {
    "sync_steady": sync_steady,
    "sync_bulk": sync_bulk,
    "serve_mixed": serve_mixed,
    "registry_pass": registry_pass,
}
