"""Correctness checks, run after the measured window (untimed).

Each returns ``(ok, message)``; the workload counts a failed check in
``ops.failed``. Sampled reads are compared query for query; the reads
of a maintained index and of its freshly built twin go out as one
unioned frame, so a check costs one Spark action per pair of indexes
rather than one per query and index.
"""

from __future__ import annotations

import functools
import math


def docs_match_oracle(docs_df, final_dir: str):
    """The engine's doc store equals the DuckDB oracle of orders_full over
    the tables with every event replayed (written to ``final_dir``)."""
    from pgsync_spark import TPCH_TABLES, schemas
    from pgsync_spark.plans.oracle import oracle_doc_sql
    from pgsync_spark.testing import compare

    sql = oracle_doc_sql(
        schemas.tree("orders_full"), TPCH_TABLES, schemas.columns_of, schemas.column_type_of
    )
    return compare(docs_df.select("_id", "doc"), sql, final_dir)


def registry_matches_oracle(spark, name: str, data_dir: str):
    from pgsync_spark.queries import REGISTRY
    from pgsync_spark.testing import compare

    q = REGISTRY[name]
    return compare(q.fn(spark, data_dir), q.oracle, data_dir)


def hashed(docs_df, *keep: str):
    """(vec_id, embedding, *keep) with each document's hash featurization
    of its text — the vector side of a hybrid read."""
    from pyspark.sql import functions as F

    from pgsync_spark.functions.hashing import hash_embed_sparksql

    return docs_df.select(
        F.col("doc_id").alias("vec_id"),
        F.expr(hash_embed_sparksql("text")).alias("embedding"),
        *keep,
    )


def query_frame(spark, vectors):
    """(query_id, embedding) with query i = vectors[i]."""
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vectors)],
        "query_id bigint, embedding array<double>",
    )


def bm25_reads(indexes, queries, k):
    """Top-k of each term tuple on each index, in one Spark action:
    [[[(rank, doc_id, score_micro), ...] per query] per index]."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    frames = [
        index.topk(t, k=k).withColumn("i", F.lit(i)).withColumn("q", F.lit(q))
        for i, index in enumerate(indexes) for q, t in enumerate(queries)
    ]
    out = [[[] for _ in queries] for _ in indexes]
    for r in functools.reduce(DataFrame.unionByName, frames).collect():
        out[r["i"]][r["q"]].append((r["rank"], r["doc_id"], r["score_micro"]))
    return [[sorted(x) for x in per_index] for per_index in out]


def ann_reads(indexes, qdf, n, k):
    """Top-k of each query row on each index, in one Spark action:
    [[[(rank, neighbor_id, cosine), ...] per query] per index]."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    frames = [index.topk(qdf, k=k).withColumn("i", F.lit(i)) for i, index in enumerate(indexes)]
    out = [[[] for _ in range(n)] for _ in indexes]
    for r in functools.reduce(DataFrame.unionByName, frames).collect():
        out[r["i"]][r["query_id"]].append((r["rank"], r["neighbor_id"], r["cosine"]))
    return [[sorted(x) for x in per_index] for per_index in out]


def _same_ann(a, b) -> bool:
    return len(a) == len(b) and all(
        x[:2] == y[:2] and math.isclose(x[2], y[2], rel_tol=1e-9, abs_tol=1e-12)
        for x, y in zip(a, b)
    )


def _query_terms(rng, texts, analyze, n):
    """n seeded queries of 2-3 distinct terms from the analyzed texts."""
    vocab = sorted({t for text in texts for t in analyze(text)})
    return [
        tuple(vocab[int(i)] for i in rng.choice(len(vocab), int(rng.integers(2, 4)), replace=False))
        for _ in range(n)
    ]


def _first_diff(what, queries, got, want, same=lambda a, b: a == b):
    for q, a, b in zip(queries, got, want):
        if not same(a, b) or not b:
            return False, f"{what} {q}: maintained {a[:3]} fresh {b[:3]}"
    return True, ""


def bm25_matches_fresh(spark, engine, index, text_expr: str, rng, changed, k: int = 20):
    """The BM25 index the engine maintained batch by batch returns the
    same top-k as an index freshly ingested from the final docs, for one
    query of seeded terms plus ``changed``: names the run set and the
    names they replaced, so a stale or missing posting shows."""
    from pgsync_spark.functions.bm25_index import BM25Index
    from pgsync_spark.streaming import SearchIndexMaintainer

    fresh = BM25Index(spark)
    try:
        SearchIndexMaintainer(fresh, text_expr=text_expr).seed(engine.docs_for_sink())
        texts = [
            r[0] for r in engine.docs_for_sink().selectExpr(f"{text_expr} AS t")
            .orderBy("_id").limit(200).collect()
        ]
        seeded = _query_terms(rng, texts, index.analyze_terms, 1)[0]
        queries = [tuple(dict.fromkeys(seeded + index.analyze_terms(" ".join(changed))))]
        ok, msg = _first_diff("terms", queries, *bm25_reads((index, fresh), queries, k))
        return ok, msg or f"ok ({len(queries[0])} terms)"
    finally:
        fresh.close()


def serving_matches_fresh(spark, indexes, corpus, rng, cand_k, k, n: int = 2):
    """Sampled reads on each maintained index (BM25, hashed text, vectors)
    equal the same reads on indexes freshly built from the final corpus;
    the hybrid read is these legs fused."""
    from pgsync_spark.functions.bm25_index import BM25Index
    from pgsync_spark.functions.hashing import hash_embed_py
    from pgsync_spark.functions.vector_index import VectorIndex

    bidx, hidx, vidx = indexes
    docs = spark.createDataFrame(
        [(d["doc_id"], d["text"], d["lang"], d["source"]) for d in corpus.docs.values()],
        "doc_id bigint, text string, lang string, source string",
    )
    vecs = spark.createDataFrame(
        [(v, [float(x) for x in e]) for v, e in corpus.vecs.items()],
        "vec_id bigint, embedding array<double>",
    )
    fb, fh, fv = BM25Index(spark), VectorIndex(spark), VectorIndex(spark)
    try:
        fb.ingest(docs)
        fh.ingest(hashed(docs))
        fv.ingest(vecs)
        texts = [d["text"] for d in list(corpus.docs.values())[:200]]
        queries = _query_terms(rng, texts, bidx.analyze_terms, n)
        ok, msg = _first_diff("bm25", queries, *bm25_reads((bidx, fb), queries, k))
        if not ok:
            return ok, msg
        # the hybrid read's vector leg: the hash-featurized text index
        hq = query_frame(spark, [hash_embed_py(" ".join(t)) for t in queries])
        ok, msg = _first_diff(
            "hashed-text ann", queries, *ann_reads((hidx, fh), hq, n, cand_k), _same_ann
        )
        if not ok:
            return ok, msg
        ids = sorted(corpus.vecs)
        picks = [ids[int(i)] for i in rng.choice(len(ids), n, replace=False)]
        vq = query_frame(spark, [corpus.vecs[v] for v in picks])
        ok, msg = _first_diff("ann", picks, *ann_reads((vidx, fv), vq, n, k), _same_ann)
        return ok, msg or f"ok ({3 * n} reads)"
    finally:
        for i in (fb, fh, fv):
            i.close()
