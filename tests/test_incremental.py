"""Incremental engine e2e: apply CDC event batches, assert the
incrementally-maintained doc store equals a full recompute from the
final table state (the reference's golden-delta + assert_resync_empty
strategy, ref tests/test_sync_nested_children.py mutations +
tests/testing_utils.py:41-67)."""

import pytest

from pyspark.sql import functions as F

from pgsync_spark import Catalog, TreeCompiler, schemas
from pgsync_spark.streaming import IncrementalEngine, payloads_from_rows

from conftest import SF_DIR


def _docs_equal(a, b):
    return (
        a.select("_id", "doc").subtract(b.select("_id", "doc")).count() == 0
        and b.select("_id", "doc").subtract(a.select("_id", "doc")).count() == 0
    )


def _full_recompute(spark, engine, tree):
    return TreeCompiler(engine.catalog).compile_docs(tree)


@pytest.fixture()
def engine(spark):
    tree = schemas.tree("orders_full")
    eng = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
    eng.full_sync()
    return eng


def _order_row(catalog, key):
    r = catalog.df("orders").filter(F.col("o_orderkey") == key).collect()[0]
    return {k: r[k] for k in r.asDict()}


def test_root_update(spark, engine):
    row = _order_row(engine.catalog, 7)
    new = dict(row, o_orderpriority="9-INCREMENTAL")
    ev = payloads_from_rows(
        spark,
        [{"op": "UPDATE", "table": "orders", "old": {"o_orderkey": 7}, "new": new, "txid": 1}],
    )
    engine.process_batch(ev)
    assert _docs_equal(
        engine.docs, _full_recompute(spark, engine, schemas.tree("orders_full"))
    )
    doc = engine.docs.filter(F.col("_id") == "7").collect()[0]["doc"]
    assert "9-INCREMENTAL" in doc


def test_root_insert_and_delete(spark, engine):
    row = _order_row(engine.catalog, 3)
    new = dict(row, o_orderkey=999999)
    ev = payloads_from_rows(
        spark,
        [
            {"op": "INSERT", "table": "orders", "new": new, "txid": 2},
            {"op": "DELETE", "table": "orders", "old": {"o_orderkey": 5}, "txid": 3},
        ],
    )
    n_before = engine.docs.count()
    engine.process_batch(ev)
    assert engine.docs.count() == n_before  # +1 insert -1 delete
    assert engine.docs.filter(F.col("_id") == "999999").count() == 1
    assert engine.docs.filter(F.col("_id") == "5").count() == 0
    assert _docs_equal(
        engine.docs, _full_recompute(spark, engine, schemas.tree("orders_full"))
    )


def test_root_pk_change_deletes_old_doc(spark, engine):
    """ref: pgsync/sync.py:1194-1225 — root PK update must remove the old
    doc id and index the new one."""
    row = _order_row(engine.catalog, 11)
    new = dict(row, o_orderkey=888888)
    ev = payloads_from_rows(
        spark,
        [{"op": "UPDATE", "table": "orders", "old": {"o_orderkey": 11}, "new": new, "txid": 4}],
    )
    engine.process_batch(ev)
    assert engine.docs.filter(F.col("_id") == "11").count() == 0
    assert engine.docs.filter(F.col("_id") == "888888").count() == 1
    assert _docs_equal(
        engine.docs, _full_recompute(spark, engine, schemas.tree("orders_full"))
    )


def test_child_insert_updates_parent_doc(spark, engine):
    """New lineitem must re-materialize its order's doc (non-root event,
    new-image FK resolution)."""
    ev = payloads_from_rows(
        spark,
        [
            {
                "op": "INSERT",
                "table": "lineitem",
                "new": {
                    "l_orderkey": 2,
                    "l_partkey": 1,
                    "l_suppkey": 1,
                    "l_linenumber": 99,
                    "l_quantity": 1.0,
                    "l_extendedprice": 42.5,
                    "l_discount": 0.0,
                    "l_tax": 0.0,
                    "l_returnflag": "Z",
                    "l_linestatus": "Z",
                    "l_shipdate": "2025-01-01 00:00:00",
                },
                "txid": 5,
            }
        ],
    )
    engine.process_batch(ev)
    doc = engine.docs.filter(F.col("_id") == "2").collect()[0]["doc"]
    assert '"l_linenumber":99' in doc
    assert _docs_equal(
        engine.docs, _full_recompute(spark, engine, schemas.tree("orders_full"))
    )


def test_deep_child_update_propagates(spark, engine):
    """A nation rename must update every order doc whose customer lives
    there (ref: tests/test_sync_nested_children.py:1819 country rename)."""
    ev = payloads_from_rows(
        spark,
        [
            {
                "op": "UPDATE",
                "table": "nation",
                "old": {"n_nationkey": 9},
                "new": {"n_nationkey": 9, "n_name": "RENAMED_NATION", "n_regionkey": 2},
                "txid": 6,
            }
        ],
    )
    engine.process_batch(ev)
    hits = engine.docs.filter(F.col("doc").contains("RENAMED_NATION")).count()
    assert hits > 0
    assert _docs_equal(
        engine.docs, _full_recompute(spark, engine, schemas.tree("orders_full"))
    )


def test_event_on_table_not_in_tree_is_noop(spark, engine):
    """ref: tests/test_sync_nested_children.py:2114-2239."""
    before = engine.docs
    ev = payloads_from_rows(
        spark,
        [{"op": "UPDATE", "table": "part", "old": {"p_partkey": 1}, "new": {"p_partkey": 1, "p_name": "x"}, "txid": 7}],
    )
    engine.process_batch(ev)
    assert engine.docs is before


def test_child_truncate(spark, engine):
    ev = payloads_from_rows(spark, [{"op": "TRUNCATE", "table": "lineitem", "txid": 8}])
    engine.process_batch(ev)
    assert engine.docs.filter(F.col("doc").contains('"lineitems":[')).count() == 0
    assert _docs_equal(
        engine.docs, _full_recompute(spark, engine, schemas.tree("orders_full"))
    )


def test_root_truncate(spark, engine):
    ev = payloads_from_rows(spark, [{"op": "TRUNCATE", "table": "orders", "txid": 9}])
    engine.process_batch(ev)
    assert engine.docs.count() == 0


def test_through_table_event(spark):
    """Through-table (lineitem) event on the supplier↔part tree."""
    tree = schemas.tree("supplier_parts_through")
    eng = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
    eng.full_sync()
    ev = payloads_from_rows(
        spark,
        [
            {
                "op": "INSERT",
                "table": "lineitem",
                "new": {
                    "l_orderkey": 1,
                    "l_partkey": 3,
                    "l_suppkey": 4,
                    "l_linenumber": 98,
                    "l_quantity": 1.0,
                    "l_extendedprice": 1.0,
                    "l_discount": 0.0,
                    "l_tax": 0.0,
                    "l_returnflag": "Z",
                    "l_linestatus": "Z",
                    "l_shipdate": "2025-01-01 00:00:00",
                },
                "txid": 10,
            }
        ],
    )
    eng.process_batch(ev)
    assert _docs_equal(eng.docs, TreeCompiler(eng.catalog).compile_docs(tree))


def test_mixed_batch_resync_idempotent(spark, engine):
    """Mixed multi-op batch then a second identical-state check: applying
    the same final state full-recompute twice changes nothing
    (assert_resync_empty analog)."""
    row = _order_row(engine.catalog, 20)
    ev = payloads_from_rows(
        spark,
        [
            {"op": "UPDATE", "table": "orders", "old": {"o_orderkey": 20},
             "new": dict(row, o_totalprice=1.5), "txid": 11},
            {"op": "DELETE", "table": "orders", "old": {"o_orderkey": 21}, "txid": 12},
            {"op": "UPDATE", "table": "customer", "old": {"c_custkey": 10},
             "new": {"c_custkey": 10, "c_name": "RENAMED_CUST", "c_nationkey": 3,
                     "c_acctbal": 0.0, "c_mktsegment": "BUILDING"}, "txid": 13},
        ],
    )
    engine.process_batch(ev)
    full = _full_recompute(spark, engine, schemas.tree("orders_full"))
    assert _docs_equal(engine.docs, full)
    # re-processing an empty batch is a no-op
    engine.process_batch(payloads_from_rows(spark, []))
    assert _docs_equal(engine.docs, full)


def test_noop_update_suppressed(spark, engine):
    """UPDATE whose old/new agree on every watched column must not
    recompute any doc (ref: pgsync/trigger.py:58-71 UPDATE_OF +
    IS DISTINCT FROM guard) — but the snapshot still applies it, so
    unwatched columns stay exact. c_acctbal is the only column in the
    testdata not projected/keyed by the orders_full tree."""
    r = engine.catalog.df("customer").filter(F.col("c_custkey") == 10).collect()[0]
    row = {k: r[k] for k in r.asDict()}
    new = dict(row, c_acctbal=12345.67)  # c_acctbal not in the tree
    ev = payloads_from_rows(
        spark,
        [{"op": "UPDATE", "table": "customer", "old": row, "new": new, "txid": 50}],
    )
    before = dict(engine.stats)
    engine.process_batch(ev)
    assert engine.stats["recomputed_docs"] == before["recomputed_docs"]
    assert engine.stats["suppressed_updates"] == before["suppressed_updates"] + 1
    assert engine.checkpoint == 50  # checkpoint still advances
    snap = engine.catalog.df("customer").filter(F.col("c_custkey") == 10)
    assert snap.filter(F.col("c_acctbal") == 12345.67).count() == 1
    assert _docs_equal(
        engine.docs, _full_recompute(spark, engine, schemas.tree("orders_full"))
    )


def test_watched_update_still_recomputes(spark, engine):
    """Same full-image UPDATE shape, but a watched column changes."""
    row = _order_row(engine.catalog, 7)
    new = dict(row, o_orderpriority="WATCHED-CHANGE")
    ev = payloads_from_rows(
        spark,
        [{"op": "UPDATE", "table": "orders", "old": row, "new": new, "txid": 51}],
    )
    before = dict(engine.stats)
    engine.process_batch(ev)
    assert engine.stats["recomputed_docs"] > before["recomputed_docs"]
    assert engine.stats["suppressed_updates"] == before["suppressed_updates"]
    assert "WATCHED-CHANGE" in engine.docs.filter(F.col("_id") == "7").collect()[0]["doc"]


def test_schema_qualification(spark):
    """Events from a foreign schema must not touch this tree's docs
    (ref: pgsync/sync.py:622-623)."""
    from pgsync_spark.node import parse_tree

    tree = parse_tree(
        {"table": "orders", "schema": "public",
         "columns": ["o_orderkey", "o_orderpriority"]}
    )
    eng = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
    eng.full_sync()
    row = _order_row(eng.catalog, 7)
    foreign = payloads_from_rows(
        spark,
        [{"op": "UPDATE", "table": "orders", "schema": "other",
          "old": {"o_orderkey": 7},
          "new": dict(row, o_orderpriority="OTHER-SCHEMA"), "txid": 60}],
    )
    eng.process_batch(foreign)
    assert eng.stats["batches"] == 0  # filtered before counting
    assert eng.docs.filter(F.col("doc").contains("OTHER-SCHEMA")).count() == 0
    matching = payloads_from_rows(
        spark,
        [{"op": "UPDATE", "table": "orders", "schema": "public",
          "old": {"o_orderkey": 7},
          "new": dict(row, o_orderpriority="OTHER-SCHEMA"), "txid": 61}],
    )
    eng.process_batch(matching)
    assert eng.docs.filter(F.col("doc").contains("OTHER-SCHEMA")).count() == 1


def test_routing_emitted(spark):
    """Tree.routing -> _routing column = root row's field value
    (ref: pgsync/sync.py:1562-1563)."""
    from pgsync_spark.node import parse_tree
    from pgsync_spark.plans.docs import assemble_docs, assemble_structured

    raw = {
        "index": "orders",
        "routing": "o_custkey",
        "nodes": {"table": "orders", "columns": ["o_orderkey", "o_custkey"]},
    }
    tree = parse_tree(raw)
    cat = Catalog(spark, SF_DIR)
    compiled = TreeCompiler(cat).compile(tree)
    df = assemble_docs(compiled)
    assert "_routing" in df.columns
    r = df.filter(F.col("_id") == "7").collect()[0]
    expected = cat.df("orders").filter(F.col("o_orderkey") == 7).collect()[0]["o_custkey"]
    assert r["_routing"] == str(expected)
    assert "_routing" in assemble_structured(compiled).columns


def test_maybe_broadcast_guard(spark):
    """Broadcast hint only below the row limit."""
    from pgsync_spark.operators.joins import maybe_broadcast

    small = spark.range(10)
    big = spark.range(200_000)
    assert "hint" in maybe_broadcast(small)._jdf.queryExecution().logical().toString().lower()
    assert "hint" not in maybe_broadcast(big)._jdf.queryExecution().logical().toString().lower()
    # known_rows short-circuits the count
    assert "hint" not in maybe_broadcast(small, known_rows=10**6)._jdf.queryExecution().logical().toString().lower()


@pytest.mark.slow
def test_bulk_batch_no_broadcast(spark, monkeypatch):
    """A batch touching most roots must not broadcast the affected-key
    set: with the limit forced low, the compiled recompute plan keeps a
    non-broadcast semi-join and the docs still converge to the full
    recompute."""
    from pgsync_spark.operators import joins

    monkeypatch.setattr(joins, "BROADCAST_ROW_LIMIT", 8)
    tree = schemas.tree("orders_full")
    eng = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
    eng.full_sync()
    rows = eng.catalog.df("orders").filter(F.col("o_orderkey") <= 1000).collect()
    evs = [
        {"op": "UPDATE", "table": "orders", "old": {"o_orderkey": r["o_orderkey"]},
         "new": dict(r.asDict(), o_orderpriority="BULK"), "txid": 70 + i}
        for i, r in enumerate(rows)
    ]
    assert len(evs) > 8
    eng.process_batch(payloads_from_rows(spark, evs))
    assert _docs_equal(eng.docs, _full_recompute(spark, eng, tree))
    # direct plan check: a root_keys semi-join above the limit is not
    # broadcast (the logical plan carries no broadcast hint)
    keys = eng.docs.select(*eng.root_pks)
    compiled = TreeCompiler(eng.catalog, root_keys=keys, root_keys_rows=10**6).compile(tree)
    logical = compiled.df._jdf.queryExecution().logical().toString().lower()
    assert "strategy=broadcast" not in logical


def test_grandchild_event_three_level_tree(spark):
    """lineitem UPDATE must propagate two FK hops (lineitem→orders→
    customer) and rebuild the nested orders[].lineitems[] arrays in the
    affected customer doc only (3-level o2m-in-o2m topology)."""
    tree = schemas.tree("customer_orders_lineitems")
    eng = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
    eng.full_sync()
    cat = eng.catalog
    li = cat.df("lineitem").limit(1).collect()[0]
    old = {"l_orderkey": li["l_orderkey"], "l_linenumber": li["l_linenumber"]}
    new = {**{k: li[k] for k in li.asDict()}, "l_quantity": 999}
    ev = payloads_from_rows(
        spark,
        [{"op": "UPDATE", "table": "lineitem", "old": old, "new": new, "txid": 5}],
    )
    before = eng.stats["recomputed_docs"]
    eng.process_batch(ev)
    # exactly the one owning customer recomputes
    assert eng.stats["recomputed_docs"] - before == 1
    assert eng.docs.filter(F.col("doc").contains('"l_quantity":999')).count() == 1
    assert _docs_equal(
        eng.docs, _full_recompute(spark, eng, schemas.tree("customer_orders_lineitems"))
    )


def test_lww_multiple_updates_same_key_in_batch(spark, engine):
    """INSERT→UPDATE→UPDATE on ONE key in ONE batch: the snapshot keeps
    exactly one row with the LAST image (not three overlay rows), and
    docs equal a full recompute — the reference applies events in stream
    order (ref: pgsync/sync.py:1855-1888)."""
    row = _order_row(engine.catalog, 3)
    v1 = dict(row, o_orderkey=777777, o_orderpriority="1-FIRST")
    v2 = dict(v1, o_orderpriority="2-SECOND")
    v3 = dict(v1, o_orderpriority="3-THIRD")
    ev = payloads_from_rows(
        spark,
        [
            {"op": "INSERT", "table": "orders", "new": v1, "txid": 10},
            {"op": "UPDATE", "table": "orders",
             "old": {"o_orderkey": 777777}, "new": v2, "txid": 11},
            {"op": "UPDATE", "table": "orders",
             "old": {"o_orderkey": 777777}, "new": v3, "txid": 12},
        ],
    )
    engine.process_batch(ev)
    snap = engine.catalog.df("orders").filter(F.col("o_orderkey") == 777777)
    rows = snap.collect()
    assert len(rows) == 1
    assert rows[0]["o_orderpriority"] == "3-THIRD"
    docs = engine.docs.filter(F.col("_id") == "777777").collect()
    assert len(docs) == 1
    assert "3-THIRD" in docs[0]["doc"]
    assert _docs_equal(
        engine.docs, _full_recompute(spark, engine, schemas.tree("orders_full"))
    )


def test_lww_same_txid_uses_batch_order(spark, engine):
    """Two UPDATEs to one key in the SAME transaction: arrival order
    within the batch breaks the tie — the later image wins."""
    row = _order_row(engine.catalog, 9)
    v1 = dict(row, o_orderpriority="1-EARLY")
    v2 = dict(row, o_orderpriority="2-LATE")
    ev = payloads_from_rows(
        spark,
        [
            {"op": "UPDATE", "table": "orders",
             "old": {"o_orderkey": 9}, "new": v1, "txid": 20},
            {"op": "UPDATE", "table": "orders",
             "old": {"o_orderkey": 9}, "new": v2, "txid": 20},
        ],
    )
    engine.process_batch(ev)
    rows = engine.catalog.df("orders").filter(F.col("o_orderkey") == 9).collect()
    assert len(rows) == 1
    assert rows[0]["o_orderpriority"] == "2-LATE"
    assert _docs_equal(
        engine.docs, _full_recompute(spark, engine, schemas.tree("orders_full"))
    )


def test_lww_update_then_delete_tombstones(spark, engine):
    """UPDATE→DELETE on one key in one batch: the key is gone from the
    snapshot and its doc is deleted (the DELETE is the last action, so
    the UPDATE's new image must NOT resurrect the row)."""
    row = _order_row(engine.catalog, 11)
    ev = payloads_from_rows(
        spark,
        [
            {"op": "UPDATE", "table": "orders",
             "old": {"o_orderkey": 11},
             "new": dict(row, o_orderpriority="X-DOOMED"), "txid": 30},
            {"op": "DELETE", "table": "orders",
             "old": {"o_orderkey": 11}, "txid": 31},
        ],
    )
    engine.process_batch(ev)
    assert engine.catalog.df("orders").filter(F.col("o_orderkey") == 11).count() == 0
    assert engine.docs.filter(F.col("_id") == "11").count() == 0
    assert _docs_equal(
        engine.docs, _full_recompute(spark, engine, schemas.tree("orders_full"))
    )


def test_lww_delete_then_reinsert_lives(spark, engine):
    """DELETE→INSERT on one key in one batch: the re-insert is the last
    action, so the row lives with the new image."""
    row = _order_row(engine.catalog, 13)
    ev = payloads_from_rows(
        spark,
        [
            {"op": "DELETE", "table": "orders", "old": {"o_orderkey": 13}, "txid": 40},
            {"op": "INSERT", "table": "orders",
             "new": dict(row, o_orderpriority="Z-REBORN"), "txid": 41},
        ],
    )
    engine.process_batch(ev)
    rows = engine.catalog.df("orders").filter(F.col("o_orderkey") == 13).collect()
    assert len(rows) == 1
    assert rows[0]["o_orderpriority"] == "Z-REBORN"
    assert _docs_equal(
        engine.docs, _full_recompute(spark, engine, schemas.tree("orders_full"))
    )


def _cdc_rows(spark, rows):
    """CDC frame from (op, table, old, new, txid) tuples; txid may be
    None, which payloads_from_rows cannot express."""
    from pgsync_spark.streaming.cdc import CDC_SCHEMA

    return spark.createDataFrame(
        [
            (op, "public", table, {k: str(v) for k, v in (old or {}).items()},
             {k: str(v) for k, v in (new or {}).items()}, txid)
            for op, table, old, new, txid in rows
        ],
        CDC_SCHEMA,
    )


@pytest.mark.parametrize("later_txid", [5, None])
def test_lww_later_batch_beats_prev_overlay(spark, later_txid):
    """Across micro-batches the LATER batch wins for a key, even when its
    txid is lower than, or NULL next to, the txid that wrote the
    previous overlay row: the fold ranks the previous overlay below
    every action of the new batch, and txid order only decides within
    a batch."""
    from pgsync_spark.streaming.cdc import TableMaterializer

    cat = Catalog(spark, SF_DIR)
    mat = TableMaterializer(cat, compact_every=99)
    row = _order_row(cat, 7)

    def prio(key):
        got = cat.df("orders").filter(F.col("o_orderkey") == key).collect()
        return [r["o_orderpriority"] for r in got]

    mat.apply(_cdc_rows(spark, [
        ("UPDATE", "orders", {"o_orderkey": 7}, dict(row, o_orderpriority="FIRST"), 100),
        ("DELETE", "orders", {"o_orderkey": 9}, None, 100),
    ]))
    assert prio(7) == ["FIRST"] and prio(9) == []
    mat.apply(_cdc_rows(spark, [
        ("UPDATE", "orders", {"o_orderkey": 7},
         dict(row, o_orderpriority="SECOND"), later_txid),
        ("INSERT", "orders", None,
         dict(row, o_orderkey=9, o_orderpriority="BACK"), later_txid),
    ]))
    # the later batch's image replaces the overlay row (one row, not
    # two) and its re-insert revives the tombstoned key
    assert prio(7) == ["SECOND"]
    assert prio(9) == ["BACK"]
    mat.release()


def test_lww_update_delete_reinsert_across_batches(spark, engine):
    """UPDATE → next-batch DELETE → next-batch re-INSERT of one root
    key, with falling txids: after each batch the snapshot holds the
    latest batch's state and the docs equal a full recompute."""
    tree = schemas.tree("orders_full")
    row = _order_row(engine.catalog, 15)

    def state():
        rows = engine.catalog.df("orders").filter(F.col("o_orderkey") == 15).collect()
        docs = engine.docs.filter(F.col("_id") == "15").collect()
        assert _docs_equal(engine.docs, _full_recompute(spark, engine, tree))
        return [r["o_orderpriority"] for r in rows], [d["doc"] for d in docs]

    engine.process_batch(_cdc_rows(spark, [
        ("UPDATE", "orders", {"o_orderkey": 15},
         dict(row, o_orderpriority="U-ONE"), 300),
    ]))
    prios, docs = state()
    assert prios == ["U-ONE"] and len(docs) == 1 and "U-ONE" in docs[0]
    engine.process_batch(_cdc_rows(spark, [
        ("DELETE", "orders", {"o_orderkey": 15}, None, 200),
    ]))
    assert state() == ([], [])
    engine.process_batch(_cdc_rows(spark, [
        ("INSERT", "orders", None, dict(row, o_orderpriority="I-THREE"), None),
    ]))
    prios, docs = state()
    assert prios == ["I-THREE"] and len(docs) == 1 and "I-THREE" in docs[0]


@pytest.mark.slow
def test_overlay_size_cap_triggers_compaction(spark, engine):
    """A batch that outgrows OVERLAY_ROW_CAP compacts immediately even
    though the apply cadence hasn't been reached — a run of large
    batches must not accumulate an unbounded overlay anti-join."""
    mat = engine.materializer
    mat.OVERLAY_ROW_CAP = 2  # instance override: tiny cap
    compactions = []
    orig_compact = mat.compact
    mat.compact = lambda table, **kw: (
        compactions.append(table),
        orig_compact(table, **kw),
    )
    row = _order_row(engine.catalog, 17)
    ev = payloads_from_rows(
        spark,
        [
            {"op": "UPDATE", "table": "orders",
             "old": {"o_orderkey": 17},
             "new": dict(row, o_orderpriority="C-ONE"), "txid": 50},
            {"op": "UPDATE", "table": "orders",
             "old": {"o_orderkey": 19},
             "new": dict(_order_row(engine.catalog, 19),
                         o_orderpriority="C-TWO"), "txid": 51},
        ],
    )
    engine.process_batch(ev)
    # 2 events -> overlay bound 4 > max(8*2=16? no: cap=2 -> max(16,2)=16)
    # bound 4 <= 16: no compact. Force with a second batch to exceed 8*n.
    for i in range(5):
        engine.process_batch(payloads_from_rows(
            spark,
            [{"op": "UPDATE", "table": "orders",
              "old": {"o_orderkey": 17},
              "new": dict(row, o_orderpriority=f"C-{i}"), "txid": 60 + i}],
        ))
    # cumulative overlay bound (2 per 1-event batch) exceeded
    # max(8*1, cap=2) mid-run -> size-triggered compaction fired well
    # before the apply cadence (compact_every=8) was reached, and the
    # bound counter stayed small
    assert "orders" in compactions
    assert mat._overlay_rows.get("orders", 0) <= 8
    rows = engine.catalog.df("orders").filter(F.col("o_orderkey") == 17).collect()
    assert len(rows) == 1 and rows[0]["o_orderpriority"] == "C-4"
    assert _docs_equal(
        engine.docs, _full_recompute(spark, engine, schemas.tree("orders_full"))
    )


def test_view_event_remaps_to_node_table(spark):
    """A node declaring base_tables consumes CDC events that name the
    physical base table: the event retags to the node's table, lands on
    its snapshot, and the doc recomputes (the reference's materialized-
    view substitution, ref: pgsync/sync.py:1843-1853)."""
    from pgsync_spark.node import parse_tree

    tree = parse_tree(
        {
            "index": "orders_idx",
            "nodes": {
                "table": "orders",
                "base_tables": ["orders_phys"],
                "columns": ["o_orderkey", "o_orderpriority"],
            },
        }
    )
    eng = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
    eng.full_sync()
    row = _order_row(eng.catalog, 21)
    ev = payloads_from_rows(
        spark,
        [{
            "op": "UPDATE",
            "table": "orders_phys",  # physical name, not in any catalog
            "old": {"o_orderkey": 21},
            "new": dict(row, o_orderpriority="V-VIEWED"),
            "txid": 70,
        }],
    )
    eng.process_batch(ev)
    rows = eng.catalog.df("orders").filter(F.col("o_orderkey") == 21).collect()
    assert len(rows) == 1 and rows[0]["o_orderpriority"] == "V-VIEWED"
    doc = eng.docs.filter(F.col("_id") == "21").collect()[0]["doc"]
    assert "V-VIEWED" in doc
    assert _docs_equal(eng.docs, TreeCompiler(eng.catalog).compile_docs(tree))


def test_view_remap_in_multi_index_runner(spark):
    """The shared materializer in SyncRunner sees retagged events — a
    base-table event must not crash on an unknown table and must reach
    the right tree's snapshot."""
    from pgsync_spark.node import parse_tree
    from pgsync_spark.streaming.runner import SyncRunner

    trees = [
        parse_tree({
            "index": "orders_idx",
            "nodes": {
                "table": "orders",
                "base_tables": ["orders_phys"],
                "columns": ["o_orderkey", "o_orderpriority"],
            },
        }),
        parse_tree({
            "index": "customer_idx",
            "nodes": {"table": "customer", "columns": ["c_custkey", "c_name"]},
        }),
    ]
    cat = Catalog(spark, SF_DIR)
    runner = SyncRunner(spark, trees, cat)
    runner.full_sync()
    row = _order_row(cat, 23)
    runner.process_batch(payloads_from_rows(
        spark,
        [{
            "op": "UPDATE",
            "table": "orders_phys",
            "old": {"o_orderkey": 23},
            "new": dict(row, o_orderpriority="V-SHARED"),
            "txid": 71,
        }],
    ))
    doc = runner.docs("orders_idx").filter(F.col("_id") == "23").collect()[0]["doc"]
    assert "V-SHARED" in doc


def test_conflicting_base_table_remap_rejected(spark):
    """Two trees mapping one base table to different node tables is a
    config error, as is chained view-of-view routing."""
    from pgsync_spark.node import parse_tree
    from pgsync_spark.streaming.incremental import base_table_remap
    from pgsync_spark.streaming.runner import SyncRunner

    t1 = parse_tree({
        "index": "a", "nodes": {
            "table": "orders", "base_tables": ["phys"], "columns": ["o_orderkey"]},
    })
    t2 = parse_tree({
        "index": "b", "nodes": {
            "table": "customer", "base_tables": ["phys"], "columns": ["c_custkey"]},
    })
    cat = Catalog(spark, SF_DIR)
    with pytest.raises(ValueError, match="remapped to both"):
        SyncRunner(spark, [t1, t2], cat)
    chained = parse_tree({
        "index": "c", "nodes": {
            "table": "orders", "base_tables": ["customer"],
            "columns": ["o_orderkey"],
            "children": [{
                "table": "customer", "base_tables": ["cust_phys"],
                "columns": ["c_custkey"],
                "relationship": {"type": "one_to_one", "variant": "object"},
            }],
        },
    })
    with pytest.raises(ValueError, match="chained view routing"):
        base_table_remap(chained)


def test_lww_randomized_sequence_matches_serial_replay(spark):
    """Randomized (seeded) mixed op sequence over a handful of keys —
    including PK-changing UPDATEs — applied as ONE batch must leave the
    snapshot exactly equal to a serial Python replay of the same
    events. Guards the window-fold equivalence the LWW design claims."""
    import random

    from pgsync_spark.streaming.cdc import TableMaterializer

    rng = random.Random(42)
    cat = Catalog(spark, SF_DIR)
    base_rows = {
        r["o_orderkey"]: {k: v for k, v in r.asDict().items()}
        for r in cat.df("orders").limit(6).collect()
    }
    keys = list(base_rows)
    spare_keys = [900001, 900002, 900003]
    # serial replay state: key -> row dict (None = absent)
    state = {k: dict(v) for k, v in base_rows.items()}
    events = []
    txid = 0
    for _ in range(40):
        txid += 1
        live = [k for k, v in state.items() if v is not None]
        op = rng.choice(["INSERT", "UPDATE", "UPDATE", "DELETE", "PKCHANGE"])
        if op == "INSERT" or not live:
            k = rng.choice(spare_keys + [k for k in keys if state.get(k) is None])
            row = dict(rng.choice(list(base_rows.values())),
                       o_orderkey=k, o_orderpriority=f"T{txid}")
            events.append({"op": "INSERT", "table": "orders", "new": row,
                           "txid": txid})
            state[k] = row
        elif op == "UPDATE":
            k = rng.choice(live)
            row = dict(state[k], o_orderpriority=f"T{txid}")
            events.append({"op": "UPDATE", "table": "orders",
                           "old": {"o_orderkey": k}, "new": row, "txid": txid})
            state[k] = row
        elif op == "DELETE":
            k = rng.choice(live)
            events.append({"op": "DELETE", "table": "orders",
                           "old": {"o_orderkey": k}, "txid": txid})
            state[k] = None
        else:  # PK-changing UPDATE
            k = rng.choice(live)
            free = [s for s in spare_keys + keys
                    if state.get(s) is None and s != k]
            if not free:
                continue
            k2 = rng.choice(free)
            row = dict(state[k], o_orderkey=k2, o_orderpriority=f"T{txid}")
            events.append({"op": "UPDATE", "table": "orders",
                           "old": {"o_orderkey": k}, "new": row, "txid": txid})
            state[k] = None
            state[k2] = row

    mat = TableMaterializer(cat)
    mat.apply(payloads_from_rows(spark, events))
    touched = set(state) | set(base_rows)
    snap = {
        r["o_orderkey"]: r.asDict()
        for r in cat.df("orders")
        .filter(F.col("o_orderkey").isin(*touched))
        .collect()
    }
    expected = {k: v for k, v in state.items() if v is not None}
    assert set(snap) == set(expected), (
        f"live keys diverge: snap-only={set(snap) - set(expected)}, "
        f"expected-only={set(expected) - set(snap)}"
    )
    for k, row in expected.items():
        assert snap[k]["o_orderpriority"] == row["o_orderpriority"], (
            k, snap[k]["o_orderpriority"], row["o_orderpriority"]
        )


def test_lww_root_truncate_then_insert_same_batch(spark, engine):
    """A batch of TRUNCATE(root) followed by INSERTs must keep the
    re-inserted rows — serial replay would (the pre-r4 engine dropped
    the whole table's tail events at the truncate)."""
    row = _order_row(engine.catalog, 3)
    new = dict(row, o_orderkey=777001, o_orderpriority="POST-TRUNC")
    ev = payloads_from_rows(
        spark,
        [
            {"op": "TRUNCATE", "table": "orders", "txid": 50},
            {"op": "INSERT", "table": "orders", "new": new, "txid": 51},
        ],
    )
    engine.process_batch(ev)
    assert engine.catalog.df("orders").count() == 1
    assert engine.docs.count() == 1
    doc = engine.docs.collect()[0]
    assert doc["_id"] == "777001" and "POST-TRUNC" in doc["doc"]
    assert _docs_equal(
        engine.docs, _full_recompute(spark, engine, schemas.tree("orders_full"))
    )


def test_lww_child_truncate_then_insert_same_batch(spark, engine):
    """TRUNCATE(child) then INSERT(child) in one batch: the surviving
    child row must appear in its parent's doc, all other docs lose
    their children."""
    ev = payloads_from_rows(
        spark,
        [
            {"op": "TRUNCATE", "table": "lineitem", "txid": 60},
            {
                "op": "INSERT",
                "table": "lineitem",
                "new": {
                    "l_orderkey": 7, "l_partkey": 1, "l_suppkey": 1,
                    "l_linenumber": 1, "l_quantity": 2.0,
                    "l_extendedprice": 10.0, "l_discount": 0.0,
                    "l_tax": 0.0, "l_returnflag": "N", "l_linestatus": "O",
                    "l_shipdate": "2025-06-01 00:00:00",
                },
                "txid": 61,
            },
        ],
    )
    engine.process_batch(ev)
    assert engine.catalog.df("lineitem").count() == 1
    assert _docs_equal(
        engine.docs, _full_recompute(spark, engine, schemas.tree("orders_full"))
    )


def test_cdc_metadata_column_collision_raises(spark):
    """A synced table whose own columns collide with the reserved CDC
    metadata names must raise a config error, not silently misfold."""
    from pgsync_spark import exc
    from pgsync_spark.catalog import TableMeta
    from pgsync_spark.streaming.cdc import TableMaterializer

    cat = Catalog(spark, SF_DIR)
    bad = spark.createDataFrame(
        [(1, "x")], "id long, __cdc_seq string"
    )
    cat.register_df("badtable", bad, meta=TableMeta("badtable", ("id",)))
    mat = TableMaterializer(cat)
    ev = payloads_from_rows(
        spark,
        [{"op": "INSERT", "table": "badtable",
          "new": {"id": 2, "__cdc_seq": "y"}, "txid": 1}],
    )
    with pytest.raises(exc.SchemaError, match="__cdc_seq"):
        mat.apply(ev)


def test_cdc_explicit_seq_col_overrides_arrival_order(spark):
    """When the source provides an explicit sequence column (LSN /
    offset), same-txid ordering follows it — not arrival order."""
    from pgsync_spark.streaming.cdc import CDC_SCHEMA, TableMaterializer
    from pyspark.sql import types as T

    cat = Catalog(spark, SF_DIR)
    # two same-txid INSERT images for key 42, delivered in REVERSE lsn
    # order: with seq_col the lsn=2 image must win
    img1 = {"o_orderkey": "42", "o_orderpriority": "LSN2-WINS"}
    img2 = {"o_orderkey": "42", "o_orderpriority": "LSN1-LOSES"}
    schema = T.StructType(CDC_SCHEMA.fields + [T.StructField("lsn", T.LongType())])
    events = spark.createDataFrame(
        [
            ("INSERT", "public", "orders", {}, img1, 7, 2),
            ("INSERT", "public", "orders", {}, img2, 7, 1),
        ],
        schema,
    )
    mat = TableMaterializer(cat)
    mat.apply(events, seq_col="lsn")
    got = (
        cat.df("orders")
        .filter(F.col("o_orderkey") == 42)
        .select("o_orderpriority")
        .collect()
    )
    assert [r[0] for r in got] == ["LSN2-WINS"]


def test_runner_rejects_node_table_as_base(spark):
    """Tree B declaring tree A's node table as a base_table must be a
    config error at SyncRunner construction — the merged remap would
    otherwise silently reroute A's events (ADVICE r3)."""
    from pgsync_spark.node import Node, Tree
    from pgsync_spark.streaming.runner import SyncRunner

    tree_a = schemas.tree("orders_full")
    # tree B: customer root whose node declares orders as a base table
    root = Node(table="customer", base_tables=["orders"])
    tree_b = Tree(root=root, index="bad_idx")
    with pytest.raises(ValueError, match="node table"):
        SyncRunner(spark, [tree_a, tree_b], Catalog(spark, SF_DIR))


def test_materializer_defer_release_keeps_blocks_alive(spark):
    """apply(defer_release=...) must NOT unpersist superseded overlay
    checkpoints — process_batch's resolve wave still scans the
    pre-batch snapshot views concurrently; the caller frees the
    deferred frames after the wave. With no defer list, releases stay
    immediate."""
    from pgsync_spark import caching
    from pgsync_spark.streaming.cdc import TableMaterializer

    cat = Catalog(spark, SF_DIR)
    mat = TableMaterializer(cat, compact_every=99)

    def batch(txid, prio):
        return payloads_from_rows(
            spark,
            [
                {
                    "op": "UPDATE",
                    "table": "orders",
                    "old": {"o_orderkey": "7"},
                    "new": {"o_orderkey": "7", "o_orderpriority": prio},
                    "txid": txid,
                }
            ],
        )

    mat.apply(batch(1, "A"))  # creates the first overlay
    first_overlay = mat._overlay["orders"]
    deferred = []
    mat.apply(batch(2, "B"), defer_release=deferred)
    # the superseded overlay was deferred, not released: still readable
    assert deferred and deferred[0] is first_overlay
    assert first_overlay.count() >= 1  # blocks alive → scan succeeds
    # the snapshot view serves the newest image meanwhile
    row = cat.df("orders").filter(F.col("o_orderkey") == 7).collect()[0]
    assert row["o_orderpriority"] == "B"
    caching.release_local_checkpoints(deferred)
    # immediate mode: a third apply with no defer list releases inline
    second_overlay = mat._overlay["orders"]
    mat.apply(batch(3, "C"))
    assert mat._overlay["orders"] is not second_overlay


@pytest.mark.slow
@pytest.mark.parametrize("seed", [7, 23, 91])
def test_random_event_sequences_match_full_recompute(spark, seed):
    """Seeded fuzz of the gold invariant: random multi-batch CDC
    sequences — root insert/update/delete/PK-change, child (composite
    PK) insert/update/delete, dimension updates, dangling FKs, repeat
    ops on the same key — and after EVERY batch the incrementally
    maintained store must equal a full recompute from the post-batch
    snapshots. Hand-written batches pin known cases; this walks the
    space between them."""
    import random

    rng = random.Random(seed)
    tree = schemas.tree("orders_full")
    eng = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
    eng.full_sync()

    orders = [r.asDict() for r in eng.catalog.df("orders").limit(10).collect()]
    lineitems = [
        r.asDict()
        for r in eng.catalog.df("lineitem")
        .filter(F.col("l_orderkey").isin([o["o_orderkey"] for o in orders]))
        .limit(12)
        .collect()
    ]
    customers = [r.asDict() for r in eng.catalog.df("customer").limit(5).collect()]
    txid = 1000
    next_key = 900_000
    live_orders = {o["o_orderkey"]: dict(o) for o in orders}

    def make_event():
        nonlocal txid, next_key
        txid += 1
        kind = rng.choice(
            [
                "root_upd", "root_del", "root_ins", "root_pk_change",
                "child_ins", "child_upd", "child_del", "dim_upd",
            ]
        )
        if kind == "root_upd" and live_orders:
            k = rng.choice(list(live_orders))
            row = dict(live_orders[k], o_orderpriority=f"FUZZ-{txid}")
            live_orders[k] = row
            return {"op": "UPDATE", "table": "orders",
                    "old": {"o_orderkey": k}, "new": row, "txid": txid}
        if kind == "root_del" and live_orders:
            k = rng.choice(list(live_orders))
            live_orders.pop(k)
            return {"op": "DELETE", "table": "orders",
                    "old": {"o_orderkey": k}, "txid": txid}
        if kind == "root_pk_change" and live_orders:
            k = rng.choice(list(live_orders))
            next_key += 1
            row = dict(live_orders.pop(k), o_orderkey=next_key)
            live_orders[next_key] = row
            return {"op": "UPDATE", "table": "orders",
                    "old": {"o_orderkey": k}, "new": row, "txid": txid}
        if kind == "root_ins" or not live_orders:
            next_key += 1
            base = dict(rng.choice(orders), o_orderkey=next_key)
            if rng.random() < 0.3:
                base["o_custkey"] = 888_888  # dangling FK — dim is null
            live_orders[next_key] = base
            return {"op": "INSERT", "table": "orders", "new": base, "txid": txid}
        if kind == "child_ins":
            li = dict(rng.choice(lineitems))
            li["l_orderkey"] = rng.choice(
                list(live_orders) + [888_888]  # sometimes orphan child
            )
            li["l_linenumber"] = rng.randint(50, 99)
            return {"op": "INSERT", "table": "lineitem", "new": li, "txid": txid}
        if kind == "child_upd":
            li = dict(rng.choice(lineitems), l_quantity=float(rng.randint(1, 9)))
            return {"op": "UPDATE", "table": "lineitem",
                    "old": {"l_orderkey": li["l_orderkey"],
                            "l_linenumber": li["l_linenumber"]},
                    "new": li, "txid": txid}
        if kind == "child_del":
            li = rng.choice(lineitems)
            return {"op": "DELETE", "table": "lineitem",
                    "old": {"l_orderkey": li["l_orderkey"],
                            "l_linenumber": li["l_linenumber"]}, "txid": txid}
        cu = dict(rng.choice(customers), c_name=f"FUZZ-CUST-{txid}")
        return {"op": "UPDATE", "table": "customer",
                "old": {"c_custkey": cu["c_custkey"]}, "new": cu, "txid": txid}

    for _batch in range(3):
        events = [make_event() for _ in range(rng.randint(3, 7))]
        eng.process_batch(payloads_from_rows(spark, events))
        full = TreeCompiler(eng.catalog).compile_docs(tree)
        assert _docs_equal(eng.docs, full), (
            f"seed={seed} batch={_batch} events={events}"
        )
    eng._teardown_stores()


def _four_table_batch(catalog, txid, step):
    """One mixed batch over every orders_full table, shaped like a
    steady CDC batch: a new order with a lineitem, root UPDATEs, a root
    DELETE cascading to its lineitems, a lineitem UPDATE, a customer
    rename and a nation rename. ``step`` picks distinct keys per
    batch."""

    def rows(table, cond):
        return [r.asDict() for r in catalog.df(table).filter(cond).collect()]

    doomed = 40 + step * 4
    upd = rows("orders", F.col("o_orderkey").isin(3 + step * 4, 5 + step * 4))
    li = rows("lineitem", F.col("l_orderkey") == doomed)
    li_upd = rows("lineitem", F.col("l_orderkey") == 70 + step * 4)[0]
    cust = rows("customer", F.col("c_custkey") == 10 + step)[0]
    nat = rows("nation", F.col("n_nationkey") == step)[0]
    new_key = 990_000 + step
    ev = [
        {"op": "INSERT", "table": "orders",
         "new": dict(upd[0], o_orderkey=new_key), "txid": txid},
        {"op": "INSERT", "table": "lineitem",
         "new": dict(li_upd, l_orderkey=new_key), "txid": txid},
        {"op": "DELETE", "table": "orders",
         "old": {"o_orderkey": doomed}, "txid": txid},
        {"op": "UPDATE", "table": "lineitem",
         "old": {"l_orderkey": li_upd["l_orderkey"],
                 "l_linenumber": li_upd["l_linenumber"]},
         "new": dict(li_upd, l_quantity=99.0), "txid": txid},
        {"op": "UPDATE", "table": "customer",
         "old": {"c_custkey": cust["c_custkey"]},
         "new": dict(cust, c_name=f"STEADY-{step}"), "txid": txid},
        {"op": "UPDATE", "table": "nation",
         "old": {"n_nationkey": nat["n_nationkey"]},
         "new": dict(nat, n_name=f"NATION-{step}"), "txid": txid},
    ]
    ev += [
        {"op": "UPDATE", "table": "orders", "old": {"o_orderkey": r["o_orderkey"]},
         "new": dict(r, o_orderpriority=f"P-{step}"), "txid": txid}
        for r in upd
    ]
    ev += [
        {"op": "DELETE", "table": "lineitem",
         "old": {"l_orderkey": r["l_orderkey"], "l_linenumber": r["l_linenumber"]},
         "txid": txid}
        for r in li
    ]
    return ev


def test_steady_batch_job_budget(spark):
    """A steady mixed batch (4 touched tables, prior overlays present,
    one BM25 consumer) runs at most JOB_BUDGET Spark jobs. Jobs are
    counted by job-id range rather than job group: the engine submits
    from thread pools, whose jobs carry no group. The count pins the
    per-batch fixed cost; it is not exact run to run, because whether a
    broadcast runs as its own job depends on how the concurrent waves'
    queries interleave (57-60 over 14 runs), hence the headroom."""
    from pgsync_spark.functions.bm25_index import BM25Index
    from pgsync_spark.streaming import SearchIndexMaintainer

    JOB_BUDGET = 62
    tree = schemas.tree("orders_full")
    eng = IncrementalEngine(spark, tree, Catalog(spark, SF_DIR))
    eng.full_sync()
    idx = BM25Index(spark)
    maint = SearchIndexMaintainer(
        idx, text_expr="get_json_object(doc, '$.customer.c_name')"
    )
    maint.seed(eng.docs_for_sink())
    eng.doc_consumers.append(maint)
    # warm-up batch: every touched table then has a prior overlay
    eng.process_batch(payloads_from_rows(spark, _four_table_batch(eng.catalog, 10, 1)))
    events = payloads_from_rows(spark, _four_table_batch(eng.catalog, 11, 2))
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    eng.process_batch(events)
    n_jobs = dag.nextJobId() - first
    assert n_jobs <= JOB_BUDGET, n_jobs
    assert _docs_equal(eng.docs, _full_recompute(spark, eng, tree))
    idx.close()
    eng._teardown_stores()


def test_consumer_error_propagates_from_store_wave(spark, engine):
    """Doc consumers run concurrently with the store overlays; an error
    raised by a consumer still reaches process_batch's caller."""

    class Failing:
        def apply(self, upserts, deleted_ids):
            raise RuntimeError("consumer down")

        def truncate(self):
            pass

    engine.doc_consumers.append(Failing())
    row = _order_row(engine.catalog, 7)
    ev = payloads_from_rows(
        spark,
        [{"op": "UPDATE", "table": "orders", "old": {"o_orderkey": 7},
          "new": dict(row, o_orderpriority="X"), "txid": 1}],
    )
    with pytest.raises(RuntimeError, match="consumer down"):
        engine.process_batch(ev)
