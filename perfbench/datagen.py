"""Seeded inputs for the benchmark: the base tables and the CDC streams.

Everything here is a pure function of its seed, so two runs with the same
``--seed`` feed the program identical inputs. The tables follow the shape
of the package's TPC-H-like test data (same names, columns and parquet
types), generated with NumPy and written with pyarrow; nothing is read
from outside the output directory.

The CDC generator keeps its own picture of the live rows so every batch
is distinct: transaction ids only grow, INSERT keys are fresh, DELETEs
hit rows that still exist, and UPDATE old images name live rows. Events
are plain dicts with typed values; ``replay`` applies them to the tables
independently of the generator, which is what the correctness checks
compare the engine against.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLORS = ["red", "blue", "green", "small", "large", "steel", "brass", "shiny"]
NOUNS = ["ring", "widget", "bolt", "gear", "plate", "valve", "spring"]
PTYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"]
# the corpus vocabulary of the package's documents table; the registry's
# fixed BM25 query terms ("spark", "vector", "query") are all in it
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window join small customer query order data column "
    "big stream filter group vector"
).split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
EMB_DIM = 64
EPOCH = dt.datetime(1992, 1, 1)

# primary keys of the tables the orders_full tree reads (catalog.TPCH_TABLES)
PKS = {
    "orders": ("o_orderkey",),
    "customer": ("c_custkey",),
    "nation": ("n_nationkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
}

SCHEMAS = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [
        ("n_nationkey", pa.int32()),
        ("n_name", pa.string()),
        ("n_regionkey", pa.int32()),
    ],
    "customer": [
        ("c_custkey", pa.int64()),
        ("c_name", pa.string()),
        ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
    ],
    "supplier": [
        ("s_suppkey", pa.int64()),
        ("s_name", pa.string()),
        ("s_nationkey", pa.int32()),
        ("s_acctbal", pa.float64()),
    ],
    "part": [
        ("p_partkey", pa.int64()),
        ("p_name", pa.string()),
        ("p_brand", pa.string()),
        ("p_type", pa.string()),
        ("p_size", pa.int32()),
        ("p_retailprice", pa.float64()),
    ],
    "orders": [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ],
    "lineitem": [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ],
    "documents": [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ],
    "embeddings": [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ],
}


def _money(rng, lo, hi, n):
    return [round(float(v), 2) for v in rng.uniform(lo, hi, n)]


def _dates(rng, n, days=3650):
    return [EPOCH + dt.timedelta(days=int(d)) for d in rng.integers(0, days, n)]


def doc_text(rng, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def unit_vectors(rng, n: int) -> np.ndarray:
    v = rng.normal(size=(n, EMB_DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def make_tables(seed: int, orders: int, documents: int, vectors: int) -> dict:
    """Base tables as {name: list of row dicts}. ``orders`` sets the
    TPC-H-like scale (customer = orders/10, part = orders*2/15,
    supplier = orders/150, 1-7 lineitems per order)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, orders // 10)
    n_part = max(20, orders * 2 // 15)
    n_supp = max(5, orders // 150)
    t: dict[str, list[dict]] = {}
    t["region"] = [{"r_regionkey": i, "r_name": r} for i, r in enumerate(REGIONS)]
    t["nation"] = [
        {"n_nationkey": i, "n_name": f"NATION_{i}", "n_regionkey": i % 5}
        for i in range(25)
    ]
    nk = rng.integers(0, 25, n_cust)
    t["customer"] = [
        {
            "c_custkey": i,
            "c_name": f"Customer#{i:09d}",
            "c_nationkey": int(nk[i]),
            "c_acctbal": b,
            "c_mktsegment": SEGMENTS[int(s)],
        }
        for i, (b, s) in enumerate(
            zip(_money(rng, -999.99, 9999.99, n_cust), rng.integers(0, 5, n_cust))
        )
    ]
    sn = rng.integers(0, 25, n_supp)
    t["supplier"] = [
        {
            "s_suppkey": i,
            "s_name": f"Supplier#{i:09d}",
            "s_nationkey": int(sn[i]),
            "s_acctbal": b,
        }
        for i, b in enumerate(_money(rng, -999.99, 9999.99, n_supp))
    ]
    t["part"] = [
        {
            "p_partkey": i,
            "p_name": f"{COLORS[int(c)]} {NOUNS[int(w)]}",
            "p_brand": f"Brand#{int(b)}",
            "p_type": PTYPES[int(ty)],
            "p_size": int(sz),
            "p_retailprice": round(900.0 + (i % 1000) / 10, 2),
        }
        for i, c, w, b, ty, sz in zip(
            range(n_part),
            rng.integers(0, len(COLORS), n_part),
            rng.integers(0, len(NOUNS), n_part),
            rng.integers(1, 26, n_part),
            rng.integers(0, len(PTYPES), n_part),
            rng.integers(1, 51, n_part),
        )
    ]
    t["orders"] = [
        make_order(rng, i, n_cust) for i in range(orders)
    ]
    t["lineitem"] = [
        li
        for o in range(orders)
        for li in make_lineitems(rng, o, int(rng.integers(1, 8)), n_part, n_supp)
    ]
    docs = []
    for i in range(documents):
        # every 10th document is a near-duplicate of an earlier one, so
        # the dedup queries have pairs to find
        if i >= 10 and i % 10 == 0:
            words = docs[int(rng.integers(0, i))]["text"].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            text = " ".join(words)
        else:
            text = doc_text(rng, int(rng.integers(10, 90)))
        docs.append(
            {
                "doc_id": i,
                "text": text,
                "lang": LANGS[int(rng.integers(0, len(LANGS)))],
                "source": f"src{i % 20}",
                "n_chars": len(text),
            }
        )
    t["documents"] = docs
    vecs = unit_vectors(rng, vectors)
    labels = rng.integers(0, 10, vectors)
    t["embeddings"] = [
        {"vec_id": i, "embedding": vecs[i].tolist(), "label": int(labels[i])}
        for i in range(vectors)
    ]
    return t


def make_order(rng, key: int, n_cust: int) -> dict:
    return {
        "o_orderkey": key,
        "o_custkey": int(rng.integers(0, n_cust)),
        "o_orderstatus": "FOP"[int(rng.integers(0, 3))],
        "o_totalprice": _money(rng, 1000, 500000, 1)[0],
        "o_orderdate": _dates(rng, 1)[0],
        "o_orderpriority": PRIORITIES[int(rng.integers(0, 5))],
    }


def make_lineitems(rng, okey: int, n: int, n_part: int, n_supp: int) -> list[dict]:
    out = []
    for ln in range(1, n + 1):
        qty = float(rng.integers(1, 51))
        out.append(
            {
                "l_orderkey": okey,
                "l_partkey": int(rng.integers(0, n_part)),
                "l_suppkey": int(rng.integers(0, n_supp)),
                "l_linenumber": ln,
                "l_quantity": qty,
                "l_extendedprice": round(qty * float(rng.uniform(900, 2000)), 2),
                "l_discount": round(float(rng.integers(0, 11)) / 100, 2),
                "l_tax": round(float(rng.integers(0, 9)) / 100, 2),
                "l_returnflag": "ANR"[int(rng.integers(0, 3))],
                "l_linestatus": "OF"[int(rng.integers(0, 2))],
                "l_shipdate": _dates(rng, 1)[0],
            }
        )
    return out


def write_tables(tables: dict, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, rows in tables.items():
        schema = pa.schema(SCHEMAS[name])
        cols = {f.name: [r[f.name] for r in rows] for f in schema}
        pq.write_table(pa.table(cols, schema=schema), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ---------------------------------------------------------------------------
# CDC streams for the orders_full tree
# ---------------------------------------------------------------------------


def _key(table: str, row: dict) -> tuple:
    return tuple(row[c] for c in PKS[table])


class CdcGenerator:
    """Distinct mixed CDC batches over orders / customer / nation /
    lineitem. Each call to ``batch`` returns the next batch, with
    transaction ids that keep growing across calls."""

    def __init__(self, seed: int, tables: dict):
        self.rng = np.random.default_rng([seed, 2])
        self.live = {t: {_key(t, r): dict(r) for r in tables[t]} for t in PKS}
        self.n_cust = len(tables["customer"])
        self.n_part = len(tables["part"])
        self.n_supp = len(tables["supplier"])
        self.next_order = max(self.live["orders"])[0] + 1
        self.txid = 1
        self.renames = 0

    def _pick(self, table: str, n: int) -> list[tuple]:
        keys = sorted(self.live[table])
        idx = self.rng.choice(len(keys), size=min(n, len(keys)), replace=False)
        return [keys[int(i)] for i in idx]

    def _emit(self, out, op, table, old=None, new=None):
        out.append({"op": op, "table": table, "old": old, "new": new, "txid": self.txid})
        self.txid += 1

    def batch(self, inserts: int, updates: int, deletes: int, customers: int,
              lineitems: int, nations: int) -> list[dict]:
        out: list[dict] = []
        rng = self.rng
        # UPDATE and DELETE targets are drawn before this batch's inserts
        # and are disjoint, so no event in a batch names a row another
        # event of the same batch removed
        targets = self._pick("orders", updates + deletes)
        for k in targets[:updates]:
            row = dict(self.live["orders"][k])
            row["o_orderpriority"] = PRIORITIES[int(rng.integers(0, 5))]
            row["o_totalprice"] = _money(rng, 1000, 500000, 1)[0]
            self.live["orders"][k] = row
            self._emit(out, "UPDATE", "orders", {"o_orderkey": k[0]}, row)
        for k in targets[updates:]:
            del self.live["orders"][k]
            self._emit(out, "DELETE", "orders", {"o_orderkey": k[0]})
            # the order's lines go with it, as a cascading FK delete would
            for ln in range(1, 8):
                if self.live["lineitem"].pop((k[0], ln), None) is not None:
                    self._emit(
                        out, "DELETE", "lineitem",
                        {"l_orderkey": k[0], "l_linenumber": ln},
                    )
        for _ in range(inserts):
            key = self.next_order
            self.next_order += 1
            row = make_order(rng, key, self.n_cust)
            self.live["orders"][(key,)] = row
            self._emit(out, "INSERT", "orders", None, row)
            for li in make_lineitems(rng, key, int(rng.integers(1, 5)), self.n_part, self.n_supp):
                self.live["lineitem"][_key("lineitem", li)] = li
                self._emit(out, "INSERT", "lineitem", None, li)
        for k in self._pick("customer", customers):
            row = dict(self.live["customer"][k])
            row["c_name"] = f"Customer#{k[0]:09d}v{self.txid}"
            row["c_acctbal"] = _money(rng, -999.99, 9999.99, 1)[0]
            self.live["customer"][k] = row
            self._emit(out, "UPDATE", "customer", {"c_custkey": k[0]}, row)
        for k in self._pick("lineitem", lineitems):
            row = dict(self.live["lineitem"][k])
            row["l_quantity"] = float(rng.integers(1, 51))
            row["l_discount"] = round(float(rng.integers(0, 11)) / 100, 2)
            self.live["lineitem"][k] = row
            self._emit(
                out, "UPDATE", "lineitem",
                {"l_orderkey": k[0], "l_linenumber": k[1]}, row,
            )
        for k in self._pick("nation", nations):
            self.renames += 1
            row = dict(self.live["nation"][k], n_name=f"NATION_{k[0]}_R{self.renames}")
            self.live["nation"][k] = row
            self._emit(out, "UPDATE", "nation", {"n_nationkey": k[0]}, row)
        return out


def _wire(v) -> str:
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


def to_payload(event: dict) -> dict:
    """One event in the engine's CDC_SCHEMA wire form: old/new images as
    string maps, as logical decoding delivers them."""
    return {
        "op": event["op"],
        "schema": "public",
        "table": event["table"],
        "old": {k: _wire(v) for k, v in (event["old"] or {}).items()},
        "new": {k: _wire(v) for k, v in (event["new"] or {}).items()},
        "txid": event["txid"],
    }


def write_event_file(events: list[dict], path: str) -> None:
    """Write one batch as a JSON-lines file, atomically (a file stream
    source must never see a half-written file)."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        for e in events:
            f.write(json.dumps(to_payload(e)) + "\n")
    os.replace(tmp, path)


def replay(tables: dict, events: list[dict]) -> dict:
    """Apply events in txid order to copies of ``tables`` (pk-keyed, last
    writer wins) and return the final tables — the reference state the
    engine's doc store is checked against."""
    state = {t: {_key(t, r): r for r in tables[t]} for t in PKS}
    for e in sorted(events, key=lambda e: e["txid"]):
        t = e["table"]
        if e["op"] in ("UPDATE", "DELETE"):
            state[t].pop(tuple(e["old"][c] for c in PKS[t]), None)
        if e["op"] in ("INSERT", "UPDATE"):
            state[t][_key(t, e["new"])] = dict(e["new"])
    out = dict(tables)
    for t in PKS:
        out[t] = [state[t][k] for k in sorted(state[t])]
    return out
