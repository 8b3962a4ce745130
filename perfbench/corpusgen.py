"""Seeded generator of the corpus tables the headline queries read.

Same table names, columns and types as the TPC-H-ish test data that
TESTDATA.md describes (a star schema, an `events` stream, `documents` and
`embeddings`), with row counts proportional to `sf`. At sf 0.01 it
matches the profile of the repository's sf0.01 test data (see README.md
in this directory):

- row counts: 1,500 customers, 100 suppliers, 2,000 parts, 15,000
  orders, 60,000 lineitems, 10,000 events from 150 users over 30 days,
  500 documents and 500 embeddings;
- documents: 10-99 words drawn uniformly from a 30-word vocabulary;
  about one in twenty is another document with " dup" appended; the
  language (3/7 "en", 1/7 each "de", "es", "fr", "zh") is independent
  of the text; sources cycle through 20 names;
- embeddings: 64-dim isotropic Gaussian vectors scaled to unit length,
  with a label 0-9 drawn independently of the vector.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark line "
    "sort window order data column join small big customer query filter group stream vector"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "old", "cold", "hot", "new", "large", "small", "blue"]
PART_NOUN = ["bolt", "plate", "widget", "gear", "ring", "anvil", "rod", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EMB_DIM = 64
DUP_SHARE = 0.05
DAY0 = dt.datetime(1995, 1, 1)
TS0 = dt.datetime(2024, 1, 1)


def _write(out: Path, name: str, cols: dict[str, tuple[pa.DataType, list]]) -> None:
    table = pa.table({k: pa.array(v, type=t) for k, (t, v) in cols.items()})
    pq.write_table(table, out / f"{name}.parquet")


def generate(out: Path, seed: int, sf: float = 0.01) -> None:
    out.mkdir(parents=True, exist_ok=True)
    r = random.Random(seed)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = max(50, int(50_000 * sf))

    _write(out, "region", {"r_regionkey": (i32, list(range(5))),
                           "r_name": (s, ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out, "nation", {"n_nationkey": (i32, list(range(25))),
                           "n_name": (s, [f"NATION_{i}" for i in range(25)]),
                           "n_regionkey": (i32, [i % 5 for i in range(25)])})

    def money(lo, hi):
        return round(r.uniform(lo, hi), 2)

    _write(out, "customer", {
        "c_custkey": (i64, list(range(n_cust))),
        "c_name": (s, [f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": (i32, [r.randrange(25) for _ in range(n_cust)]),
        "c_acctbal": (f64, [money(-999.99, 9999.99) for _ in range(n_cust)]),
        "c_mktsegment": (s, [r.choice(SEGMENTS) for _ in range(n_cust)]),
    })
    _write(out, "supplier", {
        "s_suppkey": (i64, list(range(n_supp))),
        "s_name": (s, [f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": (i32, [r.randrange(25) for _ in range(n_supp)]),
        "s_acctbal": (f64, [money(-999.99, 9999.99) for _ in range(n_supp)]),
    })
    _write(out, "part", {
        "p_partkey": (i64, list(range(n_part))),
        "p_name": (s, [f"{r.choice(PART_ADJ)} {r.choice(PART_NOUN)}" for _ in range(n_part)]),
        "p_brand": (s, [f"Brand#{r.randint(1, 25)}" for _ in range(n_part)]),
        "p_type": (s, [r.choice(PART_TYPES) for _ in range(n_part)]),
        "p_size": (i32, [r.randint(1, 50) for _ in range(n_part)]),
        "p_retailprice": (f64, [round(900 + (i % 1000) / 10, 2) for i in range(n_part)]),
    })
    _write(out, "orders", {
        "o_orderkey": (i64, list(range(n_ord))),
        "o_custkey": (i64, [r.randrange(n_cust) for _ in range(n_ord)]),
        "o_orderstatus": (s, [r.choice("FOP") for _ in range(n_ord)]),
        "o_totalprice": (f64, [money(1000, 500000) for _ in range(n_ord)]),
        "o_orderdate": (ts, [DAY0 + dt.timedelta(days=r.randrange(2405)) for _ in range(n_ord)]),
        "o_orderpriority": (s, [r.choice(PRIORITIES) for _ in range(n_ord)]),
    })
    li = {k: [] for k in ("ok", "pk", "sk", "ln", "q", "ep", "d", "t", "rf", "ls", "sd")}
    lines = {}
    for _ in range(n_li):
        o = r.randrange(n_ord)
        lines[o] = lines.get(o, 0) + 1
        q = float(r.randint(1, 50))
        li["ok"].append(o)
        li["pk"].append(r.randrange(n_part))
        li["sk"].append(r.randrange(n_supp))
        li["ln"].append(min(lines[o], 7))
        li["q"].append(q)
        li["ep"].append(round(q * r.uniform(900, 2100), 2))
        li["d"].append(r.randint(0, 10) / 100)
        li["t"].append(r.randint(0, 8) / 100)
        li["rf"].append(r.choice("ANR"))
        li["ls"].append(r.choice("FO"))
        li["sd"].append(DAY0 + dt.timedelta(days=1 + r.randrange(2500)))
    _write(out, "lineitem", {
        "l_orderkey": (i64, li["ok"]), "l_partkey": (i64, li["pk"]),
        "l_suppkey": (i64, li["sk"]), "l_linenumber": (i32, li["ln"]),
        "l_quantity": (f64, li["q"]), "l_extendedprice": (f64, li["ep"]),
        "l_discount": (f64, li["d"]), "l_tax": (f64, li["t"]),
        "l_returnflag": (s, li["rf"]), "l_linestatus": (s, li["ls"]),
        "l_shipdate": (ts, li["sd"]),
    })
    n_users = max(10, n_ev * 3 // 200)
    t, ev_ts = 0.0, []
    for _ in range(n_ev):
        t += r.expovariate(n_ev / (30 * 86400))
        ev_ts.append(TS0 + dt.timedelta(microseconds=int(t * 1e6)))
    _write(out, "events", {
        "event_id": (i64, list(range(n_ev))),
        "ts": (ts, ev_ts),
        "user_id": (i64, [r.randrange(n_users) for _ in range(n_ev)]),
        "event_type": (s, [r.choice(EVENT_TYPES) for _ in range(n_ev)]),
        "value": (f64, [round(r.expovariate(1 / 50), 2) + 0.01 for _ in range(n_ev)]),
        "props": (s, [json.dumps({"k": r.randrange(100)}) for _ in range(n_ev)]),
    })
    texts = [" ".join(r.choice(VOCAB) for _ in range(r.randrange(10, 100))) for _ in range(n_doc)]
    for i in range(n_doc):
        if r.random() < DUP_SHARE:
            texts[i] = texts[r.randrange(n_doc)] + " dup"
    _write(out, "documents", {
        "doc_id": (i64, list(range(n_doc))),
        "text": (s, texts),
        "lang": (s, [r.choice(LANGS) for _ in range(n_doc)]),
        "source": (s, [f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": (i64, [len(x) for x in texts]),
    })
    vecs = []
    for _ in range(n_doc):
        v = [r.gauss(0, 1) for _ in range(EMB_DIM)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    _write(out, "embeddings", {
        "vec_id": (i64, list(range(n_doc))),
        "embedding": (pa.list_(pa.float32()), vecs),
        "label": (i32, [r.randrange(10) for _ in range(n_doc)]),
    })
