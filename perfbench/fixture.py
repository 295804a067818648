"""Seeded generator of the query_mix fixture.

Writes the ten tables of the engine's parquet test data (TPC-H-ish star,
`events`, `documents`, `embeddings`) with the same column names and types,
every value drawn from `random.Random(seed)`. Each table is a directory
holding one parquet part file, as Spark writes it; timestamps are naive
microseconds, which Spark reads as TIMESTAMP_NTZ and DuckDB as TIMESTAMP.

Planted structure keeps the dedup and clustering queries non-trivial, as on
the shipped fixtures: every 500th document repeats its predecessor, every
250th is a one-token edit of a long predecessor, and every 400th vector is
its predecessor plus small noise.
"""
import datetime
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark batch line column order small sort fast value scan hash slow "
         "group query table vector part agg stream filter customer key window "
         "join the a g shuffle broadcast codegen parquet schema plan stage "
         "task executor driver merge bucket skew big data row").split()
LANGS = ("en", "en", "en", "en", "zh", "es", "fr", "de")
EPOCH = datetime.datetime(1970, 1, 1)


def _day(base, days):
    return base + datetime.timedelta(days=days)


def tables(seed, sf):
    """Table name -> pyarrow table; lineitem has 6,000,000 x sf rows."""
    rnd = random.Random(seed)
    n_cust = round(150000 * sf)
    n_supp = max(10, round(10000 * sf))
    n_part = round(200000 * sf)
    n_orders = round(1500000 * sf)
    n_line = round(6000000 * sf)
    n_events = round(1000000 * sf)
    n_docs = 5000 if sf >= 0.1 else 500
    n_vecs = 2000 if sf >= 0.1 else 500
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    out = {}

    def table(name, cols):
        out[name] = pa.table({c: pa.array(v, type=t) for c, (t, v) in
                              cols.items()})

    def money(lo, cents):
        return [round(lo + rnd.randrange(cents) / 100.0, 2) for _ in range(n)]

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    table("region", {"r_regionkey": (i32, list(range(5))),
                     "r_name": (s, regions)})
    table("nation", {"n_nationkey": (i32, list(range(25))),
                     "n_name": (s, [f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": (i32, [i % 5 for i in range(25)])})
    n = n_cust
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                "MACHINERY"]
    table("customer", {
        "c_custkey": (i64, list(range(n))),
        "c_name": (s, [f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": (i32, [rnd.randrange(25) for _ in range(n)]),
        "c_acctbal": (f64, money(-1000.0, 1100000)),
        "c_mktsegment": (s, [rnd.choice(segments) for _ in range(n)])})
    n = n_supp
    table("supplier", {
        "s_suppkey": (i64, list(range(n))),
        "s_name": (s, [f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": (i32, [rnd.randrange(25) for _ in range(n)]),
        "s_acctbal": (f64, money(-1000.0, 1100000))})
    n = n_part
    adjs = ["blue", "red", "old", "new", "hot", "cold", "large", "small"]
    nouns = ["ring", "bolt", "case", "drum", "plate"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    table("part", {
        "p_partkey": (i64, list(range(n))),
        "p_name": (s, [f"{rnd.choice(adjs)} {rnd.choice(nouns)}"
                       for _ in range(n)]),
        "p_brand": (s, [f"Brand#{rnd.randrange(20)}" for _ in range(n)]),
        "p_type": (s, [rnd.choice(types) for _ in range(n)]),
        "p_size": (i32, [rnd.randint(1, 50) for _ in range(n)]),
        "p_retailprice": (f64, money(900.0, 9990))})
    n = n_orders
    d0 = datetime.datetime(1992, 1, 1)
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    table("orders", {
        "o_orderkey": (i64, list(range(n))),
        "o_custkey": (i64, [rnd.randrange(n_cust) for _ in range(n)]),
        "o_orderstatus": (s, [rnd.choice("FOP") for _ in range(n)]),
        "o_totalprice": (f64, money(1000.0, 49900000)),
        "o_orderdate": (ts, [_day(d0, rnd.randrange(2400)) for _ in range(n)]),
        "o_orderpriority": (s, [rnd.choice(prio) for _ in range(n)])})
    n = n_line
    table("lineitem", {
        "l_orderkey": (i64, [rnd.randrange(n_orders) for _ in range(n)]),
        "l_partkey": (i64, [rnd.randrange(n_part) for _ in range(n)]),
        "l_suppkey": (i64, [rnd.randrange(n_supp) for _ in range(n)]),
        "l_linenumber": (i32, [rnd.randint(1, 7) for _ in range(n)]),
        "l_quantity": (f64, [float(rnd.randint(1, 50)) for _ in range(n)]),
        "l_extendedprice": (f64, money(900.0, 10410000)),
        "l_discount": (f64, [rnd.randint(0, 10) / 100.0 for _ in range(n)]),
        "l_tax": (f64, [rnd.randint(0, 8) / 100.0 for _ in range(n)]),
        "l_returnflag": (s, [rnd.choice("ANR") for _ in range(n)]),
        "l_linestatus": (s, [rnd.choice("FO") for _ in range(n)]),
        "l_shipdate": (ts, [_day(d0, rnd.randrange(3650)) for _ in range(n)])})

    n = n_events
    e0 = datetime.datetime(2024, 1, 1)
    month_us = 30 * 24 * 3600 * 1000000
    users = max(1, n // 66)
    kinds = ["signup", "purchase", "view", "click", "error"]
    table("events", {
        "event_id": (i64, list(range(n))),
        "ts": (ts, sorted(e0 + datetime.timedelta(
            microseconds=rnd.randrange(month_us)) for _ in range(n))),
        "user_id": (i64, [rnd.randrange(users) for _ in range(n)]),
        "event_type": (s, [rnd.choice(kinds) for _ in range(n)]),
        "value": (f64, [round(rnd.random() * 560.0, 2) for _ in range(n)]),
        "props": (s, ['{"k": %d}' % rnd.randrange(100) for _ in range(n)])})

    texts = []
    for i in range(n_docs):
        if i % 500 == 1:
            texts.append(texts[i - 1])
        elif i % 250 == 1:
            toks = texts[i - 1].split(" ")
            toks[len(toks) // 2] = "mutated"
            texts.append(" ".join(toks))
        else:
            k = (80 if (i + 1) % 250 == 1 else 20) + rnd.randrange(60)
            texts.append(" ".join(rnd.choice(VOCAB) for _ in range(k)))
    table("documents", {
        "doc_id": (i64, list(range(n_docs))),
        "text": (s, texts),
        "lang": (s, [rnd.choice(LANGS) for _ in range(n_docs)]),
        "source": (s, [f"src{rnd.randrange(20)}" for _ in range(n_docs)]),
        "n_chars": (i64, [len(t) for t in texts])})

    vecs = []
    for i in range(n_vecs):
        if i % 400 == 1:
            vecs.append([x + rnd.gauss(0, 0.002) for x in vecs[i - 1]])
        else:
            vecs.append([rnd.gauss(0, 0.125) for _ in range(64)])
    table("embeddings", {
        "vec_id": (i64, list(range(n_vecs))),
        "embedding": (pa.list_(pa.float32()), vecs),
        "label": (i32, [rnd.randrange(10) for _ in range(n_vecs)])})
    return out, {"documents.maxId": n_docs - 1, "embeddings.maxId": n_vecs - 1}


def write(out_dir, seed, sf):
    """Writes the fixture under `out_dir`, plus the boundary constants the
    engine's table loaders read (`graft_fixture.properties`)."""
    ts, meta = tables(seed, sf)
    for name, t in ts.items():
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        pq.write_table(t, os.path.join(d, "part-00000.parquet"))
    with open(os.path.join(out_dir, "graft_fixture.properties"), "w") as f:
        for k, v in sorted(meta.items()):
            f.write(f"{k}={v}\n")
