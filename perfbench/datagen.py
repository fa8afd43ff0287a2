"""Seeded input generator for the benchmark.

Writes the ten tables the graft queries read (the TPC-H-ish star schema,
`events`, `documents`, `embeddings`) as parquet, with the same column
names, parquet types and value grids as the repo's synthetic testdata:
2-decimal money, integral quantities, whole-day dates, unit-norm 64-dim
float embeddings. The same seed always gives the same tables.

The curation corpus is a base corpus plus K-1 copies. Copy i rewrites
every word of the base text through a vocabulary permutation drawn from
the seed; each permutation is checked to be non-identity and distinct
from every other copy's, so copies are new texts with the base's
statistics, not rotations that could fold back onto the base. Copy i of
an embedding is the base vector plus seeded gaussian noise, renormalised.

Output is cached per (workload, seed, sizes) under the caller's cache
directory; a finished table set is marked by a `_DONE` file.
"""
import datetime as dt
import hashlib
import json
import math
import os
import random
import shutil

import duckdb
import pandas as pd

VOCAB = ("a the data table row column key value part line order customer "
         "join hash merge sort group agg filter scan window stream batch "
         "spark query vector big small fast slow").split()
DUP_WORD = "dup"
LANGS = ["en", "en", "en", "en", "zh", "de", "fr", "es"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64
LABELS = 10

EPOCH = dt.datetime(1970, 1, 1)


def _days(y, m, d):
    return (dt.datetime(y, m, d) - EPOCH).days


ORDER_DAYS = (_days(1995, 1, 1), _days(2001, 8, 1))
SHIP_DAYS = (_days(1995, 1, 2), _days(2001, 11, 4))
EVENT_T0_US = (dt.datetime(2024, 1, 1) - EPOCH).days * 86_400_000_000
EVENT_SPAN_US = 30 * 86_400_000_000


def _money(rng, lo, hi):
    return round(rng.uniform(lo, hi), 2)


def _write(con, frame, path, select):
    """Write `frame` through a typed SELECT so parquet types are pinned."""
    con.register("src", frame)
    con.execute(f"COPY (SELECT {select} FROM src) TO '{path}' (FORMAT PARQUET)")
    con.unregister("src")


def _star(con, out, rng, sizes):
    n_cust, n_supp, n_part = sizes["customer"], sizes["supplier"], sizes["part"]
    n_ord, n_li = sizes["orders"], sizes["lineitem"]
    _write(con, pd.DataFrame({"k": range(5), "n": REGIONS}),
           f"{out}/region.parquet",
           "CAST(k AS INTEGER) AS r_regionkey, n AS r_name")
    _write(con, pd.DataFrame({"k": range(25)}), f"{out}/nation.parquet",
           "CAST(k AS INTEGER) AS n_nationkey, 'NATION_' || k AS n_name, "
           "CAST(k % 5 AS INTEGER) AS n_regionkey")
    _write(con, pd.DataFrame({
        "k": range(n_cust),
        "nk": [rng.randrange(25) for _ in range(n_cust)],
        "bal": [_money(rng, -999.99, 9999.99) for _ in range(n_cust)],
        "seg": [rng.choice(SEGMENTS) for _ in range(n_cust)],
    }), f"{out}/customer.parquet",
        "CAST(k AS BIGINT) AS c_custkey, 'Customer#' || lpad(k::VARCHAR, 9, '0') AS c_name, "
        "CAST(nk AS INTEGER) AS c_nationkey, CAST(bal AS DOUBLE) AS c_acctbal, "
        "seg AS c_mktsegment")
    _write(con, pd.DataFrame({
        "k": range(n_supp),
        "nk": [rng.randrange(25) for _ in range(n_supp)],
        "bal": [_money(rng, -999.99, 9999.99) for _ in range(n_supp)],
    }), f"{out}/supplier.parquet",
        "CAST(k AS BIGINT) AS s_suppkey, 'Supplier#' || lpad(k::VARCHAR, 9, '0') AS s_name, "
        "CAST(nk AS INTEGER) AS s_nationkey, CAST(bal AS DOUBLE) AS s_acctbal")
    _write(con, pd.DataFrame({
        "k": range(n_part),
        "name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)],
        "brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n_part)],
        "type": [rng.choice(PART_TYPES) for _ in range(n_part)],
        "size": [rng.randrange(1, 51) for _ in range(n_part)],
        "price": [round(900 + (k % 1000) / 10, 1) for k in range(n_part)],
    }), f"{out}/part.parquet",
        "CAST(k AS BIGINT) AS p_partkey, name AS p_name, brand AS p_brand, "
        "type AS p_type, CAST(size AS INTEGER) AS p_size, "
        "CAST(price AS DOUBLE) AS p_retailprice")
    _write(con, pd.DataFrame({
        "k": range(n_ord),
        "cust": [rng.randrange(n_cust) for _ in range(n_ord)],
        "status": [rng.choice("FOP") for _ in range(n_ord)],
        "total": [_money(rng, 1000, 500000) for _ in range(n_ord)],
        "day": [rng.randint(*ORDER_DAYS) for _ in range(n_ord)],
        "prio": [rng.choice(PRIORITIES) for _ in range(n_ord)],
    }), f"{out}/orders.parquet",
        "CAST(k AS BIGINT) AS o_orderkey, CAST(cust AS BIGINT) AS o_custkey, "
        "status AS o_orderstatus, CAST(total AS DOUBLE) AS o_totalprice, "
        "CAST(TIMESTAMP '1970-01-01' + to_days(CAST(day AS INTEGER)) AS TIMESTAMP) AS o_orderdate, "
        "prio AS o_orderpriority")
    _write(con, pd.DataFrame({
        "ok": [rng.randrange(n_ord) for _ in range(n_li)],
        "pk": [rng.randrange(n_part) for _ in range(n_li)],
        "sk": [rng.randrange(n_supp) for _ in range(n_li)],
        "ln": [rng.randint(1, 7) for _ in range(n_li)],
        "qty": [float(rng.randint(1, 50)) for _ in range(n_li)],
        "price": [_money(rng, 900, 105000) for _ in range(n_li)],
        "disc": [rng.randint(0, 10) / 100 for _ in range(n_li)],
        "tax": [rng.randint(0, 8) / 100 for _ in range(n_li)],
        "rf": [rng.choice("ANR") for _ in range(n_li)],
        "ls": [rng.choice("FO") for _ in range(n_li)],
        "day": [rng.randint(*SHIP_DAYS) for _ in range(n_li)],
    }), f"{out}/lineitem.parquet",
        "CAST(ok AS BIGINT) AS l_orderkey, CAST(pk AS BIGINT) AS l_partkey, "
        "CAST(sk AS BIGINT) AS l_suppkey, CAST(ln AS INTEGER) AS l_linenumber, "
        "CAST(qty AS DOUBLE) AS l_quantity, CAST(price AS DOUBLE) AS l_extendedprice, "
        "CAST(disc AS DOUBLE) AS l_discount, CAST(tax AS DOUBLE) AS l_tax, "
        "rf AS l_returnflag, ls AS l_linestatus, "
        "CAST(TIMESTAMP '1970-01-01' + to_days(CAST(day AS INTEGER)) AS TIMESTAMP) AS l_shipdate")


def _events(con, out, rng, n, users):
    ts = sorted(rng.randrange(EVENT_SPAN_US) for _ in range(n))
    _write(con, pd.DataFrame({
        "k": range(n),
        "us": [EVENT_T0_US + t for t in ts],
        "u": [rng.randrange(users) for _ in range(n)],
        "et": [rng.choice(EVENT_TYPES) for _ in range(n)],
        "v": [max(0.01, round(rng.expovariate(1 / 50), 2)) for _ in range(n)],
        "p": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n)],
    }), f"{out}/events.parquet",
        "CAST(k AS BIGINT) AS event_id, make_timestamp(CAST(us AS BIGINT)) AS ts, "
        "CAST(u AS BIGINT) AS user_id, et AS event_type, CAST(v AS DOUBLE) AS value, "
        "p AS props")


def vocab_permutations(rng, copies):
    """One permutation of VOCAB per copy after the first; each is checked
    non-identity and distinct from the others (and from the base)."""
    seen = {tuple(range(len(VOCAB)))}
    perms = []
    while len(perms) < copies - 1:
        p = list(range(len(VOCAB)))
        rng.shuffle(p)
        if tuple(p) not in seen:
            seen.add(tuple(p))
            perms.append(p)
    assert all(p != list(range(len(VOCAB))) for p in perms), "identity permutation"
    assert len({tuple(p) for p in perms}) == len(perms), "repeated permutation"
    return [{VOCAB[i]: VOCAB[j] for i, j in enumerate(p)} for p in perms]


def _corpus(con, out, rng, base_docs, base_vecs, copies):
    texts, langs = [], []
    for _ in range(base_docs):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(10, 99))]
        if rng.random() < 0.05:
            words += [DUP_WORD] * rng.randint(1, 2)
        texts.append(" ".join(words))
        langs.append(rng.choice(LANGS))
    maps = vocab_permutations(rng, copies)
    all_texts = list(texts)
    for m in maps:
        all_texts += [" ".join(m.get(w, w) for w in t.split(" ")) for t in texts]
    n_docs = len(all_texts)
    _write(con, pd.DataFrame({
        "k": range(n_docs),
        "t": all_texts,
        "lang": langs * copies,
    }), f"{out}/documents.parquet",
        "CAST(k AS BIGINT) AS doc_id, t AS text, lang, "
        "'src' || (k % 20) AS source, CAST(length(t) AS BIGINT) AS n_chars")

    centers = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(LABELS)]
    base, labels = [], []
    for _ in range(base_vecs):
        lab = rng.randrange(LABELS)
        base.append([c + rng.gauss(0, 1.5) for c in centers[lab]])
        labels.append(lab)
    vecs = []
    for c in range(copies):
        for v in base:
            w = v if c == 0 else [x + rng.gauss(0, 0.3) for x in v]
            norm = math.sqrt(sum(x * x for x in w))
            vecs.append([x / norm for x in w])
    _write(con, pd.DataFrame({
        "k": range(len(vecs)), "e": vecs, "lab": labels * copies,
    }), f"{out}/embeddings.parquet",
        "CAST(k AS BIGINT) AS vec_id, CAST(e AS FLOAT[]) AS embedding, "
        "CAST(lab AS INTEGER) AS label")


def generate(cache_dir, workload, seed, sizes):
    """Return the directory holding this (workload, seed, sizes) table set,
    generating it first if it is not cached."""
    key = hashlib.sha1(json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:10]
    out = os.path.join(cache_dir, f"{workload}-s{seed}-{key}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = random.Random(f"{workload}:{seed}")
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    _star(con, out, rng, sizes)
    _events(con, out, rng, sizes["events"], sizes["users"])
    _corpus(con, out, rng, sizes["base_docs"], sizes["base_vecs"], sizes["copies"])
    con.close()
    with open(os.path.join(out, "_DONE"), "w") as f:
        json.dump(sizes, f)
    return out
