"""Seeded input generators for the benchmark.

The same seed gives byte-identical inputs; the engine sees only the files
written here. Shapes follow the engine's test tables (TPC-H-like columns)
and a crawl-like `documents` corpus, scaled by `scale`.
"""
import json
import os
import random
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPEC", "5-LOW"]
COLORS = ["almond", "antique", "aquamarine", "azure", "beige", "bisque",
          "black", "blanched", "blue", "blush", "brown", "burlywood",
          "chartreuse", "chiffon", "chocolate", "coral", "cornflower", "cream"]
WORDS = ["batch", "part", "spark", "line", "column", "order", "small", "sort",
         "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
         "query", "big", "key", "window", "vector", "table", "stream", "join",
         "data", "customer", "the", "a", "dup", "index", "merge", "shard",
         "page", "crawl", "token", "model", "score", "rank"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
XSD_INT = "<http://www.w3.org/2001/XMLSchema#integer>"


def _write(path, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), path)


def _money(r, lo, hi):
    return round(lo + r.random() * (hi - lo), 2)


def tables(out, seed, scale):
    """region, nation, customer, supplier, part, orders as parquet."""
    r = random.Random(seed * 7919 + 1)
    n_cust = max(50, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(50, int(2000 * scale))
    n_ord = 4 * n_cust
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us", tz="UTC")
    _write(f"{out}/region.parquet",
           {"r_regionkey": list(range(5)), "r_name": [f"REGION_{i}" for i in range(5)]},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(f"{out}/nation.parquet",
           {"n_nationkey": list(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [r.randrange(5) for _ in range(25)]},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    ks = list(range(1, n_cust + 1))
    _write(f"{out}/customer.parquet",
           {"c_custkey": ks, "c_name": [f"Customer#{k:09d}" for k in ks],
            "c_nationkey": [r.randrange(25) for _ in ks],
            "c_acctbal": [_money(r, -999.99, 9999.99) for _ in ks],
            "c_mktsegment": [r.choice(SEGMENTS) for _ in ks]},
           pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                      ("c_acctbal", f64), ("c_mktsegment", s)]))
    ks = list(range(1, n_supp + 1))
    _write(f"{out}/supplier.parquet",
           {"s_suppkey": ks, "s_name": [f"Supplier#{k:09d}" for k in ks],
            "s_nationkey": [r.randrange(25) for _ in ks],
            "s_acctbal": [_money(r, -999.99, 9999.99) for _ in ks]},
           pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                      ("s_acctbal", f64)]))
    ks = list(range(1, n_part + 1))
    _write(f"{out}/part.parquet",
           {"p_partkey": ks,
            "p_name": [" ".join(r.choice(COLORS) for _ in range(3)) for _ in ks],
            "p_brand": [f"Brand#{r.randint(1, 5)}{r.randint(1, 5)}" for _ in ks],
            "p_type": [f"TYPE_{r.randrange(10)}" for _ in ks],
            "p_size": [r.randint(1, 50) for _ in ks],
            "p_retailprice": [_money(r, 900, 2000) for _ in ks]},
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                      ("p_size", i32), ("p_retailprice", f64)]))
    day0 = datetime(1992, 1, 1, tzinfo=timezone.utc)
    ks = list(range(1, n_ord + 1))
    _write(f"{out}/orders.parquet",
           {"o_orderkey": ks, "o_custkey": [r.randint(1, n_cust) for _ in ks],
            "o_orderstatus": [r.choice(STATUSES) for _ in ks],
            "o_totalprice": [_money(r, 800, 450000) for _ in ks],
            "o_orderdate": [day0 + timedelta(days=r.randrange(2400)) for _ in ks],
            "o_orderpriority": [r.choice(PRIORITIES) for _ in ks]},
           pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                      ("o_totalprice", f64), ("o_orderdate", ts),
                      ("o_orderpriority", s)]))
    return {"customers": n_cust, "orders": n_ord, "suppliers": n_supp, "parts": n_part}


def ntriples(out, seed, scale):
    """The durable probe's bulk input: 4 triples per order and 4 per line
    item (1-7 line items per order), as load.nt."""
    r = random.Random(seed * 104729 + 3)
    n_orders = max(200, int(4000 * scale))
    lines = []
    for k in range(1, n_orders + 1):
        o = f"<urn:o:{k}>"
        lines += [f'{o} <urn:p:o:key> "{k}"^^{XSD_INT} .',
                  f"{o} <urn:p:o:cust> <urn:c:{r.randint(1, n_orders // 4 + 1)}> .",
                  f'{o} <urn:p:o:status> "{r.choice(STATUSES)}" .',
                  f'{o} <urn:p:o:prio> "{r.choice(PRIORITIES)}" .']
        for ln in range(1, r.randint(1, 7) + 1):
            li = f"<urn:l:{k}_{ln}>"
            lines += [f"{li} <urn:p:l:order> {o} .",
                      f'{li} <urn:p:l:okey> "{k}"^^{XSD_INT} .',
                      f'{li} <urn:p:l:qty> "{r.randint(1, 50)}"^^{XSD_INT} .',
                      f'{li} <urn:p:l:flag> "{r.choice("ANR")}" .']
    with open(f"{out}/load.nt", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return {"orders": n_orders, "triples": len(lines)}


def documents(out, seed, scale, exact_share=0.05, near_share=0.05,
              boiler_share=0.3):
    """A crawl-like corpus with planted duplicates: an exact duplicate copies
    an earlier text verbatim, a near-duplicate copies one with one word
    replaced, and a share of documents starts with its host's boilerplate
    line. planted.json lists every planted pair as [duplicate id, source
    id, "exact" or "near"]."""
    r = random.Random(seed * 15485863 + 5)
    n = max(200, int(1000 * scale))
    texts, langs, srcs, pairs = [], [], [], []
    planted = {"documents": n, "exact_dups": 0, "near_dups": 0, "boilerplate": 0}
    for i in range(n):
        u = r.random()
        src = r.randrange(20)
        if i > 10 and u < exact_share:
            planted["exact_dups"] += 1
            j = r.randrange(i)
            pairs.append([i, j, "exact"])
            text = texts[j]
        elif i > 10 and u < exact_share + near_share:
            planted["near_dups"] += 1
            j = r.randrange(i)
            pairs.append([i, j, "near"])
            ws = texts[j].split(" ")
            ws[r.randrange(len(ws))] = f"w{r.randrange(1 << 20)}"
            text = " ".join(ws)
        else:
            text = " ".join(r.choice(WORDS) for _ in range(12 + r.randrange(48)))
            if r.random() < boiler_share:
                planted["boilerplate"] += 1
                text = f"copyright src{src} all rights reserved\n{text}"
        texts.append(text)
        langs.append(r.choice(LANGS))
        srcs.append(f"src{src}")
    _write(f"{out}/documents.parquet",
           {"doc_id": list(range(n)), "text": texts, "lang": langs, "source": srcs,
            "n_chars": [len(t) for t in texts]},
           pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                      ("lang", pa.string()), ("source", pa.string()),
                      ("n_chars", pa.int64())]))
    # documents whose whitespace-normalized, lower-cased text repeats an
    # earlier one: exactly the documents an exact-fingerprint dedup drops
    planted["exact_dup_docs"] = n - len({" ".join(t.lower().split()) for t in texts})
    with open(f"{out}/planted.json", "w") as fh:
        json.dump(pairs, fh)
    return planted


def generate(workload, out, seed, scale):
    """Write the workload's inputs under `out`; returns their properties,
    also saved as `inputs.json` for the benchmark JVM."""
    os.makedirs(out, exist_ok=True)
    if workload == "sparql_read":
        props = tables(out, seed, scale)
        # the traced run's durable-store round needs the bulk input too
        props["ntriples"] = ntriples(out, seed, scale / 4)
    else:
        props = documents(out, seed, scale)
    with open(f"{out}/inputs.json", "w") as fh:
        json.dump(props, fh)
    return props
