"""Seeded input generation for the benchmark.

Everything a workload feeds the program is made here, from the workload
seed, before the program starts: the TPC-H-shaped raw tables the warehouse
is built from, the staged-sales drops of `ingest`, the document shards of
`curate` and the dashboard's slicer values. The same seed gives the same
files. The program only ever sees the generated files.
"""
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PREFIX_SQL = os.path.join(ROOT, "src", "main", "resources", "graft", "prefix.sql")

RAW_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
N_NATIONS = 25
CATEGORIES = ["ECONOMY", "LARGE", "STANDARD", "PROMO", "MEDIUM", "SMALL"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["cold", "small", "large", "bright", "steel", "green", "quick", "plain"]
NOUN = ["widget", "bolt", "gear", "panel", "valve", "spring", "frame", "cable"]
VOCAB = ("spark line small fast group customer query row stream batch sort value "
         "hash filter big data dup part column order scan slow agg key window "
         "table merge vector join").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DAY0 = np.datetime64("1995-01-01")
N_DAYS = int((np.datetime64("2001-08-01") - DAY0).astype(int))


def _write(path, columns, schema):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns, schema=schema), path)


def raw_tables(out_dir, seed, n_orders):
    """TPC-H-shaped tables with the schema of the repository's test data:
    `n_orders` orders of 1-7 lines each, customers and parts scaled with
    them. Prices carry two decimals, dates are midnight timestamps."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(50, n_orders // 10)
    n_part = max(50, (n_orders * 2) // 15)
    n_supp = max(10, n_orders // 150)
    i64, i32, f64, s = pa.int64(), pa.int32(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    _write(f"{out_dir}/region.parquet",
           [np.arange(5, dtype=np.int32),
            ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]],
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    nk = np.arange(N_NATIONS, dtype=np.int32)
    _write(f"{out_dir}/nation.parquet",
           [nk, [f"NATION_{k}" for k in nk], (nk % 5).astype(np.int32)],
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    ck = np.arange(n_cust, dtype=np.int64)
    _write(f"{out_dir}/customer.parquet",
           [ck, [f"Customer#{k:09d}" for k in ck],
            rng.integers(0, N_NATIONS, n_cust).astype(np.int32),
            np.round(rng.uniform(-999, 9999, n_cust), 2),
            rng.choice(SEGMENTS, n_cust)],
           pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                      ("c_acctbal", f64), ("c_mktsegment", s)]))
    sk = np.arange(n_supp, dtype=np.int64)
    _write(f"{out_dir}/supplier.parquet",
           [sk, [f"Supplier#{k:09d}" for k in sk],
            rng.integers(0, N_NATIONS, n_supp).astype(np.int32),
            np.round(rng.uniform(-999, 9999, n_supp), 2)],
           pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                      ("s_acctbal", f64)]))
    pk = np.arange(n_part, dtype=np.int64)
    price = np.round(900 + rng.integers(0, 11000, n_part) / 10.0, 2)
    _write(f"{out_dir}/part.parquet",
           [pk, [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
            [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            rng.choice(CATEGORIES, n_part),
            rng.integers(1, 51, n_part).astype(np.int32), price],
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                      ("p_size", i32), ("p_retailprice", f64)]))
    ok = np.arange(n_orders, dtype=np.int64)
    odate = DAY0 + rng.integers(0, N_DAYS, n_orders).astype("timedelta64[D]")
    # 1-7 lines per order in seeded order: the line count does not vary by seed
    nlines = rng.permutation(np.resize(np.arange(1, 8), n_orders))
    _write(f"{out_dir}/orders.parquet",
           [ok, rng.integers(0, n_cust, n_orders).astype(np.int64),
            rng.choice(["F", "O", "P"], n_orders),
            np.round(rng.uniform(1000, 400000, n_orders), 2),
            odate.astype("datetime64[us]"), rng.choice(PRIORITIES, n_orders)],
           pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                      ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    lo = np.repeat(ok, nlines)
    n_li = len(lo)
    starts = np.cumsum(nlines) - nlines
    lineno = (np.arange(n_li) - np.repeat(starts, nlines) + 1).astype(np.int32)
    lpart = rng.integers(0, n_part, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, nlines) + rng.integers(1, 121, n_li).astype("timedelta64[D]")
    _write(f"{out_dir}/lineitem.parquet",
           [lo, lpart, rng.integers(0, n_supp, n_li).astype(np.int64), lineno, qty,
            np.round(qty * price[lpart], 2),
            rng.integers(0, 11, n_li) / 100.0, rng.integers(0, 9, n_li) / 100.0,
            rng.choice(["A", "N", "R"], n_li), rng.choice(["O", "F"], n_li),
            ship.astype("datetime64[us]")],
           pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                      ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                      ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                      ("l_linestatus", s), ("l_shipdate", ts)]))
    return {"customer": n_cust, "part": n_part, "orders": n_orders, "lineitem": n_li}


def staged_sales_drops(raw_dir, drop_dir, seed, n_drops):
    """The staged-sales feed, as the oracle's `stg_sales` definition
    derives it from the raw tables, split into `n_drops` parquet files by
    a seeded hash of each row. Every row lands in exactly one drop. Returns
    the row count of each drop."""
    with open(PREFIX_SQL, encoding="utf-8") as f:
        prefix = f.read()
    con = duckdb.connect()
    for t in RAW_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{raw_dir}/{t}.parquet')")
    con.execute(f"CREATE TABLE feed AS {prefix}\nSELECT * FROM stg_sales")
    total = con.execute("SELECT count(*) FROM feed").fetchone()[0]
    con.execute(f"""CREATE TABLE split AS SELECT *,
        CAST(hash({int(seed)}, invoiceid, stockcode, customerid, saledate, linenumber)
             % {n_drops} AS INT) AS drop_no FROM feed""")
    os.makedirs(drop_dir, exist_ok=True)
    sizes = []
    for d in range(n_drops):
        path = f"{drop_dir}/drop_{d:03d}.parquet"
        con.execute(f"""COPY (SELECT * EXCLUDE (drop_no) FROM split WHERE drop_no = {d})
                        TO '{path}' (FORMAT PARQUET)""")
        sizes.append(con.execute(f"SELECT count(*) FROM split WHERE drop_no = {d}").fetchone()[0])
    if sum(sizes) != total:
        raise RuntimeError(f"drops hold {sum(sizes)} rows, the feed {total}")
    con.close()
    return sizes


def document_corpus(seed, n_docs):
    """Word-bag documents of 10-100 words over the test data's vocabulary:
    in about 70% the English marker words `the` and `a` are three times as
    frequent as other words, and about 5% are exact or near copies of an
    earlier document, so every curation verdict occurs."""
    rng = np.random.default_rng([seed, 2])
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[rng.integers(0, i)])
            continue
        if i > 10 and r < 0.05:
            ws = texts[rng.integers(0, i)].split(" ")
            for _ in range(rng.integers(1, 3)):
                ws[rng.integers(0, len(ws))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(ws))
            continue
        n = int(rng.integers(10, 101))
        words = VOCAB + ["the", "a"]
        p = np.full(len(words), 1.0)
        if rng.random() < 0.7:
            p[-2:] = 3.0
        ws = rng.choice(words, n, p=p / p.sum())
        texts.append(" ".join(ws))
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def document_shards(out_dir, seed, n_docs, shard_docs, n_shards):
    """`n_shards` seeded samples of `shard_docs` documents each from one
    corpus of `n_docs`, each shard in its own directory."""
    corpus = document_corpus(seed, n_docs)
    rng = np.random.default_rng([seed, 3])
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                        ("source", pa.string()), ("n_chars", pa.int64())])
    dirs = []
    for k in range(n_shards):
        pick = np.sort(rng.choice(n_docs, shard_docs, replace=False))
        cols = [corpus["doc_id"][pick], [corpus["text"][i] for i in pick],
                [corpus["lang"][i] for i in pick], [corpus["source"][i] for i in pick],
                corpus["n_chars"][pick]]
        d = f"{out_dir}/shard_{k:03d}"
        _write(f"{d}/documents.parquet", cols, schema)
        dirs.append(d)
    return dirs


def slicers(seed, n_years=7):
    """The dashboard's seeded slicer values: a country, a category and a
    year of the generated order dates (1995-2001)."""
    rng = np.random.default_rng([seed, 4])
    return {
        "country": f"Nation_{int(rng.integers(0, N_NATIONS))}",
        "category": CATEGORIES[int(rng.integers(0, len(CATEGORIES)))].capitalize(),
        "year": 1995 + int(rng.integers(0, n_years)),
    }
