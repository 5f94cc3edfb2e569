"""Input tables and output checks for the `floors` workload.

The floors queries read four of the battery's fixture tables
(`documents`, `events`, `customer`, `part`). This module generates them
from a seed with the same schemas and value distributions as
the battery's generated test data, but at a small size, so that each
query's fixed cost (jobs, planning, micro-batch commits) dominates its
time. It also computes each query's expected result with DuckDB from the
battery's own oracle SQL, and compares a run's dumped results against it.
"""
import hashlib
import json
import os
import random
from datetime import datetime, timedelta

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("documents", "events", "customer", "part")

VOCAB = ("query row stream the part column order scan a slow agg key window "
         "table merge vector join batch sort value hash filter big data dup "
         "spark line small fast group customer").split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_WEIGHTS = (41, 15, 14, 15, 15)
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PART_ADJ = ("hot", "old", "red", "small", "new", "large", "cold", "blue")
PART_NOUN = ("bolt", "plate", "gear", "ring", "rod", "anvil", "widget", "gizmo")
PART_TYPES = ("SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO")

# rows per table
SHAPE = {"documents": 500, "events": 10000, "customer": 1500, "part": 2000}


def write_tables(out_dir, seed):
    """Write the four tables as one parquet file each; returns row counts."""
    rnd = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)

    n = SHAPE["documents"]
    texts = [" ".join(rnd.choices(VOCAB, k=rnd.randint(10, 100))) for _ in range(n)]
    docs = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rnd.choices(LANGS, LANG_WEIGHTS, k=n),
        "source": [f"src{rnd.randrange(20)}" for _ in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n = SHAPE["events"]
    start = datetime(2024, 1, 1)
    step = timedelta(days=30) / n
    events = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([start + step * i + timedelta(microseconds=rnd.randrange(
            int(step.total_seconds() * 1e6))) for i in range(n)], pa.timestamp("us")),
        "user_id": pa.array([rnd.randrange(150) for _ in range(n)], pa.int64()),
        "event_type": rnd.choices(EVENT_TYPES, k=n),
        "value": [round(rnd.expovariate(1 / 20.0), 2) for _ in range(n)],
        "props": [json.dumps({"k": rnd.randrange(100)}) for _ in range(n)],
    })

    n = SHAPE["customer"]
    customer = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array([rnd.randrange(25) for _ in range(n)], pa.int32()),
        "c_acctbal": [round(rnd.uniform(-999.99, 9999.99), 2) for _ in range(n)],
        "c_mktsegment": rnd.choices(SEGMENTS, k=n),
    })

    n = SHAPE["part"]
    part = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{rnd.choice(PART_ADJ)} {rnd.choice(PART_NOUN)}" for _ in range(n)],
        "p_brand": [f"Brand#{rnd.randint(1, 25)}" for _ in range(n)],
        "p_type": rnd.choices(PART_TYPES, k=n),
        "p_size": pa.array([rnd.randint(1, 50) for _ in range(n)], pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) * 0.1, 1) for i in range(n)],
    })

    for name, table in (("documents", docs), ("events", events),
                        ("customer", customer), ("part", part)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: SHAPE[name] for name in TABLES}


def _connect(data_dir):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _digest(rel):
    """Row count and an order-independent hash of a relation: columns
    sorted by name, rows sorted by every column, then md5 over the column
    names, dtypes and the CSV rendering (floats render exactly)."""
    df = rel.fetchdf()
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    head = ",".join(f"{c}:{df[c].dtype}" for c in df.columns)
    body = df.to_csv(index=False, lineterminator="\n")
    return len(df), hashlib.md5((head + "\n" + body).encode()).hexdigest()


def expected(data_dir, oracle_sql):
    """{query: {"rows", "hash"}} from the battery's DuckDB oracle SQL."""
    con = _connect(data_dir)
    out = {}
    for q, sql in sorted(oracle_sql.items()):
        rows, digest = _digest(con.sql(sql))
        out[q] = {"rows": rows, "hash": digest}
    return out


def check_dumps(verify_dir, want):
    """Compare each query's dumped parquet result against `want`.
    Returns {query: None if it matches, else a one-line reason}."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    res = {}
    for q, w in sorted(want.items()):
        path = os.path.join(verify_dir, q)
        if not os.path.isdir(path):
            res[q] = "no result dump"
            continue
        try:
            rows, digest = _digest(con.sql(
                f"SELECT * FROM read_parquet('{path}/*.parquet')"))
        except Exception as e:  # unreadable dump counts as a failed check
            res[q] = f"unreadable dump: {e}"
            continue
        if rows != w["rows"]:
            res[q] = f"rows {rows} != {w['rows']}"
        elif digest != w["hash"]:
            res[q] = f"hash {digest} != {w['hash']}"
        else:
            res[q] = None
    return res
