"""Inputs and output check of the query_mix workload.

generate(): writes the ten fixture tables (TPC-H-like star schema plus
events, documents and embeddings) at the sf0.01 row counts, with the
column types and value vocabularies the repository's fixtures use, drawn
from the workload seed.

check(): runs each sampled query's oracle SQL (written by the benchmark
JVM next to the query's result) in DuckDB over the same tables and
compares row count, column names and values, as tools/check.py does for
the repository's correctness gate.
"""
import datetime
import glob
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"region": 5, "nation": 25, "customer": 1500, "supplier": 100, "part": 2000,
        "orders": 15000, "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}
WORDS = ("a agg batch big column customer data dup fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()


def _ts(start, days, n, rng):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def generate(out, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = ROWS
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)
    adjs = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
    t = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD",
                                        "BUILDING"], n["customer"])}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n["supplier"])}),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [f"{rng.choice(adjs)} {rng.choice(nouns)}" for _ in range(n["part"])],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"],
                                 n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2)}),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
            "o_orderstatus": rng.choice(["P", "O", "F"], n["orders"]),
            "o_totalprice": money(1000, 500000, n["orders"]),
            "o_orderdate": _ts("1995-01-01", 2404, n["orders"], rng),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                           "5-LOW"], n["orders"])}),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]).astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": money(900, 105000, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": rng.choice(["O", "F"], n["lineitem"]),
            "l_shipdate": _ts("1995-01-02", 2498, n["lineitem"], rng)}),
    }
    gaps = rng.exponential(259.0, n["events"])
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n["events"], dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us")
               + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")),
        "user_id": rng.integers(0, 150, n["events"]).astype(np.int64),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n["events"]),
        "value": money(0.01, 490.0, n["events"]),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]})
    texts = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(8, 90, n["documents"])]
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n["documents"], dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "es", "zh", "de", "fr"], n["documents"],
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{k}" for k in rng.integers(0, 20, n["documents"])],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n["embeddings"]).astype(np.int32)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.2, (n["embeddings"], 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({"vec_id": pa.array(np.arange(n["embeddings"], dtype=np.int64)),
                    "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                    "label": pa.array(labels)})
    for name, df in t.items():
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       os.path.join(out, f"{name}.parquet"))
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))


def _load(outdir, name):
    files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files else None


def _norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
            if len(df) and isinstance(df[c].iloc[0], datetime.date):
                df[c] = pd.to_datetime(df[c])
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
        if df[c].dtype.kind == "f":
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), kind="mergesort",
                          na_position="last").reset_index(drop=True)


def _compare(a, b):
    if a is None:
        return "no result written"
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} vs oracle {sorted(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows vs oracle {len(b)}"
    a, b = _norm(a), _norm(b)
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            av, bv = av.astype("float64"), bv.astype("float64")
        eq = (av == bv) | (av.isna() & bv.isna())
        if not eq.all():
            return f"column {c}: {int((~eq).sum())} values differ"
    return None


def check(data, outdir):
    """Compares every query result under outdir with its DuckDB oracle."""
    import duckdb
    res = {"attempted": 0, "failed": 0, "problems": []}
    path = os.path.join(outdir, "oracle_sql.json")
    if not os.path.exists(path):
        res.update(attempted=1, failed=1, problems=["no oracle_sql.json written"])
        return res
    oracles = json.load(open(path))
    con = duckdb.connect()
    for t in ROWS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    for name, sql in sorted(oracles.items()):
        res["attempted"] += 1
        try:
            err = _compare(_load(outdir, name), con.execute(sql).fetchdf())
        except Exception as e:  # an oracle error is a failed check too
            err = f"oracle error: {e}"
        if err:
            res["failed"] += 1
            res["problems"].append(f"query {name}: {err}")
    return res
