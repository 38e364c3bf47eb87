#!/usr/bin/env python3
"""Results cache of the registry queries' DuckDB oracles.

Some oracles replay an all-pairs computation and take far longer than the
query (at sf0.1, q_dedup_incremental's takes 484 s). The cache keeps, per
oracle, the row count and a digest of its normalized result, keyed by a hash
of the oracle SQL and of every input file. A key that is not in the cache
(the SQL or the input changed) is computed live in DuckDB.

Rebuild it (compiles the program, dumps the oracle SQL of run.REGISTRY and
runs every oracle):
  python3 perfbench/oracle_cache.py
"""
import glob
import hashlib
import json
import math
import os
import sys
import tempfile

sys.dont_write_bytecode = True
CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_cache.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def key(sql, sf_dir):
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            with open(p, "rb") as f:
                h.update(t.encode() + hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _norm(df):
    """tools/check_oracle.py's normalization: columns by name, timestamps and
    lists as strings, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: json.dumps(v) if isinstance(v, list) else str(v))
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _canon(v):
    """Values that compare equal in check_oracle.py map to one string."""
    if isinstance(v, bool) or v is None:
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return str(int(v)) if v.is_integer() and abs(v) < 2 ** 53 else repr(v)
    return json.dumps(v)


def summary(df):
    df = _norm(df)
    h = hashlib.sha256("\x1f".join(df.columns).encode())
    for c in df.columns:
        h.update(b"\x1e")
        for v in df[c].tolist():
            h.update(_canon(v).encode() + b"\x1f")
    return {"rows": len(df), "digest": h.hexdigest()}


def spark_frame(path):
    import pandas as pd
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()


def compute(sql, sf_dir):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return summary(con.execute(sql).df())


def _load():
    if not os.path.exists(CACHE):
        return {}
    with open(CACHE) as f:
        return json.load(f)


def expected(sql, sf_dir):
    hit = _load().get(key(sql, sf_dir))
    if hit is not None:
        return {"rows": hit["rows"], "digest": hit["digest"]}
    return compute(sql, sf_dir)


def rebuild():
    import run
    classpath = run.build()
    with tempfile.TemporaryDirectory(dir=run.BUILD) as work:
        out = os.path.join(work, "out")
        run.run_jvm(classpath, ["oracles", out, ",".join(run.REGISTRY)], work)
        with open(os.path.join(out, "oracles.json")) as f:
            oracles = json.load(f)
    cache = {}
    for q in run.REGISTRY:
        sql = oracles.get(q, {}).get("sql")
        if sql is None:
            continue
        cache[key(sql, run.SF_DIR)] = dict(query=q, **compute(sql, run.SF_DIR))
        print(f"{q}: {cache[key(sql, run.SF_DIR)]}")
    with open(CACHE, "w") as f:
        json.dump(cache, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    rebuild()
