"""The answer key: DuckDB runs the judged oracle SQL (SparkEntry.oracleSql)
on the same parquet fixture, normalised as tools/parity.py does (columns in
name order, timestamps in microseconds, row order as produced). It is
computed outside every timed span."""
import hashlib
import json
import math
import os
import shutil

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def duckdb_version() -> str:
    return duckdb.__version__


def connect(data_dir: str):
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    con.sql("SET memory_limit = '4GB'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/**/*.parquet')"
                    if os.path.isdir(p) else f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def norm(df: pd.DataFrame) -> pd.DataFrame:
    """tools/parity.py's normalisation."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.reset_index(drop=True)


def _fixture_signature(data_dir: str) -> str:
    files = sorted((os.path.relpath(os.path.join(d, f), data_dir), os.path.getsize(os.path.join(d, f)))
                   for d, _, fs in os.walk(data_dir) for f in fs if f.endswith(".parquet"))
    return json.dumps([os.path.abspath(data_dir), files])


def write_key(items, data_dir: str, key_dir: str, cache_dir: str, corrupt: bool = False):
    """One parquet file per query under key_dir. An entry depends only on the
    oracle SQL and the fixture, so it is computed once and then copied from
    cache_dir. With `corrupt`, the first non-empty entry loses its last row
    (the self-check's planted error)."""
    os.makedirs(cache_dir, exist_ok=True)
    sig = _fixture_signature(data_dir)
    con = None
    for it in items:
        if not it["sql"]:
            continue
        cached = os.path.join(cache_dir, hashlib.sha256((sig + it["sql"]).encode()).hexdigest() + ".parquet")
        if not os.path.exists(cached):
            con = con or connect(data_dir)
            norm(con.sql(it["sql"]).df()).to_parquet(cached + ".tmp", index=False)
            os.replace(cached + ".tmp", cached)
        dest = os.path.join(key_dir, f"{it['name']}.parquet")
        if corrupt:
            df = pd.read_parquet(cached)
            if len(df):
                df.iloc[:-1].to_parquet(dest, index=False)
                corrupt = False
                continue
        shutil.copyfile(cached, dest)
    if con:
        con.close()


def customer_keys(data_dir: str):
    con = connect(data_dir)
    keys = [r[0] for r in con.sql("SELECT DISTINCT o_custkey FROM orders ORDER BY 1").fetchall()]
    con.close()
    return keys


def _value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)) or hasattr(v, "dtype"):
        f = float(v)
        if math.isnan(f):
            return None
        return int(f) if f == int(f) and abs(f) < 2 ** 53 else f
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        return [_value(x) for x in list(v)]
    return str(v)


def _rows(records, columns):
    return [[_value(r.get(c)) for c in columns] for r in records]


def serve_key(statements, data_dir: str, corrupt: bool = False):
    """Expected rows per statement index. With `corrupt`, the first statement
    with rows (in schedule order, so it is sent) loses its last row."""
    con = connect(data_dir)
    key = []
    for sql in statements:
        df = norm(con.sql(sql).df())
        rows = _rows(df.astype(object).to_dict("records"), list(df.columns))
        if corrupt and rows:
            rows, corrupt = rows[:-1], False
        key.append((list(df.columns), rows))
    con.close()
    return key


def check_serve(req, key):
    """(ok, error) for one response: HTTP 200 and the JSONL rows equal the key."""
    if req["status"] != 200:
        return False, f"HTTP {req['status']}"
    columns, want = key[req["stmt"]]
    got = [json.loads(line) for line in req["body"].decode().splitlines() if line.strip()]
    if _rows(got, columns) != want:
        return False, "rows differ from the answer key"
    return True, ""
