"""Oracle check: each op's cold-pass rows against `SparkEntry.oracleSql`
run in DuckDB over the same generated tables, compared the way
`tools/check.py` compares them (dtype classes, then a hash of the
canonical frame: columns sorted by name, rows sorted by value). The
rules are copied, not imported, so that a change to tools/check.py cannot
change the benchmark between two commits it compares."""
import glob
import hashlib
import os

import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def dtype_class(dtype):
    s = str(dtype)
    if s.startswith("datetime"):
        return "datetime"
    k = np.dtype(dtype).kind if s != "object" else "O"
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    return "string"


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def canon_hash(df):
    return hashlib.sha256(canon(df).to_csv(index=False).encode()).hexdigest()[:16]


def compare(con, name, rows_dir, sql):
    files = glob.glob(os.path.join(rows_dir, "*.parquet"))
    if not files:
        return "no saved rows"
    got = con.execute(f"SELECT * FROM parquet_scan({files!r})").df()
    exp = con.execute(sql).df()
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} vs oracle {sorted(exp.columns)}"
    for c in got.columns:
        if dtype_class(got[c].dtype) != dtype_class(exp[c].dtype):
            return f"dtype class of {c}: {got[c].dtype} vs oracle {exp[c].dtype}"
    if len(got) != len(exp):
        return f"{len(got)} rows vs oracle {len(exp)}"
    if canon_hash(got) != canon_hash(exp):
        return "values differ from oracle"
    return None


def compare_all(data_dir, out_dir, sqls, exempt):
    """Verdict per op with an oracle: None when it matches."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '2GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"parquet_scan('{os.path.join(data_dir, t + '.parquet')}')")
    out = {}
    for name, sql in sorted(sqls.items()):
        if name in exempt:
            continue
        try:
            out[name] = compare(con, name, os.path.join(out_dir, "rows", name), sql)
        except Exception as e:  # an oracle or read error is a failed check
            out[name] = f"oracle check error: {str(e)[:200]}"
    con.close()
    return out
