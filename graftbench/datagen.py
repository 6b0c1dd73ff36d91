"""Seeded dataset generator for the graft benchmark.

Derives one dataset per seed from the seed-42 base tables in
`graftbench/base` (a copy of the sf0.01 test tables) with three
structure-preserving changes:

* rows of every table are permuted by a seed-derived order;
* every relational and event key column gets the same seed-derived
  offset (the `tools/make_big_sf.py` rule, one replica). The offset is a
  multiple of every modulus the operators apply to keys (2^4, 3, 5^2, 7,
  13, 17, 23, 97), so planted residue structure survives;
* every non-stopword token of `documents.text` gets a seed-derived
  letter suffix, and `n_chars` follows the new text. Identical docs stay
  identical, so planted duplicates stay duplicates.

`doc_id` and `vec_id` keep their values: the operators' query sets are
the low ids (`vec_id < 10`, `doc_id < 10`), and the tombstone and
arrival structure hangs off `doc_id % 97` and `source`.
"""
import os

import duckdb

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
}

# lcm(16, 3, 25, 7, 13, 17, 23, 97)
KEY_STRIDE = 4_141_628_400
STOPWORDS = ("the", "a", "of", "and", "to", "in")


def key_offset(seed: int) -> int:
    return (1 + seed % 64) * KEY_STRIDE


def token_suffix(seed: int) -> str:
    n = seed % (26 * 26)
    return "z" + chr(97 + n // 26) + chr(97 + n % 26)


def generate(seed: int, out_dir: str) -> None:
    """Write the ten tables for `seed` as parquet files under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    off = key_offset(seed)
    suffix = token_suffix(seed)
    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for t in TABLES:
        src = os.path.join(BASE, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        cols = [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{src}')").fetchall()]
        text = ("array_to_string(list_transform(str_split(text, ' '), "
                f"x -> CASE WHEN x IN ({stop}) OR x = '' THEN x "
                f"ELSE x || '{suffix}' END), ' ')")

        def expr(c):
            if c in KEYS.get(t, ()):
                return f"({c} + {off}) AS {c}"
            if t == "documents" and c == "text":
                return f"{text} AS text"
            if t == "documents" and c == "n_chars":
                return f"CAST(length({text}) AS BIGINT) AS n_chars"
            return c
        sel = ", ".join(expr(c) for c in cols)
        con.execute(
            f"COPY (SELECT {sel} FROM (SELECT *, row_number() OVER () AS rn__ "
            f"FROM read_parquet('{src}')) "
            f"ORDER BY md5(rn__::VARCHAR || ':{seed}')) TO '{dst}' (FORMAT PARQUET)")
    con.close()
