"""Oracle compare for benchmark runs.

Compares the rows a run wrote for each query against the DuckDB oracle SQL
from the query registry, with the rules of the repository's oracle checker
in exact mode: columns sorted by name, equal column names and row counts,
rows sorted by every column, numbers equal bit for bit (NaN equals NaN),
datetimes compared at microsecond precision, anything else compared as text.
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def fingerprint(corpus):
    """Names, sizes and mtimes of the corpus files."""
    return ";".join(f"{t}:{os.path.getsize(p)}:{os.path.getmtime(p)}"
                    for t in TABLES for p in [f"{corpus}/{t}.parquet"])


def expected(con, sql, corpus, cache_dir):
    """The oracle's rows for sql. Some oracles take a minute in DuckDB, so
    results are cached under cache_dir, keyed by the SQL text, the corpus
    files and the DuckDB version."""
    key = hashlib.sha256("\0".join([sql, fingerprint(corpus), duckdb.__version__])
                         .encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.sql(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def connect(corpus):
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    return con


def compare(spark_df, oracle_df):
    """Returns None when the frames match, else a one-line reason."""
    s = spark_df[sorted(spark_df.columns)].reset_index(drop=True)
    o = oracle_df[sorted(oracle_df.columns)].reset_index(drop=True)
    if list(s.columns) != list(o.columns):
        return f"schema {list(s.columns)} vs {list(o.columns)}"
    if len(s) != len(o):
        return f"rows {len(s)} vs {len(o)}"
    ss = s.sort_values(by=list(s.columns)).reset_index(drop=True)
    oo = o.sort_values(by=list(o.columns)).reset_index(drop=True)
    for c in s.columns:
        a, b = ss[c], oo[c]
        try:
            if str(a.dtype).startswith("datetime") or str(b.dtype).startswith("datetime"):
                a = a.astype("datetime64[us]")
                b = b.astype("datetime64[us]")
            a2 = pd.to_numeric(a, errors="raise")
            b2 = pd.to_numeric(b, errors="raise")
            eqs = (a2 == b2) | (a2.isna() & b2.isna())
        except Exception:
            eqs = a.astype(str) == b.astype(str)
        if not eqs.all():
            i = eqs.idxmin()
            return f"values col {c} row {i}: {a[i]!r} vs {b[i]!r}"
    return None


def check(con, oracles, check_dir, queries, corpus, cache_dir):
    """Checks each query's rows under check_dir. Returns {query: reason} for
    every query that is missing, has no oracle, or mismatches, and
    {query: row count} for the rows that were written."""
    bad, rows = {}, {}
    for q in queries:
        files = glob.glob(os.path.join(check_dir, q, "*.parquet"))
        if not os.path.isdir(os.path.join(check_dir, q)):
            bad[q] = "no rows written"
            continue
        if q not in oracles:
            bad[q] = "no oracle SQL"
            continue
        spark_df = (pd.concat([pq.read_table(f).to_pandas() for f in files])
                    if files else pd.DataFrame())
        rows[q] = len(spark_df)
        try:
            reason = compare(spark_df, expected(con, oracles[q], corpus, cache_dir))
        except Exception as e:  # an oracle or compare error is a failed check
            reason = f"{type(e).__name__}: {e}"
        if reason:
            bad[q] = reason
    return bad, rows
