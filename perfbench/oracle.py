"""Result checks for the benchmark's correctness pass.

A batch query's output (parquet written by the harness) is compared with
its DuckDB oracle from `graft.SparkEntry.oracleSql`, run over the same
tables, after the canonicalization scripts/check.py applies: columns
sorted by name, object columns rendered as strings, rows sorted, then an
exact frame comparison. A query without a usable oracle is compared with
the row count and fingerprint recorded for it in workloads.json."""

import hashlib
import os
import pickle

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(df):
    """scripts/check.py's canonical form of a result frame."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def fingerprint(df):
    """(rows, digest) of a result frame, independent of row and column
    order: sha256 over the canonical frame rendered as CSV."""
    c = canon(df)
    digest = hashlib.sha256(c.to_csv(index=False).encode()).hexdigest()[:16]
    return len(c), digest


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def tables_digest(data_dir):
    """Digest of the tables' contents, so that cached oracle results are
    only reused over the same data."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def read_output(con, path):
    return con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()


def compare(got, exp):
    """None when the frames agree after canonicalization, else why not."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
    except AssertionError as ex:
        return str(ex).split("\n")[0][:200]
    return None


def oracle_frame(con, sql, cache_dir):
    """The oracle's result, cached by the digest of its SQL in a
    directory per table digest: some oracles take DuckDB tens of
    seconds."""
    path = os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest()[:24] + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    df = con.sql(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as fh:
        pickle.dump(df, fh)
    os.replace(path + ".tmp", path)
    return df


def check_query(con, name, out_dir, oracle_sql, expected, cache_dir):
    """Verdict for one query's correctness-pass output: None if correct,
    else a one-line reason. `expected` is the recorded (rows, digest) for
    queries checked by fingerprint."""
    try:
        got = read_output(con, f"{out_dir}/{name}")
    except Exception as ex:  # the harness failed to write the output
        return f"output unreadable: {str(ex)[:200]}"
    if name in expected:
        rows, digest = fingerprint(got)
        want = tuple(expected[name])
        return None if (rows, digest) == want else f"fingerprint {(rows, digest)} vs {want}"
    if name not in oracle_sql:
        return "no oracle and no recorded fingerprint"
    try:
        exp = oracle_frame(con, oracle_sql[name], cache_dir)
    except Exception as ex:
        return f"oracle failed: {str(ex)[:200]}"
    return compare(got, exp)
