"""Untimed output checks: canonical digests (the form tools/oracle_check.py
uses: columns sorted by name, floats rounded to 9 places, rows sorted,
MD5) and DuckDB references over the generated inputs."""
import glob
import hashlib
import os

import duckdb


def canon(df):
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            vals.append(repr(round(v, 9)) if isinstance(v, float) else str(v))
        rows.append("|".join(vals))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest(), len(rows)


def connect(data_dir, tables):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def answer_df(con, path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()


def digest_of_answer(con, path):
    df = answer_df(con, path)
    return None if df is None else canon(df)

