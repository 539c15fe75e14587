"""DuckDB check of the corpus-ops query results.

Each query's result (written by the untimed warm-up pass) is compared with
DuckDB running the query's `SparkEntry.oracleSql` text over the same
generated corpus: column names sorted, rows sorted, values normalised
(floats to 9 significant digits) and hashed, with the normalisation of
`scripts/check_oracle.py`.
"""
import glob
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
from check_oracle import table_hash  # noqa: E402


def check(work, config):
    """Return one message per query whose result differs from DuckDB."""
    corpus = os.path.join(work, "corpus")
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{corpus}/{t}.parquet/*.parquet')")
    bad = []
    for name in config["queries"]:
        sql = config["oracle_sql"][name]
        files = glob.glob(os.path.join(work, "results", name, "*.parquet"))
        if not files:
            bad.append(f"{name}: no result")
            continue
        o = con.execute(sql)
        o_cols = [d[0].lower() for d in o.description]
        o_rows = o.fetchall()
        s = con.sql(f"SELECT * FROM read_parquet({files})")
        s_cols = [c.lower() for c in s.columns]
        s_rows = s.fetchall()
        if sorted(o_cols) != sorted(s_cols):
            bad.append(f"{name}: columns {sorted(s_cols)} != {sorted(o_cols)}")
        elif len(o_rows) != len(s_rows):
            bad.append(f"{name}: {len(s_rows)} rows != {len(o_rows)}")
        elif table_hash(s_rows, s_cols) != table_hash(o_rows, o_cols):
            bad.append(f"{name}: values differ")
    con.close()
    return bad
