"""Compare the corpus workload's Spark results with DuckDB.

For every query in <out>/oracle_sql.json, run its oracle SQL in DuckDB over
the generated corpus tables and compare the result with the parquet
`graft.Verify` wrote to <out>/<query>, with the normalisation and
comparison of the program's own check, tools/selfcheck.py.
"""
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from selfcheck import cmp, norm  # noqa: E402


def compare(fixture, out):
    """Returns (comparisons made, messages for the ones that differ)."""
    con = duckdb.connect()
    con.sql(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.sql(f"SET temp_directory = '{out}/duckdb_tmp'")
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet/*.parquet'")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            err = cmp(norm(pd.read_parquet(os.path.join(out, name))),
                      norm(con.sql(sql).df()))
        except Exception as e:  # an oracle that cannot run is a failed check
            err = f"error: {e}"
        if err:
            bad.append(f"{name}: {err}")
    return len(oracle), bad
