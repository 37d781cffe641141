"""DuckDB oracle for the operator queries.

For each oracle-checked query, runs its DuckDB SQL over the corpus tables and
compares the result with the Spark result the harness wrote, as
`tools/oracle_check.py` does: columns sorted by name, rows sorted, floats
compared at 10 significant digits.
"""
import json
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for t in df.itertuples(index=False):
        row = []
        for v in t:
            if isinstance(v, float):
                row.append("%.10g" % v)
            elif hasattr(v, "isoformat"):
                row.append(v.isoformat())
            else:
                row.append(str(v))
        rows.append(tuple(row))
    return sorted(rows)


def check(sf_dir, results_dir):
    """Return [(query, None | failure text)] for every oracle-checked query."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    out = []
    for name, sql in sorted(oracles.items()):
        try:
            want = canon(con.sql(sql).df())
            got = canon(pd.read_parquet(os.path.join(results_dir, name + ".parquet")))
            if want == got:
                out.append((name, None))
            else:
                only_g = [r for r in got if r not in set(want)][:2]
                only_w = [r for r in want if r not in set(got)][:2]
                out.append((name, f"spark={len(got)} duckdb={len(want)} rows; "
                                  f"spark-only {only_g}; duckdb-only {only_w}"))
        except Exception as e:  # a query the oracle cannot run is a failure too
            out.append((name, f"error: {e}"))
    return out
