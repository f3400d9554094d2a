"""Output checks of the etl_registry workload: each query's result
(written as parquet after the timed passes) against its oracle SQL run
in DuckDB over the same generated inputs.

The comparison is tools/check.py's: its own `canon` and `eq` (columns
by sorted name, rows sorted, values equal exactly and type-strict: an
int never equals a float) and its order of checks (columns, result
types per column, row count, values).
"""
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from check import canon, eq  # noqa: E402  the repository's comparison rules

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def compare(got_cols, got_types, got_rows, exp_cols, exp_types, exp_rows):
    """Returns None when the results agree, else what differs."""
    gc, gr = canon(got_rows, got_cols)
    ec, er = canon(exp_rows, exp_cols)
    if gc != ec:
        return f"columns {gc} != {ec}"
    tdiff = [(c, got_types[c], exp_types[c]) for c in gc if got_types[c] != exp_types[c]]
    if tdiff:
        return f"result types {tdiff}"
    if len(gr) != len(er):
        return f"row count {len(gr)} != {len(er)}"
    for i, (a, b) in enumerate(zip(gr, er)):
        if not all(eq(x, y) for x, y in zip(a, b)):
            return f"sorted row {i}: got {a} expected {b}"
    return None


def relation(rel):
    return list(rel.columns), {c: str(t) for c, t in zip(rel.columns, rel.types)}, rel.fetchall()


def check_etl(inputs, results, oracles):
    """[(query, ok, detail)] for every query in `oracles` (name -> SQL or
    None). A query without oracle SQL only has to have produced rows."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(inputs, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = []
    for name, sql in sorted(oracles.items()):
        qdir = os.path.join(results, name)
        try:
            got = relation(con.sql(f"SELECT * FROM '{qdir}/*.parquet'"))
            if sql is None:
                out.append((name, len(got[2]) > 0, f"{len(got[2])} rows, no oracle"))
                continue
            diff = compare(*got, *relation(con.sql(sql)))
            out.append((name, diff is None, diff or f"{len(got[2])} rows match"))
        except Exception as e:  # a missing result or an oracle error fails the check
            out.append((name, False, f"{type(e).__name__}: {e}"))
    return out
