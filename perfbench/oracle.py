"""Output check of the query_mix workload: compares each query's result
(parquet written by the benchmark program) with its DuckDB oracle
(`SparkEntry.oracleSql`) run on the same seeded tables. The rule is that of
scripts/check.py: columns sorted by name, then the same rows in the same
order, with NaN equal to NaN.

Usage: python3 perfbench/oracle.py <tables dir> <results dir>
"""
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import tables  # noqa: E402


def norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def rows(con, rel):
    cols = sorted(rel.columns)
    return cols, con.sql("SELECT " + ", ".join(f'"{c}"' for c in cols) + " FROM rel").fetchall()


def check(tables_dir, results_dir):
    """Returns the names of the queries whose result differs from their
    oracle (or has no oracle), and the number checked."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(results_dir, "oracle.json")))
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            if not sql:
                raise ValueError("no oracle SQL")
            rel = con.sql(f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')")
            got_cols, got = rows(con, rel)
            rel = con.sql(sql)
            want_cols, want = rows(con, rel)
            if got_cols != want_cols:
                raise ValueError(f"columns {got_cols} vs {want_cols}")
            if len(got) != len(want):
                raise ValueError(f"{len(got)} rows vs {len(want)}")
            for i, (a, b) in enumerate(zip(got, want)):
                if tuple(map(norm, a)) != tuple(map(norm, b)):
                    raise ValueError(f"row {i}: {a} vs {b}")
        except Exception as e:  # a mismatch or an error counts alike
            bad.append(name)
            print(f"perfbench: oracle check failed for {name}: {e}", file=sys.stderr)
    con.close()
    return bad, len(oracle)


if __name__ == "__main__":
    failed, n = check(sys.argv[1], sys.argv[2])
    print(f"{len(failed)} of {n} queries differ from their oracle")
    sys.exit(1 if failed else 0)
