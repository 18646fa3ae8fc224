"""Emulate the driver's correctness gate for chosen queries: run the
Spark query AND its DuckDB oracle at sf0.01, compare row count, sorted
schema, and value hash (columns sorted by name, rows sorted by all
columns stringified — the driver's contract).

Usage: python scripts/check_query_oracle.py [wat_head more...]

Without names every query is checked. A query that raises is reported
with its error class and the run goes on; the exit code is 1 if any
query failed. Runs local[$SPARK_GRAFT_CPUS] (default: the usable CPUs).
"""

import hashlib
import os
import sys
import traceback

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SF = "/root/testdata/sf0.01"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def _norm(v):
    if v is None:
        return "\x00"
    if isinstance(v, float):
        return "%.6g" % v
    return str(v)


def check(spark, con, query, oracle_sql):
    """Run one query and its oracle; print the verdict, return pass."""
    df = query(spark, SF)
    rows = [tuple(r) for r in df.collect()]
    cols = df.columns
    res = con.sql(oracle_sql)
    orows = [tuple(r) for r in res.fetchall()]
    ocols = [d[0] for d in res.description]
    ok_rows = len(rows) == len(orows)
    ok_schema = sorted(cols) == sorted(ocols)
    spark_hash = value_hash(cols, rows)
    ok_hash = spark_hash == value_hash(ocols, orows)
    print(
        "rows %s (%d vs %d) schema %s hash %s spark_hash %s"
        % (ok_rows, len(rows), len(orows), ok_schema, ok_hash, spark_hash[:16])
    )
    if ok_rows and ok_schema and ok_hash:
        return True
    # show a few diffs
    sset = {tuple(_norm(v) for v in r) for r in rows}
    oset = {tuple(_norm(v) for v in r) for r in orows}
    print(" spark cols:", cols)
    print(" oracle cols:", ocols)
    for d in list(sset - oset)[:5]:
        print("  spark-only:", d)
    for d in list(oset - sset)[:5]:
        print("  oracle-only:", d)
    return False


def _error_class(exc):
    """Python class plus Spark's error condition, e.g.
    'AnalysisException[PATH_NOT_FOUND]'."""
    cond = getattr(exc, "getCondition", lambda: None)()
    return type(exc).__name__ + ("[%s]" % cond if cond else "")


def main():
    import __spark_entry__ as e
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master("local[%s]" % cpus)
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            "CREATE VIEW {0} AS FROM read_parquet('{1}/{0}.parquet')".format(
                t, SF
            )
        )
    qs, oracles = e.queries(), e.oracle_sql()
    names = sys.argv[1:] or list(qs)
    failed = []
    for name in names:
        print("%s: " % name, end="", flush=True)
        try:
            ok = check(spark, con, qs[name], oracles[name])
        except Exception as exc:  # keep going: one run reports every query
            print("ERROR %s" % _error_class(exc), flush=True)
            traceback.print_exc()
            ok = False
        if not ok:
            failed.append(name)
    print("%d/%d passed" % (len(names) - len(failed), len(names)))
    if failed:
        print("failed: " + " ".join(failed))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
