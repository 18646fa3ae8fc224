"""Emulate the driver's correctness gate for chosen queries: run the
Spark query AND its DuckDB oracle at sf0.01, compare row count, sorted
schema, and value hash (columns sorted by name, rows sorted by all
columns stringified — the driver's contract).

Usage: python scripts/check_query_oracle.py wat_head [more...]
"""

import hashlib
import os
import sys

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


def main():
    import __spark_entry__ as e
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
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
    failed = []
    for name in sys.argv[1:]:
        df = qs[name](spark, SF)
        rows = [tuple(r) for r in df.collect()]
        cols = df.columns
        res = con.sql(oracles[name])
        orows = [tuple(r) for r in res.fetchall()]
        ocols = [d[0] for d in res.description]
        ok_rows = len(rows) == len(orows)
        ok_schema = sorted(cols) == sorted(ocols)
        ok_hash = value_hash(cols, rows) == value_hash(ocols, orows)
        print(
            "%s: rows %s (%d vs %d) schema %s hash %s"
            % (name, ok_rows, len(rows), len(orows), ok_schema, ok_hash)
        )
        if not (ok_rows and ok_schema and ok_hash):
            failed.append(name)
            # show a few diffs
            sset = {tuple(_norm(v) for v in r) for r in rows}
            oset = {tuple(_norm(v) for v in r) for r in orows}
            print(" spark cols:", cols)
            print(" oracle cols:", ocols)
            for d in list(sset - oset)[:5]:
                print("  spark-only:", d)
            for d in list(oset - sset)[:5]:
                print("  oracle-only:", d)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
