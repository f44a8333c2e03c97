"""Driver-contract self-check: run every queries() entry and compare it
against oracle_sql() via DuckDB (column names + per-column dtype family +
row count + order-insensitive values).

Usage: PYTHONPATH=/root/repo python scripts/check_oracle.py [sf_dir]
"""

from __future__ import annotations

import sys

import duckdb

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402
from dmp_crawler_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df):
    """pandas df → sorted list of row tuples with stable stringification."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None:
            return "NULL"
        try:
            import math
            if isinstance(v, float):
                if math.isnan(v):
                    return "NULL"
                return f"{v:.9g}"
        except Exception:
            pass
        return str(v)

    rows = sorted(tuple(cell(v) for v in row) for row in df.itertuples(index=False))
    return list(df.columns), rows


def _family(col) -> str:
    return {"i": "int", "u": "int", "f": "float", "b": "bool"}.get(col.dtype.kind, "other")


def dtype_mismatches(sdf, odf) -> list[str]:
    """Columns whose dtype family differs between the two frames: the value
    comparison stringifies, so without this an int column replayed as a
    float (or a HUGEINT as an object) compares equal."""
    return [
        f"{c} {_family(sdf[c])} != {_family(odf[c])}"
        for c in sdf.columns if _family(sdf[c]) != _family(odf[c])
    ]


def main(sf_dir: str) -> int:
    spark = get_spark(master="local[8]", app_name="oracle_check", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_fail = 0
    for name, fn in queries.items():
        sql = oracles.get(name)
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if sql is None:
            status = "ROWS-ONLY"
            print(f"{'ok' if len(sdf) >= 0 else 'FAIL':5s} {name}: {status} rows={len(sdf)}")
            continue
        try:
            odf = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        scols, srows = normalize(sdf)
        ocols, orows = normalize(odf)
        if scols != ocols:
            print(f"FAIL  {name}: columns {scols} != {ocols}")
            n_fail += 1
        elif bad := dtype_mismatches(sdf, odf):
            print(f"FAIL  {name}: dtype family {bad}")
            n_fail += 1
        elif len(srows) != len(orows):
            print(f"FAIL  {name}: rowcount {len(srows)} != {len(orows)}")
            n_fail += 1
        elif srows != orows:
            diff = [i for i, (a, b) in enumerate(zip(srows, orows)) if a != b][:3]
            print(f"FAIL  {name}: values differ, first diffs at {diff}")
            for i in diff[:2]:
                print(f"      spark : {srows[i]}")
                print(f"      oracle: {orows[i]}")
            n_fail += 1
        else:
            print(f"ok    {name}: rows={len(srows)}")
    print("ALL OK" if n_fail == 0 else f"{n_fail} FAILURES")
    return n_fail


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    raise SystemExit(main(sf))
