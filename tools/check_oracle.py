"""Local stand-in for the driver's correctness gate.

Runs each ``__spark_entry__.queries()`` entry and its ``oracle_sql()`` twin
on the same parquet tables (default sf0.01), compares row count, column
names, and an order-insensitive value hash (columns sorted by name, rows
sorted, values canonicalized). Usage: ``python tools/check_oracle.py [sf_dir]``.
The ``oracle_gate`` fixture in ``tests/conftest.py`` imports the fetch and
hash helpers below.
"""

from __future__ import annotations

import hashlib
import math
import sys
from datetime import datetime

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return f"{v:.6f}"
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    try:
        import numpy as np
        if isinstance(v, np.ndarray):
            return "[" + ",".join(canon(x) for x in v.tolist()) + "]"
        if isinstance(v, np.integer):
            return str(int(v))
        if isinstance(v, np.floating):
            return canon(float(v))
    except ImportError:
        pass
    return str(v)


def _pd_row(row):
    return tuple(None if x is None or (isinstance(x, float) and math.isnan(x))
                 else x for x in row)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def open_duckdb(sf_dir):
    """In-memory DuckDB with one view per parquet table of ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def spark_rows(sdf):
    """(columns, rows) of a Spark DataFrame, fetched via pandas like the
    oracle side: nullable int columns degrade to float64 on BOTH sides, so
    degradation must be symmetric for the hash to be meaningful."""
    spdf = sdf.toPandas()
    return list(spdf.columns), [_pd_row(row) for row in spdf.itertuples(index=False, name=None)]


def duck_rows(con, sql):
    """(columns, rows) of an oracle query, fetched via pandas, NOT
    fetchall(): the correctness gate goes through pandas, where DuckDB HUGEINT
    (e.g. SUM(BIGINT)) degrades to float64 — reproduce that here or local
    PASSes lie (VERDICT r1 #1)."""
    pdf = con.execute(sql).fetchdf()
    return list(pdf.columns), [_pd_row(row) for row in pdf.itertuples(index=False, name=None)]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or None

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod
    from wine_label_ocr_spark.session import get_spark

    spark = get_spark(app="check_oracle", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = open_duckdb(sf_dir)

    qs, oq = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            scols, srows = spark_rows(fn(spark, sf_dir))
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if name not in oq:
            print(f"ok?  {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            dcols, drows = duck_rows(con, oq[name])
        except Exception as e:
            print(f"FAIL {name}: duckdb error {str(e)[:300]}")
            failures += 1
            continue
        ok_n = len(srows) == len(drows)
        ok_c = sorted(scols) == sorted(dcols)
        sh = value_hash(scols, srows)
        dh = value_hash(dcols, drows)
        ok_h = sh == dh
        status = "PASS" if (ok_n and ok_c and ok_h) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"{status} {name}: rows {len(srows)}/{len(drows)} cols_ok={ok_c} hash_ok={ok_h}")
        if not ok_h and ok_c and srows and drows:
            names = sorted(scols)
            smap = [scols.index(c) for c in names]
            sset = sorted("|".join(canon(row[i]) for i in smap) for row in srows)
            dmap = [dcols.index(c) for c in names]
            dset = sorted("|".join(canon(row[i]) for i in dmap) for row in drows)
            d_as_set = set(dset)
            s_as_set = set(sset)
            print("   spark-only:", [x[:160] for x in sset if x not in d_as_set][:3])
            print("   duck-only :", [x[:160] for x in dset if x not in s_as_set][:3])
    print("failures:", failures)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
