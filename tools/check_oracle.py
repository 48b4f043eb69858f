"""Driver-sim: run every __spark_entry__.queries() entry at sf0.01 and
compare against its oracle_sql() via DuckDB — row count, column names,
order-insensitive values. Usage: python tools/check_oracle.py [names...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("CHECK_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def norm_cell(v):
    import datetime

    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return round(float(v), 6)
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, np.ndarray)):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm_cell(x)) for k, x in v.items()))
    return v


def frame_key(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = [tuple(norm_cell(v) for v in row) for row in pdf.itertuples(index=False)]
    return sorted(rows, key=repr)


def main():
    import duckdb

    import __spark_entry__ as e
    from s1tiling_spark.session import build_session
    from s1tiling_spark.sources.tables import TABLES

    qs, osql = e.queries(), e.oracle_sql()
    only = set(sys.argv[1:])
    unknown = [name for name in sys.argv[1:] if name not in qs]
    for name in unknown:
        print(f"FAIL  {name}: no such query")
    if unknown:
        sys.exit(1)

    spark = build_session(master="local[8]", app_name="oracle-check", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failures += 1
            continue
        try:
            odf = con.sql(osql[name]).df()
        except Exception as ex:
            print(f"FAIL  {name}: oracle error: {ex}")
            failures += 1
            continue
        sk, ok = frame_key(sdf), frame_key(odf)
        cols_s, cols_o = sorted(sdf.columns), sorted(odf.columns)
        if cols_s != cols_o:
            print(f"FAIL  {name}: columns {cols_s} vs {cols_o}")
            failures += 1
        elif len(sk) != len(ok):
            print(f"FAIL  {name}: rows {len(sk)} vs {len(ok)}")
            failures += 1
        elif sk != ok:
            diff = next(i for i, (a, b) in enumerate(zip(sk, ok)) if a != b)
            print(f"FAIL  {name}: value mismatch at sorted row {diff}:")
            print(f"   spark:  {sk[diff]}")
            print(f"   oracle: {ok[diff]}")
            failures += 1
        else:
            print(f"OK    {name}: {len(sk)} rows [{time.time()-t0:.1f}s]")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
