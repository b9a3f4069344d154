#!/usr/bin/env python
"""Targeted oracle-parity check: parity_sweep.py restricted to a
comma-separated query list — the dev-loop tool for verifying an
optimization did not change what a query computes, before paying for
the full sweep.

    python scripts/parity_subset.py <sf_dir> q_a,q_b[,...]
"""
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))
# sys.path reaches only this driver; the Python workers that run the
# UDF queries import dbt_lab_spark too, and inherit PYTHONPATH from the
# JVM, which the session below starts with this process's environment
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p
)

from pyspark.sql import SparkSession

import __spark_entry__ as e
from oracle import duckdb_connect, compare  # noqa: E402

SF = sys.argv[1]
names = [n for n in sys.argv[2].split(",") if n]

spark = (
    SparkSession.builder.master("local[16]")
    .config("spark.sql.shuffle.partitions", "16")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
con = duckdb_connect(SF)
qs, osql = e.queries(), e.oracle_sql()
n_ok = n_bad = n_err = 0
for name in names:
    t0 = time.time()
    try:
        if name not in osql:
            rows = qs[name](spark, SF).count()
            print(f"OK?  {name} rows-only n={rows} ({time.time() - t0:.1f}s)", flush=True)
            n_ok += 1
            continue
        rep = compare(qs[name](spark, SF), con, osql[name])
        if rep["ok"]:
            n_ok += 1
            print(f"OK   {name} ({time.time() - t0:.1f}s)", flush=True)
        else:
            n_bad += 1
            print(f"FAIL {name}: {rep}", flush=True)
    except Exception as ex:
        n_err += 1
        print(f"ERR  {name}: {type(ex).__name__}: {str(ex)[:300]}", flush=True)
print(f"DONE ok={n_ok} fail={n_bad} err={n_err}", flush=True)
sys.exit(0 if (n_bad == 0 and n_err == 0) else 1)
