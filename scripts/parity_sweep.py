#!/usr/bin/env python
"""Full oracle-parity sweep: run EVERY oracle-backed query in
`__spark_entry__.queries()` at a given SF dir and hash-compare against
its DuckDB oracle — the driver-gate mimic (tests/oracle.py) applied at
scale factors the gate itself doesn't cover.

Why this exists: the driver's correctness gate runs at sf0.01 only.
sf0.001 exercises tiny-table edges (empty groups, short docs, windows
larger than the data); sf0.1 exercises threshold-sensitive oracles
(percentile cuts, similarity thresholds) at 10x the gate's data.  Run
both before calling a round done:

    python scripts/parity_sweep.py /root/testdata/sf0.001 /tmp/p0001.txt
    python scripts/parity_sweep.py /root/testdata/sf0.1   /tmp/p01.txt
    python scripts/parity_sweep.py --tuned <sf_dir> <report_file>

By default the session is a vanilla one, as the driver's gate builds
it: scans read parquet directly.  `--tuned` builds the engine's own
session (`dbt_lab_spark.session.get_spark()`), so scans go through the
CBO catalog tables and every conf it sets is checked against the
oracles too; both modes must report the same count.

Last full result: 384/384 OK at sf0.001 in both modes.
"""
import argparse
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
from conftest import SF_SMALL  # noqa: E402  (tests/conftest.py)
from oracle import duckdb_connect, compare  # noqa: E402  (tests/oracle.py)

ap = argparse.ArgumentParser(description="oracle-parity sweep over every oracle-backed query")
ap.add_argument("sf", nargs="?", default=SF_SMALL)
ap.add_argument("out", nargs="?", default=None, help="report file (default: stderr)")
ap.add_argument("--tuned", action="store_true", help="use the engine's get_spark() session")
args = ap.parse_args()
SF = args.sf
out = open(args.out, "w") if args.out else sys.stderr

if args.tuned:
    from dbt_lab_spark.session import get_spark

    spark = get_spark(app_name="parity-sweep-tuned", extra_conf={"spark.ui.showConsoleProgress": "false"})
else:
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
for name in sorted(qs):
    if name not in osql:
        continue
    t0 = time.time()
    try:
        rep = compare(qs[name](spark, SF), con, osql[name])
        if rep["ok"]:
            n_ok += 1
            print(f"OK   {name} ({time.time() - t0:.1f}s)", file=out, flush=True)
        else:
            n_bad += 1
            print(f"FAIL {name}: {rep}", file=out, flush=True)
    except Exception as ex:  # keep sweeping; report at the end
        n_err += 1
        print(f"ERR  {name}: {type(ex).__name__}: {str(ex)[:200]}", file=out, flush=True)
print(f"DONE ok={n_ok} fail={n_bad} err={n_err}", file=out, flush=True)
sys.exit(0 if (n_bad == 0 and n_err == 0) else 1)
