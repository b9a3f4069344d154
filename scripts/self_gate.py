#!/usr/bin/env python
"""Self-run the ROTATING gate (VERDICT r5 #2): execute the 50-query
sample from GATE_SAMPLE_r{N}.json at sf0.01 and write
CORRECTNESS_SELF_r{N}.json in the driver's per-query shape
(rows_match / schema_match / hash_match / spark_rows / oracle_rows /
err) — so the rotated queries actually get gate-style coverage each
round even before the driver adopts the sample.

Usage:  python scripts/self_gate.py [round_number] [sf_dir]

Regenerate the sample first (scripts/gate_sample.py); gate_sample's
staleness history counts both the driver's CORRECTNESS_r*.json and
these CORRECTNESS_SELF_r*.json files, so self-running advances the
rotation.
"""

from __future__ import annotations

import glob
import json
import os
import re
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


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry
    from oracle import compare, duckdb_connect

    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "GATE_SAMPLE_r*.json"))
        if (m := re.search(r"GATE_SAMPLE_r(\d+)\.json$", p))
    ]
    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else max(rounds)
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    with open(os.path.join(REPO, f"GATE_SAMPLE_r{rnd}.json")) as fh:
        sample = json.load(fh)["sample"]

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_connect(sf_dir)
    qs, osql = entry.queries(), entry.oracle_sql()
    out: dict[str, dict] = {}
    n_ok = 0
    for name in sample:
        t0 = time.time()
        try:
            rep = compare(qs[name](spark, sf_dir), con, osql[name])
            out[name] = {
                "rows_match": rep["count_match"],
                "schema_match": rep["schema_match"],
                "hash_match": rep["value_match"],
                "spark_rows": rep["spark_count"],
                "oracle_rows": rep["duck_count"],
                "err": None,
            }
            n_ok += bool(rep["ok"])
            status = "OK" if rep["ok"] else "FAIL"
        except Exception as exc:  # noqa: BLE001
            out[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": None,
                "oracle_rows": None,
                "err": f"{type(exc).__name__}: {exc}"[:200],
            }
            status = "ERR"
        print(f"{status:4} {name} ({time.time() - t0:.1f}s)", file=sys.stderr, flush=True)
    dest = os.path.join(REPO, f"CORRECTNESS_SELF_r{rnd}.json")
    with open(dest, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(f"DONE ok={n_ok}/{len(sample)} -> {dest}")


if __name__ == "__main__":
    main()
