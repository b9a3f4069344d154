#!/usr/bin/env python
"""Record-identity check for the SnapshotTable commit path: run one
fixed sequence of every mutation against two checkouts of the engine
and compare the `_log/` files (record segments and checkpoints) each
writes, byte for byte after normalizing commit timestamps and table
roots.  A refactor of the commit path must leave them identical.

The sequence covers commit, append (also onto an empty table),
append_stream_batch (first batch, later batch, replay),
merge_stream_batch, merge in cow and dv mode (with updates, pure
insert, and the DV->CoW budget fallback), delete_where in cow and dv
mode (and its fallback), add/drop_constraint, evolve (widen, rename,
drop), appends across the rename, compact, rollback, a full-replace
commit after a rename, and an ANN table with a retrain compaction, a
partial retrain and a rename of its vector column.

Usage: python scripts/record_identity.py <checkout_a> <checkout_b>
Each checkout runs in its own process with PYTHONPATH set to it; the
exit status is 0 when every log file matches.
"""
from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import tempfile


def _scenario(base: str) -> None:
    from pyspark.sql import functions as F

    from dbt_lab_spark.plans.snapshots import SnapshotTable
    from dbt_lab_spark.session import get_spark

    spark = get_spark(
        app_name="record-identity", master="local[2]", shuffle_partitions=2
    )
    spark.sparkContext.setLogLevel("ERROR")

    def kv(lo, hi, mul=10):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * mul).alias("v")
        ).coalesce(1)

    t = SnapshotTable(
        os.path.join(base, "plain"), stat_cols=["k"], bloom_cols=["k"]
    )
    t.CHECKPOINT_EVERY = 4  # checkpoints land mid-sequence
    t.commit(kv(0, 20))
    t.append(kv(20, 30))
    t.append_stream_batch(kv(30, 35), batch_id=1)
    t.append_stream_batch(kv(30, 35), batch_id=1)  # replay: no commit
    t.add_constraint(spark, "v_pos", "v >= 0")
    t.merge(spark, kv(5, 8, 7), on=["k"], mode="cow")
    t.merge(spark, kv(25, 40, 3), on=["k"], mode="dv")
    t.merge(spark, kv(100, 102), on=["k"], mode="dv")  # pure insert
    t.merge(spark, kv(0, 4, 5), on=["k"], mode="dv", max_dv_rows=0)
    t.delete_where(spark, "k = 21")
    t.delete_where(spark, "k = 22", mode="dv")
    t.delete_where(spark, "k > 95", mode="dv", max_dv_rows=0)
    t.merge_stream_batch(spark, kv(8, 10, 2), batch_id=2, on=["k"])
    t.drop_constraint("v_pos")
    t.add_constraint(spark, "k_pos", "k >= 0")
    t.evolve(widen={}, rename={"v": "w"})
    t.append(kv(200, 205).withColumnRenamed("v", "w"))
    t.append(
        kv(205, 207).withColumnRenamed("v", "w").withColumn("x", F.lit(1))
    )
    t.evolve(drop=["x"])
    t.compact(spark, target_mb=64.0)
    t.rollback(6)
    t.append(kv(300, 303))
    t.commit(kv(400, 405).withColumnRenamed("v", "w"))
    t.compact(spark, target_mb=64.0, order_by=["k"])

    s = SnapshotTable(os.path.join(base, "stream"))
    s.append_stream_batch(kv(0, 5), batch_id=0)  # first batch: full dir
    s.append_stream_batch(kv(5, 9), batch_id=1)
    m = SnapshotTable(os.path.join(base, "stream_merge"))
    m.merge_stream_batch(spark, kv(0, 5), batch_id=0, on=["k"])
    m.merge_stream_batch(spark, kv(3, 8, 2), batch_id=1, on=["k"])
    a = SnapshotTable(os.path.join(base, "append_empty"))
    a.append(kv(0, 3))
    a.append(kv(3, 6))

    def vecs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("vec_id"),
            F.array(
                (F.col("id") % 4).cast("float"),
                (F.col("id") % 3).cast("float"),
            ).alias("vec"),
        ).coalesce(1)

    cents = [[0.0, 0.0], [1.0, 1.0], [2.0, 0.0], [3.0, 2.0]]
    n = SnapshotTable(
        os.path.join(base, "ann"),
        ann_col="vec",
        ann_lists=4,
        ann_files=2,
        ann_centroids=cents,
    )
    n.commit(vecs(0, 40))
    n.append(vecs(40, 60))
    n.compact(spark, retrain_ann=True, retrain_iters=0)
    n.append(vecs(60, 70))
    n.compact(spark, retrain_ann=True, retrain_iters=0, only_drifted=-1.0)
    n.append(vecs(70, 80))
    n.compact(spark, target_mb=64.0)
    n.evolve(rename={"vec": "emb"})
    n.rollback(1)
    spark.stop()


_TS = re.compile(r'("ts":\s*)[0-9.eE+-]+')


def _dump(base: str) -> dict[str, str]:
    out = {}
    for table in sorted(os.listdir(base)):
        log = os.path.join(base, table, "_log")
        for name in sorted(os.listdir(log)):
            if not name.endswith(".json"):
                continue
            with open(os.path.join(log, name)) as fh:
                text = fh.read()
            text = _TS.sub(r"\g<1>0", text.replace(base, "<base>"))
            out[f"{table}/{name}"] = text
    return out


def main() -> int:
    if len(sys.argv) == 3 and sys.argv[1] == "--dump":
        base = os.path.realpath(tempfile.mkdtemp(prefix="record_identity_"))
        _scenario(base)
        with open(sys.argv[2], "w") as fh:
            json.dump(_dump(base), fh)
        return 0
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    dumps = []
    for checkout in sys.argv[1:]:
        out = tempfile.mktemp(suffix=".json")
        env = dict(os.environ, PYTHONPATH=os.path.abspath(checkout))
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--dump", out],
            env=env,
            check=True,
        )
        with open(out) as fh:
            dumps.append(json.load(fh))
        os.unlink(out)
    a, b = dumps
    diff = sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k))
    for k in diff:
        print(f"DIFF {k}\n  a: {a.get(k)}\n  b: {b.get(k)}")
    print(f"DONE files={len(set(a) | set(b))} identical={len(set(a) | set(b)) - len(diff)} differ={len(diff)}")
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main())
