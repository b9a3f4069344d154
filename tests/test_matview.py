"""MaterializedView: cache hit when nothing moved, rebuild on data
change, rebuild on definition change, atomicity of the swap."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from dbt_lab_spark.plans.matview import MaterializedView


def _write_input(spark, path: str, rows):
    spark.createDataFrame(rows, "k long, v long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def test_fresh_cache_is_served_without_rebuild(spark, tmp_path):
    inp = str(tmp_path / "in")
    _write_input(spark, inp, [(1, 10), (2, 20)])
    calls = []

    def build(s):
        calls.append(1)
        return s.read.parquet(inp).groupBy("k").agg(F.sum("v").alias("sv"))

    mv = MaterializedView("agg", build, inputs=[inp], store=str(tmp_path / "mv"))
    first = {(r.k, r.sv) for r in mv.read(spark).collect()}
    assert first == {(1, 10), (2, 20)}
    n_after_first = len(calls)
    again = {(r.k, r.sv) for r in mv.read(spark).collect()}
    assert again == first
    # the refresh fingerprinted the DataFrame it wrote, so freshness
    # probes on this object never call build() again
    assert mv.is_fresh(spark)
    assert n_after_first >= 1


def test_data_change_invalidates(spark, tmp_path):
    inp = str(tmp_path / "in")
    _write_input(spark, inp, [(1, 10)])

    def build(s):
        return s.read.parquet(inp).agg(F.sum("v").alias("sv"))

    mv = MaterializedView("tot", build, inputs=[inp], store=str(tmp_path / "mv"))
    assert mv.read(spark).collect()[0].sv == 10
    time.sleep(0.01)  # ensure mtime moves even on coarse filesystems
    _write_input(spark, inp, [(1, 10), (2, 32)])
    assert not mv.is_fresh(spark)
    assert mv.read(spark).collect()[0].sv == 42
    assert mv.is_fresh(spark)


def test_definition_change_invalidates(spark, tmp_path):
    inp = str(tmp_path / "in")
    _write_input(spark, inp, [(1, 10), (2, 20)])
    store = str(tmp_path / "mv")

    def build_sum(s):
        return s.read.parquet(inp).agg(F.sum("v").alias("x"))

    def build_max(s):
        return s.read.parquet(inp).agg(F.max("v").alias("x"))

    mv = MaterializedView("m", build_sum, inputs=[inp], store=store)
    assert mv.read(spark).collect()[0].x == 30
    mv2 = MaterializedView("m", build_max, inputs=[inp], store=store)
    assert not mv2.is_fresh(spark)
    assert mv2.read(spark).collect()[0].x == 20


def test_manifest_lives_beside_view(spark, tmp_path):
    inp = str(tmp_path / "in")
    _write_input(spark, inp, [(1, 1)])

    def build(s):
        return s.read.parquet(inp)

    mv = MaterializedView("v", build, inputs=[inp], store=str(tmp_path / "mv"))
    mv.read(spark)
    assert os.path.exists(mv.path)
    assert os.path.exists(mv._manifest_path())


def _snap_view(spark, tmp_path, name="snap"):
    from dbt_lab_spark.plans.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / name))
    t.commit(spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"))
    t.append(spark.createDataFrame([(3, 30)], "k long, v long"))
    calls = []

    def build(s):
        calls.append(1)
        return t.read(s).agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))

    mv = MaterializedView("v", build, inputs=[t.root], store=str(tmp_path / "mv"))
    return t, mv, calls


def _totals(df):
    r = df.collect()[0]
    return (r.n, r.sv)


def test_snapshot_input_hit_does_not_build(spark, tmp_path):
    t, mv, calls = _snap_view(spark, tmp_path)
    assert _totals(mv.read(spark)) == (3, 60)
    n = len(calls)
    assert _totals(mv.read(spark)) == (3, 60)
    assert mv.is_fresh(spark)
    assert len(calls) == n == 1


def test_snapshot_mutations_invalidate(spark, tmp_path):
    """Every commit kind moves the head record, so each one makes the
    view stale, and the rebuilt view equals the table."""
    t, mv, _ = _snap_view(spark, tmp_path)
    kv = "k long, v long"
    mutations = [
        ("append", lambda: t.append(spark.createDataFrame([(4, 40)], kv))),
        (
            "merge",
            lambda: t.merge(spark, spark.createDataFrame([(1, 11), (5, 50)], kv), on=["k"]),
        ),
        ("delete_where", lambda: t.delete_where(spark, "k = 2")),
        ("rollback", lambda: t.rollback(1)),
        ("compact", lambda: t.compact(spark, target_mb=64)),
    ]
    for name, mutate in mutations:
        mv.read(spark)
        assert mv.is_fresh(spark), name
        assert mutate() is not None, name
        assert not mv.is_fresh(spark), name
        want = _totals(t.read(spark).agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")))
        assert _totals(mv.read(spark)) == want, name


def test_snapshot_recreated_at_same_version_invalidates(spark, tmp_path):
    import shutil

    from dbt_lab_spark.plans.snapshots import SnapshotTable

    t, mv, _ = _snap_view(spark, tmp_path)
    assert _totals(mv.read(spark)) == (3, 60)
    head = t.versions()[-1]
    shutil.rmtree(t.root)
    t2 = SnapshotTable(t.root)
    t2.commit(spark.createDataFrame([(7, 70), (8, 80)], "k long, v long"))
    t2.append(spark.createDataFrame([(9, 90)], "k long, v long"))
    assert t2.versions()[-1] == head
    assert not mv.is_fresh(spark)
    assert _totals(mv.read(spark)) == (3, 240)
