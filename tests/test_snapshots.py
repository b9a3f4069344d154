"""SnapshotTable: time travel, O(batch) append commits, rollback as a
forward commit, snapshot isolation of old readers."""

from __future__ import annotations

import os

import pytest

from dbt_lab_spark.plans import snapshots as _snapshots
from dbt_lab_spark.plans.snapshots import SnapshotTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_time_travel_reads(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    v0 = t.commit(_df(spark, [(1, "a")]))
    v1 = t.append(_df(spark, [(2, "b")]))
    v2 = t.append(_df(spark, [(3, "c")]))
    assert (v0, v1, v2) == (0, 1, 2)
    assert {r.k for r in t.read(spark, version=0).collect()} == {1}
    assert {r.k for r in t.read(spark, version=1).collect()} == {1, 2}
    assert {r.k for r in t.read(spark).collect()} == {1, 2, 3}


def test_append_writes_only_the_delta(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(i, "x") for i in range(100)]))
    t.append(_df(spark, [(1000, "y")]))
    dirs = sorted(d for d in os.listdir(t.root) if d.startswith("v"))
    assert len(dirs) == 2  # base + delta; base never rewritten
    assert t.read(spark).count() == 101


def test_rollback_moves_head_keeps_history(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    v = t.rollback(0)
    assert v == 2
    assert {r.k for r in t.read(spark).collect()} == {1}
    # the rolled-past version is still readable
    assert {r.k for r in t.read(spark, version=1).collect()} == {1, 2}


def test_empty_table_read_raises(spark, tmp_path):
    import pytest as _pytest

    t = SnapshotTable(str(tmp_path / "t"))
    with _pytest.raises(ValueError, match="no commits"):
        t.read(spark)


def test_stream_batch_commits_are_idempotent(spark, tmp_path):
    """Replaying a micro-batch (Structured Streaming's post-failure
    redelivery) must not duplicate rows: the second delivery of
    batch_id=1 is a no-op."""
    t = SnapshotTable(str(tmp_path / "t"))
    assert t.append_stream_batch(_df(spark, [(1, "a")]), batch_id=0) == 0
    assert t.append_stream_batch(_df(spark, [(2, "b")]), batch_id=1) == 1
    assert t.append_stream_batch(_df(spark, [(2, "b")]), batch_id=1) is None  # replay
    assert t.append_stream_batch(_df(spark, [(3, "c")]), batch_id=2) == 2
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2, 3]


def test_stream_batches_via_real_foreachbatch(spark, tmp_path):
    """Drive the sink through an actual readStream->foreachBatch run:
    table contents equal the batch union regardless of micro-batch
    boundaries."""
    src = str(tmp_path / "src")
    _df(spark, [(i, f"r{i}") for i in range(20)]).coalesce(2).write.parquet(src)
    t = SnapshotTable(str(tmp_path / "t"))
    stream = (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(
        lambda b, bid: t.append_stream_batch(b, bid)
    ).option("checkpointLocation", str(tmp_path / "ckpt")).start()
    q.processAllAvailable()
    q.stop()
    assert sorted(r.k for r in t.read(spark).collect()) == list(range(20))


def test_manifest_data_skipping_prunes_files(spark, tmp_path):
    """Commit value-range-disjoint batches; a between= read must skip
    the non-overlapping files at the MANIFEST level and still return
    exactly the filtered rows."""
    t = SnapshotTable(str(tmp_path / "t"), stat_cols=["k"])
    t.commit(_df(spark, [(i, "lo") for i in range(0, 100)]).repartition(1))
    t.append(_df(spark, [(i, "mid") for i in range(1000, 1100)]).repartition(1))
    t.append(_df(spark, [(i, "hi") for i in range(2000, 2100)]).repartition(1))
    kept, total = t.pruned_file_count(None, ("k", 1000, 1099))
    assert total == 3 and kept == 1
    rows = t.read(spark, between=("k", 1000, 1099)).collect()
    assert sorted(r.k for r in rows) == list(range(1000, 1100))
    # correctness against the unpruned scan + filter
    full = t.read(spark).filter("k between 1000 and 1099").collect()
    assert sorted(r.k for r in rows) == sorted(r.k for r in full)


def test_data_skipping_without_stats_is_conservative(spark, tmp_path):
    """A table committed WITHOUT stat_cols must still answer between=
    reads correctly (every file conservatively read)."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(i, "x") for i in range(50)]))
    rows = t.read(spark, between=("k", 10, 19)).collect()
    assert sorted(r.k for r in rows) == list(range(10, 20))


def test_vacuum_reclaims_unreferenced_snapshots(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))       # v0: dir A
    t.commit(_df(spark, [(2, "b")]))       # v1: dir B (full replace)
    t.append(_df(spark, [(3, "c")]))       # v2: dirs B+C
    removed = t.vacuum(keep_last=1, grace_s=0.0)
    assert len(removed) == 1               # dir A only; B still referenced
    assert sorted(r.k for r in t.read(spark).collect()) == [2, 3]
    assert t.versions() == [2]


def test_vacuum_keeps_time_travel_window(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    assert t.vacuum(keep_last=2, grace_s=0.0) == []     # v1 still references v0's dir
    assert {r.k for r in t.read(spark, version=1).collect()} == {1, 2}


def _head_files(t: SnapshotTable) -> list[str]:
    return [
        os.path.join(d, fn)
        for d in t._log()[-1]["files"]
        for fn in sorted(os.listdir(d))
        if fn.endswith(".parquet")
    ]


def test_compact_binpacks_and_preserves_contents(spark, tmp_path):
    """r5 (VERDICT r4 #6): compact() folds the small-file tail into
    target-size files in a NEW version — multiset contents identical
    (checksum), file count reduced, history intact."""
    t = SnapshotTable(str(tmp_path / "t"))
    for b in range(6):
        t.append(_df(spark, [(b * 10 + i, f"v{b}_{i}") for i in range(5)]).repartition(2))
    pre = t.versions()[-1]
    before = sorted((r.k, r.v) for r in t.read(spark).collect())
    n_files_before = len(_head_files(t))
    assert n_files_before == 12  # 6 deltas x repartition(2)
    v = t.compact(spark, target_mb=64)
    assert v == pre + 1
    assert len(_head_files(t)) == 1  # tiny total -> one bin
    after = sorted((r.k, r.v) for r in t.read(spark).collect())
    assert after == before
    # time travel across the compaction still resolves the OLD files
    travel = sorted((r.k, r.v) for r in t.read(spark, version=pre).collect())
    assert travel == before


def test_compact_keeps_large_dirs_and_stats(spark, tmp_path):
    """Directories at/over target are carried over untouched; manifest
    stats survive for the kept dir and are re-recorded for the
    compacted one, so between= skipping still prunes."""
    t = SnapshotTable(str(tmp_path / "t"), stat_cols=["k"])
    big = _df(spark, [(i, "big") for i in range(2000)]).coalesce(1)
    t.commit(big)
    t.append(_df(spark, [(100000, "s1")]))
    t.append(_df(spark, [(200000, "s2")]))
    big_dir = t._log()[0]["files"][0]
    big_bytes = sum(
        os.path.getsize(os.path.join(big_dir, f))
        for f in os.listdir(big_dir)
        if f.endswith(".parquet")
    )
    # target between the big dir and the small deltas
    v = t.compact(spark, target_mb=big_bytes / (1024 * 1024) * 0.9)
    assert v is not None
    head = t._log()[-1]
    assert big_dir in head["files"]  # untouched
    assert len(head["files"]) == 2  # big + one compacted dir
    # stats present for every head file -> skipping prunes to 1 file
    kept, total = t.pruned_file_count(None, ("k", 100000, 300000))
    assert total == 2 and kept == 1
    rows = {r.k for r in t.read(spark, between=("k", 100000, 300000)).collect()}
    assert rows == {100000, 200000}


def test_compact_noop_cases(spark, tmp_path):
    """Fewer than two small dirs -> None, no empty commit."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]).coalesce(1))
    n = len(t.versions())
    assert t.compact(spark, target_mb=64) is None
    assert len(t.versions()) == n


def test_merge_cow_rewrites_only_touched_dirs(spark, tmp_path):
    """Upsert touching keys in one of three directories rewrites
    exactly that directory; the others are carried by reference."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a"), (2, "b")]))
    t.append(_df(spark, [(10, "c"), (11, "d")]))
    t.append(_df(spark, [(20, "e")]))
    before_dirs = set(t._log()[-1]["files"])
    m = t.merge(spark, _df(spark, [(10, "C!"), (99, "new")]), on=["k"])
    assert m["n_dirs_rewritten"] == 1 and m["n_dirs_total"] == 3
    after_dirs = set(t._log()[-1]["files"])
    # the two untouched dirs are the SAME paths, not copies
    assert len(before_dirs & after_dirs) == 2
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "b", 10: "C!", 11: "d", 20: "e", 99: "new"}


def test_merge_pure_insert_touches_nothing(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))
    m = t.merge(spark, _df(spark, [(2, "b")]), on=["k"])
    assert m["n_dirs_rewritten"] == 0
    assert {r.k for r in t.read(spark).collect()} == {1, 2}


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    from pytest import raises

    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))
    with raises(ValueError):
        t.merge(spark, _df(spark, [(1, "x"), (1, "y")]), on=["k"])


def test_merge_preserves_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a"), (2, "b")]))
    t.merge(spark, _df(spark, [(1, "A")]), on=["k"])
    assert {r.v for r in t.read(spark, version=0).collect()} == {"a", "b"}
    assert {r.v for r in t.read(spark).collect()} == {"A", "b"}


def test_change_feed_append_is_pure_insert(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b"), (3, "c")]))
    feed = t.change_feed(spark, 0, 1).collect()
    assert {(r.k, r._change) for r in feed} == {(2, "insert"), (3, "insert")}


def test_change_feed_merge_emits_delete_insert_pairs(spark, tmp_path):
    """Unchanged rows in the rewritten directory cancel; only the
    updated key surfaces, as its delete+insert pair."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.merge(spark, _df(spark, [(2, "B!")]), on=["k"])
    feed = {(r.k, r.v, r._change) for r in t.change_feed(spark, 0, 1).collect()}
    assert feed == {(2, "b", "delete"), (2, "B!", "insert")}


def test_change_feed_identical_versions_is_empty(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))
    t.rollback(0)
    assert t.change_feed(spark, 0, 1).count() == 0


def test_schema_evolution_append_and_read(spark, tmp_path):
    """Additive evolution: an appended batch with a new column widens
    the table; old rows read as nulls; the pre-evolution version still
    reads with the OLD schema."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))
    t.append(
        spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double")
    )
    head = t.read(spark)
    assert head.columns == ["k", "v", "score"]
    got = {r.k: r.score for r in head.collect()}
    assert got == {1: None, 2: 9.5}
    assert t.read(spark, version=0).columns == ["k", "v"]


def test_schema_evolution_merge_and_compact(spark, tmp_path):
    """After evolution, merge demands the full column set and compact
    folds heterogeneous small dirs under the merged schema."""
    from pytest import raises

    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a"), (2, "b")]))
    t.append(
        spark.createDataFrame([(3, "c", 1.5)], "k long, v string, score double")
    )
    with raises(ValueError):
        t.merge(spark, _df(spark, [(1, "A")]), on=["k"])
    t.merge(
        spark,
        spark.createDataFrame([(1, "A", 7.0)], "k long, v string, score double"),
        on=["k"],
    )
    got = {r.k: (r.v, r.score) for r in t.read(spark).collect()}
    assert got == {1: ("A", 7.0), 2: ("b", None), 3: ("c", 1.5)}
    v = t.compact(spark, target_mb=64)
    assert v is not None
    assert {r.k: (r.v, r.score) for r in t.read(spark).collect()} == got


def test_change_feed_across_schema_evolution(spark, tmp_path):
    """A feed spanning the evolution boundary aligns the old side with
    typed nulls."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))
    t.append(
        spark.createDataFrame([(2, "b", 3.5)], "k long, v string, score double")
    )
    feed = {(r.k, r.score, r._change) for r in t.change_feed(spark, 0, 1).collect()}
    assert feed == {(2, 3.5, "insert")}


def test_compact_order_by_tightens_skipping(spark, tmp_path):
    """Clustered compaction (order_by=) must strictly improve
    manifest-based file pruning vs the plain bin-pack: interleaved
    appends give every small file the full key range (nothing prunes);
    after a clustered rewrite each file owns a narrow range and a
    between= read prunes most files."""
    t = SnapshotTable(str(tmp_path / "t"), stat_cols=["k"])
    # 4 interleaved appends: every file spans k in {0..199}
    for b in range(4):
        t.append(
            spark.range(b, 200, 4).selectExpr("id AS k", "'x' AS v").repartition(2)
        )
    kept0, total0 = t.pruned_file_count(None, ("k", 0, 9))
    assert kept0 >= total0 - 1  # interleaved: (almost) nothing skips
    v = t.compact(spark, order_by=["k"], n_files=8)
    assert v is not None
    kept1, total1 = t.pruned_file_count(None, ("k", 0, 9))
    # clustered: the 10-key probe touches at most 2 of the range files
    assert total1 > 1 and kept1 <= 2 and kept1 < kept0
    got = sorted(r.k for r in t.read(spark, between=("k", 0, 9)).collect())
    assert got == list(range(10))  # and results stay exact


def test_delete_where_cow_and_noop(spark, tmp_path):
    """Row-level DELETE rewrites only directories containing matches;
    a no-match predicate commits nothing; NULL-condition rows are KEPT
    (SQL DELETE semantics: only TRUE deletes)."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a"), (2, "b")]))
    t.append(_df(spark, [(10, "c"), (11, None)]))
    n_versions = len(t.versions())
    m = t.delete_where(spark, "k = 999")
    assert m["version"] is None and m["n_deleted"] == 0
    assert len(t.versions()) == n_versions  # no empty commit
    m = t.delete_where(spark, "v = 'c'")  # NULL v row must survive
    assert m == {
        "version": n_versions,
        "n_dirs_rewritten": 1,
        "n_dirs_total": 2,
        "n_deleted": 1,
    }
    got = {(r.k, r.v) for r in t.read(spark).collect()}
    assert got == {(1, "a"), (2, "b"), (11, None)}
    assert t.read(spark, version=n_versions - 1).count() == 4  # time travel


def test_merge_and_delete_with_relative_root(spark, tmp_path, monkeypatch):
    """r6 pin (ADVICE r5 medium): a RELATIVE table root used to make
    touched-dir detection miss every file (absolute _metadata.file_path
    never prefix-matched the relative manifest paths), so merge dropped
    matched updates and delete_where no-opped — silently.  The root is
    now canonicalized and both paths must rewrite."""
    monkeypatch.chdir(tmp_path)
    t = SnapshotTable("relsnap")
    t.commit(_df(spark, [(1, "a"), (2, "b")]))
    res = t.merge(spark, _df(spark, [(2, "B"), (3, "c")]), on=["k"])
    assert res["n_dirs_rewritten"] == 1
    got = {(r.k, r.v) for r in t.read(spark).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    res = t.delete_where(spark, "k = 1")
    assert res["n_deleted"] == 1
    assert {r.k for r in t.read(spark).collect()} == {2, 3}


def test_merge_casts_type_divergent_source(spark, tmp_path):
    """r6 pin (ADVICE r5 low): a source whose column NAMES match but
    types diverge (int vs long) is cast to the recorded table schema,
    keeping every snapshot directory physically homogeneous."""
    from pyspark.sql import types as T

    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))
    src = spark.createDataFrame([(1, "A"), (9, "z")], "k int, v string")
    t.merge(spark, src, on=["k"])
    head = t.read(spark)
    assert head.schema["k"].dataType == T.LongType()
    assert {(r.k, r.v) for r in head.collect()} == {(1, "A"), (9, "z")}


def test_evolve_type_widening(spark, tmp_path):
    """r6 (VERDICT r5 #6): widen int->long / float->double as a
    metadata-only commit — no rewrite, old dirs read back cast, new
    appends land in the widened type, and time travel to the pre-widen
    version still reads the ORIGINAL types."""
    from pyspark.sql import types as T

    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, 1.5), (2, 2.5)], "k int, score float"))
    n_dirs_before = len(t._log()[-1]["files"])
    v = t.evolve(widen={"k": "long", "score": "double"})
    assert t._log()[-1]["files"] == t._log()[v - 1]["files"]  # no rewrite
    head = t.read(spark)
    assert head.schema["k"].dataType == T.LongType()
    assert head.schema["score"].dataType == T.DoubleType()
    assert {(r.k, r.score) for r in head.collect()} == {(1, 1.5), (2, 2.5)}
    # appends now land wide; reads stay exact across generations
    t.append(spark.createDataFrame([(3_000_000_000, 9.25)], "k long, score double"))
    got = {r.k for r in t.read(spark).collect()}
    assert got == {1, 2, 3_000_000_000}
    # time travel: original narrow types
    old = t.read(spark, version=0)
    assert old.schema["k"].dataType == T.IntegerType()
    assert old.schema["score"].dataType == T.FloatType()
    assert len(t._log()[-1]["files"]) == n_dirs_before + 1


def test_evolve_rename_and_mixed_reads(spark, tmp_path):
    """Column rename in the log: old dirs keep the old physical name,
    reads alias per generation, appends use the new name, time travel
    shows the old one, and `between=` skipping follows the rename."""
    t = SnapshotTable(str(tmp_path / "t"), stat_cols=["k"])
    t.commit(_df(spark, [(1, "a"), (10, "b")]))
    t.evolve(rename={"v": "label"})
    assert t.read(spark).columns == ["k", "label"]
    assert {(r.k, r.label) for r in t.read(spark).collect()} == {(1, "a"), (10, "b")}
    t.append(spark.createDataFrame([(20, "c")], "k long, label string"))
    assert {(r.k, r.label) for r in t.read(spark).collect()} == {
        (1, "a"), (10, "b"), (20, "c")
    }
    assert t.read(spark, version=0).columns == ["k", "v"]
    # manifest skipping still works across the rename boundary
    kept, total = t.pruned_file_count(None, ("k", 15, 25))
    assert total >= 2 and kept < total
    assert {r.label for r in t.read(spark, between=("k", 15, 25)).collect()} == {"c"}


def test_evolve_then_merge_and_change_feed(spark, tmp_path):
    """DML composes with evolution: merge on the renamed/widened schema
    rewrites only touched dirs; the pure evolve commit itself produces
    an EMPTY change feed (all dirs shared by reference)."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    v = t.evolve(widen={"k": "long"}, rename={"v": "label"})
    assert t.change_feed(spark, v - 1, v).count() == 0  # metadata-only
    res = t.merge(
        spark, spark.createDataFrame([(2, "B"), (3, "c")], "k long, label string"),
        on=["k"],
    )
    assert res["n_dirs_rewritten"] == 1
    assert {(r.k, r.label) for r in t.read(spark).collect()} == {
        (1, "a"), (2, "B"), (3, "c")
    }


def test_evolve_rejects_unsafe_changes(spark, tmp_path):
    from pytest import raises

    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, 2)], "k long, n int"))
    with raises(ValueError):
        t.evolve(widen={"k": "integer"})  # narrowing
    with raises(ValueError):
        t.evolve(widen={"missing": "long"})
    with raises(ValueError):
        t.evolve(rename={"n": "k"})  # collision


def test_evolve_drop_with_column_mapping(spark, tmp_path):
    """r6: metadata-only column DROP; a later column re-using the name
    must NOT resurrect the old physical data (tombstone mapping), and
    time travel before the drop still reads the original column."""
    from pytest import raises

    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a", 9.5)], "k long, v string, x double"))
    v = t.evolve(drop=["x"])
    assert t.read(spark).columns == ["k", "v"]
    assert t._log()[-1]["files"] == t._log()[v - 1]["files"]  # no rewrite
    # time travel: x still there
    assert t.read(spark, version=0).columns == ["k", "v", "x"]
    assert t.read(spark, version=0).first().x == 9.5
    # re-add a column named x (different type): pre-drop rows null-fill,
    # the old 9.5 never leaks back
    t.append(spark.createDataFrame([(2, "b", "NEW")], "k long, v string, x string"))
    got = {(r.k, r.v, r.x) for r in t.read(spark).collect()}
    assert got == {(1, "a", None), (2, "b", "NEW")}
    # guards
    with raises(ValueError):
        t.evolve(drop=["missing"])
    with raises(ValueError):
        t.evolve(drop=["k", "v", "x"])
    with raises(ValueError):
        t.evolve(drop=["k"], rename={"k": "kk"})


def test_check_constraints(spark, tmp_path):
    """r6: Delta-style CHECK constraints in the log — validated on
    add (existing rows), enforced on append/stream/merge, inherited by
    every commit, SQL NULL-passes semantics, droppable."""
    from pytest import raises

    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, 10.0), (2, None)], "k long, amt double"))
    t.add_constraint(spark, "amt_nonneg", "amt >= 0")  # NULL row passes
    with raises(ValueError, match="amt_nonneg"):
        t.append(spark.createDataFrame([(3, -5.0)], "k long, amt double"))
    with raises(ValueError, match="amt_nonneg"):
        t.merge(spark, spark.createDataFrame([(1, -1.0)], "k long, amt double"), on=["k"])
    v = t.append(spark.createDataFrame([(3, 7.0)], "k long, amt double"))
    assert t._log()[-1]["constraints"] == {"amt_nonneg": "amt >= 0"}  # inherited
    assert v is not None and t.read(spark).count() == 3
    # adding a constraint current rows violate is an error
    with raises(ValueError, match="k_small"):
        t.add_constraint(spark, "k_small", "k < 3")
    # stream batches validate too (replay check still wins first)
    with raises(ValueError, match="amt_nonneg"):
        t.append_stream_batch(
            spark.createDataFrame([(9, -2.0)], "k long, amt double"), batch_id=777
        )
    t.drop_constraint("amt_nonneg")
    t.append(spark.createDataFrame([(4, -1.0)], "k long, amt double"))
    assert t.read(spark).count() == 4


def _upsert_oracle(target, source):
    """The keyed upsert in DuckDB: target rows whose key the source does
    not carry (a NULL key never matches), plus every source row."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for name, rows in (("t", target), ("s", source)):
        con.register(name, pd.DataFrame(rows, columns=["k", "v"]).astype({"k": "Int64"}))
    got = con.execute(
        "SELECT k, v FROM t ANTI JOIN s USING (k) UNION ALL SELECT k, v FROM s"
    ).fetchall()
    return sorted(got, key=repr)


def test_merge_cow_matches_upsert_oracle(spark, tmp_path):
    """CoW merge equals DuckDB's upsert for a pure insert, an
    update-only merge, a mixed merge and a source with NULL keys, on a
    table spread over several directories (one carrying a NULL key)."""
    cases = {
        "insert": [(100, "n1"), (101, "n2")],
        "update": [(1, "U1"), (11, "U11")],
        "mixed": [(2, "U2"), (20, "U20"), (200, "n")],
        "null_keys": [(None, "nk"), (3, "U3"), (300, "n")],
    }
    for name, source in cases.items():
        t = SnapshotTable(str(tmp_path / name))
        target = [(1, "a"), (2, "b"), (3, "c")]
        t.commit(_df(spark, target))
        for rows in ([(10, "d"), (11, "e")], [(20, "f"), (None, "g")]):
            t.append(_df(spark, rows))
            target = target + rows
        t.merge(spark, _df(spark, source), on=["k"], mode="cow")
        got = sorted(((r.k, r.v) for r in t.read(spark).collect()), key=repr)
        assert got == _upsert_oracle(target, source), name


def test_merge_duplicate_source_keys_raise_in_both_modes(spark, tmp_path):
    """Duplicates matching a target key, duplicates inserted fresh, and
    duplicate NULL keys are all the multiple-match error in both modes,
    and nothing is committed."""
    import pytest

    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a"), (2, "b")]))
    n = len(t.versions())
    for mode in ("cow", "dv"):
        for k in (1, 7, None):
            rows = [(k, "x"), (k, "y")]
            with pytest.raises(ValueError, match="duplicate keys"):
                t.merge(spark, _df(spark, rows), on=["k"], mode=mode)
    assert len(t.versions()) == n


def test_merge_column_error_precedes_duplicate_check(spark, tmp_path):
    """A source with the wrong columns AND duplicate keys raises the
    driver-side column error, before any Spark job."""
    import pytest

    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))
    bad = spark.createDataFrame([(1, "x"), (1, "y")], "k long, w string")
    for mode in ("cow", "dv"):
        with pytest.raises(ValueError, match="source columns"):
            t.merge(spark, bad, on=["k"], mode=mode)


# (mutation, mode) -> its call on the shared 2-dir table
_JOB_CALLS = {
    "merge": lambda t, s, **kw: t.merge(
        s, _df(s, [(10, "C"), (99, "n")]), on=["k"], **kw
    ),
    "delete_where": lambda t, s, **kw: t.delete_where(s, "k = 10", **kw),
}
_JOB_MODES = {
    "cow": {"mode": "cow"},
    "dv": {"mode": "dv"},
    "dv_fallback": {"mode": "dv", "max_dv_rows": 0},
}
# ceilings for the cow and within-budget dv calls: a CoW merge is one
# probe action plus the write; a dv merge adds the sidecar write; a dv
# delete is its sidecar write alone
_JOB_CEILINGS = {
    ("merge", "cow"): 8,
    ("merge", "dv"): 9,
    ("delete_where", "cow"): 3,
    ("delete_where", "dv"): 1,
}


def _count_jobs(spark, t, name, mode):
    sc = spark.sparkContext
    group = f"test_mutation_job_count:{name}:{mode}:{t.root}"
    sc.setJobGroup(group, f"{name} {mode}")
    try:
        _JOB_CALLS[name](t, spark, **_JOB_MODES[mode])
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("mode", list(_JOB_MODES))
@pytest.mark.parametrize("name", list(_JOB_CALLS))
def test_mutation_job_count(spark, tmp_path, name, mode):
    """Spark jobs one merge/delete_where starts on a 2-dir table.  Each
    decides DV or copy-on-write from one detection, so a dv call over
    its `max_dv_rows` budget starts no more jobs than the same call in
    cow mode (it used to stage a sidecar, discard it and then run the
    whole CoW path: 15 jobs for the merge, 4 for the delete)."""

    def table(sub):
        t = SnapshotTable(str(tmp_path / sub))
        t.commit(_df(spark, [(1, "a"), (2, "b")]))
        t.append(_df(spark, [(10, "c"), (11, "d")]))
        return t

    t = table(mode)
    n_jobs = _count_jobs(spark, t, name, mode)
    if mode == "dv_fallback":
        assert "dv->cow" in t._head()["operation"]
        n_cow = _count_jobs(spark, table("cow"), name, "cow")
        assert 0 < n_jobs <= n_cow, (n_jobs, n_cow)
    else:
        assert 0 < n_jobs <= _JOB_CEILINGS[name, mode], n_jobs


def test_footer_schema_bails_on_ntz_timestamp_in_fixed_size_list(tmp_path):
    """A tz-naive timestamp nested in a fixed_size_list is a footer
    the driver cannot map 1:1 to JVM inference: return None.  A plain
    footer still maps."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_lab_spark.plans.snapshots import _footer_spark_schema

    ts = datetime.datetime(2024, 1, 1)
    typ = pa.list_(pa.timestamp("us"), 2)
    path = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"ts": pa.array([[ts, ts]], type=typ)}), path)
    assert pa.types.is_fixed_size_list(pq.read_schema(path).field("ts").type)
    assert _footer_spark_schema([path]) is None
    plain = str(tmp_path / "g.parquet")
    pq.write_table(pa.table({"x": pa.array([1], type=pa.int64())}), plain)
    assert _footer_spark_schema([plain]) is not None


# -- fault injection on the commit path ---------------------------------
# Each mutation is interrupted after its data dir is written (the
# manifest write raises; for a DV delete, the row count of its sidecar
# does) and at publish (the `_log/` record's conditional create
# raises).  Either way the error propagates, the table is unchanged,
# nothing the mutation staged is left behind, and a retry succeeds.

_ROWS0 = [(k, "a") for k in range(5)]
_ROWS1 = [(k, "b") for k in range(5, 10)]


def _upsert(rows, src):
    keys = {k for k, _ in src}
    return sorted([r for r in rows if r[0] not in keys] + src)


_SRC = [(1, "m"), (100, "n")]
_BASE = sorted(_ROWS0 + _ROWS1)

# name -> (mutation, expected head rows after it, writes a data dir)
_MUTATIONS = {
    "commit": (lambda t, s: t.commit(_df(s, [(100, "c")])), [(100, "c")], True),
    "append": (
        lambda t, s: t.append(_df(s, [(100, "c")])),
        _BASE + [(100, "c")],
        True,
    ),
    "append_stream_batch": (
        lambda t, s: t.append_stream_batch(_df(s, [(100, "c")]), batch_id=1),
        _BASE + [(100, "c")],
        True,
    ),
    "merge_cow": (
        lambda t, s: t.merge(s, _df(s, _SRC), on=["k"]),
        _upsert(_BASE, _SRC),
        True,
    ),
    "merge_dv": (
        lambda t, s: t.merge(s, _df(s, _SRC), on=["k"], mode="dv"),
        _upsert(_BASE, _SRC),
        True,
    ),
    "merge_dv_fallback": (
        lambda t, s: t.merge(s, _df(s, _SRC), on=["k"], mode="dv", max_dv_rows=0),
        _upsert(_BASE, _SRC),
        True,
    ),
    "delete_cow": (
        lambda t, s: t.delete_where(s, "k < 3"),
        [r for r in _BASE if r[0] >= 3],
        True,
    ),
    "delete_dv": (
        lambda t, s: t.delete_where(s, "k < 3", mode="dv"),
        [r for r in _BASE if r[0] >= 3],
        True,
    ),
    "compact": (lambda t, s: t.compact(s), _BASE, True),
    "evolve": (lambda t, s: t.evolve(rename={"v": "w"}), _BASE, False),
    "rollback": (lambda t, s: t.rollback(0), sorted(_ROWS0), False),
    "add_constraint": (
        lambda t, s: t.add_constraint(s, "k_pos", "k >= 0"),
        _BASE,
        False,
    ),
    "drop_constraint": (lambda t, s: t.drop_constraint("k_small"), _BASE, False),
}

# metadata-only mutations write no dir; the fallback publishes exactly
# as merge_cow does
_CASES = [
    (name, point)
    for name, (_, _, writes) in _MUTATIONS.items()
    for point in ("staged", "publish")
    if (writes or point == "publish")
    and (name, point) != ("merge_dv_fallback", "publish")
]


class _Fault(RuntimeError):
    pass


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _assert_no_orphans(t: SnapshotTable) -> None:
    referenced = set()
    for rec in t._log():
        referenced |= set(rec["files"]) | set(rec.get("dvs") or [])
    entries = os.listdir(t.root)
    dirs = {
        os.path.join(t.root, e)
        for e in entries
        if e.startswith("v") and os.path.isdir(os.path.join(t.root, e))
    }
    assert dirs == referenced, sorted(dirs ^ referenced)
    for e in entries:
        if e.startswith("_claim_"):
            assert os.path.isdir(os.path.join(t.root, e[len("_claim_"):])), e
    manifests = os.path.join(t.root, "_manifests")
    for e in os.listdir(manifests) if os.path.isdir(manifests) else []:
        assert os.path.join(t.root, e[: -len(".parquet")]) in referenced, e


@pytest.mark.parametrize("name,point", _CASES)
def test_interrupted_commit_leaves_table_intact(
    spark, tmp_path, monkeypatch, name, point
):
    mutate, expected, _ = _MUTATIONS[name]
    t = SnapshotTable(str(tmp_path / "t"), stat_cols=["k"])
    two_dirs = name in ("compact", "rollback")
    t.commit(_df(spark, _ROWS0 if two_dirs else _BASE))
    if two_dirs:
        t.append(_df(spark, _ROWS1))
    if name == "drop_constraint":
        t.add_constraint(spark, "k_small", "k < 1000")
    versions = t.versions()

    if point == "publish":
        put = t.protocol.put_if_absent

        def failing_put(key, data):
            if key.startswith("_log/"):
                raise _Fault("publish failed")
            return put(key, data)

        monkeypatch.setattr(t.protocol, "put_if_absent", failing_put)
    elif name == "delete_dv":

        def failing_count(d):
            raise _Fault("sidecar count failed")

        monkeypatch.setattr(_snapshots, "_dir_num_rows", failing_count)
    else:

        def failing_manifest(spark_, d, ann=None):
            raise _Fault("manifest write failed")

        monkeypatch.setattr(t, "_write_manifest", failing_manifest)
    with pytest.raises(_Fault):
        mutate(t, spark)
    monkeypatch.undo()

    assert t.versions() == versions
    for v in versions:
        want = sorted(_ROWS0) if two_dirs and v == 0 else _BASE
        assert _rows(t.read(spark, version=v)) == want
    _assert_no_orphans(t)
    mutate(t, spark)
    assert _rows(t.read(spark)) == expected
    _assert_no_orphans(t)


def test_stream_batch_replayed_after_failed_publish_commits_once(
    spark, tmp_path, monkeypatch
):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(_df(spark, _ROWS0))
    put = t.protocol.put_if_absent

    def failing_put(key, data):
        if key.startswith("_log/"):
            raise _Fault("publish failed")
        return put(key, data)

    monkeypatch.setattr(t.protocol, "put_if_absent", failing_put)
    with pytest.raises(_Fault):
        t.append_stream_batch(_df(spark, _ROWS1), batch_id=4)
    monkeypatch.undo()
    assert t.append_stream_batch(_df(spark, _ROWS1), batch_id=4) == 1
    assert t.append_stream_batch(_df(spark, _ROWS1), batch_id=4) is None
    assert _rows(t.read(spark)) == _BASE
    _assert_no_orphans(t)


def test_checkpoint_failure_after_publish_keeps_the_commit(
    spark, tmp_path, monkeypatch
):
    t = SnapshotTable(str(tmp_path / "t"))
    t.CHECKPOINT_EVERY = 2
    t.commit(_df(spark, _ROWS0))
    t.append(_df(spark, _ROWS1))

    def failing_ckpt(v):
        raise _Fault("checkpoint failed")

    monkeypatch.setattr(t, "_write_ckpt", failing_ckpt)
    assert t.append(_df(spark, [(100, "c")])) == 2
    monkeypatch.undo()
    assert not t.protocol.exists(t._ckpt_key(2))
    assert _rows(SnapshotTable(t.root).read(spark)) == _BASE + [(100, "c")]
    _assert_no_orphans(t)


def test_compact_retrain_without_vectors_claims_nothing(spark, tmp_path):
    """The retrain's no-vectors error is raised before compact reserves
    its output dir, so it leaves no name claim behind."""
    t = SnapshotTable(str(tmp_path / "t"))
    ann = {"centroids": [[0.0, 1.0], [1.0, 0.0]], "col": "vec", "id_col": "vec_id"}
    t.commit(
        spark.createDataFrame([], "vec_id long, vec array<float>"),
        record_extra={"ann": ann},
    )
    with pytest.raises(ValueError, match="no vectors"):
        t.compact(spark, retrain_ann=True)
    assert not [e for e in os.listdir(t.root) if "compact" in e]
    _assert_no_orphans(t)


# -- fault injection inside vacuum ---------------------------------------
# A vacuum interrupted while it deletes (a directory's rmtree, or a
# `_log/` record's delete) propagates the error, releases its lock,
# leaves every listed version readable with the rows it had, and a
# second vacuum finishes the sweep.


def _vacuum_fixture(spark, tmp_path):
    """Five versions whose last two reference neither of the first two
    directories: v0 commit, v1 append, v2/v3 merges rewriting them, v4
    append."""
    t = SnapshotTable(str(tmp_path / "t"), stat_cols=["k"])
    t.commit(_df(spark, _ROWS0))
    t.append(_df(spark, _ROWS1))
    t.merge(spark, _df(spark, [(1, "m")]), on=["k"])
    t.merge(spark, _df(spark, [(6, "m")]), on=["k"])
    t.append(_df(spark, [(100, "c")]))
    return t


def _fail_second_rmtree(monkeypatch, t):
    import shutil

    rmtree, calls = shutil.rmtree, []

    def failing_rmtree(p, *a, **kw):
        calls.append(p)
        if len(calls) == 2:
            os.unlink(SnapshotTable._data_files(p)[0])
            raise _Fault("rmtree failed part-way")
        return rmtree(p, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", failing_rmtree)


def _fail_second_log_delete(monkeypatch, t):
    delete, calls = t.protocol.delete, []

    def failing_delete(key):
        if key.startswith("_log/"):
            calls.append(key)
            if len(calls) == 2:
                raise _Fault("record delete failed")
        return delete(key)

    monkeypatch.setattr(t.protocol, "delete", failing_delete)


@pytest.mark.parametrize(
    "inject", [_fail_second_rmtree, _fail_second_log_delete], ids=["rmtree", "log"]
)
def test_interrupted_vacuum_recovers(spark, tmp_path, monkeypatch, inject):
    t = _vacuum_fixture(spark, tmp_path)
    before = {v: _rows(t.read(spark, version=v)) for v in t.versions()}
    inject(monkeypatch, t)
    with pytest.raises(_Fault):
        t.vacuum(keep_last=2, grace_s=0.0)
    monkeypatch.undo()

    assert not t.protocol.exists(t._VACUUM_LOCK)
    assert {3, 4} <= set(t.versions())
    for v in t.versions():
        assert _rows(t.read(spark, version=v)) == before[v], v
    # a stale-lock threshold of zero turns any leftover lock into an
    # immediate error instead of a wait
    t.VACUUM_LOCK_STALE_S = 0.0
    assert t.append(_df(spark, [(200, "d")])) == 5

    t.vacuum(keep_last=3, grace_s=0.0)
    assert t.versions() == [3, 4, 5]
    for v in (3, 4):
        assert _rows(t.read(spark, version=v)) == before[v]
    assert _rows(t.read(spark)) == before[4] + [(200, "d")]
    _assert_no_orphans(t)
