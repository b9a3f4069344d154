"""Round-8 wave: the round's storage additions — Bloom-filter type
canonicalization, optimistic concurrency, the DV size policy,
timestamp time travel and constraint-literal evolution for
SnapshotTable.
"""


# ---------------------------------------------------------------------------
# Bloom build/probe type canonicalization (ADVICE r7, high): a null in an
# int64 column makes Arrow->pandas deliver float64, so the build used to
# hash 1.0 via the float repr while read(point=(col, 1)) hashed via the
# splitmix int path — a definitive-False that silently pruned files with
# matching rows.
# ---------------------------------------------------------------------------


class TestBloomNullIntCanonicalization:
    def test_build_with_integral_floats_matches_int_probe(self):
        from dbt_lab_spark.plans.snapshots import (
            _bloom_build,
            _bloom_maybe_contains,
        )

        # the exact reproduced shape: [1, 2, None] -> pandas [1.0, 2.0]
        m, k, b = _bloom_build([1.0, 2.0])
        entry = {"m": m, "k": k, "b": b}
        assert _bloom_maybe_contains(entry, 1)
        assert _bloom_maybe_contains(entry, 2)
        # and the symmetric direction: int-built filter, float probe
        m, k, b = _bloom_build([1, 2])
        entry = {"m": m, "k": k, "b": b}
        assert _bloom_maybe_contains(entry, 1.0)
        # non-integral floats keep their own repr path
        m, k, b = _bloom_build([1.5])
        entry = {"m": m, "k": k, "b": b}
        assert _bloom_maybe_contains(entry, 1.5)

    def test_nullable_int_bloom_col_does_not_false_prune(self, spark, tmp_path):
        from dbt_lab_spark.plans.snapshots import SnapshotTable

        t = SnapshotTable(str(tmp_path / "t"), bloom_cols=["k"])
        t.append(
            spark.createDataFrame(
                [(1, 10), (2, 20), (None, 30)], "k long, v long"
            )
        )
        got = t.read(spark, point=("k", 1)).collect()
        assert [(r["k"], r["v"]) for r in got] == [(1, 10)]
        # probing with the equal float agrees with the int probe
        got = t.read(spark, point=("k", 1.0)).collect()
        assert [(r["k"], r["v"]) for r in got] == [(1, 10)]


# ---------------------------------------------------------------------------
# Optimistic concurrency for SnapshotTable commits (VERDICT r7 #1)
# ---------------------------------------------------------------------------

import os

import pytest
from pyspark.sql import functions as F

from dbt_lab_spark.plans.snapshots import ConcurrentWriteError, SnapshotTable


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


class TestOptimisticConcurrency:
    def test_racing_appends_serialize_to_exact_union(self, spark, tmp_path):
        """Interleaved writers: N threads, each its own SnapshotTable
        handle on the same root (process-equivalent), appending a
        disjoint slice.  Every commit must survive — the head is the
        exact union and the version chain is gapless."""
        from concurrent.futures import ThreadPoolExecutor

        root = str(tmp_path / "t")
        slices = [(i * 100, (i + 1) * 100) for i in range(6)]

        def worker(bounds):
            lo, hi = bounds
            return SnapshotTable(root).append(_kv(spark, lo, hi))

        with ThreadPoolExecutor(max_workers=6) as ex:
            versions = sorted(ex.map(worker, slices))
        assert versions == list(range(6))  # all six committed, no gaps
        t = SnapshotTable(root)
        assert t.versions() == list(range(6))
        got = {(r.k, r.v) for r in t.read(spark).collect()}
        assert got == {(k, k * 10) for k in range(600)}

    def test_stale_parent_append_log_raises(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        t.commit(_kv(spark, 0, 10))
        v = t.append(_kv(spark, 10, 20))
        with pytest.raises(ConcurrentWriteError, match="head moved"):
            t._append_log(
                {"operation": "x", "files": [], "stats": {}},
                expected_parent=v - 1,
            )

    def test_conflicting_merge_aborts_loudly(self, spark, tmp_path):
        """A merge whose head moves mid-flight (here: a concurrent
        append landing between the merge's detection scan and its
        commit) must abort with ConcurrentWriteError and leave the
        interleaved append's data intact — not silently drop it."""
        root = str(tmp_path / "t")
        t = SnapshotTable(root)
        t.commit(_kv(spark, 0, 100))
        src = spark.createDataFrame([(5, 999)], "k long, v long")
        orig = t._stats_for
        fired = {}

        def hooked(d):
            # first call happens after merge captured its parent and
            # wrote its directory: the canonical interleaving window
            if not fired:
                fired["x"] = SnapshotTable(root).append(_kv(spark, 100, 110))
            return orig(d)

        t._stats_for = hooked
        with pytest.raises(ConcurrentWriteError, match="head moved"):
            t.merge(spark, src, on=["k"])
        t2 = SnapshotTable(root)
        got = {(r.k, r.v) for r in t2.read(spark).collect()}
        # the append survived, the aborted merge left no trace
        assert got == {(k, k * 10) for k in range(110)}
        # and a retried merge on the fresh head succeeds
        res = t2.merge(spark, src, on=["k"])
        assert res["version"] == 2
        assert {
            (r.k, r.v) for r in t2.read(spark).filter("k = 5").collect()
        } == {(5, 999)}

    def test_crashed_committer_cannot_block_the_table(self, spark, tmp_path):
        """r9 (segmented log): publishing IS the atomic creation of the
        per-version record file, so a crashed committer either
        published or left NOTHING claimable — there is no stale-marker
        state to block on.  A writer that died after writing its data
        directory (the only possible partial state) leaves an orphan
        the next append ignores and vacuum's grace window reclaims."""
        t = SnapshotTable(str(tmp_path / "t"))
        t.commit(_kv(spark, 0, 5))
        # simulate the crash: a claimed data dir, never committed
        orphan = t._new_dir("delta")
        os.makedirs(orphan)
        assert t.append(_kv(spark, 5, 10)) == 1  # not blocked
        assert t.read(spark).count() == 10

    def test_stale_vacuum_lock_is_reported(self, spark, tmp_path):
        """The one coordination file that CAN go stale (a crashed
        vacuum) is reported by name with the recovery step instead of
        deadlocking commits."""
        t = SnapshotTable(str(tmp_path / "t"))
        t.commit(_kv(spark, 0, 5))
        # staleness is judged by the LOCK's age, not the waiter's
        # patience (r9 review): a healthy long vacuum must never be
        # reported as crashed
        t.VACUUM_LOCK_STALE_S = 0.3
        assert t.protocol.put_if_absent("_vacuum.lock", b"crashed")
        with pytest.raises(ConcurrentWriteError, match="delete the lock"):
            t.append(_kv(spark, 5, 10))
        t.protocol.delete("_vacuum.lock")  # the documented recovery
        assert t.append(_kv(spark, 5, 10)) == 1

    def test_vacuum_continues_version_numbers(self, spark, tmp_path):
        """Version numbers keep counting from the head after a vacuum
        truncation — the log-length numbering they used to restart
        from would alias old time-travel reads."""
        t = SnapshotTable(str(tmp_path / "t"))
        t.commit(_kv(spark, 0, 5))
        t.commit(_kv(spark, 0, 10))  # full replace: orphans v0's dir
        t.commit(_kv(spark, 0, 15))
        assert t.versions() == [0, 1, 2]
        removed = t.vacuum(keep_last=1, grace_s=0.0)
        assert removed  # old snapshot dirs reclaimed
        v = t.append(_kv(spark, 15, 20))
        assert v == 3 and t.versions() == [2, 3]
        assert t.read(spark, version=3).count() == 20

    def test_stream_replay_race_is_exactly_once(self, spark, tmp_path):
        """Two concurrent deliveries of the SAME micro-batch (the
        at-least-once redelivery race): exactly one commits, the other
        observes the winner's record and no-ops."""
        from concurrent.futures import ThreadPoolExecutor

        root = str(tmp_path / "t")
        SnapshotTable(root).commit(_kv(spark, 0, 10))
        batch = _kv(spark, 10, 20)

        def deliver(_):
            return SnapshotTable(root).append_stream_batch(batch, batch_id=7)

        with ThreadPoolExecutor(max_workers=2) as ex:
            results = sorted(
                ex.map(deliver, range(2)), key=lambda x: (x is None, x)
            )
        assert results[0] == 1 and results[1] is None
        assert SnapshotTable(root).read(spark).count() == 20


# ---------------------------------------------------------------------------
# DV size policy + broadcast guard (VERDICT r7 #2)
# ---------------------------------------------------------------------------


class TestDvSizePolicy:
    def test_mass_delete_dv_falls_back_to_scoped_cow(self, spark, tmp_path):
        """A dv-mode delete matching more rows than max_dv_rows must
        materialize via scoped CoW instead of growing the sidecars —
        and the results must equal a plain CoW delete."""
        root_dv = str(tmp_path / "dv")
        root_cow = str(tmp_path / "cow")
        for root in (root_dv, root_cow):
            t = SnapshotTable(root)
            t.commit(_kv(spark, 0, 500))
            t.append(_kv(spark, 500, 1000))
        t_dv, t_cow = SnapshotTable(root_dv), SnapshotTable(root_cow)
        r1 = t_dv.delete_where(spark, "k % 2 = 0", mode="dv", max_dv_rows=10)
        r2 = t_cow.delete_where(spark, "k % 2 = 0", mode="cow")
        assert r1["n_deleted"] == r2["n_deleted"] == 500
        assert r1["n_dirs_rewritten"] >= 1  # materialized, not tombstoned
        head = t_dv._log()[-1]
        assert "dv->cow" in head["operation"]
        assert not head.get("dvs")  # no sidecar appended
        assert {(r.k, r.v) for r in t_dv.read(spark).collect()} == {
            (r.k, r.v) for r in t_cow.read(spark).collect()
        }

    def test_mass_merge_dv_falls_back_to_scoped_cow(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        t.commit(_kv(spark, 0, 200))
        src = spark.range(0, 150).select(
            F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
        )
        res = t.merge(spark, src, on=["k"], mode="dv", max_dv_rows=10)
        assert res["n_dirs_rewritten"] >= 1
        head = t._log()[-1]
        assert "dv->cow" in head["operation"] and not head.get("dvs")
        got = {(r.k, r.v) for r in t.read(spark).collect()}
        assert got == {(k, -1) for k in range(150)} | {
            (k, k * 10) for k in range(150, 200)
        }

    def test_small_dv_delete_still_uses_sidecar(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        t.commit(_kv(spark, 0, 1000))
        r = t.delete_where(spark, "k = 7", mode="dv")
        assert r["n_dirs_rewritten"] == 0 and t._log()[-1].get("dvs")

    def test_dv_read_above_budget_plans_shuffle_anti_join(
        self, spark, tmp_path
    ):
        """Above DV_BROADCAST_MAX_ROWS the merge-on-read apply must NOT
        broadcast: the plan flips to a shuffle (SortMergeJoin LeftAnti)
        and results are unchanged."""
        t = SnapshotTable(str(tmp_path / "t"))
        t.commit(_kv(spark, 0, 1000))
        t.delete_where(spark, "k % 100 = 7", mode="dv")
        expect = {(r.k, r.v) for r in t.read(spark).collect()}
        t.DV_BROADCAST_MAX_ROWS = 0  # force the guard
        plan = t.read(spark)._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
        assert {(r.k, r.v) for r in t.read(spark).collect()} == expect


# ---------------------------------------------------------------------------
# Timestamp time travel (VERDICT r7 #3)
# ---------------------------------------------------------------------------


class TestTimestampTimeTravel:
    def test_as_of_boundaries(self, spark, tmp_path):
        import datetime

        t = SnapshotTable(str(tmp_path / "t"))
        t.commit(_kv(spark, 0, 10))
        t.append(_kv(spark, 10, 20))
        log = t._log()
        ts0, ts1 = log[0]["ts"], log[1]["ts"]
        assert ts1 > ts0
        # exactly a commit's ts reads that commit (<= convention)
        assert t.read(spark, as_of=ts0).count() == 10
        # between commits resolves to the earlier one
        assert t.read(spark, as_of=(ts0 + ts1) / 2).count() == 10
        assert t.read(spark, as_of=ts1).count() == 20
        # past the head reads the head
        assert t.read(spark, as_of=ts1 + 3600).count() == 20
        # pre-history errors
        with pytest.raises(ValueError, match="predates the first commit"):
            t.read(spark, as_of=ts0 - 1)
        with pytest.raises(ValueError, match="not both"):
            t.read(spark, version=0, as_of=ts1)
        # datetime and ISO-string forms resolve identically
        dt = datetime.datetime.fromtimestamp(ts1 + 1)
        assert t.read(spark, as_of=dt).count() == 20
        assert t.read(spark, as_of=dt.isoformat()).count() == 20

    def test_as_of_respects_dv_history(self, spark, tmp_path):
        """A DV delete's tombstones must not leak into an as_of read of
        the pre-delete instant."""
        t = SnapshotTable(str(tmp_path / "t"))
        t.commit(_kv(spark, 0, 100))
        t.delete_where(spark, "k < 50", mode="dv")
        log = t._log()
        assert t.read(spark, as_of=log[0]["ts"]).count() == 100
        assert t.read(spark, as_of=log[1]["ts"]).count() == 50


# ---------------------------------------------------------------------------
# evolve constraint rewriting skips string literals (ADVICE r7)
# ---------------------------------------------------------------------------


class TestEvolveConstraintLiterals:
    def test_drop_ignores_name_inside_literal(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        t.commit(
            spark.createDataFrame(
                [(1, 10, "x units")], "k long, v long, note string"
            )
        )
        t.add_constraint(spark, "note_ok", "note <> 'k units'")
        # 'k' inside the literal is data, not a reference: drop succeeds
        t.evolve(drop=["k"])
        head = t._log()[-1]
        assert head["constraints"]["note_ok"] == "note <> 'k units'"
        assert "k" not in head["columns"]

    def test_rename_rewrites_reference_not_literal(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        t.commit(
            spark.createDataFrame(
                [(1, "x units")], "k long, note string"
            )
        )
        t.add_constraint(spark, "both", "k >= 0 AND note <> 'k units'")
        t.evolve(rename={"k": "key"})
        head = t._log()[-1]
        # the column reference moved; the literal's contents did not
        assert head["constraints"]["both"] == "key >= 0 AND note <> 'k units'"
        # and the rewritten constraint still validates writes
        t.append(
            spark.createDataFrame([(2, "fine")], "key long, note string")
        )
        with pytest.raises(ValueError, match="CHECK constraint"):
            t.append(
                spark.createDataFrame([(-1, "bad")], "key long, note string")
            )

    def test_drop_still_rejects_real_reference(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        t.commit(spark.createDataFrame([(1, 10)], "k long, v long"))
        t.add_constraint(spark, "kpos", "k >= 0")
        with pytest.raises(ValueError, match="references dropped column"):
            t.evolve(drop=["k"])

    def test_literal_with_escaped_quote(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        t.commit(spark.createDataFrame([(1, "a")], "k long, note string"))
        t.add_constraint(spark, "esc", "note <> 'it''s k here'")
        t.evolve(rename={"k": "key"})
        head = t._log()[-1]
        assert head["constraints"]["esc"] == "note <> 'it''s k here'"
