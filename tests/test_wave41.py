"""Round-9 second wave: pins for the self-review findings on the
segmented snapshot log (r9 code review) — consecutive-evolve CDC
alignment, typed stat_cols (dates/decimals), empty-first-batch ANN
tables, vacuum claim grace, live-vs-crashed vacuum lock, commit
rebase revalidation, compact's DV lifecycle, and the documented
upsert-by-key merge contract."""

from __future__ import annotations

import datetime as dt
import decimal
import os

import pytest
from pyspark.sql import functions as F

from dbt_lab_spark.plans.snapshots import SnapshotTable


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


class TestConsecutiveEvolveFeed:
    def test_change_feed_composes_back_to_back_renames(self, spark, tmp_path):
        """Two evolves in a row delta-encode the second 'renames' dict
        as a k_patch; change_feed must compose from FOLDED records and
        align the old side under the final name with REAL values, not
        nulls (the ADVICE-r6 bug class, r9 review #1)."""
        t = SnapshotTable(str(tmp_path / "t"))
        t.commit(_kv(spark, 0, 10))
        t.evolve(rename={"v": "b"})
        t.evolve(rename={"b": "c"})  # back-to-back: rides k_patch
        t.append(
            spark.range(10, 12).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("c")
            )
        )
        feed = t.change_feed(spark, from_version=0).collect()
        ins = sorted((r["k"], r["c"]) for r in feed if r["_change"] == "insert")
        assert ins == [(10, 100), (11, 110)]
        # no spurious delete/insert pairs for untouched rows, and no
        # null-filled c values anywhere
        assert all(r["c"] is not None for r in feed)
        assert not [r for r in feed if r["_change"] == "delete"]


class TestTypedStatCols:
    def test_date_stat_cols_commit_and_prune(self, spark, tmp_path):
        """DateType stat_cols — the canonical data-skipping column —
        must survive the manifest's JSON encoding and still prune
        (r9 review #3: json.dumps used to crash every commit)."""
        t = SnapshotTable(str(tmp_path / "t"), stat_cols=["d"])
        for g in range(3):
            t.append(
                spark.range(g * 30, (g + 1) * 30).select(
                    F.col("id").alias("k"),
                    F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
                ).coalesce(1)
            )
        lo, hi = dt.date(2024, 1, 11), dt.date(2024, 1, 20)
        kept, total = t.pruned_file_count(None, ("d", lo, hi))
        assert (kept, total) == (1, 3)
        got = {r.k for r in t.read(spark, between=("d", lo, hi)).collect()}
        assert got == set(range(10, 20))

    def test_decimal_and_timestamp_stat_cols(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"), stat_cols=["amt", "ts"])
        for g in range(2):
            t.append(
                spark.range(g * 20, (g + 1) * 20).select(
                    F.col("id").alias("k"),
                    (F.col("id").cast("decimal(10,2)") / 4).alias("amt"),
                    F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
                ).coalesce(1)
            )
        # decimal physical encodings may refuse footer stat extraction
        # (pyarrow ArrowNotImplementedError) — the commit must SURVIVE
        # and reads stay conservative, never crash
        kept, total = t.pruned_file_count(
            None, ("amt", decimal.Decimal("0.00"), decimal.Decimal("4.75"))
        )
        assert total == 2 and kept in (1, 2)
        kept, total = t.pruned_file_count(
            None,
            ("ts", dt.datetime(1970, 1, 1, 0), dt.datetime(1970, 1, 1, 10)),
        )
        assert (kept, total) == (1, 2)
        got = {
            r.k
            for r in t.read(
                spark,
                between=(
                    "amt",
                    decimal.Decimal("1.00"),
                    decimal.Decimal("2.00"),
                ),
            ).collect()
        }
        assert got == {k for k in range(40) if 1.0 <= k / 4 <= 2.0}

    def test_incomparable_probe_keeps_files(self, spark, tmp_path):
        """Pruning is an optimization: a probe whose type can't be
        compared with the recorded stats keeps the file and the
        residual filter decides."""
        t = SnapshotTable(str(tmp_path / "t"), stat_cols=["k"])
        t.append(_kv(spark, 0, 10).coalesce(1))
        kept, total = t.pruned_file_count(None, ("k", "a", "z"))
        assert kept == total  # conservative, no TypeError


class TestAnnEmptyFirstBatch:
    def test_empty_first_stream_batch_defers_training(self, spark, tmp_path):
        """Structured Streaming can deliver an empty first micro-batch;
        an ann_col table must commit it and train the quantizer on the
        first batch that carries vectors (r9 review #2: first()[0]
        crashed)."""
        t = SnapshotTable(
            str(tmp_path / "t"), ann_col="emb", ann_lists=4, ann_files=2
        )
        empty = spark.createDataFrame([], "vec_id long, emb array<double>")
        assert t.append_stream_batch(empty, batch_id=0) == 0
        assert t._log()[-1].get("ann") is None
        vecs = spark.range(0, 50).select(
            F.col("id").alias("vec_id"),
            F.array(*[(F.col("id") % (j + 2)).cast("double") for j in range(4)]).alias("emb"),
        )
        assert t.append_stream_batch(vecs, batch_id=1) == 1
        assert len(t._log()[-1]["ann"]["centroids"]) == 4
        q = vecs.limit(1).withColumnRenamed("vec_id", "query_id")
        assert t.knn(spark, q, k=3).count() == 3


class TestVacuumClaimGrace:
    def test_fresh_claim_survives_aged_claim_reclaimed(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        t.commit(_kv(spark, 0, 10))
        # in-flight writer: claim exists, directory not yet written
        fresh = t._new_dir("delta")
        claim_key = "_claim_" + os.path.basename(fresh)
        t.vacuum(keep_last=1, grace_s=300.0)
        assert t.protocol.exists(claim_key)  # in-flight claim kept
        # the writer can still use its reserved name
        _kv(spark, 10, 20).write.parquet(fresh)
        # aged claim with no directory = crashed writer: reclaimed
        t.vacuum(keep_last=1, grace_s=0.0)
        assert not t.protocol.exists(claim_key) or os.path.isdir(fresh)


class TestCommitRebaseRevalidation:
    def test_commit_revalidates_after_concurrent_add_constraint(
        self, spark, tmp_path
    ):
        """A constraint added between a commit's validation and its
        publish must re-check the data on the rebase, not stamp the
        new constraint onto rows it never validated (r9 review #6)."""
        root = str(tmp_path / "t")
        t = SnapshotTable(root)
        t.commit(_kv(spark, 0, 10))
        bad = spark.createDataFrame([(1, -5)], "k long, v long")
        orig = t._write_manifest
        fired = {}

        def hooked(spark_, d, ann=None):
            # canonical interleaving window: after the commit's
            # validation + write, before its publish
            if not fired:
                fired["x"] = SnapshotTable(root).add_constraint(
                    spark, "v_pos", "v >= 0"
                )
            return orig(spark_, d, ann)

        t._write_manifest = hooked
        with pytest.raises(ValueError, match="v_pos"):
            t.commit(bad)
        t2 = SnapshotTable(root)
        assert t2.read(spark).count() == 10  # aborted commit left no trace
        assert t2._log()[-1]["constraints"] == {"v_pos": "v >= 0"}
        # and no orphan directory lingers
        orphans = [
            e
            for e in os.listdir(root)
            if e.startswith("v") and "full" in e and os.path.isdir(
                os.path.join(root, e)
            )
        ]
        assert len(orphans) == 1  # only v0's

    @pytest.mark.parametrize("writer", ["append", "append_stream_batch"])
    def test_delta_writers_revalidate_after_concurrent_add_constraint(
        self, spark, tmp_path, writer
    ):
        """The same interleaving for the delta writers: the retry after
        the head moved re-checks the batch, refuses it with the new
        constraint named, and removes the delta dir it had written."""
        root = str(tmp_path / "t")
        t = SnapshotTable(root)
        t.commit(_kv(spark, 0, 10))
        bad = spark.createDataFrame([(1, -5)], "k long, v long")
        orig = t._write_manifest
        fired = {}

        def hooked(spark_, d, ann=None):
            if not fired:
                fired["x"] = SnapshotTable(root).add_constraint(
                    spark, "v_pos", "v >= 0"
                )
            return orig(spark_, d, ann)

        t._write_manifest = hooked
        with pytest.raises(ValueError, match="v_pos"):
            if writer == "append":
                t.append(bad)
            else:
                t.append_stream_batch(bad, batch_id=3)
        t2 = SnapshotTable(root)
        assert t2.read(spark).count() == 10
        assert t2._log()[-1]["constraints"] == {"v_pos": "v >= 0"}
        assert not [e for e in os.listdir(root) if "delta" in e]


class TestCompactDvLifecycle:
    def test_full_compact_retires_dv_sidecars(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        t.append(_kv(spark, 0, 100))
        t.append(_kv(spark, 100, 200))
        t.delete_where(spark, "k % 10 = 0", mode="dv")
        dv_dir = t._log()[-1]["dvs"][0]
        before = sorted(map(tuple, t.read(spark).collect()))
        v = t.compact(spark, target_mb=1024.0)  # rewrites every dir
        assert v is not None
        head = t._log()[-1]
        assert head.get("dvs") == []  # dead sidecar retired
        assert sorted(map(tuple, t.read(spark).collect())) == before
        removed = t.vacuum(keep_last=1, grace_s=0.0)
        assert dv_dir in removed  # reclaimable at last

    def test_partial_compact_keeps_live_dv(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        big = _kv(spark, 0, 4000).coalesce(1)
        t.commit(big)
        t.append(_kv(spark, 4000, 4010))
        t.append(_kv(spark, 4010, 4020))
        t.delete_where(spark, "k = 5", mode="dv")  # targets the BIG dir
        before = sorted(map(tuple, t.read(spark).collect()))
        big_dir = t._log()[0]["files"][0]
        big_bytes = sum(
            os.path.getsize(p) for p in t._data_files(big_dir)
        )
        v = t.compact(spark, target_mb=big_bytes / (1024 * 1024) * 0.9)
        assert v is not None
        head = t._log()[-1]
        assert big_dir in head["files"]  # big dir carried over
        assert len(head["dvs"]) == 1  # its DV is still live
        assert sorted(map(tuple, t.read(spark).collect())) == before
        assert not [r for r in t.read(spark).collect() if r.k == 5]


class TestMergeUpsertContract:
    def test_target_duplicate_keys_collapse_documented(self, spark, tmp_path):
        """The documented upsert-by-key contract: ALL target rows
        matching a source key are replaced by that ONE source row —
        duplicates collapse (SQL MERGE would keep multiplicity; this
        engine's merge is the CDC/upsert shape)."""
        t = SnapshotTable(str(tmp_path / "t"))
        t.commit(spark.createDataFrame([(1, 10), (1, 11), (2, 20)], "k long, v long"))
        for mode in ("cow", "dv"):
            root = str(tmp_path / mode)
            s = SnapshotTable(root)
            s.commit(
                spark.createDataFrame(
                    [(1, 10), (1, 11), (2, 20)], "k long, v long"
                )
            )
            s.merge(
                spark,
                spark.createDataFrame([(1, 99)], "k long, v long"),
                on=["k"],
                mode=mode,
            )
            got = sorted(map(tuple, s.read(spark).collect()))
            assert got == [(1, 99), (2, 20)], mode


class TestOrphanHygiene:
    def test_stream_replay_loser_cleans_its_delta(self, spark, tmp_path):
        """A replay that loses the batch-id race must remove its
        already-written delta dir, manifest and claim (r9 review #10),
        not leave them to age out of the vacuum grace."""
        t = SnapshotTable(str(tmp_path / "t"))
        t.commit(_kv(spark, 0, 10))
        batch = _kv(spark, 10, 20)
        # force the loser path: write the delta, then let the winner
        # commit the same batch_id before the loser's publish
        orig = t._append_log
        fired = {}

        def hooked(rec, expected_parent=None, _during_vacuum=False):
            if not fired and rec.get("batch_id") == 7:
                fired["x"] = SnapshotTable(t.root).append_stream_batch(
                    batch, batch_id=7
                )
            return orig(rec, expected_parent, _during_vacuum)

        t._append_log = hooked
        assert t.append_stream_batch(batch, batch_id=7) is None
        assert SnapshotTable(t.root).read(spark).count() == 20
        # exactly one delta dir exists (the winner's)
        deltas = [
            e
            for e in os.listdir(t.root)
            if "delta" in e and os.path.isdir(os.path.join(t.root, e))
        ]
        assert len(deltas) == 1, deltas
