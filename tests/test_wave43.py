"""Round-10 wave: partial ANN retrain (VERDICT r9 #5) — per-generation
codebooks.  compact(retrain_ann=True, only_drifted=thresh) re-clusters
ONLY directories whose manifest staleness exceeds the threshold; the
superseded codebook stays live for carried directories (ann_codebooks +
ann_gens), and knn() probes every generation under its own centroids,
so file pruning stays exact while retrain cost drops to O(drifted)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_lab_spark.plans.snapshots import SnapshotTable

C = 4  # ann_lists used throughout


def _vecs(spark, lo, hi, drift=False):
    """Deterministic 4-d vectors, no zero norms.  `drift=True` switches
    to a second DIRECTIONAL mode (two pinned dims + two large varying
    dims) — cosine-space drift, which a mere magnitude shift would not
    create."""
    if drift:
        cols = [
            F.lit(1.0)
            if j < 2
            else ((F.col("id") * 13 + j) % 7).cast("double") * 50.0
            for j in range(4)
        ]
    else:
        cols = [
            ((F.col("id") % (j + 2)).cast("double") + 1.0) for j in range(4)
        ]
    return spark.range(lo, hi).select(
        F.col("id").alias("vec_id"), F.array(*cols).alias("emb")
    )


def _close(a, b, tol=1e-9):
    """Element-wise centroid comparison with ulp-level tolerance (the
    training input read back from parquet folds in a different row
    order than a fresh DataFrame)."""
    import math

    return len(a) == len(b) and all(
        len(x) == len(y)
        and all(math.isclose(p, q, rel_tol=tol, abs_tol=1e-12) for p, q in zip(x, y))
        for x, y in zip(a, b)
    )


def _knn_rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in df.collect()
    )


class TestPartialRetrain:
    def _mk(self, spark, tmp_path, name="t"):
        """Base distribution in v0+v1, heavily shifted appends in
        v2+v3 — the shifted dirs drift, the base dirs do not."""
        t = SnapshotTable(
            str(tmp_path / name), ann_col="emb", ann_lists=C, ann_files=2
        )
        t.commit(_vecs(spark, 0, 40))
        t.append(_vecs(spark, 40, 80))
        t.append(_vecs(spark, 80, 120, drift=True))
        t.append(_vecs(spark, 120, 160, drift=True))
        return t

    def test_only_drifted_dirs_rewritten(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        head_before = t._log()[-1]
        stale = t.ann_dir_staleness()
        drifted = {d for d, s in stale.items() if s > 0.05}
        assert 0 < len(drifted) < len(head_before["files"])
        v = t.compact(spark, retrain_ann=True, only_drifted=0.05,
                      retrain_iters=0, n_files=2)
        assert v is not None
        head = t._log()[-1]
        carried = set(head_before["files"]) - drifted
        # undrifted dirs carried BY REFERENCE (same paths), drifted gone
        assert carried <= set(head["files"])
        assert not drifted & set(head["files"])
        # generation bookkeeping: carried dirs pinned to gen 0, old
        # codebook retained, head quantizer is the new one
        assert head["ann_gen"] == 1
        assert set(head["ann_gens"].keys()) == carried
        assert set(head["ann_gens"].values()) == {0}
        assert head["ann_codebooks"]["0"] == head_before["ann"]["centroids"]
        assert head["ann"]["centroids"] != head_before["ann"]["centroids"]
        # contents unchanged
        assert t.read(spark).count() == 160

    def test_partial_trains_on_drifted_only(self, spark, tmp_path):
        """The new codebook == ivf_centroids over JUST the drifted
        rows (O(drifted) training, deterministic iters=0 seeding)."""
        from dbt_lab_spark.llm.similarity import ivf_centroids

        t = self._mk(spark, tmp_path)
        t.compact(spark, retrain_ann=True, only_drifted=0.05,
                  retrain_iters=0, n_files=2)
        drifted_rows = _vecs(spark, 80, 160, drift=True)
        want = ivf_centroids(
            drifted_rows, num_centroids=C, iters=0, vec_col="emb",
            id_col="vec_id", dim=4,
        )
        got = t._log()[-1]["ann"]["centroids"]
        assert _close(got, [list(c) for c in want])

    def test_knn_exact_when_probing_all_clusters(self, spark, tmp_path):
        """nprobe=C probes every cluster of every generation, so the
        candidate set is the whole corpus and knn == brute force —
        the exactness invariant that holds regardless of codebooks."""
        from dbt_lab_spark.llm.similarity import brute_force_knn

        t = self._mk(spark, tmp_path)
        t.compact(spark, retrain_ann=True, only_drifted=0.05,
                  retrain_iters=0, n_files=2)
        assert len(t._ann_gen_map(t._log()[-1])) == 2
        qs = (
            _vecs(spark, 5, 8)
            .union(_vecs(spark, 100, 102, drift=True))
            .withColumnRenamed("vec_id", "query_id")
        )
        corpus = _vecs(spark, 0, 80).union(_vecs(spark, 80, 160, drift=True))
        got = t.knn(spark, qs, k=5, nprobe=C)
        want = brute_force_knn(
            corpus, qs, k=5, vec_col="emb", id_col="vec_id"
        )
        assert _knn_rows(got) == _knn_rows(want)

    def test_partial_equals_full_on_drifted_subset(self, spark, tmp_path):
        """Partial retrain's treatment of the drifted subset == a full
        retrain of a table holding ONLY that subset: same codebook,
        same knn answers for queries probing the drifted data."""
        t = self._mk(spark, tmp_path)
        t.compact(spark, retrain_ann=True, only_drifted=0.05,
                  retrain_iters=0, n_files=2)
        ref = SnapshotTable(
            str(tmp_path / "ref"), ann_col="emb", ann_lists=C, ann_files=2
        )
        ref.commit(_vecs(spark, 80, 160, drift=True))
        ref.compact(spark, retrain_ann=True, retrain_iters=0, n_files=2)
        assert _close(
            t._log()[-1]["ann"]["centroids"],
            ref._log()[-1]["ann"]["centroids"],
        )
        qs = _vecs(spark, 90, 93, drift=True).withColumnRenamed(
            "vec_id", "query_id"
        )
        got = t.knn(spark, qs, k=5, nprobe=C)
        want = ref.knn(spark, qs, k=5, nprobe=C)
        # shifted queries' neighbors all live in the drifted subset
        assert _knn_rows(got) == _knn_rows(want)

    def test_pruning_stays_per_generation(self, spark, tmp_path):
        """File pruning under mixed generations: each generation's
        files are pruned by probes from ITS codebook — and a 1-query
        probe reads a strict subset of files (pruning still works)."""
        t = self._mk(spark, tmp_path)
        t.compact(spark, retrain_ann=True, only_drifted=0.05,
                  retrain_iters=0, n_files=2)
        q = _vecs(spark, 5, 6).withColumnRenamed("vec_id", "query_id")
        kept, total = t.ann_pruned_file_count(q, nprobe=1)
        assert 0 < kept < total

    def test_staleness_recovers_and_appends_use_new_codebook(
        self, spark, tmp_path
    ):
        t = self._mk(spark, tmp_path)
        before = t.ann_staleness()["staleness"]
        t.compact(spark, retrain_ann=True, only_drifted=0.05,
                  retrain_iters=0, n_files=2)
        after = t.ann_staleness()["staleness"]
        assert after < before
        # a post-retrain append clusters under the NEW codebook and is
        # unmapped (latest generation)
        t.append(_vecs(spark, 160, 180, drift=True))
        head = t._log()[-1]
        new_dir = head["files"][-1]
        assert new_dir not in (head.get("ann_gens") or {})

    def test_full_retrain_clears_generations(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        t.compact(spark, retrain_ann=True, only_drifted=0.05,
                  retrain_iters=0, n_files=2)
        t.compact(spark, retrain_ann=True, retrain_iters=0, n_files=2)
        head = t._log()[-1]
        assert head["ann_gens"] == {} and head["ann_codebooks"] == {}
        assert head["ann_gen"] == 2
        assert len(t._ann_gen_map(head)) == 1

    def test_rollback_restores_generation_maps(self, spark, tmp_path):
        t = self._mk(spark, tmp_path)
        pre = t._head_version()
        t.compact(spark, retrain_ann=True, only_drifted=0.05,
                  retrain_iters=0, n_files=2)
        t.rollback(pre)
        head = t._log()[-1]
        assert (head.get("ann_gens") or {}) == {}
        assert head.get("ann_gen", 0) == 0

    def test_nothing_drifted_is_noop(self, spark, tmp_path):
        t = SnapshotTable(
            str(tmp_path / "t"), ann_col="emb", ann_lists=C, ann_files=2
        )
        t.commit(_vecs(spark, 0, 40))
        t.append(_vecs(spark, 40, 80))
        v = t.compact(spark, retrain_ann=True, only_drifted=10.0)
        assert v is None
        assert t._head_version() == 1  # no empty commit

    def test_only_drifted_requires_retrain(self, spark, tmp_path):
        t = SnapshotTable(str(tmp_path / "t"))
        t.commit(_vecs(spark, 0, 10))
        with pytest.raises(ValueError, match="only_drifted"):
            t.compact(spark, only_drifted=0.1)
