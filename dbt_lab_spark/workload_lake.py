"""Lake queries: the SnapshotTable (plans/snapshots.py) under DuckDB oracles.

Copy-on-write and deletion-vector MERGE and DELETE, compaction
(small-file, Z-order), the snapshot-maintained ANN index and its
retrains, file skipping (Bloom filters, timestamp zone maps), schema
evolution, CHECK constraints, optimistic concurrency, time travel, the
segmented log with checkpoints, change feeds and incremental dedup
maintenance.  `_orders_kc` is the shared (k, cents) fixture the
storage queries land; the streaming MERGE query imports it from here.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_lab_spark.catalog import Catalog
from dbt_lab_spark.expr import money
from dbt_lab_spark.localrel import local_df
from dbt_lab_spark.operators.scan import scan
from dbt_lab_spark.workload import QueryDef


def _orders_kc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders as (k, cents) — the shared fixture shape for the storage
    queries (exact integer money, unique key)."""
    cat = Catalog(sf_dir)
    return scan(spark, cat, "orders", ["o_orderkey", "o_totalprice"]).select(
        F.col("o_orderkey").cast("long").alias("k"),
        (money("o_totalprice") * 100).cast("long").alias("cents"),
    )


def _q_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction on the snapshot log (VERDICT r4 #6): land
    documents as five streaming-style delta appends (2 files each — the
    small-file tail a foreachBatch sink accumulates), then
    `compact(target_mb=64)` bin-packs the ten small files into ONE
    rewritten file committed as a new version.  The query proves the
    three contracts in one row: file count drops 10 -> 1, the
    order-invariant md5-decimal table checksum is IDENTICAL before and
    after (contents unchanged — the q_table_checksum primitive), and
    the pre-compaction version still time-travels (history preserved).
    Oracle: every output is closed-form from `documents` alone."""
    import shutil
    import tempfile

    from dbt_lab_spark.catalog import Catalog
    from dbt_lab_spark.operators.scan import scan
    from dbt_lab_spark.plans.snapshots import SnapshotTable

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "source", "n_chars"])
    row_key = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("doc_id").cast("string"),
                    F.coalesce(F.col("source"), F.lit("")),
                    F.col("n_chars").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("decimal(38,0)")

    def checksum(df: DataFrame):
        r = df.agg(
            F.count("*").alias("n"), F.sum(row_key).alias("c")
        ).first()
        return r["n"], r["c"]

    def head_file_count(t: SnapshotTable) -> int:
        import os

        return sum(
            1
            for d in t._log()[-1]["files"]
            for fn in os.listdir(d)
            if fn.endswith(".parquet")
        )

    d = tempfile.mkdtemp(prefix="snap_compact_")
    try:
        t = SnapshotTable(d)
        for b in range(5):
            t.append(docs.filter(F.col("doc_id") % 5 == b).repartition(2))
        pre_version = t.versions()[-1]
        files_before = head_file_count(t)
        n_before, sum_before = checksum(t.read(spark))
        t.compact(spark, target_mb=64)
        files_after = head_file_count(t)
        n_after, sum_after = checksum(t.read(spark))
        n_travel, _ = checksum(t.read(spark, version=pre_version))
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return local_df(spark, 
        [
            (
                files_before,
                files_after,
                n_after,
                bool(n_before == n_after and sum_before == sum_after),
                bool(n_travel == n_before),
            )
        ],
        "files_before int, files_after int, n_rows bigint, "
        "checksum_unchanged boolean, time_travel_intact boolean",
    )


_SQL_COMPACTION = """
SELECT 10 AS files_before, 1 AS files_after,
       COUNT(*) AS n_rows,
       TRUE AS checksum_unchanged, TRUE AS time_travel_intact
FROM documents
"""


def _q_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write row-level DELETE on the snapshot log (the DML
    triad's third leg beside append and MERGE): land documents as four
    delta directories (doc_id % 4), DELETE WHERE doc_id % 12 = 9 —
    every matching row lives in the %4==1 directory, so CoW must
    rewrite exactly 1 of 4 dirs — and prove the contract in one row:
    dirs rewritten/total, rows deleted, post-delete count, and the
    pre-delete version still time-travels.  Oracle: closed-form from
    `documents`."""
    import shutil
    import tempfile

    from dbt_lab_spark.catalog import Catalog
    from dbt_lab_spark.operators.scan import scan
    from dbt_lab_spark.plans.snapshots import SnapshotTable

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "source", "n_chars"])
    d = tempfile.mkdtemp(prefix="snap_delete_")
    try:
        t = SnapshotTable(d)
        for b in range(4):
            t.append(docs.filter(F.col("doc_id") % 4 == b))
        pre_version = t.versions()[-1]
        n_pre = t.read(spark).count()
        m = t.delete_where(spark, "doc_id % 12 = 9")
        n_after = t.read(spark).count()
        n_travel = t.read(spark, version=pre_version).count()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return local_df(spark, 
        [
            (
                m["n_dirs_rewritten"],
                m["n_dirs_total"],
                int(m["n_deleted"]),
                int(n_after),
                bool(n_travel == n_pre),
            )
        ],
        "n_dirs_rewritten int, n_dirs_total int, n_deleted bigint, "
        "n_rows_after bigint, time_travel_intact boolean",
    )


_SQL_DELETE_WHERE = """
SELECT 1 AS n_dirs_rewritten,
       4 AS n_dirs_total,
       CAST(SUM(CASE WHEN doc_id % 12 = 9 THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
       CAST(SUM(CASE WHEN doc_id % 12 = 9 THEN 0 ELSE 1 END) AS BIGINT) AS n_rows_after,
       TRUE AS time_travel_intact
FROM documents
"""


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup maintenance == one-shot dedup, proven
    in-engine: simhash the documents table, split it into three
    arrival batches (doc_id % 3), run `incremental_dedup_pairs` batch
    by batch against the growing index, and compare the accumulated
    pair set against the one-shot `hamming_dedup_pairs` over the whole
    corpus.  Output: both symmetric-difference counts (0, 0 — each
    unordered pair is emitted exactly once, by the batch that completes
    it) and the equality flag.  This is the production shape: a new
    crawl batch dedups against the standing index at O(batch) cost,
    never re-deduping the corpus."""
    from dbt_lab_spark.catalog import Catalog
    from dbt_lab_spark.llm.dedup import (
        hamming_dedup_pairs,
        incremental_dedup_pairs,
        simhash,
    )
    from dbt_lab_spark.operators.scan import scan

    import shutil
    import tempfile

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "text"])
    d = tempfile.mkdtemp(prefix="dedup_index_")
    try:
        # materialize the hash index ONCE — the production shape (the
        # standing index IS a table); every downstream op is a cheap
        # two-bigint-column scan, not a simhash recompute per branch
        idx_path = f"{d}/index"
        simhash(docs, bits=60, base_hash="md5").withColumnRenamed(
            "simhash", "h"
        ).write.parquet(idx_path)
        # explicit schema: the index layout is ours — skip the footer-
        # reading inference job (r10 opt, same as the snapshot read path)
        hashes = spark.read.schema("doc_id long, h bigint").parquet(idx_path)
        one_shot = hamming_dedup_pairs(
            hashes, hash_col="h", id_col="doc_id", max_hamming=3
        ).select("id_a", "id_b")
        incr = None
        index = None
        for b in range(3):
            batch = hashes.filter(F.col("doc_id") % 3 == b)
            pairs = incremental_dedup_pairs(
                batch, index, hash_col="h", id_col="doc_id", max_hamming=3
            ).select("id_a", "id_b")
            incr = pairs if incr is None else incr.unionByName(pairs)
            index = batch if index is None else index.unionByName(batch)
        only_incr = incr.join(one_shot, ["id_a", "id_b"], "left_anti")
        only_once = one_shot.join(incr, ["id_a", "id_b"], "left_anti")
        row = (
            only_incr.agg(F.count("*").alias("n_only_incremental"))
            .crossJoin(only_once.agg(F.count("*").alias("n_only_oneshot")))
            .select(
                "n_only_incremental",
                "n_only_oneshot",
                (
                    (F.col("n_only_incremental") == 0)
                    & (F.col("n_only_oneshot") == 0)
                ).alias("sets_equal"),
            )
            .first()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return local_df(spark, 
        [tuple(row)],
        "n_only_incremental bigint, n_only_oneshot bigint, sets_equal boolean",
    )


_SQL_DEDUP_INCREMENTAL = """
SELECT CAST(0 AS BIGINT) AS n_only_incremental,
       CAST(0 AS BIGINT) AS n_only_oneshot,
       TRUE AS sets_equal
"""


# ---------------------------------------------------------------------------
# Copy-on-write MERGE (upsert) + change feed on the snapshot log
# ---------------------------------------------------------------------------


def _q_merge_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE INTO on the snapshot log: land documents as
    four delta directories (doc_id % 4), then upsert a source that
    UPDATES only keys with doc_id % 12 == 9 (all inside the %4==1
    directory — so CoW must rewrite exactly 1 of 4 directories) and
    INSERTS ten brand-new keys.  The one output row proves the CoW
    contract end-to-end: dirs rewritten/total from the merge metrics,
    post-merge row count and n_chars sum (updates add 1,000,000 each —
    visible in the sum), and the pre-merge version still time-travels.
    Oracle: closed-form from `documents`."""
    import shutil
    import tempfile

    from dbt_lab_spark.catalog import Catalog
    from dbt_lab_spark.operators.scan import scan
    from dbt_lab_spark.plans.snapshots import SnapshotTable

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "source", "n_chars"])
    d = tempfile.mkdtemp(prefix="snap_merge_")
    try:
        t = SnapshotTable(d)
        for b in range(4):
            t.append(docs.filter(F.col("doc_id") % 4 == b))
        pre_version = t.versions()[-1]
        n_pre = t.read(spark).count()
        updates = (
            docs.filter(F.col("doc_id") % 12 == 9)
            .withColumn("n_chars", F.col("n_chars") + F.lit(1000000))
        )
        inserts = spark.range(10).select(
            (F.col("id") + F.lit(10**9)).alias("doc_id"),
            F.lit("merged").alias("source"),
            F.lit(77).cast("int").alias("n_chars"),
        )
        metrics = t.merge(
            spark, updates.unionByName(inserts), on=["doc_id"]
        )
        after = t.read(spark).agg(
            F.count("*").alias("n"), F.sum("n_chars").alias("s")
        ).first()
        n_travel = t.read(spark, version=pre_version).count()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return local_df(spark, 
        [
            (
                metrics["n_dirs_rewritten"],
                metrics["n_dirs_total"],
                int(after["n"]),
                int(after["s"]),
                bool(n_travel == n_pre),
            )
        ],
        "n_dirs_rewritten int, n_dirs_total int, n_rows_after bigint, "
        "sum_nchars_after bigint, time_travel_intact boolean",
    )


_SQL_MERGE_COW = """
SELECT 1 AS n_dirs_rewritten,
       4 AS n_dirs_total,
       COUNT(*) + 10 AS n_rows_after,
       CAST(SUM(n_chars)
         + 1000000 * SUM(CASE WHEN doc_id % 12 = 9 THEN 1 ELSE 0 END)
         + 10 * 77 AS BIGINT) AS sum_nchars_after,
       TRUE AS time_travel_intact
FROM documents
"""


def _q_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change feed recovered from the snapshot log: version 0 is
    the full documents table; version 1 appends rows for doc_id % 7 ==
    0 under fresh keys; version 2 merges an UPDATE of doc_id % 12 == 9.
    feed(0->1) must be pure inserts (the appended batch — shared
    directories cancel without being read); feed(1->2) must be exactly
    one delete+insert pair per updated key (unchanged rows in the
    rewritten directory cancel in the multiset diff).  Oracle:
    closed-form counts from `documents`."""
    import shutil
    import tempfile

    from dbt_lab_spark.catalog import Catalog
    from dbt_lab_spark.operators.scan import scan
    from dbt_lab_spark.plans.snapshots import SnapshotTable

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "source", "n_chars"])
    d = tempfile.mkdtemp(prefix="snap_feed_")
    try:
        t = SnapshotTable(d)
        t.commit(docs)
        t.append(
            docs.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + F.lit(10**9)).alias("doc_id"),
                "source",
                "n_chars",
            )
        )
        t.merge(
            spark,
            docs.filter(F.col("doc_id") % 12 == 9).withColumn(
                "n_chars", F.col("n_chars") + F.lit(5)
            ),
            on=["doc_id"],
        )
        f01 = (
            t.change_feed(spark, 0, 1)
            .groupBy("_change")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        f12 = (
            t.change_feed(spark, 1, 2)
            .groupBy("_change")
            .agg(F.count("*").alias("n"))
            .collect()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    c01 = {r["_change"]: r["n"] for r in f01}
    c12 = {r["_change"]: r["n"] for r in f12}
    return local_df(spark, 
        [
            (
                int(c01.get("insert", 0)),
                int(c01.get("delete", 0)),
                int(c12.get("insert", 0)),
                int(c12.get("delete", 0)),
            )
        ],
        "inserts_v01 bigint, deletes_v01 bigint, "
        "inserts_v12 bigint, deletes_v12 bigint",
    )


_SQL_CHANGE_FEED = """
SELECT CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS inserts_v01,
       CAST(0 AS BIGINT) AS deletes_v01,
       CAST(SUM(CASE WHEN doc_id % 12 = 9 THEN 1 ELSE 0 END) AS BIGINT) AS inserts_v12,
       CAST(SUM(CASE WHEN doc_id % 12 = 9 THEN 1 ELSE 0 END) AS BIGINT) AS deletes_v12
FROM documents
"""


# ---------------------------------------------------------------------------
# Schema evolution beyond additive: widen + rename in the snapshot log
# (VERDICT r5 #6)
# ---------------------------------------------------------------------------


def _q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type widening + column rename as METADATA-ONLY snapshot commits,
    proven end-to-end on real data: orders rows with o_orderkey%8==0
    land as (k int, cents int); `evolve` widens both to long and
    renames k -> order_key without touching a data file; a post-evolve
    append (%8==1, written long) and a CoW merge (updates %16==0 at
    +1,000,000 cents, inserts %8==2) then compose on the evolved
    schema, reading the pre-evolve directory cast+aliased per
    generation.  One output row carries head and time-travel-to-v0
    row counts, exact cents sums, and both schema strings — all
    closed-form from `orders`, so DuckDB recomputes every field
    (plans/snapshots.py evolve/_read_paths)."""
    import shutil
    import tempfile

    from dbt_lab_spark.plans.snapshots import SnapshotTable

    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_orderkey", "o_totalprice"]).select(
        F.col("o_orderkey").cast("long").alias("k"),
        (money("o_totalprice") * 100).cast("long").alias("cents"),
    )
    tmp = tempfile.mkdtemp(prefix="schemaevo_")
    try:
        t = SnapshotTable(os.path.join(tmp, "tbl"))
        t.commit(
            orders.filter(F.col("k") % 8 == 0).select(
                F.col("k").cast("int").alias("k"),
                F.col("cents").cast("int").alias("cents"),
            )
        )
        t.evolve(widen={"k": "long", "cents": "long"}, rename={"k": "order_key"})
        t.append(
            orders.filter(F.col("k") % 8 == 1).select(
                F.col("k").alias("order_key"), "cents"
            )
        )
        src = orders.filter(
            ((F.col("k") % 16 == 0) | (F.col("k") % 8 == 2))
        ).select(
            F.col("k").alias("order_key"),
            F.when(F.col("k") % 16 == 0, F.col("cents") + 1_000_000)
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
        t.merge(spark, src, on=["order_key"])
        head = t.read(spark)
        v0 = t.read(spark, version=0)
        h = head.agg(
            F.count(F.lit(1)).alias("n_head"),
            F.sum("cents").alias("sum_cents_head"),
        ).first()
        z = v0.agg(
            F.count(F.lit(1)).alias("n_v0"),
            F.sum("cents").alias("sum_cents_v0"),
        ).first()
        head_schema = ",".join(f"{f.name}:{f.dataType.simpleString()}" for f in head.schema.fields)
        v0_schema = ",".join(f"{f.name}:{f.dataType.simpleString()}" for f in v0.schema.fields)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_df(spark, 
        [
            (
                int(h["n_head"]), int(h["sum_cents_head"] or 0),
                int(z["n_v0"]), int(z["sum_cents_v0"] or 0),
                head_schema, v0_schema,
            )
        ],
        "n_head bigint, sum_cents_head bigint, n_v0 bigint, "
        "sum_cents_v0 bigint, head_schema string, v0_schema string",
    )


_SQL_SCHEMA_EVOLUTION = """
WITH o AS (
  SELECT o_orderkey AS k,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
), head AS (
  SELECT k, CASE WHEN k % 16 = 0 THEN cents + 1000000 ELSE cents END AS cents
  FROM o WHERE k % 8 IN (0, 1, 2)
), v0 AS (
  SELECT k, cents FROM o WHERE k % 8 = 0
)
SELECT (SELECT COUNT(*) FROM head) AS n_head,
       (SELECT CAST(COALESCE(SUM(cents), 0) AS BIGINT) FROM head) AS sum_cents_head,
       (SELECT COUNT(*) FROM v0) AS n_v0,
       (SELECT CAST(COALESCE(SUM(cents), 0) AS BIGINT) FROM v0) AS sum_cents_v0,
       'order_key:bigint,cents:bigint' AS head_schema,
       'k:int,cents:int' AS v0_schema
"""


def _q_constraint_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style CHECK constraints on the snapshot log, proven
    end-to-end on real data: orders with o_orderkey%4==0 land, then
    ADD CONSTRAINT cents_pos (cents > 0) validates the existing rows;
    an appended batch carrying planted NEGATIVE rows (%8==2 keys,
    negated) is REFUSED whole (no partial write — version count
    unchanged), and the clean %8==6 batch commits.  One output row:
    head count/sum (base + clean batch only), the refusal flag, and
    the version count (base + add_constraint + one append) — all
    closed-form from `orders` (plans/snapshots.py add_constraint)."""
    import shutil
    import tempfile

    from dbt_lab_spark.plans.snapshots import SnapshotTable

    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_orderkey", "o_totalprice"]).select(
        F.col("o_orderkey").cast("long").alias("k"),
        (money("o_totalprice") * 100).cast("long").alias("cents"),
    )
    tmp = tempfile.mkdtemp(prefix="constraint_")
    try:
        t = SnapshotTable(os.path.join(tmp, "tbl"))
        t.commit(orders.filter(F.col("k") % 4 == 0))
        t.add_constraint(spark, "cents_pos", "cents > 0")
        bad = orders.filter(F.col("k") % 8 == 2).select(
            "k", (-F.col("cents")).alias("cents")
        )
        refused = False
        if bad.limit(1).count():
            try:
                t.append(bad)
            except ValueError:
                refused = True
        else:  # empty tables: nothing to refuse, vacuously enforced
            refused = True
        t.append(orders.filter(F.col("k") % 8 == 6))
        head = t.read(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
        ).first()
        n_versions = len(t.versions())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_df(spark, 
        [(int(head["n"]), int(head["s"] or 0), bool(refused), int(n_versions))],
        "n_rows bigint, sum_cents bigint, bad_batch_refused boolean, "
        "n_versions bigint",
    )


_SQL_CONSTRAINT_GATE = """
WITH o AS (
  SELECT o_orderkey AS k,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
), head AS (
  SELECT k, cents FROM o WHERE k % 4 = 0 OR k % 8 = 6
)
SELECT (SELECT COUNT(*) FROM head) AS n_rows,
       (SELECT CAST(COALESCE(SUM(cents), 0) AS BIGINT) FROM head) AS sum_cents,
       TRUE AS bad_batch_refused,
       CAST(3 AS BIGINT) AS n_versions
"""


# ---------------------------------------------------------------------------
# Merge-on-read deletion vectors (VERDICT r6 #1)
# ---------------------------------------------------------------------------


def _q_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors, proven end-to-end on
    real data: orders rows k%4==0 land, k%8==1 append; then
    `delete_where(k % 16 == 0, mode="dv")` removes every 16th key by
    writing ONLY a (file, row_index) sidecar — the manifest's data-file
    list is unchanged and zero directories are rewritten (the returned
    n_dirs_rewritten is part of the output row).  Reads of the new head
    apply the DV as a broadcast anti-join (plans/snapshots.py
    _read_paths); time travel to the pre-delete version reads the rows
    back; `compact()` then MATERIALIZES the deletes into plain files
    and the re-read totals must not move.  At 100 TB this is the
    GDPR-point-delete shape: O(sidecar) per delete instead of
    rewriting every touched file (VERDICT r6 #1).  All output fields
    are closed-form from `orders`."""
    import shutil
    import tempfile

    from dbt_lab_spark.plans.snapshots import SnapshotTable

    orders = _orders_kc(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="deletedv_")
    try:
        t = SnapshotTable(os.path.join(tmp, "tbl"))
        t.commit(orders.filter(F.col("k") % 4 == 0))
        v_pre = t.append(orders.filter(F.col("k") % 8 == 1))
        files_before = sorted(t._log()[-1]["files"])
        res = t.delete_where(spark, "k % 16 = 0", mode="dv")
        files_after = sorted(t._log()[-1]["files"])
        head = t.read(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
        ).first()
        n_travel = t.read(spark, version=v_pre).count()
        t.compact(spark, target_mb=1024.0)
        after = t.read(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
        ).first()
        files_unchanged = files_before == files_after and res["n_dirs_rewritten"] == 0
        n_deleted = res["n_deleted"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_df(spark, 
        [
            (
                int(head["n"]), int(head["s"] or 0), int(n_deleted),
                int(n_travel), bool(files_unchanged),
                int(after["n"]), int(after["s"] or 0),
            )
        ],
        "n_head bigint, sum_cents_head bigint, n_deleted bigint, "
        "n_travel bigint, files_unchanged boolean, "
        "n_after_compact bigint, sum_after_compact bigint",
    )


_SQL_DELETE_DV = """
WITH o AS (
  SELECT o_orderkey AS k,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
), base AS (
  SELECT k, cents FROM o WHERE k % 4 = 0 OR k % 8 = 1
), head AS (
  SELECT k, cents FROM base WHERE NOT (k % 16 = 0)
)
SELECT (SELECT COUNT(*) FROM head) AS n_head,
       (SELECT CAST(COALESCE(SUM(cents), 0) AS BIGINT) FROM head) AS sum_cents_head,
       (SELECT COUNT(*) FROM base WHERE k % 16 = 0) AS n_deleted,
       (SELECT COUNT(*) FROM base) AS n_travel,
       TRUE AS files_unchanged,
       (SELECT COUNT(*) FROM head) AS n_after_compact,
       (SELECT CAST(COALESCE(SUM(cents), 0) AS BIGINT) FROM head) AS sum_after_compact
"""


def _q_merge_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read MERGE (upsert) via deletion vectors: orders rows
    k%4==0 land, k%8==1 append; a source of updates (k%16==0, cents
    +1,000,000) and inserts (k%8==2) then merges with `mode="dv"` —
    matched rows are tombstoned by position (NO data file rewritten)
    and the whole source lands as one delta directory, the Delta
    deletion-vector MERGE mechanics.  The manifest's pre-merge file
    list is carried byte-identical (flag in the output), time travel
    to the pre-merge version reads the original rows, and `compact()`
    folds the tombstones into plain files without moving the totals.
    All numeric fields are closed-form from `orders`
    (plans/snapshots.py merge mode="dv")."""
    import shutil
    import tempfile

    from dbt_lab_spark.plans.snapshots import SnapshotTable

    orders = _orders_kc(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="mergedv_")
    try:
        t = SnapshotTable(os.path.join(tmp, "tbl"))
        t.commit(orders.filter(F.col("k") % 4 == 0))
        v_pre = t.append(orders.filter(F.col("k") % 8 == 1))
        files_before = list(t._log()[-1]["files"])
        src = orders.filter(
            (F.col("k") % 16 == 0) | (F.col("k") % 8 == 2)
        ).select(
            "k",
            F.when(F.col("k") % 16 == 0, F.col("cents") + 1_000_000)
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
        res = t.merge(spark, src, on=["k"], mode="dv")
        carried = t._log()[-1]["files"][: len(files_before)] == files_before
        head = t.read(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
        ).first()
        n_travel = t.read(spark, version=v_pre).count()
        t.compact(spark, target_mb=1024.0)
        after = t.read(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
        ).first()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_df(spark, 
        [
            (
                int(head["n"]), int(head["s"] or 0), int(res["n_updated"]),
                int(res["n_dirs_rewritten"]), bool(carried), int(n_travel),
                int(after["n"]), int(after["s"] or 0),
            )
        ],
        "n_head bigint, sum_cents_head bigint, n_updated bigint, "
        "n_dirs_rewritten bigint, files_carried boolean, n_travel bigint, "
        "n_after_compact bigint, sum_after_compact bigint",
    )


_SQL_MERGE_DV = """
WITH o AS (
  SELECT o_orderkey AS k,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
), head AS (
  SELECT k, CASE WHEN k % 16 = 0 THEN cents + 1000000 ELSE cents END AS cents
  FROM o WHERE k % 4 = 0 OR k % 8 = 1 OR k % 8 = 2
)
SELECT (SELECT COUNT(*) FROM head) AS n_head,
       (SELECT CAST(COALESCE(SUM(cents), 0) AS BIGINT) FROM head) AS sum_cents_head,
       (SELECT COUNT(*) FROM o WHERE k % 16 = 0) AS n_updated,
       CAST(0 AS BIGINT) AS n_dirs_rewritten,
       TRUE AS files_carried,
       (SELECT COUNT(*) FROM o WHERE k % 4 = 0 OR k % 8 = 1) AS n_travel,
       (SELECT COUNT(*) FROM head) AS n_after_compact,
       (SELECT CAST(COALESCE(SUM(cents), 0) AS BIGINT) FROM head) AS sum_after_compact
"""


# ---------------------------------------------------------------------------
# Z-order compaction of the snapshot log (VERDICT r6 #3)
# ---------------------------------------------------------------------------


def _q_zorder_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER over versioned data: orders-derived rows with
    two pseudo-independent cluster keys a = k%97 and b = (k*7919)%101
    land as six appends (small-file tail), then
    `compact(zorder=["a","b"], n_files=16)` rewrites them bin-packed
    in Z-order — each output file owns a hyper-RECTANGLE of (a, b), so
    the recorded per-file min/max are tight on BOTH columns and
    `between=` skipping prunes on each (a linear sort can only serve
    the leading column).  The output pins: exact row count and cents
    sum after compaction (byte-equal contents), the count/sum of a
    mid-range slice read through the pruned path, pruning to at most
    half the files on BOTH single-column predicates, and intact time
    travel to the first append.  All numeric fields are closed-form
    from `orders` (plans/snapshots.py compact)."""
    import shutil
    import tempfile

    from dbt_lab_spark.plans.snapshots import SnapshotTable

    orders = _orders_kc(spark, sf_dir).select(
        "k",
        "cents",
        (F.col("k") % 97).alias("a"),
        ((F.col("k") * 7919) % 101).alias("b"),
    )
    tmp = tempfile.mkdtemp(prefix="zorder_")
    try:
        t = SnapshotTable(os.path.join(tmp, "tbl"), stat_cols=["a", "b"])
        for g in range(6):
            t.append(orders.filter(F.col("k") % 6 == g))
        n_v0 = t.read(spark, version=0).count()
        t.compact(spark, target_mb=1024.0, n_files=16, zorder=["a", "b"])
        head = t.read(spark).agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
        ).first()
        sl = t.read(spark, between=("a", 3, 9)).agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
        ).first()
        ka, ta = t.pruned_file_count(None, ("a", 3, 9))
        kb, tb = t.pruned_file_count(None, ("b", 3, 9))
        travel_ok = t.read(spark, version=0).count() == n_v0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_df(spark, 
        [
            (
                int(head["n"]), int(head["s"] or 0),
                int(sl["n"]), int(sl["s"] or 0),
                bool(ka * 2 <= ta), bool(kb * 2 <= tb), bool(travel_ok),
            )
        ],
        "n_rows bigint, sum_cents bigint, n_slice bigint, sum_slice bigint, "
        "a_prunes boolean, b_prunes boolean, travel_ok boolean",
    )


_SQL_ZORDER_COMPACT = """
WITH o AS (
  SELECT o_orderkey AS k,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         o_orderkey % 97 AS a,
         (o_orderkey * 7919) % 101 AS b
  FROM orders
)
SELECT (SELECT COUNT(*) FROM o) AS n_rows,
       (SELECT CAST(COALESCE(SUM(cents), 0) AS BIGINT) FROM o) AS sum_cents,
       (SELECT COUNT(*) FROM o WHERE a BETWEEN 3 AND 9) AS n_slice,
       (SELECT CAST(COALESCE(SUM(cents), 0) AS BIGINT) FROM o
        WHERE a BETWEEN 3 AND 9) AS sum_slice,
       TRUE AS a_prunes,
       TRUE AS b_prunes,
       TRUE AS travel_ok
"""


# ---------------------------------------------------------------------------
# Per-file Bloom filters for point-lookup skipping (VERDICT r6 #4)
# ---------------------------------------------------------------------------


def _q_bloom_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-lookup file skipping via per-file Bloom filters: orders
    land as four appends split by k%4 (four files each — a key lives
    in exactly one directory, 1 of 16 files), with `bloom_cols=["k"]`
    recording one Bloom bitmap per data file at commit
    (executor-built, O(#files) on the driver).  `read(point=("k", v))`
    prunes every file whose filter proves v absent; min/max stats
    cannot help here because keys scatter across the whole range in
    every file.  The output pins the looked-up row's exact cents
    (false positives are caught by the residual equality filter),
    pruning to at most half the files, and zero rows for a key that
    was never written.  Probe key: the largest k with k%4==3 —
    closed-form from `orders` (plans/snapshots.py _blooms_for /
    read(point=))."""
    import shutil
    import tempfile

    from dbt_lab_spark.plans.snapshots import SnapshotTable

    orders = _orders_kc(spark, sf_dir)
    probe = orders.filter(F.col("k") % 4 == 3).agg(F.max("k")).first()[0]
    tmp = tempfile.mkdtemp(prefix="bloom_")
    try:
        t = SnapshotTable(os.path.join(tmp, "tbl"), bloom_cols=["k"])
        for g in range(4):
            t.append(orders.filter(F.col("k") % 4 == g).repartition(4))
        if probe is None:  # empty orders: vacuous flags, zero counts
            return local_df(spark, 
                [(None, None, 0, True, 0)],
                "probe_k bigint, probe_cents bigint, n_probe_rows bigint, "
                "pruned_lt_half boolean, n_missing_rows bigint",
            )
        hit = t.read(spark, point=("k", int(probe))).agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
        ).first()
        kept, total = t.pruned_point_file_count(None, ("k", int(probe)))
        missing_k = orders.agg(F.max("k")).first()[0] + 12345
        n_missing = t.read(spark, point=("k", int(missing_k))).count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_df(spark, 
        [
            (
                int(probe), int(hit["s"] or 0), int(hit["n"]),
                bool(kept * 2 <= total), int(n_missing),
            )
        ],
        "probe_k bigint, probe_cents bigint, n_probe_rows bigint, "
        "pruned_lt_half boolean, n_missing_rows bigint",
    )


_SQL_BLOOM_SKIP = """
WITH o AS (
  SELECT o_orderkey AS k,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
), probe AS (
  SELECT MAX(k) AS pk FROM o WHERE k % 4 = 3
)
SELECT (SELECT pk FROM probe) AS probe_k,
       (SELECT CAST(COALESCE(SUM(cents), 0) AS BIGINT) FROM o
        WHERE k = (SELECT pk FROM probe)) AS probe_cents,
       (SELECT COUNT(*) FROM o WHERE k = (SELECT pk FROM probe)) AS n_probe_rows,
       TRUE AS pruned_lt_half,
       CAST(0 AS BIGINT) AS n_missing_rows
"""


# ---------------------------------------------------------------------------
# Optimistic concurrency (VERDICT r7 #1)
# ---------------------------------------------------------------------------

_N_WRITERS = 4


def _q_concurrent_appends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N RACING appends serialize to the exact union: four threads,
    each with its OWN SnapshotTable handle on the same root
    (process-equivalent writers), concurrently append disjoint
    residue-class slices of orders.  The conflict-checked commit
    protocol (plans/snapshots.py _append_log: per-version O_EXCL
    marker + parent CAS + append rebase) must lose none of them and
    produce a gapless version chain.  Output: per-residue row count
    and exact cent sum of the FINAL table, plus the version count —
    all recomputed by the oracle straight from orders, so a dropped or
    doubled commit cannot hash-match."""
    import shutil
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from dbt_lab_spark.plans.snapshots import SnapshotTable

    base = _orders_kc(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="snap_occ_")
    try:
        def writer(res: int) -> int:
            return SnapshotTable(root).append(
                base.filter(F.col("k") % _N_WRITERS == res)
            )

        with ThreadPoolExecutor(max_workers=_N_WRITERS) as ex:
            versions = sorted(ex.map(writer, range(_N_WRITERS)))
        t = SnapshotTable(root)
        n_versions = len(t.versions())
        ok_chain = versions == list(range(_N_WRITERS))
        agg = (
            t.read(spark)
            .groupBy((F.col("k") % _N_WRITERS).alias("residue"))
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("cents").alias("sum_cents"),
            )
            .select(
                "residue",
                "n_rows",
                "sum_cents",
                F.lit(n_versions).cast("long").alias("n_versions"),
                F.lit(ok_chain).alias("gapless_chain"),
            )
            .orderBy("residue")
        )
        rows = agg.collect()
        return local_df(spark, rows, agg.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_SQL_CONCURRENT_APPENDS = f"""
WITH o AS (
  SELECT o_orderkey AS k,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
)
SELECT CAST(k % {_N_WRITERS} AS BIGINT) AS residue,
       COUNT(*) AS n_rows,
       SUM(cents) AS sum_cents,
       CAST({_N_WRITERS} AS BIGINT) AS n_versions,
       TRUE AS gapless_chain
FROM o GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Timestamp time travel (VERDICT r7 #3)
# ---------------------------------------------------------------------------


def _q_time_travel_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """read(as_of=) resolution against the commit timestamps already in
    every log record: commit documents as v0, delta-append a recrawl
    batch as v1, then audit the table AS OF three instants — between
    the two commits (resolves to v0), exactly v1's commit ts (<=
    convention reads v1), and far past the head (reads the head) —
    plus the pre-history error contract.  The oracle recomputes both
    versions' audits straight from `documents`."""
    import shutil
    import tempfile

    from dbt_lab_spark.plans.snapshots import SnapshotTable

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "source", "n_chars"])
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        F.lit("recrawl").alias("source"),
        "n_chars",
    )
    d = tempfile.mkdtemp(prefix="snap_ttts_")
    try:
        t = SnapshotTable(d)
        t.commit(docs)
        t.append(batch)
        log = t._log()
        ts0, ts1 = log[0]["ts"], log[1]["ts"]
        try:
            t.read(spark, as_of=ts0 - 60.0)
            prehistory_errors = False
        except ValueError:
            prehistory_errors = True
        probes = [
            (0, (ts0 + ts1) / 2.0),  # between commits -> v0
            (1, ts1),                # exact commit ts -> v1 (<=)
            (2, ts1 + 3600.0),       # past the head -> head
        ]
        rows = []
        for probe, at in probes:
            r = (
                t.read(spark, as_of=at)
                .agg(
                    F.count("*").alias("n_docs"),
                    F.sum("n_chars").alias("sum_chars"),
                )
                .first()
            )
            rows.append((probe, r.n_docs, r.sum_chars, prehistory_errors))
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return local_df(spark, 
        rows, "probe int, n_docs bigint, sum_chars bigint, prehistory_errors boolean"
    )


_SQL_TIME_TRAVEL_TS = r"""
WITH v0 AS (
  SELECT COUNT(*) AS n_docs, SUM(n_chars) AS sum_chars FROM documents
), v1 AS (
  SELECT COUNT(*) AS n_docs, SUM(n_chars) AS sum_chars FROM (
    SELECT doc_id, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 5000000, n_chars FROM documents WHERE doc_id % 5 = 0
  )
)
SELECT CAST(0 AS INTEGER) AS probe, n_docs, sum_chars, TRUE AS prehistory_errors FROM v0
UNION ALL
SELECT 1, n_docs, sum_chars, TRUE FROM v1
UNION ALL
SELECT 2, n_docs, sum_chars, TRUE FROM v1
ORDER BY probe
"""


# ---------------------------------------------------------------------------
# DV size policy (VERDICT r7 #2)
# ---------------------------------------------------------------------------


def _q_dv_mass_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A MASS delete requested in dv mode must auto-materialize via
    scoped CoW instead of growing the sidecars (max_dv_rows policy):
    the head carries NO deletion vectors, at least one directory was
    rewritten, and the surviving rows equal the plain relational
    delete the oracle computes."""
    import shutil
    import tempfile

    from dbt_lab_spark.plans.snapshots import SnapshotTable

    base = _orders_kc(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="snap_dvmass_")
    try:
        t = SnapshotTable(root)
        t.commit(base.filter(F.col("k") % 2 == 0))
        t.append(base.filter(F.col("k") % 2 == 1))
        res = t.delete_where(spark, "k % 4 != 1", mode="dv", max_dv_rows=100)
        head = t._log()[-1]
        fell_back = "dv->cow" in head["operation"]
        no_sidecar = not head.get("dvs")
        agg = (
            t.read(spark)
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("cents").alias("sum_cents"),
            )
            .select(
                "n_rows",
                "sum_cents",
                F.lit(fell_back).alias("fell_back_to_cow"),
                F.lit(no_sidecar).alias("no_sidecar"),
                F.lit(res["n_dirs_rewritten"] >= 1).alias("rewrote_dirs"),
            )
        )
        rows = agg.collect()
        return local_df(spark, rows, agg.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_SQL_DV_MASS_DELETE = """
WITH o AS (
  SELECT o_orderkey AS k,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
)
SELECT COUNT(*) AS n_rows,
       SUM(cents) AS sum_cents,
       TRUE AS fell_back_to_cow,
       TRUE AS no_sidecar,
       TRUE AS rewrote_dirs
FROM o WHERE k % 4 = 1
"""


# ---------------------------------------------------------------------------
# Snapshot-maintained IVF ANN (VERDICT r7 #7)
# ---------------------------------------------------------------------------


def _q_snapshot_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot-maintained ANN index under a FULL oracle: seeded
    centroids (ivf_centroids iters=0 — the deterministic id%C init the
    q_knn_ivf_seeded oracle replays), corpus committed in TWO
    installments (commit + append, exercising incremental assignment
    and the per-file cluster manifest), then probe-pruned knn through
    SnapshotTable.knn — which reads only files whose recorded cluster
    sets intersect the probe union and scores through the audited
    ivf_knn jvm path.  Output and oracle are IDENTICAL to
    q_knn_ivf_seeded (workload_beyond.py): the index maintenance must
    change nothing about the answer."""
    import shutil
    import tempfile

    from dbt_lab_spark.llm.similarity import ivf_centroids
    from dbt_lab_spark.plans.snapshots import SnapshotTable
    from dbt_lab_spark.workload_beyond import _SEEDED_C

    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding"])
    corpus = emb.filter(F.col("vec_id") >= 5)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = ivf_centroids(corpus, num_centroids=_SEEDED_C, iters=0, dim=64)
    root = tempfile.mkdtemp(prefix="snap_ann_")
    try:
        t = SnapshotTable(
            root,
            ann_col="embedding",
            ann_lists=_SEEDED_C,
            ann_files=4,
            ann_centroids=cents,
        )
        t.commit(corpus.filter(F.col("vec_id") % 2 == 1))
        t.append(corpus.filter(F.col("vec_id") % 2 == 0))
        out = t.knn(spark, queries, k=10, nprobe=3)
        rows = out.collect()
        return local_df(spark, rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _sql_snapshot_ann() -> str:
    from dbt_lab_spark.workload_beyond import _sql_knn_ivf_seeded

    return _sql_knn_ivf_seeded()


# ---------------------------------------------------------------------------
# Segmented log + checkpoints (VERDICT r8 #1/#2)
# ---------------------------------------------------------------------------

_N_SLICES = 12  # > CHECKPOINT_EVERY, so version 10's checkpoint exists


def _q_log_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The segmented snapshot log under a full oracle: documents
    committed as 12 residue-class appends (versions 0..11 — version
    10 folds a CHECKPOINT), then rollback(5) and a retention vacuum.
    Probes read BELOW, AT and ABOVE the checkpoint boundary, by
    timestamp (as_of between two commits), at the rolled-back head,
    and at the oldest retained version after vacuum truncated history
    below it — each must return exactly the cumulative slice union the
    oracle recomputes from `documents`.  The `ok` flag additionally
    pins the log mechanics the oracle can't see: the checkpoint file
    exists, vacuum kept exactly the last 4 versions, a truncated
    version read fails loudly, and late record files are no larger
    than early ones (commit bytes O(delta), not O(history) — the r8
    whole-log rewrite was the last driver-side scale bottleneck,
    VERDICT r8 #1)."""
    import shutil
    import tempfile

    from dbt_lab_spark.plans.snapshots import SnapshotTable

    cat = Catalog(sf_dir)
    docs = scan(spark, cat, "documents", ["doc_id", "n_chars"])
    root = tempfile.mkdtemp(prefix="snap_ckpt_")
    try:
        t = SnapshotTable(root)
        for i in range(_N_SLICES):
            t.append(docs.filter(F.col("doc_id") % _N_SLICES == i).coalesce(1))
        ts7 = t._read_seg(7)["ts"]
        ts8 = t._read_seg(8)["ts"]
        t.rollback(5)  # version 12

        def agg(df: DataFrame):
            r = df.agg(
                F.count("*").alias("n"), F.sum("n_chars").alias("s")
            ).first()
            return int(r["n"]), int(r["s"]) if r["s"] is not None else 0

        probes = [
            (0, agg(t.read(spark, version=9))),    # below the checkpoint
            (1, agg(t.read(spark, version=10))),   # at the checkpoint
            (2, agg(t.read(spark, version=11))),   # above the checkpoint
            (3, agg(t.read(spark, as_of=(ts7 + ts8) / 2.0))),  # between commits
            (4, agg(t.read(spark))),               # head after rollback(5)
        ]
        t.vacuum(keep_last=4, grace_s=0.0)         # truncates below v9
        probes.append((5, agg(t.read(spark, version=9))))
        # mechanics flags (constant TRUE in the oracle)
        ok = t.protocol.exists(t._ckpt_key(10))
        ok = ok and t.versions() == [9, 10, 11, 12]
        try:
            t.read(spark, version=0)
            ok = False  # truncated history must fail loudly
        except ValueError:
            pass
        sizes = {
            int(k.rsplit("/", 1)[-1][:-5]): t.protocol.stat(k)[1]
            for k in t.protocol.list("_log")
            if k.rsplit("/", 1)[-1][:-5].isdigit()
        }
        ok = ok and sizes[11] < 2 * sizes[10]  # O(delta) commit bytes
        rows = [(p, n, s, bool(ok)) for p, (n, s) in probes]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(spark, 
        rows, "probe int, n_docs bigint, sum_chars bigint, ok boolean"
    ).orderBy("probe")


_SQL_LOG_CHECKPOINT = f"""
WITH cum AS (
  SELECT k,
         (SELECT COUNT(*) FROM documents WHERE doc_id % {_N_SLICES} <= k)
           AS n_docs,
         (SELECT SUM(n_chars) FROM documents WHERE doc_id % {_N_SLICES} <= k)
           AS sum_chars
  FROM (VALUES (9), (10), (11), (7), (5)) v(k)
)
SELECT CAST(probe AS INTEGER) AS probe, n_docs, sum_chars, TRUE AS ok
FROM (
  SELECT 0 AS probe, n_docs, sum_chars FROM cum WHERE k = 9
  UNION ALL SELECT 1, n_docs, sum_chars FROM cum WHERE k = 10
  UNION ALL SELECT 2, n_docs, sum_chars FROM cum WHERE k = 11
  UNION ALL SELECT 3, n_docs, sum_chars FROM cum WHERE k = 7
  UNION ALL SELECT 4, n_docs, sum_chars FROM cum WHERE k = 5
  UNION ALL SELECT 5, n_docs, sum_chars FROM cum WHERE k = 9
)
ORDER BY probe
"""


# ---------------------------------------------------------------------------
# ANN index retrain (VERDICT r8 #4)
# ---------------------------------------------------------------------------


def _q_ann_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index lifecycle under a FULL oracle: the table's quantizer
    is seeded on HALF the corpus only (odd vec_ids — a deliberately
    stale index for the even half appended later), then
    compact(retrain_ann=True, retrain_iters=0) re-trains on the union
    and re-clusters every file.  The post-retrain probe-pruned knn
    must equal the fresh seeded FULL-corpus IVF — i.e. exactly the
    q_knn_ivf_seeded oracle (workload_beyond.py) — proving retrain
    leaves no trace of the stale quantizer in either the centroids or
    the per-file cluster manifests (plans/snapshots.py compact
    retrain_ann; drift metric: SnapshotTable.ann_staleness)."""
    import shutil
    import tempfile

    from dbt_lab_spark.llm.similarity import ivf_centroids
    from dbt_lab_spark.plans.snapshots import SnapshotTable
    from dbt_lab_spark.workload_beyond import _SEEDED_C

    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding"])
    corpus = emb.filter(F.col("vec_id") >= 5)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    half = corpus.filter(F.col("vec_id") % 2 == 1)
    stale_cents = ivf_centroids(half, num_centroids=_SEEDED_C, iters=0, dim=64)
    root = tempfile.mkdtemp(prefix="snap_retrain_")
    try:
        t = SnapshotTable(
            root,
            ann_col="embedding",
            ann_lists=_SEEDED_C,
            ann_files=4,
            ann_centroids=stale_cents,
        )
        t.commit(half)
        t.append(corpus.filter(F.col("vec_id") % 2 == 0))
        # an empty corpus has nothing to retrain on (and nothing for
        # knn to return) — skip the rewrite, matching the empty oracle
        if t.read(spark).limit(1).count():
            t.compact(spark, retrain_ann=True, retrain_iters=0, n_files=4)
        out = t.knn(spark, queries, k=10, nprobe=3)
        rows = out.collect()
        return local_df(spark, rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _sql_ann_retrain() -> str:
    from dbt_lab_spark.workload_beyond import _sql_knn_ivf_seeded

    return _sql_knn_ivf_seeded()


# ---------------------------------------------------------------------------
# OCC rebase revalidation (VERDICT r9 #1a / #2)
# ---------------------------------------------------------------------------


def _q_constraint_race(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A CHECK constraint added by a concurrent writer between this
    commit's validation and its publish must be re-checked against the
    commit's rows on the rebase (plans/snapshots.py commit(): the
    constraint-set diff before every publish attempt).  Deterministic
    interleaving: the concurrent add_constraint fires from a hook in
    the commit's manifest write — the canonical
    validated-but-not-yet-published window (the q_concurrent_appends
    pattern with a pinned schedule instead of a thread race).  Output:
    the surviving table's aggregate (recomputed by the oracle straight
    from orders) plus closed-form flags — the violating commit was
    REFUSED with the constraint named, the constraint survived, and
    the aborted commit left no orphan directory."""
    import os
    import shutil
    import tempfile

    from dbt_lab_spark.plans.snapshots import SnapshotTable

    cat = Catalog(sf_dir)
    base = scan(spark, cat, "orders", ["o_orderkey", "o_totalprice"]).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="snap_crace_")
    try:
        t = SnapshotTable(root)
        t.commit(base)
        bad = local_df(spark, [(-1, -5)], "k long, cents long")
        orig = t._write_manifest
        fired: dict = {}

        def hooked(spark_, d, ann=None):
            if not fired:
                fired["v"] = SnapshotTable(root).add_constraint(
                    spark, "cents_pos", "cents >= 0"
                )
            return orig(spark_, d, ann)

        t._write_manifest = hooked
        refused = False
        try:
            t.commit(bad)
        except ValueError as e:
            refused = "cents_pos" in str(e)
        t2 = SnapshotTable(root)
        kept_constraint = (
            t2._log()[-1].get("constraints") == {"cents_pos": "cents >= 0"}
        )
        orphans = [
            e
            for e in os.listdir(root)
            if e.startswith("v")
            and "full" in e
            and os.path.isdir(os.path.join(root, e))
        ]
        agg = (
            t2.read(spark)
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("cents").alias("sum_cents"),
            )
            .select(
                "n_rows",
                "sum_cents",
                F.lit(refused).alias("refused_named"),
                F.lit(kept_constraint).alias("constraint_kept"),
                F.lit(len(orphans) == 1).alias("no_orphans"),
            )
        )
        rows = agg.collect()
        return local_df(spark, rows, agg.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_SQL_CONSTRAINT_RACE = """
SELECT COUNT(*) AS n_rows,
       SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
         AS sum_cents,
       TRUE AS refused_named,
       TRUE AS constraint_kept,
       TRUE AS no_orphans
FROM orders
"""


# ---------------------------------------------------------------------------
# Timestamp zone-map pruning (VERDICT r9 #3 / #2)
# ---------------------------------------------------------------------------

# fixed instants inside the events generator's Jan-2024 window — the
# same literals on both sides, so the oracle recomputes the row slice
_TS_CUT1 = _dt.datetime(2024, 1, 11)
_TS_CUT2 = _dt.datetime(2024, 1, 21)
_TS_LO = _dt.datetime(2024, 1, 12)
_TS_HI = _dt.datetime(2024, 1, 19)


def _q_ts_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-typed stat_cols must PRUNE, not silently no-op
    (VERDICT r9 'What's wrong' #3: tz-aware footer stats vs naive
    probes TypeError'd into keep-everything; INT96 footers carry no
    stats at all).  Three appends of `events` split on fixed instants
    — each one file with a disjoint ts range — then a between= probe
    strictly inside the middle range: exactly 1 of 3 files survives
    pruning (closed-form flag), and the pruned read's aggregate equals
    the oracle's recomputation straight from events."""
    import shutil
    import tempfile

    from dbt_lab_spark.plans.snapshots import SnapshotTable

    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").select("event_id", "ts", "value")
    root = tempfile.mkdtemp(prefix="snap_tsprune_")
    try:
        t = SnapshotTable(root, stat_cols=["ts"])
        t.append(ev.filter(F.col("ts") < F.lit(_TS_CUT1)).coalesce(1))
        t.append(
            ev.filter(
                (F.col("ts") >= F.lit(_TS_CUT1))
                & (F.col("ts") < F.lit(_TS_CUT2))
            ).coalesce(1)
        )
        t.append(ev.filter(F.col("ts") >= F.lit(_TS_CUT2)).coalesce(1))
        kept, total = t.pruned_file_count(None, ("ts", _TS_LO, _TS_HI))
        agg = (
            t.read(spark, between=("ts", _TS_LO, _TS_HI))
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                "n_rows",
                "sum_value",
                F.lit(kept).cast("long").alias("kept_files"),
                F.lit(total).cast("long").alias("total_files"),
            )
        )
        rows = agg.collect()
        return local_df(spark, rows, agg.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_SQL_TS_PRUNE = f"""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
       CAST(1 AS BIGINT) AS kept_files,
       CAST(3 AS BIGINT) AS total_files
FROM events
WHERE ts BETWEEN TIMESTAMP '{_TS_LO:%Y-%m-%d %H:%M:%S}'
             AND TIMESTAMP '{_TS_HI:%Y-%m-%d %H:%M:%S}'
"""


# ---------------------------------------------------------------------------
# Partial ANN retrain (VERDICT r9 #5)
# ---------------------------------------------------------------------------

_DRIFT_ID = 1_000_000  # corpus id offset for the drifted copy
_DRIFT_QID = 2_000_000  # query id offset for drifted-mode queries


def _drift(col):
    """SQL-expressible directional drift: first two dims pinned to 1,
    the rest folded positive and scaled — every drifted vector lands
    in the positive orthant, far (in cosine) from the centroids the
    near-random base trained (measured staleness 0.04-0.12 across SFs
    vs exactly 0 for the base directory).  Spark F.transform is
    0-indexed; the DuckDB mirror uses its 1-based lambda index."""
    return F.transform(
        col.cast("array<double>"),
        lambda x, i: F.when(i < F.lit(2), F.lit(1.0)).otherwise(
            F.abs(x) * 50.0
        ),
    )


def _q_ann_partial_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compact(retrain_ann=True, only_drifted=) rewrites ONLY the
    drifted directory — the base directory is carried by reference and
    stays clustered under its ORIGINAL codebook (per-generation
    codebooks: ann_codebooks + ann_gens; knn probes each generation
    with its own centroids).  Correctness: with nprobe=C every cluster
    of every generation is probed, the candidate set is the whole
    corpus, and knn == brute-force cosine top-10 — the exactness
    invariant that fails if a generation is dropped, a codebook is
    misbound, or the cross-generation re-rank is wrong.  Closed-form
    flags pin the O(drifted) structure (base dir carried by reference,
    drifted dir rewritten, exactly two generations)."""
    import shutil
    import tempfile

    from dbt_lab_spark.llm.similarity import ivf_centroids
    from dbt_lab_spark.plans.snapshots import SnapshotTable
    from dbt_lab_spark.workload_beyond import _SEEDED_C

    cat = Catalog(sf_dir)
    emb = scan(spark, cat, "embeddings", ["vec_id", "embedding"])
    corpus = emb.filter(F.col("vec_id") >= 5)
    cents = ivf_centroids(corpus, num_centroids=_SEEDED_C, iters=0, dim=64)
    drifted = corpus.select(
        (F.col("vec_id") + _DRIFT_ID).alias("vec_id"),
        _drift(F.col("embedding")).alias("embedding"),
    )
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed(
        "vec_id", "query_id"
    ).unionByName(
        emb.filter(F.col("vec_id").between(5, 7)).select(
            (F.col("vec_id") + _DRIFT_QID).alias("query_id"),
            _drift(F.col("embedding")).alias("embedding"),
        )
    )
    root = tempfile.mkdtemp(prefix="snap_partial_")
    try:
        t = SnapshotTable(
            root,
            ann_col="embedding",
            ann_lists=_SEEDED_C,
            ann_files=4,
            ann_centroids=cents,
        )
        t.commit(corpus)
        t.append(drifted)
        base_dir = t._log()[-1]["files"][0]
        drift_dir = t._log()[-1]["files"][1]
        # an empty corpus has no manifests to judge drift from (and
        # nothing for knn to return) — skip the rewrite, matching the
        # empty oracle (the q_ann_retrain convention)
        partial_ok = True
        if t.read(spark).limit(1).count():
            v = t.compact(
                spark, retrain_ann=True, only_drifted=0.02,
                retrain_iters=0, n_files=4,
            )
            head = t._log()[-1]
            partial_ok = (
                v is not None
                and base_dir in head["files"]      # carried by reference
                and drift_dir not in head["files"]  # drifted rewritten
                and len(t._ann_gen_map(head)) == 2  # two live codebooks
            )
        out = t.knn(spark, queries, k=10, nprobe=_SEEDED_C).withColumn(
            "partial_ok", F.lit(partial_ok)
        )
        rows = out.collect()
        return local_df(spark, rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_SQL_ANN_PARTIAL_RETRAIN = f"""
WITH base AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings WHERE vec_id >= 5
), drift AS (
  SELECT id + {_DRIFT_ID} AS id,
         list_transform(e, (x, i) ->
           CASE WHEN i <= 2 THEN 1.0 ELSE abs(x) * 50.0 END) AS e
  FROM base
), c AS (
  SELECT id AS neighbor_id, e AS cv FROM base
  UNION ALL SELECT id, e FROM drift
), q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
  UNION ALL
  SELECT vec_id + {_DRIFT_QID},
         list_transform(CAST(embedding AS DOUBLE[]), (x, i) ->
           CASE WHEN i <= 2 THEN 1.0 ELSE abs(x) * 50.0 END)
  FROM embeddings WHERE vec_id BETWEEN 5 AND 7
), scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv) /
         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
  FROM c, q
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank,
       TRUE AS partial_ok
FROM ranked WHERE rank <= 10
"""


LAKE_QUERIES: list[QueryDef] = [
    QueryDef(
        "q_compaction", _q_compaction, _SQL_COMPACTION,
        "snapshot-log small-file compaction: bin-pack + checksum proof",
    ),
    QueryDef(
        "q_merge_cow", _q_merge_cow, _SQL_MERGE_COW,
        "copy-on-write MERGE INTO: 1-of-4-dir rewrite + insert proof",
    ),
    QueryDef(
        "q_change_feed", _q_change_feed, _SQL_CHANGE_FEED,
        "CDC feed from the snapshot log: append + merge delta pairs",
    ),
    QueryDef(
        "q_dedup_incremental", _q_dedup_incremental, _SQL_DEDUP_INCREMENTAL,
        "incremental dedup maintenance == one-shot (symmetric-diff proof)",
    ),
    QueryDef(
        "q_delete_where", _q_delete_where, _SQL_DELETE_WHERE,
        "copy-on-write row-level DELETE: 1-of-4-dir rewrite proof",
    ),
    QueryDef(
        "q_schema_evolution", _q_schema_evolution, _SQL_SCHEMA_EVOLUTION,
        "widen+rename in the snapshot log: metadata-only evolve + merge + travel",
    ),
    QueryDef(
        "q_constraint_gate", _q_constraint_gate, _SQL_CONSTRAINT_GATE,
        "CHECK constraint refuses a violating batch whole, clean batch commits",
    ),
    QueryDef(
        "q_delete_dv", _q_delete_dv, _SQL_DELETE_DV,
        "merge-on-read deletion vectors: point delete, zero rewrites, compact materializes",
    ),
    QueryDef(
        "q_zorder_compact", _q_zorder_compact, _SQL_ZORDER_COMPACT,
        "OPTIMIZE ZORDER on the snapshot log: both columns prune, contents byte-equal",
    ),
    QueryDef(
        "q_bloom_skip", _q_bloom_skip, _SQL_BLOOM_SKIP,
        "per-file Bloom point lookup: needle read prunes to O(matching files)",
    ),
    QueryDef(
        "q_merge_dv", _q_merge_dv, _SQL_MERGE_DV,
        "merge-on-read MERGE: DV tombstones + one delta dir, zero rewrites",
    ),
    QueryDef(
        "q_concurrent_appends", _q_concurrent_appends, _SQL_CONCURRENT_APPENDS,
        "racing appends serialize to the exact union (OCC commit protocol)",
    ),
    QueryDef(
        "q_time_travel_ts", _q_time_travel_ts, _SQL_TIME_TRAVEL_TS,
        "timestamp time travel: read(as_of=) boundary resolution",
    ),
    QueryDef(
        "q_dv_mass_delete", _q_dv_mass_delete, _SQL_DV_MASS_DELETE,
        "DV size policy: mass delete auto-materializes via scoped CoW",
    ),
    QueryDef(
        "q_snapshot_ann", _q_snapshot_ann, _sql_snapshot_ann(),
        "snapshot-maintained IVF ANN: probe-pruned knn == full-corpus seeded IVF",
    ),
    QueryDef(
        "q_log_checkpoint", _q_log_checkpoint, _SQL_LOG_CHECKPOINT,
        "segmented log: reads across the checkpoint boundary + rollback + vacuum truncation",
    ),
    QueryDef(
        "q_ann_retrain", _q_ann_retrain, _sql_ann_retrain(),
        "ANN retrain on drifted table == fresh seeded full-corpus IVF",
    ),
    QueryDef(
        "q_constraint_race", _q_constraint_race, _SQL_CONSTRAINT_RACE,
        "OCC rebase re-validates a concurrently-added CHECK constraint",
    ),
    QueryDef(
        "q_ts_prune", _q_ts_prune, _SQL_TS_PRUNE,
        "timestamp stat_cols zone maps prune 1 of 3 files (closed-form)",
    ),
    QueryDef(
        "q_ann_partial_retrain", _q_ann_partial_retrain,
        _SQL_ANN_PARTIAL_RETRAIN,
        "partial retrain: per-generation codebooks, knn(nprobe=C) == brute force",
    ),
]
