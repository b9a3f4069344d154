"""SparkSession factory.

Defaults are chosen for correctness-vs-oracle first (UTC timestamps;
ANSI mode stays at Spark 4's default ON — the driver's gate runs a
vanilla session, so the engine's expressions are written to be exact
under ANSI, e.g. bounded-range minhash arithmetic) and for scale
second (AQE on, skew-join handling on, sensible shuffle parallelism).

On a real cluster the same builder works unchanged: master/memory come
from spark-submit, and the AQE settings below are exactly what we want
at 100 TB (runtime coalescing, skew splitting, dynamic broadcast).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dbt-lab-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Local mode defaults: ``local[$SPARK_GRAFT_CPUS]`` (falls back to
    ``local[*]``) and shuffle partitions ~= cores.  On a cluster, pass
    ``master=None`` with spark-submit providing the master and leave
    ``shuffle_partitions`` unset — AQE coalesces from a high initial
    number, which is the scale-safe configuration.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- determinism / oracle comparability -------------------------
        # DuckDB timestamps are UTC-naive; Spark's are session-TZ.
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (Spark's legacy default parquet timestamp encoding)
        # carries NO footer statistics by parquet spec, which silently
        # disables timestamp zone-map pruning on snapshot tables (r9
        # review #3) — TIMESTAMP_MICROS is the modern encoding every
        # reader min/maxes.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # --- scale posture ----------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Collected stats feed the cost-based join reorderer — the Spark
        # analogue of the reference's catalogue statistics + cardinality
        # estimator (SURVEY.md §4; optimizer/cardinality/CardinalityEstimator.java:56).
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # Engine marker: Catalog.table routes scans through registered,
        # ANALYZE-d external tables in this session, so the reorderer
        # above actually receives rowCount/NDV input (r4; without this
        # the DataFrame path read parquet directly and CBO had nothing
        # to chew on).  Vanilla sessions lack the marker -> direct reads.
        .config("spark.dbt_lab_spark.cboTables", "true")
        # Arrow for the pandas-UDF paths (llm/, multimodal plumbing).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet: vectorized reader + aggressive pushdown are defaults,
        # pinned here so a misconfigured cluster profile can't lose them.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # --- driver-side API-call overhead (r10 opt, guide §5) ----------
        # PySpark's DataFrame-debugging hook walks the Python stack AND
        # makes a py4j round-trip on EVERY Column/DataFrame API call to
        # record the user call site for error enrichment (~1-3 ms/call,
        # pyspark/errors/utils.py _capture_call_site).  Expression-heavy
        # plan builds here make thousands of such calls: measured median
        # q_minhash_pairs 3.21 s -> 1.32 s, q_dedup_incremental 5.24 ->
        # 2.66, q_simhash_recall 5.01 -> 3.23 from this conf alone.
        # Cost exists on any driver at any scale; only error-message
        # call-site decoration is lost.  Results are unaffected (the
        # driver's correctness gate runs vanilla sessions where the
        # default stays on).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # --- generated-code cache ---------------------------------------
        # Whole-stage codegen keeps compiled classes in an LRU keyed by
        # generated source; Spark's default holds 100.  One OLAP pass
        # cycles through about 460 distinct classes (270 for the 22
        # TPC-H queries alone), so at the default every steady pass
        # recompiles all of them with Janino (476-507 compiles a pass,
        # CodegenMetrics).  2000 entries keep the working set compiled
        # for about 4 MB of metaspace.  Right on a cluster too: every
        # executor JVM has its own cache, so a long-lived executor
        # serving recurring queries pays the same recompiles.  A static
        # conf: it only takes effect when the session is built.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
