"""Declared query workload: every operator from SURVEY.md §2 exercised as
a (Spark builder, DuckDB oracle SQL) pair.

This module is the engine's correctness surface.  Each entry:
  - `build(spark, sf_dir)` constructs the query through the operator
    layer (dbt_lab_spark.operators) and returns a DataFrame;
  - `oracle` is ANSI SQL DuckDB runs on the same parquet views; the
    driver hash-compares values order-insensitively.

Determinism contract (SURVEY.md §7 risk register):
  - money/double aggregates go through DECIMAL(18,2) (exact, order-
    independent) and are cast back to double only at the output —
    every input double column is 2-decimal quantized, so the cast is
    lossless and both engines produce bit-identical results;
  - every computed column is aliased identically on both sides;
  - ranking queries order by a unique tie-breaker key.

Reference query shapes are cited per entry (file:line into
/root/reference, see SURVEY.md §5 golden plan tests).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_lab_spark.catalog import Catalog
from dbt_lab_spark.expr import between, compare, money
from dbt_lab_spark.operators import (
    AggSpec,
    broadcast_join,
    cross_join,
    grand_aggregate,
    group_by,
    join,
    merge_join_hint,
    scan,
    sort,
    theta_join,
    top_k,
    top_k_per_group,
    union_distinct,
)


@dataclass(frozen=True)
class QueryDef:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible, rows-only check
    doc: str = ""


def _dsum(column: str, alias: str) -> F.Column:
    """Deterministic SUM of a 2-decimal double: exact decimal internally,
    double at the boundary."""
    return F.sum(money(column)).cast("double").alias(alias)


def _davg(column: str, alias: str) -> F.Column:
    """Deterministic AVG: exact decimal sum / count, divided in double."""
    return (F.sum(money(column)).cast("double") / F.count(column)).alias(alias)


# SQL fragments mirroring _dsum/_davg exactly.
def _sql_dsum(column: str, alias: str) -> str:
    return f"CAST(SUM(CAST({column} AS DECIMAL(18,2))) AS DOUBLE) AS {alias}"


def _sql_davg(column: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({column} AS DECIMAL(18,2))) AS DOUBLE) / COUNT({column}) AS {alias}"
    )


# ---------------------------------------------------------------------------
# Core relational queries (reference golden-plan shapes, SURVEY.md §5)
# ---------------------------------------------------------------------------


def _q_group_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: customers grouped by nation — COUNT/SUM/AVG/MIN/MAX of
    acctbal, join nation name, order by name.  Reference golden test
    TestPhysicalOperatorsIIIStudents.java:231-299."""
    cat = Catalog(sf_dir)
    customer = scan(spark, cat, "customer", ["c_custkey", "c_nationkey", "c_acctbal"])
    nation = scan(spark, cat, "nation", ["n_nationkey", "n_name"])
    agg = customer.groupBy("c_nationkey").agg(
        F.count("c_custkey").alias("num_customers"),
        _dsum("c_acctbal", "sum_acctbal"),
        _davg("c_acctbal", "avg_acctbal"),
        F.min("c_acctbal").alias("min_acctbal"),
        F.max("c_acctbal").alias("max_acctbal"),
    )
    # nation is tiny: broadcast replaces the reference's index-NLJ.
    out = broadcast_join(agg, nation, on=F.col("c_nationkey") == F.col("n_nationkey"))
    return sort(
        out.select(
            "n_name", "num_customers", "sum_acctbal", "avg_acctbal", "min_acctbal", "max_acctbal"
        ),
        ["n_name"],
    )


_SQL_GROUP_CUSTOMERS = f"""
SELECT n_name,
       COUNT(c_custkey) AS num_customers,
       {_sql_dsum("c_acctbal", "sum_acctbal")},
       {_sql_davg("c_acctbal", "avg_acctbal")},
       MIN(c_acctbal) AS min_acctbal,
       MAX(c_acctbal) AS max_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


def _q_scan_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive range/equality filter + projection on lineitem
    (shape of TestPhysicalOperatorsIStudents.testTableScan:181-320).
    The discount predicate is on a non-projected column — pushdown +
    pruning must both happen."""
    cat = Catalog(sf_dir)
    return scan(
        spark,
        cat,
        "lineitem",
        columns=["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_shipdate"],
        predicates=[
            between("l_quantity", 10.0, 20.0),
            compare("l_shipdate", ">=", F.lit("1999-01-01").cast("timestamp")),
            compare("l_discount", "<=", 0.05),
            compare("l_returnflag", "=", "A"),
        ],
    )


_SQL_SCAN_FILTER = """
SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, l_shipdate
FROM lineitem
WHERE l_quantity BETWEEN 10.0 AND 20.0
  AND l_shipdate >= TIMESTAMP '1999-01-01'
  AND l_discount <= 0.05
  AND l_returnflag = 'A'
"""


def _q_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grand-total COUNT (TestPhysicalOperatorsIIIStudents.java:203)."""
    cat = Catalog(sf_dir)
    return grand_aggregate(
        scan(spark, cat, "lineitem", ["l_orderkey"]), [AggSpec("count", "l_orderkey", "cnt")]
    )


_SQL_COUNT = "SELECT COUNT(l_orderkey) AS cnt FROM lineitem"


def _q_grand_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grand-total COUNT/SUM/AVG/MIN/MAX with empty group columns
    (OperatorFactory.java:393-406 empty-group case)."""
    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_quantity"])
    return li.agg(
        F.count("l_quantity").alias("cnt"),
        _dsum("l_quantity", "sum_qty"),
        _davg("l_quantity", "avg_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


_SQL_GRAND_AGG = f"""
SELECT COUNT(l_quantity) AS cnt,
       {_sql_dsum("l_quantity", "sum_qty")},
       {_sql_davg("l_quantity", "avg_qty")},
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty
FROM lineitem
"""


def _q_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-table join tree with filters on both ends: region(σ) ⋈ nation
    ⋈ supplier ⋈ lineitem ⋈ part(σ) — the reference's multiway golden
    test (TestPhysicalOperatorsIIStudents.java:488-560) with lineitem as
    the fact table (driver data has no partsupp).  All dimensions
    broadcast; only the fact table stays partitioned — zero shuffles on
    the build side at any scale."""
    cat = Catalog(sf_dir)
    region = scan(spark, cat, "region", predicates=[compare("r_name", "=", "ASIA")])
    nation = scan(spark, cat, "nation")
    supplier = scan(spark, cat, "supplier")
    part = scan(spark, cat, "part", predicates=[compare("p_size", "<", 20)])
    lineitem = scan(
        spark, cat, "lineitem", ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity"]
    )
    dims = join(
        join(supplier, nation, on=F.col("s_nationkey") == F.col("n_nationkey")),
        region,
        on=F.col("n_regionkey") == F.col("r_regionkey"),
    )
    out = broadcast_join(lineitem, dims, on=F.col("l_suppkey") == F.col("s_suppkey"))
    out = broadcast_join(out, part, on=F.col("l_partkey") == F.col("p_partkey"))
    return out.select(
        "l_orderkey", "l_linenumber", "n_name", "s_name", "p_name", "l_quantity"
    )


_SQL_MULTIWAY = """
SELECT l_orderkey, l_linenumber, n_name, s_name, p_name, l_quantity
FROM region, nation, supplier, lineitem, part
WHERE r_name = 'ASIA'
  AND n_regionkey = r_regionkey
  AND s_nationkey = n_nationkey
  AND l_suppkey = s_suppkey
  AND l_partkey = p_partkey
  AND p_size < 20
"""


def _q_merge_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large equi-join orders ⋈ lineitem (reference MergeJoin,
    TestPhysicalOperatorsIIIStudents.java:405) — forced sort-merge, the
    bounded-memory strategy for fact-fact joins at scale."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_orderkey", "o_orderdate", "o_totalprice"])
    lineitem = scan(spark, cat, "lineitem", ["l_orderkey", "l_linenumber", "l_quantity"])
    out = merge_join_hint(
        orders.withColumnRenamed("o_orderkey", "orderkey"),
        lineitem.withColumnRenamed("l_orderkey", "orderkey"),
        on="orderkey",
    )
    return out.select("orderkey", "o_orderdate", "o_totalprice", "l_linenumber", "l_quantity")


_SQL_MERGE_JOIN = """
SELECT o_orderkey AS orderkey, o_orderdate, o_totalprice, l_linenumber, l_quantity
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
"""


def _q_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi NLJ: nation ⋈ region ON n_regionkey < r_regionkey
    (theta-capable NestedLoopJoin, OperatorFactory.java:260-270)."""
    cat = Catalog(sf_dir)
    nation = scan(spark, cat, "nation", ["n_name", "n_regionkey"])
    region = scan(spark, cat, "region", ["r_name", "r_regionkey"])
    out = theta_join(nation, region, F.col("n_regionkey") < F.col("r_regionkey"))
    return out.select("n_name", "r_name")


_SQL_THETA_JOIN = """
SELECT n_name, r_name FROM nation JOIN region ON n_regionkey < r_regionkey
"""


def _q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (NLJ with null predicate,
    OperatorFactory.java:223-225)."""
    cat = Catalog(sf_dir)
    out = cross_join(
        scan(spark, cat, "region", ["r_name"]), scan(spark, cat, "nation", ["n_name"])
    )
    return out.select("r_name", "n_name")


_SQL_CROSS_JOIN = "SELECT r_name, n_name FROM region CROSS JOIN nation"


def _q_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING on an alias column (parser/HavingClause.java;
    ALIASCOLUMN_LITERAL predicate form, parser/Predicate.java:27-52)."""
    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_partkey", "l_quantity"])
    return group_by(
        li,
        ["l_partkey"],
        [AggSpec("count", "l_quantity", "n_items"), AggSpec("max", "l_quantity", "max_qty")],
        having=F.col("n_items") > 40,
    )


_SQL_HAVING = """
SELECT l_partkey, COUNT(l_quantity) AS n_items, MAX(l_quantity) AS max_qty
FROM lineitem GROUP BY l_partkey HAVING COUNT(l_quantity) > 40
"""


def _q_between_onesided(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BETWEEN with a one-sided open range — the reference synthesizes
    the open side from type min/max (OperatorFactory.java:104-106)."""
    cat = Catalog(sf_dir)
    return scan(
        spark,
        cat,
        "orders",
        ["o_orderkey", "o_totalprice"],
        predicates=[between("o_totalprice", lower=450000.0, upper=None, lower_inclusive=False)],
    )


_SQL_BETWEEN_ONESIDED = """
SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 450000.0
"""


def _q_sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column asc/desc sort + LIMIT (external sort shape,
    TestPhysicalOperatorsIIIStudents.java:166; LIMIT is the free
    upgrade).  Tie-broken by unique keys so top-k is deterministic;
    plans as TakeOrderedAndProject (distributed heap top-k)."""
    cat = Catalog(sf_dir)
    li = scan(
        spark, cat, "lineitem", ["l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"]
    )
    return top_k(
        li,
        ["l_extendedprice", "l_quantity", "l_orderkey", "l_linenumber"],
        100,
        ascending=[False, True, True, True],
    )


_SQL_SORT_TOPK = """
SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
FROM lineitem
ORDER BY l_extendedprice DESC, l_quantity ASC, l_orderkey ASC, l_linenumber ASC
LIMIT 100
"""


def _q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregates (upgrade — reference has none, SURVEY.md §2.4)."""
    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_returnflag", "l_suppkey", "l_quantity"])
    return group_by(
        li,
        ["l_returnflag"],
        [
            AggSpec("count", "l_suppkey", "n_supp", distinct=True),
            AggSpec("sum", "l_quantity", "sum_distinct_qty", distinct=True),
        ],
    )


_SQL_DISTINCT_AGG = """
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS n_supp,
       SUM(DISTINCT l_quantity) AS sum_distinct_qty
FROM lineitem GROUP BY l_returnflag
"""


def _q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers that have at least one open order."""
    cat = Catalog(sf_dir)
    customer = scan(spark, cat, "customer", ["c_custkey", "c_name", "c_nationkey"])
    orders = scan(
        spark, cat, "orders", ["o_custkey"], predicates=[compare("o_orderstatus", "=", "O")]
    )
    return join(
        customer, orders, on=F.col("c_custkey") == F.col("o_custkey"), how="left_semi"
    )


_SQL_SEMI_JOIN = """
SELECT c_custkey, c_name, c_nationkey FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
"""


def _q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders at all."""
    cat = Catalog(sf_dir)
    customer = scan(spark, cat, "customer", ["c_custkey", "c_name"])
    orders = scan(spark, cat, "orders", ["o_custkey"])
    return join(customer, orders, on=F.col("c_custkey") == F.col("o_custkey"), how="left_anti")


_SQL_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def _q_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join + aggregate: order count per customer incl. zero."""
    cat = Catalog(sf_dir)
    customer = scan(spark, cat, "customer", ["c_custkey", "c_name"])
    orders = scan(spark, cat, "orders", ["o_custkey", "o_orderkey"])
    out = join(
        customer, orders, on=F.col("c_custkey") == F.col("o_custkey"), how="left"
    )
    return group_by(
        out, ["c_custkey", "c_name"], [AggSpec("count", "o_orderkey", "n_orders")]
    )


_SQL_OUTER_JOIN = """
SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
"""


def _q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (set semantics) — §2.7 upgrade."""
    cat = Catalog(sf_dir)
    c = scan(spark, cat, "customer", ["c_nationkey"]).withColumnRenamed(
        "c_nationkey", "nationkey"
    )
    s = scan(spark, cat, "supplier", ["s_nationkey"]).withColumnRenamed(
        "s_nationkey", "nationkey"
    )
    return union_distinct(c, s)


_SQL_UNION = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""


def _q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT — nations with customers but no suppliers."""
    from dbt_lab_spark.operators import except_distinct

    cat = Catalog(sf_dir)
    c = scan(spark, cat, "customer", ["c_nationkey"]).withColumnRenamed(
        "c_nationkey", "nationkey"
    )
    s = scan(spark, cat, "supplier", ["s_nationkey"]).withColumnRenamed(
        "s_nationkey", "nationkey"
    )
    return except_distinct(c, s)


_SQL_EXCEPT = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier
"""


def _q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT — nations having both customers and suppliers."""
    from dbt_lab_spark.operators import intersect

    cat = Catalog(sf_dir)
    c = scan(spark, cat, "customer", ["c_nationkey"]).withColumnRenamed(
        "c_nationkey", "nationkey"
    )
    s = scan(spark, cat, "supplier", ["s_nationkey"]).withColumnRenamed(
        "s_nationkey", "nationkey"
    )
    return intersect(c, s)


_SQL_INTERSECT = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
"""


def _q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by totalprice — window functions
    (§2.5 upgrade), tie-broken by o_orderkey."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_custkey", "o_orderkey", "o_totalprice"])
    return top_k_per_group(
        orders, ["o_custkey"], ["o_totalprice", "o_orderkey"], 3, ascending=[False, True]
    )


_SQL_WINDOW_RANK = """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3
"""


def _q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery filter: orders above the global average price.
    The reference plans FROM-subqueries recursively
    (Optimizer.java:163-196); the scalar form is the DataFrame idiom
    broadcast(grand_agg) + filter.  Threshold computed decimal-exact so
    boundary rows can't flip between engines."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_orderkey", "o_totalprice"])
    threshold = grand_aggregate(
        orders.select(money("o_totalprice").alias("p")), [AggSpec("avg", "p", "avg_price")]
    )
    out = orders.crossJoin(F.broadcast(threshold)).filter(
        money("o_totalprice") > F.col("avg_price")
    )
    return out.select("o_orderkey", "o_totalprice")


_SQL_SCALAR_SUBQUERY = """
SELECT o_orderkey, o_totalprice FROM orders
WHERE CAST(o_totalprice AS DECIMAL(18,2)) >
      (SELECT AVG(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders)
"""


def _q_arith_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic expressions + - * / in the select list and inside
    aggregates (parser/Expression.java:13-34): revenue per returnflag.
    Products computed in exact decimal; output cast to double."""
    cat = Catalog(sf_dir)
    li = scan(
        spark, cat, "lineitem", ["l_returnflag", "l_extendedprice", "l_discount", "l_tax"]
    )
    disc_price = money("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - money("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(18,2)") + money("l_tax"))
    return li.groupBy("l_returnflag").agg(
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
    )


_SQL_ARITH_EXPR = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) *
                (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE)
         AS sum_charge
FROM lineitem GROUP BY l_returnflag
"""


def _q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary — the canonical OLAP aggregate, all five
    reference aggregate functions plus expression aggregates, decimal-
    exact."""
    cat = Catalog(sf_dir)
    li = scan(
        spark,
        cat,
        "lineitem",
        ["l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"],
        predicates=[compare("l_shipdate", "<=", F.lit("2001-09-01").cast("timestamp"))],
    )
    disc_price = money("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - money("l_discount"))
    out = li.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum("l_quantity", "sum_qty"),
        _dsum("l_extendedprice", "sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        _davg("l_quantity", "avg_qty"),
        _davg("l_extendedprice", "avg_price"),
        _davg("l_discount", "avg_disc"),
        F.count("*").alias("count_order"),
    )
    return sort(out, ["l_returnflag", "l_linestatus"])


_SQL_TPCH_Q1 = f"""
SELECT l_returnflag, l_linestatus,
       {_sql_dsum("l_quantity", "sum_qty")},
       {_sql_dsum("l_extendedprice", "sum_base_price")},
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS sum_disc_price,
       {_sql_davg("l_quantity", "avg_qty")},
       {_sql_davg("l_extendedprice", "avg_price")},
       {_sql_davg("l_discount", "avg_disc")},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def _q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) — grouping-sets upgrade
    (reference has none, SURVEY.md §2.4 absences).  GROUPING() flags
    disambiguate rolled-up NULL keys and the decimal sum goes through
    the _dsum double-cast canonicalization like every other money
    aggregate (r1 gate: raw decimal sums hash-mismatched vs DuckDB
    despite identical values)."""
    from dbt_lab_spark.operators import rollup

    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_returnflag", "l_linestatus", "l_quantity"])
    out = rollup(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            AggSpec("count", "l_quantity", "n_items"),
            AggSpec("sum", money("l_quantity"), "sum_qty"),
        ],
        grouping_flags=True,
    )
    return out.withColumn("sum_qty", F.col("sum_qty").cast("double"))


_SQL_ROLLUP = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_l_returnflag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_l_linestatus,
       COUNT(l_quantity) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def _q_sql_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point end-to-end (QueryProcessor.processQuery
    analogue, dbt_lab_spark.sql.SqlProcessor): a reference-grammar-shaped
    SELECT string — SELECT/FROM/WHERE-conjunction/GROUP BY/HAVING/
    ORDER BY — run verbatim through spark.sql over catalog views.  The
    oracle runs the IDENTICAL string, proving the dialect stays ANSI."""
    from dbt_lab_spark.sql import SqlProcessor

    proc = SqlProcessor(spark, Catalog(sf_dir))
    return proc.process_query(_SQL_SQL_ENTRY)


_SQL_SQL_ENTRY = """
SELECT o_orderpriority, COUNT(o_orderkey) AS n_orders, MAX(o_totalprice) AS max_price
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice > 50000.0
GROUP BY o_orderpriority
HAVING COUNT(o_orderkey) > 10
ORDER BY o_orderpriority
"""


# -- TPC-H-shaped headliners (adapted to the driver schema: no partsupp,
# -- no o_shippriority/c_address columns) --------------------------------


def _q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping-priority revenue): σ(customer) ⋈ orders
    ⋈ lineitem, expression aggregate, top-10 by revenue.  Tie-broken by
    o_orderkey for cross-engine determinism."""
    cat = Catalog(sf_dir)
    customer = scan(
        spark, cat, "customer", ["c_custkey"], predicates=[compare("c_mktsegment", "=", "BUILDING")]
    )
    orders = scan(
        spark,
        cat,
        "orders",
        ["o_orderkey", "o_custkey", "o_orderdate"],
        predicates=[compare("o_orderdate", "<", F.lit("1998-06-01").cast("timestamp"))],
    )
    lineitem = scan(
        spark,
        cat,
        "lineitem",
        ["l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"],
        predicates=[compare("l_shipdate", ">", F.lit("1998-06-01").cast("timestamp"))],
    )
    revenue = money("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - money("l_discount"))
    joined = broadcast_join(
        orders, customer, on=F.col("o_custkey") == F.col("c_custkey")
    ).join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
    agg = joined.groupBy("o_orderkey", "o_orderdate").agg(
        F.sum(revenue).cast("double").alias("revenue")
    )
    return top_k(agg, ["revenue", "o_orderkey"], 10, ascending=[False, True])


_SQL_TPCH_Q3 = """
SELECT o_orderkey, o_orderdate,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-06-01' AND l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey LIMIT 10
"""


def _q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier volume): 6-table join, revenue per
    nation where customer and supplier share the nation.  Dimensions
    broadcast; the orders⋈lineitem fact join shuffles on the key."""
    cat = Catalog(sf_dir)
    region = scan(spark, cat, "region", predicates=[compare("r_name", "=", "ASIA")])
    nation = scan(spark, cat, "nation")
    supplier = scan(spark, cat, "supplier", ["s_suppkey", "s_nationkey"])
    customer = scan(spark, cat, "customer", ["c_custkey", "c_nationkey"])
    orders = scan(
        spark,
        cat,
        "orders",
        ["o_orderkey", "o_custkey", "o_orderdate"],
        predicates=[
            compare("o_orderdate", ">=", F.lit("1996-01-01").cast("timestamp")),
            compare("o_orderdate", "<", F.lit("1997-01-01").cast("timestamp")),
        ],
    )
    lineitem = scan(
        spark, cat, "lineitem", ["l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"]
    )
    revenue = money("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - money("l_discount"))
    fact = orders.join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
    fact = broadcast_join(fact, customer, on=F.col("o_custkey") == F.col("c_custkey"))
    fact = broadcast_join(
        fact,
        supplier,
        on=(F.col("l_suppkey") == F.col("s_suppkey"))
        & (F.col("c_nationkey") == F.col("s_nationkey")),
    )
    fact = broadcast_join(fact, nation, on=F.col("s_nationkey") == F.col("n_nationkey"))
    fact = broadcast_join(fact, region, on=F.col("n_regionkey") == F.col("r_regionkey"))
    agg = fact.groupBy("n_name").agg(F.sum(revenue).cast("double").alias("revenue"))
    return sort(agg, ["revenue", "n_name"], [False, True])


_SQL_TPCH_Q5 = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name ORDER BY revenue DESC, n_name
"""


def _q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue): pure scan-filter-aggregate — every
    predicate reaches the parquet scan, one partial+final agg, no
    shuffle of data rows at any scale."""
    cat = Catalog(sf_dir)
    li = scan(
        spark,
        cat,
        "lineitem",
        ["l_extendedprice", "l_discount"],
        predicates=[
            compare("l_shipdate", ">=", F.lit("1997-01-01").cast("timestamp")),
            compare("l_shipdate", "<", F.lit("1998-01-01").cast("timestamp")),
            between("l_discount", 0.05, 0.07),
            compare("l_quantity", "<", 24.0),
        ],
    )
    return li.agg(
        F.sum(money("l_extendedprice") * money("l_discount")).cast("double").alias("revenue")
    )


_SQL_TPCH_Q6 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
               CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def _q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): revenue lost to
    returns per customer in a quarter, top-20.  Tie-broken by c_custkey."""
    cat = Catalog(sf_dir)
    customer = scan(spark, cat, "customer", ["c_custkey", "c_name", "c_nationkey"])
    nation = scan(spark, cat, "nation", ["n_nationkey", "n_name"])
    orders = scan(
        spark,
        cat,
        "orders",
        ["o_orderkey", "o_custkey"],
        predicates=[
            compare("o_orderdate", ">=", F.lit("1999-01-01").cast("timestamp")),
            compare("o_orderdate", "<", F.lit("1999-04-01").cast("timestamp")),
        ],
    )
    lineitem = scan(
        spark,
        cat,
        "lineitem",
        ["l_orderkey", "l_extendedprice", "l_discount"],
        predicates=[compare("l_returnflag", "=", "R")],
    )
    revenue = money("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - money("l_discount"))
    fact = orders.join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
    fact = broadcast_join(fact, customer, on=F.col("o_custkey") == F.col("c_custkey"))
    fact = broadcast_join(fact, nation, on=F.col("c_nationkey") == F.col("n_nationkey"))
    agg = fact.groupBy("c_custkey", "c_name", "n_name").agg(
        F.sum(revenue).cast("double").alias("revenue")
    )
    return top_k(agg, ["revenue", "c_custkey"], 20, ascending=[False, True])


_SQL_TPCH_Q10 = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1999-01-01' AND o_orderdate < TIMESTAMP '1999-04-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


def _q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): orders in a quarter
    with at least one late-shipped lineitem (shipped >30 days after the
    order date; the test schema has no commit/receipt dates).  The
    EXISTS decorrelates to a left-semi hash join on l_orderkey with the
    date comparison as a residual condition — one shuffle, no
    per-order probe."""
    cat = Catalog(sf_dir)
    orders = scan(
        spark,
        cat,
        "orders",
        ["o_orderkey", "o_orderdate", "o_orderpriority"],
        predicates=[
            compare("o_orderdate", ">=", F.lit("1997-01-01").cast("timestamp")),
            compare("o_orderdate", "<", F.lit("1997-04-01").cast("timestamp")),
        ],
    )
    li = scan(spark, cat, "lineitem", ["l_orderkey", "l_shipdate"])
    late = orders.join(
        li,
        on=(orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        how="left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


_SQL_TPCH_Q4 = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
"""


def _q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority counts, keyed on
    l_linestatus — the schema has no shipmode): conditional CASE-WHEN
    aggregation over a large-large join; the year filter reaches the
    lineitem scan."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_orderkey", "o_orderpriority"])
    li = scan(
        spark,
        cat,
        "lineitem",
        ["l_orderkey", "l_linestatus"],
        predicates=[
            compare("l_shipdate", ">=", F.lit("1997-01-01").cast("timestamp")),
            compare("l_shipdate", "<", F.lit("1998-01-01").cast("timestamp")),
        ],
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


_SQL_TPCH_Q12 = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)
            AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
"""


def _q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): percentage of one month's revenue
    from PROMO parts.  part broadcasts; sums stay DECIMAL until the
    final double division so the ratio is bit-identical across
    engines."""
    cat = Catalog(sf_dir)
    part = scan(spark, cat, "part", ["p_partkey", "p_type"])
    li = scan(
        spark,
        cat,
        "lineitem",
        ["l_partkey", "l_extendedprice", "l_discount"],
        predicates=[
            compare("l_shipdate", ">=", F.lit("1997-09-01").cast("timestamp")),
            compare("l_shipdate", "<", F.lit("1997-10-01").cast("timestamp")),
        ],
    )
    rev = money("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - money("l_discount"))
    joined = broadcast_join(li, part, li.l_partkey == part.p_partkey)
    zero = F.lit(0).cast("decimal(38,4)")  # rev's type under Spark's decimal rules
    agg = joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).alias("__promo"),
        F.sum(rev).alias("__total"),
    )
    return agg.select(
        (F.lit(100.0) * F.col("__promo").cast("double") / F.col("__total").cast("double")).alias(
            "promo_revenue"
        )
    )


_SQL_TPCH_Q14 = """
SELECT CAST(100.0 AS DOUBLE)
       * CAST(SUM(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice AS DECIMAL(18,2))
                            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'
"""


def _q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): lineitems of one
    brand's ECONOMY parts whose quantity is below 20% of that part's
    average.  The correlated AVG decorrelates to a per-part window
    average after a broadcast join of the filtered part list — one
    shuffle on l_partkey.  l_quantity is integral, so the average is
    an exact double and the < comparison is order-independent."""
    from pyspark.sql.window import Window

    cat = Catalog(sf_dir)
    part = scan(
        spark,
        cat,
        "part",
        ["p_partkey"],
        predicates=[
            compare("p_brand", "=", F.lit("Brand#2")),
            compare("p_type", "=", F.lit("ECONOMY")),
        ],
    )
    li = scan(spark, cat, "lineitem", ["l_partkey", "l_quantity", "l_extendedprice"])
    joined = broadcast_join(li, part, li.l_partkey == part.p_partkey)
    per_part = Window.partitionBy("l_partkey")
    small = joined.withColumn("__avg_qty", F.avg("l_quantity").over(per_part)).filter(
        F.col("l_quantity") < 0.2 * F.col("__avg_qty")
    )
    return small.agg(
        (F.sum(money("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly")
    )


_SQL_TPCH_Q17 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#2' AND p.p_type = 'ECONOMY'
  AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                      FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


def _q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue): disjunction of three
    brand/size/quantity conjunct groups over lineitem ⋈ part.  The OR
    stays a single residual predicate on one broadcast hash join —
    Catalyst pushes the per-side conjuncts it can derive; no plan
    split into three unions."""
    cat = Catalog(sf_dir)
    part = scan(spark, cat, "part", ["p_partkey", "p_brand", "p_size"])
    li = scan(spark, cat, "lineitem", ["l_partkey", "l_quantity", "l_extendedprice", "l_discount"])
    joined = broadcast_join(li, part, li.l_partkey == part.p_partkey)
    branch = lambda brand, s_lo, s_hi, q_lo, q_hi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & F.col("p_size").between(s_lo, s_hi)
        & F.col("l_quantity").between(q_lo, q_hi)
    )
    matched = joined.filter(
        branch("Brand#1", 1, 10, 1, 20)
        | branch("Brand#2", 5, 20, 10, 30)
        | branch("Brand#3", 10, 40, 20, 40)
    )
    rev = money("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - money("l_discount"))
    return matched.agg(F.sum(rev).cast("double").alias("revenue"))


_SQL_TPCH_Q19 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40 AND l_quantity BETWEEN 20 AND 40)
"""


def _q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts by status × priority, priorities as columns.
    The explicit value list keeps the schema static (no distinct-values
    pre-job).  Empty cells coalesce to 0 to match the CASE-WHEN
    oracle."""
    from dbt_lab_spark.operators import pivot

    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_orderstatus", "o_orderpriority"])
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    wide = pivot(orders, ["o_orderstatus"], "o_orderpriority", prios, F.count(F.lit(1)))
    aliases = ["n_urgent", "n_high", "n_medium", "n_notspec", "n_low"]
    return wide.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(a) for p, a in zip(prios, aliases)],
    )


_SQL_PIVOT = """
SELECT o_orderstatus,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
       CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
       CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_notspec,
       CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n_low
FROM orders GROUP BY o_orderstatus
"""


def _q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt: part metrics wide→long — narrow 1→N expansion,
    no shuffle."""
    from dbt_lab_spark.operators import unpivot

    cat = Catalog(sf_dir)
    part = scan(spark, cat, "part", ["p_partkey", "p_size", "p_retailprice"]).withColumn(
        "p_size", F.col("p_size").cast("double")
    )
    return unpivot(part, ["p_partkey"], ["p_size", "p_retailprice"])


_SQL_UNPIVOT = """
SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
"""


def _q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates beyond the reference's five (SURVEY.md
    §2.4): correlation, covariance, stddev/variance — all single-pass
    mergeable co-moment aggregates (partial+final, no extra shuffle)."""
    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_quantity", "l_extendedprice", "l_discount"])
    return li.agg(
        F.corr("l_quantity", "l_extendedprice").alias("corr_qty_price"),
        F.covar_samp("l_quantity", "l_extendedprice").alias("covar_qty_price"),
        F.stddev_samp("l_extendedprice").alias("stddev_price"),
        F.var_samp("l_discount").alias("var_discount"),
    )


_SQL_STATS_AGG = """
SELECT corr(l_quantity, l_extendedprice) AS corr_qty_price,
       covar_samp(l_quantity, l_extendedprice) AS covar_qty_price,
       stddev_samp(l_extendedprice) AS stddev_price,
       var_samp(l_discount) AS var_discount
FROM lineitem
"""


def _q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals: 20 fixed bins over a
    literal [0, 500000) range.  Bucketing is a narrow projected
    expression; one partial+final count — the scan-once histogram
    shape.  Identical IEEE double arithmetic on both engines keeps bin
    edges exact."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_totalprice"])
    width = 500_000.0 / 20
    bucket = F.least(F.floor(F.col("o_totalprice") / F.lit(width)), F.lit(19)).cast("int")
    return (
        orders.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_orders"))
    )


_SQL_HISTOGRAM = """
SELECT CAST(LEAST(FLOOR(o_totalprice / 25000.0), 19) AS INTEGER) AS bucket,
       COUNT(*) AS n_orders
FROM orders GROUP BY 1
"""


def _q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with GROUPING() indicators — the general
    form behind rollup/cube (one Expand + one aggregate, no
    multi-pass union of group-bys)."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_orderstatus", "o_orderpriority"])
    return orders.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count("*").alias("n_orders"),
    )


_SQL_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
       COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def _q_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartiles of customers by balance (tie-broken by custkey
    so bucket assignment is engine-independent), aggregated per
    (nation, quartile).  A global NTILE needs a total order (single
    reducer for the window) — fine for dimension-sized inputs like
    customer; for a 100 TB fact, bucket by approx-quantile boundaries
    (percentile_approx) instead and skip the global sort."""
    from pyspark.sql.window import Window

    cat = Catalog(sf_dir)
    cust = scan(spark, cat, "customer", ["c_custkey", "c_nationkey", "c_acctbal"])
    w = Window.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        cust.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("c_nationkey", "quartile")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(money("c_acctbal")).cast("double").alias("sum_acctbal"),
        )
    )


_SQL_NTILE = """
WITH q AS (
  SELECT c_nationkey, c_acctbal,
         NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey ASC) AS quartile
  FROM customer
)
SELECT c_nationkey, quartile, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM q GROUP BY c_nationkey, quartile
"""


def _q_like_in_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE / IN / IS NOT NULL predicates — absent from the reference
    grammar (no tokens, parser/Token.java:20-42), declared as upgrades
    in SURVEY.md §2.2."""
    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders")
    out = orders.filter(
        F.col("o_orderpriority").like("1-%")
        & F.col("o_orderstatus").isin("F", "O")
        & F.col("o_totalprice").isNotNull()
    )
    return out.select("o_orderkey", "o_orderstatus", "o_orderpriority")


_SQL_LIKE_IN_NULL = """
SELECT o_orderkey, o_orderstatus, o_orderpriority
FROM orders
WHERE o_orderpriority LIKE '1-%'
  AND o_orderstatus IN ('F', 'O')
  AND o_totalprice IS NOT NULL
"""


def _q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery through the SQL entry point — Catalyst
    decorrelates it to a semi-join (the reference handles correlation
    with FilterCorrelated below an NLJ, OperatorFactory.java:209-217).
    The identical string runs on both engines."""
    from dbt_lab_spark.sql import SqlProcessor

    proc = SqlProcessor(spark, Catalog(sf_dir))
    return proc.process_query(_SQL_EXISTS_SUBQUERY)


_SQL_EXISTS_SUBQUERY = """
SELECT s_suppkey, s_name
FROM supplier
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_suppkey = s_suppkey AND l_quantity > 49)
"""


def _q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median / percentiles per group (§2.4 absences: the
    reference has no percentiles).  Spark's exact percentile and
    DuckDB's quantile_cont use the same linear interpolation."""
    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_returnflag", "l_quantity", "l_extendedprice"])
    return li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("median_qty"),
        F.percentile("l_extendedprice", 0.9).alias("p90_price"),
        F.percentile("l_extendedprice", 0.99).alias("p99_price"),
    )


_SQL_PERCENTILES = """
SELECT l_returnflag,
       median(l_quantity) AS median_qty,
       quantile_cont(l_extendedprice, 0.9) AS p90_price,
       quantile_cont(l_extendedprice, 0.99) AS p99_price
FROM lineitem GROUP BY l_returnflag
"""


def _q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderstatus, orderpriority) — all four grouping sets.
    GROUPING() flags + double-cast sum for cross-engine hash parity
    (see _q_rollup)."""
    from dbt_lab_spark.operators import cube

    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_orderstatus", "o_orderpriority", "o_totalprice"])
    out = cube(
        orders,
        ["o_orderstatus", "o_orderpriority"],
        [
            AggSpec("count", "o_totalprice", "n_orders"),
            AggSpec("sum", money("o_totalprice"), "sum_price"),
        ],
        grouping_flags=True,
    )
    return out.withColumn("sum_price", F.col("sum_price").cast("double"))


_SQL_CUBE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_o_orderstatus,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_o_orderpriority,
       COUNT(o_totalprice) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def _q_multikey_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column-key equi-join (the reference MergeJoin takes int[]
    join columns, OperatorFactory.java:305-315): lineitem joined to its
    own (orderkey, partkey) aggregate on BOTH keys."""
    cat = Catalog(sf_dir)
    li = scan(spark, cat, "lineitem", ["l_orderkey", "l_partkey", "l_linenumber", "l_quantity"])
    per = group_by(
        li,
        ["l_orderkey", "l_partkey"],
        [AggSpec("count", "l_linenumber", "n_lines"), AggSpec("max", "l_quantity", "max_qty")],
    )
    out = join(li, per, on=["l_orderkey", "l_partkey"])
    return out.select("l_orderkey", "l_partkey", "l_linenumber", "n_lines", "max_qty")


_SQL_MULTIKEY_JOIN = """
SELECT a.l_orderkey, a.l_partkey, a.l_linenumber, b.n_lines, b.max_qty
FROM lineitem a
JOIN (SELECT l_orderkey, l_partkey,
             COUNT(l_linenumber) AS n_lines, MAX(l_quantity) AS max_qty
      FROM lineitem GROUP BY l_orderkey, l_partkey) b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey = b.l_partkey
"""


def _q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface (§2.8: the reference has only + - * /;
    the engine's scalar library is Spark's built-ins).  String, date and
    math functions chosen for exact cross-engine semantics — every
    expression mirrored verbatim in the oracle."""
    cat = Catalog(sf_dir)
    orders = scan(
        spark,
        cat,
        "orders",
        ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
        predicates=[compare("o_orderkey", "<", 2000)],
    )
    return orders.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 1, 4)).alias("prio4"),
        F.length("o_orderpriority").alias("prio_len"),
        F.concat_ws("/", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.floor(F.col("o_totalprice") / 1000).cast("long").alias("price_k"),
        F.sqrt("o_totalprice").alias("price_sqrt"),
        F.abs(F.col("o_totalprice") - 250000.0).alias("price_dev"),
    )


_SQL_SCALAR_FUNCTIONS = """
SELECT o_orderkey,
       upper(substring(o_orderpriority, 1, 4)) AS prio4,
       CAST(length(o_orderpriority) AS INTEGER) AS prio_len,
       concat_ws('/', o_orderstatus, o_orderpriority) AS status_prio,
       CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(month(o_orderdate) AS INTEGER) AS o_month,
       CAST(day(o_orderdate) AS INTEGER) AS o_day,
       CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_k,
       sqrt(o_totalprice) AS price_sqrt,
       abs(o_totalprice - 250000.0) AS price_dev
FROM orders WHERE o_orderkey < 2000
"""


def _q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame specs (§2.5 gap): 7-row moving average of order
    totals per customer.  Decimal-exact: frame SUM in DECIMAL, divided
    by frame COUNT in double — identical on both engines regardless of
    accumulation order."""
    from dbt_lab_spark.operators import running_agg

    cat = Catalog(sf_dir)
    orders = scan(spark, cat, "orders", ["o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"])
    out = running_agg(
        orders,
        ["o_custkey"],
        ["o_orderdate", "o_orderkey"],
        F.sum(money("o_totalprice")),
        "__fsum",
        preceding=6,
    )
    out = running_agg(
        out,
        ["o_custkey"],
        ["o_orderdate", "o_orderkey"],
        F.count("o_totalprice"),
        "__fcnt",
        preceding=6,
    )
    return out.select(
        "o_custkey",
        "o_orderkey",
        (F.col("__fsum").cast("double") / F.col("__fcnt")).alias("mov_avg_price"),
    )


_SQL_MOVING_AVG = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
         / COUNT(o_totalprice) OVER w AS mov_avg_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def _q_having_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose lineitem
    quantity total exceeds a threshold, joined back to customer — the
    IN-(grouped-HAVING-subquery) pattern as a join against the
    aggregated subquery (the reference plans FROM-subqueries the same
    way, Optimizer.java:163-196)."""
    cat = Catalog(sf_dir)
    lineitem = scan(spark, cat, "lineitem", ["l_orderkey", "l_quantity"])
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(money("l_quantity")).cast("double").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150.0)
    )
    orders = scan(spark, cat, "orders", ["o_orderkey", "o_custkey", "o_totalprice"])
    customer = scan(spark, cat, "customer", ["c_custkey", "c_name"])
    out = orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
    out = broadcast_join(out, customer, on=F.col("o_custkey") == F.col("c_custkey"))
    return out.select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty")


_SQL_HAVING_SUBQUERY = """
SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
FROM customer, orders,
     (SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150.0) big
WHERE o_orderkey = big.l_orderkey AND c_custkey = o_custkey
"""


# ---------------------------------------------------------------------------
# Dormant type conventions exercised (VERDICT r1 item 4): CHAR(n) pad
# compare and TIME seconds-of-day.
# ---------------------------------------------------------------------------


def _q_char_pad_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAR(10) padded-compare semantics: the filter literal carries
    trailing spaces ('BUILDING   ') yet matches the stored trimmed
    segment, because both sides are normalized to the declared CHAR
    width before comparing (types.char_equals).  Reference:
    core/CharField.java pad compares; padded literals in
    TestJoinOrderOptimizerStudents.java:139."""
    from dbt_lab_spark.types import char_equals

    cat = Catalog(sf_dir)
    customer = scan(spark, cat, "customer", ["c_custkey", "c_mktsegment", "c_acctbal"])
    hit = customer.filter(char_equals(F.col("c_mktsegment"), "BUILDING   ", 10))
    return hit.groupBy("c_mktsegment").agg(
        F.count("c_custkey").alias("n_customers"),
        _dsum("c_acctbal", "sum_acctbal"),
    )


_SQL_CHAR_PAD_COMPARE = f"""
SELECT c_mktsegment,
       COUNT(c_custkey) AS n_customers,
       {_sql_dsum("c_acctbal", "sum_acctbal")}
FROM customer
WHERE rpad(c_mktsegment, 10, ' ') = rpad('BUILDING   ', 10, ' ')
GROUP BY c_mktsegment
"""


def _q_time_of_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME seconds-of-day convention (types.py: TIME -> INT in
    [0, 86400), reference core/TimeField.java): derive the TIME column
    from event timestamps, then range-filter and aggregate on it the
    way a reference TIME query would."""
    from dbt_lab_spark.types import seconds_of_day

    cat = Catalog(sf_dir)
    ev = cat.table(spark, "events").withColumn("time_sod", seconds_of_day(F.col("ts")))
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.min("time_sod").alias("min_sod"),
        F.max("time_sod").alias("max_sod"),
        F.count(F.when(F.col("time_sod") < 43200, True)).alias("n_morning"),
    )


_SQL_TIME_OF_DAY = """
WITH t AS (
  SELECT event_type,
         CAST(EXTRACT(hour FROM ts) * 3600
              + EXTRACT(minute FROM ts) * 60
              + EXTRACT(second FROM ts) AS INT) AS time_sod
  FROM events)
SELECT event_type,
       COUNT(*) AS n_events,
       MIN(time_sod) AS min_sod,
       MAX(time_sod) AS max_sod,
       COUNT(CASE WHEN time_sod < 43200 THEN TRUE END) AS n_morning
FROM t GROUP BY event_type
"""


def _q_sql_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-grammar strict mode: the query text below is legal in
    the reference's own SQL subset (double-quoted literal, alias-
    qualified columns, AND-only conjunctions, alias-HAVING) and runs
    through the strict tokenizer/parser/compiler (dbt_lab_spark.parser)
    rather than spark.sql.  Grammar: parser/Token.java:20-42,
    SelectQuery.java:284-293."""
    from dbt_lab_spark.parser import StrictSqlProcessor

    strict = StrictSqlProcessor(spark, Catalog(sf_dir))
    return strict.process_query(
        "SELECT n.n_name AS nation, COUNT(c.c_custkey) AS n_customers, "
        "MIN(c.c_acctbal) AS min_bal, MAX(c.c_acctbal) AS max_bal "
        "FROM customer c, nation n "
        'WHERE c.c_nationkey = n.n_nationkey AND c.c_mktsegment = "BUILDING" '
        "GROUP BY n.n_name HAVING n_customers > 1 ORDER BY nation"
    )


_SQL_SQL_STRICT = """
SELECT n_name AS nation, COUNT(c_custkey) AS n_customers,
       MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
FROM customer, nation
WHERE c_nationkey = n_nationkey AND c_mktsegment = 'BUILDING'
GROUP BY n_name HAVING COUNT(c_custkey) > 1 ORDER BY nation
"""


CORE_QUERIES: list[QueryDef] = [
    QueryDef("q_group_customers", _q_group_customers, _SQL_GROUP_CUSTOMERS, "flagship golden test"),
    QueryDef("q_scan_filter", _q_scan_filter, _SQL_SCAN_FILTER, "scan + conjunctive pushdown"),
    QueryDef("q_count", _q_count, _SQL_COUNT, "grand-total count"),
    QueryDef("q_grand_agg", _q_grand_agg, _SQL_GRAND_AGG, "grand-total 5-aggregate"),
    QueryDef("q_multiway", _q_multiway, _SQL_MULTIWAY, "5-table join"),
    QueryDef("q_merge_join", _q_merge_join, _SQL_MERGE_JOIN, "large-large SMJ"),
    QueryDef("q_theta_join", _q_theta_join, _SQL_THETA_JOIN, "non-equi NLJ"),
    QueryDef("q_cross_join", _q_cross_join, _SQL_CROSS_JOIN, "cartesian"),
    QueryDef("q_having", _q_having, _SQL_HAVING, "group + having"),
    QueryDef("q_between_onesided", _q_between_onesided, _SQL_BETWEEN_ONESIDED, "open range"),
    QueryDef("q_sort_topk", _q_sort_topk, _SQL_SORT_TOPK, "multi-col sort + limit"),
    QueryDef("q_distinct_agg", _q_distinct_agg, _SQL_DISTINCT_AGG, "distinct aggregates"),
    QueryDef("q_semi_join", _q_semi_join, _SQL_SEMI_JOIN, "left-semi"),
    QueryDef("q_anti_join", _q_anti_join, _SQL_ANTI_JOIN, "left-anti"),
    QueryDef("q_outer_join", _q_outer_join, _SQL_OUTER_JOIN, "left-outer + agg"),
    QueryDef("q_union", _q_union, _SQL_UNION, "union distinct"),
    QueryDef("q_except", _q_except, _SQL_EXCEPT, "except"),
    QueryDef("q_intersect", _q_intersect, _SQL_INTERSECT, "intersect"),
    QueryDef("q_window_rank", _q_window_rank, _SQL_WINDOW_RANK, "window top-k per group"),
    QueryDef("q_scalar_subquery", _q_scalar_subquery, _SQL_SCALAR_SUBQUERY, "scalar subquery"),
    QueryDef("q_arith_expr", _q_arith_expr, _SQL_ARITH_EXPR, "expression aggregates"),
    QueryDef("q_rollup", _q_rollup, _SQL_ROLLUP, "ROLLUP grouping sets"),
    QueryDef("q_cube", _q_cube, _SQL_CUBE, "CUBE grouping sets"),
    QueryDef("q_like_in_null", _q_like_in_null, _SQL_LIKE_IN_NULL, "LIKE/IN/IS NULL"),
    QueryDef("q_exists_subquery", _q_exists_subquery, _SQL_EXISTS_SUBQUERY, "correlated EXISTS"),
    QueryDef("q_percentiles", _q_percentiles, _SQL_PERCENTILES, "exact median/percentiles"),
    QueryDef("q_multikey_join", _q_multikey_join, _SQL_MULTIKEY_JOIN, "multi-column equi-join"),
    QueryDef("q_scalar_functions", _q_scalar_functions, _SQL_SCALAR_FUNCTIONS, "string/date/math"),
    QueryDef("q_moving_avg", _q_moving_avg, _SQL_MOVING_AVG, "window frame spec"),
    QueryDef("q_having_subquery", _q_having_subquery, _SQL_HAVING_SUBQUERY, "Q18 shape"),
    QueryDef("q_sql_entry", _q_sql_entry, _SQL_SQL_ENTRY, "SQL string entry point"),
    QueryDef("q_tpch_q1", _q_tpch_q1, _SQL_TPCH_Q1, "TPC-H Q1"),
    QueryDef("q_tpch_q3", _q_tpch_q3, _SQL_TPCH_Q3, "TPC-H Q3 shape"),
    QueryDef("q_tpch_q5", _q_tpch_q5, _SQL_TPCH_Q5, "TPC-H Q5 shape"),
    QueryDef("q_tpch_q6", _q_tpch_q6, _SQL_TPCH_Q6, "TPC-H Q6"),
    QueryDef("q_tpch_q10", _q_tpch_q10, _SQL_TPCH_Q10, "TPC-H Q10 shape"),
    QueryDef("q_tpch_q4", _q_tpch_q4, _SQL_TPCH_Q4, "TPC-H Q4 shape (EXISTS semi-join)"),
    QueryDef("q_tpch_q12", _q_tpch_q12, _SQL_TPCH_Q12, "TPC-H Q12 shape (CASE-WHEN agg)"),
    QueryDef("q_tpch_q14", _q_tpch_q14, _SQL_TPCH_Q14, "TPC-H Q14 (promo ratio)"),
    QueryDef("q_tpch_q17", _q_tpch_q17, _SQL_TPCH_Q17, "TPC-H Q17 shape (correlated AVG)"),
    QueryDef("q_tpch_q19", _q_tpch_q19, _SQL_TPCH_Q19, "TPC-H Q19 shape (OR-of-conjuncts)"),
    QueryDef("q_pivot", _q_pivot, _SQL_PIVOT, "PIVOT status x priority"),
    QueryDef("q_stats_agg", _q_stats_agg, _SQL_STATS_AGG, "corr/covar/stddev/var"),
    QueryDef("q_grouping_sets", _q_grouping_sets, _SQL_GROUPING_SETS, "GROUPING SETS + flags"),
    QueryDef("q_ntile", _q_ntile, _SQL_NTILE, "NTILE quartiles"),
    QueryDef("q_histogram", _q_histogram, _SQL_HISTOGRAM, "equi-width histogram"),
    QueryDef("q_unpivot", _q_unpivot, _SQL_UNPIVOT, "UNPIVOT/melt part metrics"),
    QueryDef(
        "q_char_pad_compare", _q_char_pad_compare, _SQL_CHAR_PAD_COMPARE, "CHAR(n) pad semantics"
    ),
    QueryDef("q_time_of_day", _q_time_of_day, _SQL_TIME_OF_DAY, "TIME seconds-of-day convention"),
    QueryDef("q_sql_strict", _q_sql_strict, _SQL_SQL_STRICT, "strict reference-grammar entry"),
]


def all_queries() -> list[QueryDef]:
    """Full declared workload: core + TPC-H extras + events + text/dedup
    + vectors, then the stats, time-series, media, lake and streaming
    families."""
    from dbt_lab_spark.workload_beyond import BEYOND_QUERIES
    from dbt_lab_spark.workload_extras import EXTRA_QUERIES
    from dbt_lab_spark.workload_lake import LAKE_QUERIES
    from dbt_lab_spark.workload_media import MEDIA_QUERIES
    from dbt_lab_spark.workload_stats import STATS_QUERIES
    from dbt_lab_spark.workload_streaming import STREAMING_QUERIES
    from dbt_lab_spark.workload_timeseries import TIMESERIES_QUERIES
    from dbt_lab_spark.workload_tpch import TPCH_EXTRA_QUERIES

    out = (
        CORE_QUERIES
        + TPCH_EXTRA_QUERIES
        + BEYOND_QUERIES
        + EXTRA_QUERIES
        + STATS_QUERIES
        + TIMESERIES_QUERIES
        + MEDIA_QUERIES
        + LAKE_QUERIES
        + STREAMING_QUERIES
    )
    # Duplicate names silently shadow in the queries()/oracle_sql()
    # dicts (the r5 q_merge_upsert collision made a declared query
    # unreachable) — fail loudly at registry-build time instead.
    names = [q.name for q in out]
    if len(set(names)) != len(names):
        from collections import Counter

        dups = sorted(n for n, c in Counter(names).items() if c > 1)
        raise AssertionError(f"duplicate query names in registry: {dups}")
    return out
