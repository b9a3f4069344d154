"""Query workloads: each op is one `__spark_entry__.queries()` build
function plus a noop-sink materialize.

Correctness: on the first warm-up pass every op with a DuckDB oracle is
collected once and its fingerprint (row count, column names and a hash
of the rows canonicalized as tests/oracle.py does) is compared with the
oracle's.  Ops without an oracle (`q_bpe_tokens`) carry an
order-insensitive fingerprint computed by Spark during the materialize
itself (`DataFrame.observe`), and must give the same fingerprint on
every pass.
"""

from __future__ import annotations

import hashlib
import random

from perfbench.harness import Harness, materialize_noop

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

OLAP_OPS = tuple(f"q_tpch_q{i}" for i in range(1, 23)) + (
    "q_scan_filter",
    "q_count",
    "q_group_customers",
    "q_multiway",
    "q_merge_join",
    "q_sql_strict",
    "q_sql_entry",
)

# Six of the curation ops: between them they call both `llm` and
# `functions`, run Spark jobs inside the build call (k-means in
# `q_semantic_dedup_seeded`), and include an op without an oracle
# (`q_bpe_tokens`).  The other six (`q_knn_ivf_seeded`, `q_ngram_jaccard`,
# `q_minhash_pairs`, `q_decontaminate`, `q_dedup_apply_md5`,
# `q_trigram_lm`) take 0.9-2.9 s each, more than a run has room for
# within the time a gating round allows.
LLM_OPS = (
    "q_curation_pipeline",
    "q_semantic_dedup_seeded",
    "q_pii_redact",
    "q_quality_filter",
    "q_lang_quality",
    "q_bpe_tokens",
)


def _rows_fingerprint(columns: list[str], rows: list[tuple]) -> tuple:
    from tests.oracle import _canon_rows

    digest = hashlib.sha256("\n".join(_canon_rows(columns, rows)).encode()).hexdigest()
    return (len(rows), tuple(sorted(columns)), digest)


def _observed(df):
    """`df` with a Spark-side fingerprint (row count, sum of row hashes
    with doubles rounded to 4 places) attached to its next action."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def canon(f):
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            return F.round(c, 4)
        if isinstance(f.dataType, T.ArrayType) and isinstance(
            f.dataType.elementType, (T.DoubleType, T.FloatType)
        ):
            return F.transform(c, lambda x: F.round(x, 4))
        return c

    obs = Observation()
    row_hash = F.xxhash64(*[canon(f) for f in df.schema.fields])
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(row_hash, F.lit(2147483647))).alias("h"),
    )
    return out, obs


class QueryWorkload:
    """A fixed set of query ops; every pass runs each op once, in an
    order drawn from the seed."""

    def __init__(self, names: tuple[str, ...], tables: tuple[str, ...], sf_dir: str, seed: int, pass_s: float):
        self.pass_s = pass_s  # nominal seconds per pass, 4-core host
        self.names = names
        self.tables = tables
        self.sf_dir = sf_dir
        self.seed = seed
        self.build_fns: dict = {}
        self.oracles: dict[str, str] = {}
        self.stable_fp: dict[str, tuple] = {}
        self._con = None

    def setup_catalog(self, h: Harness) -> None:
        from dbt_lab_spark.catalog import Catalog

        import __spark_entry__ as entry

        queries = entry.queries()
        oracles = entry.oracle_sql()
        self.build_fns = {n: queries[n] for n in self.names}
        self.oracles = {n: oracles[n] for n in self.names if n in oracles}
        cat = Catalog(self.sf_dir)
        for t in self.tables:
            cat.cbo_table(h.spark, t)

    def setup_inputs(self, h: Harness) -> None:
        """The query ops read the fixed tables only."""

    def order(self, pass_idx: int) -> list[str]:
        names = list(self.names)
        random.Random(self.seed * 1_000_003 + pass_idx).shuffle(names)
        return names

    def _run_op(self, h: Harness, name: str, collect: bool) -> None:
        build = self.build_fns[name]
        spark, sf = h.spark, self.sf_dir
        if name in self.oracles:
            if collect:
                h.op(name, lambda: build(spark, sf), _collect, self._oracle_check(h, name))
            else:
                h.op(name, lambda: build(spark, sf), materialize_noop)
            return

        def observed_build():
            return _observed(build(spark, sf))

        def observed_materialize(built):
            df, obs = built
            materialize_noop(df)
            return obs

        h.op(name, observed_build, observed_materialize, lambda obs: self._stable(name, obs))

    def warmup_check_pass(self, h: Harness) -> None:
        """First pass: collect each oracle op once and compare with DuckDB."""
        for name in self.order(-1):
            self._run_op(h, name, collect=True)

    def run_pass(self, h: Harness, pass_idx: int) -> None:
        for name in self.order(pass_idx):
            self._run_op(h, name, collect=False)

    # -- checks (run outside op latency) ------------------------------------
    def _oracle_check(self, h: Harness, name: str):
        def check(result) -> bool:
            columns, rows = result
            got = _rows_fingerprint(columns, rows)
            rel = self._duck().sql(self.oracles[name])
            want = _rows_fingerprint(list(rel.columns), rel.fetchall())
            return got == want

        return check

    def _duck(self):
        if self._con is None:
            from tests.oracle import duckdb_connect

            self._con = duckdb_connect(self.sf_dir)
        return self._con

    def _stable(self, name: str, obs) -> bool:
        got = obs.get
        fp = (got["n"], got["h"])
        return self.stable_fp.setdefault(name, fp) == fp


def _collect(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]
