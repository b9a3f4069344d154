"""Lake workload: a rolling-window `SnapshotTable` of orders.

Every cycle appends one key batch (half through `append`, half replayed
as a one-file stream into `append_stream_batch`), upserts two update
batches (`merge` copy-on-write and deletion-vector), deletes the batch
that left the retention window, and reads the head, a date range the
file stats can prune, and a dashboard `MaterializedView` twice (a miss
after the commits, a hit before the next).  The last cycle of every
pass compacts and vacuums, so the live size and the bytes on disk stay
bounded and each pass has the same op mix.

Correctness: every write is applied to a DuckDB shadow table too.  The
reads are compared with it, the head is compared after compaction, and
each cycle checks that a time-travel read of the previous cycle's last
version still returns that cycle's totals.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np

from perfbench.harness import Harness

LAKE_OPS = (
    "append",
    "merge_cow",
    "merge_dv",
    "delete_dv",
    "stream_append",
    "read_head",
    "read_pruned",
    "mv_read_miss",
    "mv_read_hit",
    "compact",
    "vacuum",
)

# Sizes follow the data.  The live window is a fifth of the orders: at
# sf0.1, 30,000 rows, about 0.56 MB as one compacted parquet copy (about
# 19 bytes a row), the size of the table whose drift the noise findings
# record (0.6 MB).  It holds WINDOW key batches; an update batch is a
# tenth of a key batch.
WINDOW_SHARE = 0.2
WINDOW = 6  # live batches
UPDATE_SHARE = 0.1
CYCLES_PER_PASS = 2  # a pass ends with compact + vacuum
KEEP_VERSIONS = 8  # > one cycle's commits, so last cycle's head stays readable
KEY_LAP = 10**8  # key offset each time the batches wrap around the orders

_DDL = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR, "
    "o_orderdate TIMESTAMP, cents BIGINT, batch INTEGER"
)
_SPARK_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_orderdate timestamp, cents long, batch int"
)
_TOTALS_SQL = "SELECT count(*), sum(cents), sum((o_orderkey * 31 + cents) % 1000003) FROM lake"


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


class LakeWorkload:
    pass_s = 10.0  # nominal seconds per pass, 4-core host

    def __init__(self, sf_dir: str, seed: int, workdir: str, measure_storage: bool) -> None:
        self.sf_dir = sf_dir
        self.rng = np.random.default_rng(seed)
        self.workdir = workdir
        self.cycle = 0
        self.duck = duckdb.connect()
        self.prev: tuple[int, tuple] | None = None
        self.mv_reads = 0
        self.mv_hits = 0
        # storage accounting (per-layer metrics only; it lists the table
        # directory around every write)
        self.measure_storage = measure_storage
        self.bytes_per_row = 0.0
        self.bytes_written = 0
        self.user_bytes = 0.0
        self.space_amp: list[float] = []
        self.files_live: list[int] = []
        self.pruned: list[float] = []

    # -- inputs -----------------------------------------------------------------
    def setup_catalog(self, h: Harness) -> None:
        from dbt_lab_spark.catalog import Catalog

        self.orders_df = Catalog(self.sf_dir).cbo_table(h.spark, "orders")

    def setup_inputs(self, h: Harness) -> None:
        from dbt_lab_spark.plans.matview import MaterializedView
        from dbt_lab_spark.plans.snapshots import SnapshotTable
        from pyspark.sql import functions as F

        pdf = (
            self.orders_df.select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate", "o_totalprice")
            .toPandas()
            .sort_values(["o_orderdate", "o_orderkey"], kind="stable")
            .reset_index(drop=True)
        )
        pdf["cents"] = (pdf.pop("o_totalprice") * 100).round().astype("int64")
        self.orders = pdf
        self.batch_rows = int(len(pdf) * WINDOW_SHARE) // WINDOW
        self.update_rows = int(self.batch_rows * UPDATE_SHARE)
        self.n_batches = len(pdf) // self.batch_rows
        self.span = pdf["o_orderdate"].max() - pdf["o_orderdate"].min() + np.timedelta64(1, "D")
        self.start = int(self.rng.integers(0, self.n_batches))

        self.table = SnapshotTable(os.path.join(self.workdir, "lake", "orders"), stat_cols=["o_orderdate"])
        first = [self.batch(j) for j in range(WINDOW)]
        self.table.commit(self._sdf(h, first[0]))
        for b in first[1:]:
            self.table.append(self._sdf(h, b))
        self.duck.execute(f"CREATE TABLE lake ({_DDL})")
        for b in first:
            _shadow(self.duck, "INSERT INTO lake SELECT * FROM b", {"b": b})

        def dashboard(spark):
            return (
                self.table.read(spark)
                .groupBy("o_orderstatus")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
            )

        self.mv = MaterializedView(
            "dashboard", dashboard, inputs=[self.table.root], store=os.path.join(self.workdir, "mv")
        )
        if self.measure_storage:
            probe = os.path.join(self.workdir, "compact_probe")
            live = self._sdf(h, *first).coalesce(1)
            live.write.parquet(probe)
            self.bytes_per_row = sum(_files(probe).values()) / (WINDOW * self.batch_rows)

    def batch(self, j: int):
        """Key batch j: a date-contiguous slice of the orders; past the
        last slice the orders repeat with shifted keys and dates."""
        lap, s = divmod(self.start + j, self.n_batches)
        n = self.batch_rows
        b = self.orders.iloc[s * n : (s + 1) * n].copy()
        b["o_orderkey"] += lap * KEY_LAP
        b["o_orderdate"] += lap * self.span
        b["batch"] = np.int32(j)
        return b[["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate", "cents", "batch"]]

    def _sdf(self, h: Harness, *pdfs):
        import pandas as pd

        return h.spark.createDataFrame(pd.concat(pdfs, ignore_index=True), schema=_SPARK_SCHEMA)

    def _updates(self, batch_id: int):
        live = self.duck.execute("SELECT * FROM lake WHERE batch = ? ORDER BY o_orderkey", [batch_id]).df()
        n = self.update_rows
        pick = live.iloc[np.sort(self.rng.choice(len(live), size=n, replace=False))].copy()
        pick["cents"] += self.rng.integers(1, 10_000, size=n)
        pick["batch"] = pick["batch"].astype("int32")
        return pick.reset_index(drop=True)

    # -- one pass ---------------------------------------------------------------
    def warmup_check_pass(self, h: Harness) -> None:
        """One cycle, with compaction, warms every lake op type."""
        self._cycle(h, maintain=True)

    def run_pass(self, h: Harness, pass_idx: int) -> None:
        for i in range(CYCLES_PER_PASS):
            self._cycle(h, maintain=i == CYCLES_PER_PASS - 1)

    def _cycle(self, h: Harness, maintain: bool) -> None:
        from dbt_lab_spark.streaming.windows import land_replay_file, scoped_no_data_batches
        from pyspark.sql import functions as F

        spark, t, c = h.spark, self.table, self.cycle
        new = WINDOW + c
        with h.paused():
            fresh = self.batch(new)
            half = self.batch_rows // 2
            app_pdf, stream_pdf = fresh.iloc[:half], fresh.iloc[half:]
            # fixed positions in the window, so every seed and every pass
            # updates the same file layout: the oldest batch that stays
            # live, and the one in the middle of the window
            cow_pdf, dv_pdf = self._updates(c + 1), self._updates(c + WINDOW // 2)
            app_df, cow_df, dv_df, stream_df = (
                self._sdf(h, p) for p in (app_pdf, cow_pdf, dv_pdf, stream_pdf)
            )
            stream_dir = os.path.join(self.workdir, "stream", f"c{c}")
            lo, hi = fresh["o_orderdate"].min().to_pydatetime(), fresh["o_orderdate"].max().to_pydatetime()

        def replay():
            src = os.path.join(stream_dir, "src")
            land_replay_file(stream_df, src, 0, "batch")
            with scoped_no_data_batches(spark, False):
                q = (
                    spark.readStream.schema(_SPARK_SCHEMA)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src)
                    .writeStream.foreachBatch(lambda b, bid: t.append_stream_batch(b, c * 1000 + bid))
                    .option("checkpointLocation", os.path.join(stream_dir, "ckpt"))
                    .start()
                )
                h.op_groups.append(str(q.runId))  # the group of its micro-batch jobs
                try:
                    q.processAllAvailable()
                finally:
                    q.stop()

        self._write(h, "append", lambda: t.append(app_df), "INSERT INTO lake SELECT * FROM app_pdf", app_pdf=app_pdf)
        self._write(h, "merge_cow", lambda: t.merge(spark, cow_df, on=["o_orderkey"], mode="cow"), *_upsert("cow_pdf"), cow_pdf=cow_pdf)
        self._write(h, "merge_dv", lambda: t.merge(spark, dv_df, on=["o_orderkey"], mode="dv"), *_upsert("dv_pdf"), dv_pdf=dv_pdf)
        self._write(h, "delete_dv", lambda: t.delete_where(spark, f"batch = {c}", mode="dv"), f"DELETE FROM lake WHERE batch = {c}")
        self._write(h, "stream_append", replay, "INSERT INTO lake SELECT * FROM stream_pdf", stream_pdf=stream_pdf)
        self.user_bytes += (self.batch_rows + 2 * self.update_rows) * self.bytes_per_row

        h.op("read_head", lambda: _totals(t.read(spark)), lambda df: tuple(df.collect()[0]), self._check_totals)
        h.op(
            "read_pruned",
            lambda: t.read(spark, between=("o_orderdate", lo, hi)).agg(F.count(F.lit(1)), F.sum("cents")),
            lambda df: tuple(df.collect()[0]),
            lambda got: got == self._duck_one(
                "SELECT count(*), sum(cents) FROM lake WHERE o_orderdate BETWEEN ? AND ?", [lo, hi]
            ),
        )
        for name in ("mv_read_miss", "mv_read_hit"):
            h.op(name, lambda: self._mv_read(spark), _sorted_rows, self._check_dashboard)

        if maintain:
            self._write(h, "compact", lambda: t.compact(spark, order_by=["o_orderdate"], n_files=WINDOW // 2))
            self._write(h, "vacuum", lambda: t.vacuum(keep_last=KEEP_VERSIONS, grace_s=0.0))
            with h.paused():
                if not self._check_totals(tuple(_totals(t.read(spark)).collect()[0])):
                    h.fail(f"head after compaction, cycle {c}")

        with h.paused():
            if self.prev is not None:
                version, want = self.prev
                got = tuple(_totals(t.read(spark, version=version)).collect()[0])
                if got != want:
                    h.fail(f"time travel to version {version}, cycle {c}")
            self.prev = (t.versions()[-1], self._duck_one(_TOTALS_SQL))
            if self.measure_storage:
                kept, total = t.pruned_file_count(None, ("o_orderdate", lo, hi))
                self.files_live.append(total)
                self.pruned.append((total - kept) / total)
                on_disk = sum(_files(t.root).values())
                self.space_amp.append(on_disk / (WINDOW * self.batch_rows * self.bytes_per_row))
        self.cycle += 1

    def _write(self, h: Harness, name: str, call, *shadow_sql: str, **frames) -> None:
        with h.paused():
            before = _files(self.table.root) if self.measure_storage else None
        h.op(name, call)
        with h.paused():
            for sql in shadow_sql:
                _shadow(self.duck, sql, frames)
            if before is not None:
                after = _files(self.table.root)
                self.bytes_written += sum(s for p, s in after.items() if before.get(p) != s)

    def _mv_read(self, spark):
        manifest = self.mv._manifest_path()
        stamp = os.stat(manifest).st_mtime_ns if os.path.exists(manifest) else None
        df = self.mv.read(spark)
        self.mv_reads += 1
        self.mv_hits += os.stat(manifest).st_mtime_ns == stamp
        return df

    # -- checks -------------------------------------------------------------------
    def _duck_one(self, sql: str, params=None) -> tuple:
        return tuple(int(v) for v in self.duck.execute(sql, params or []).fetchone())

    def _check_totals(self, got: tuple) -> bool:
        return tuple(int(v) for v in got) == self._duck_one(_TOTALS_SQL)

    def _check_dashboard(self, got: list[tuple]) -> bool:
        want = self.duck.execute(
            "SELECT o_orderstatus, count(*), sum(cents) FROM lake GROUP BY 1 ORDER BY 1"
        ).fetchall()
        return [tuple(r) for r in got] == [(s, int(n), int(v)) for s, n, v in want]

    def storage_metrics(self) -> dict[str, float]:
        def mean(xs):
            return sum(xs) / len(xs) if xs else 0.0

        return {
            "snapshots.write_amp": self.bytes_written / self.user_bytes if self.user_bytes else 0.0,
            "snapshots.space_amp": mean(self.space_amp),
            "snapshots.files_live": mean(self.files_live),
            "snapshots.pruned_ratio": mean(self.pruned),
            "matview.hit_ratio": self.mv_hits / self.mv_reads if self.mv_reads else 0.0,
        }


def _upsert(frame: str) -> tuple[str, str]:
    return (
        f"DELETE FROM lake WHERE o_orderkey IN (SELECT o_orderkey FROM {frame})",
        f"INSERT INTO lake SELECT * FROM {frame}",
    )


def _shadow(con, sql: str, frames: dict) -> None:
    for name, frame in frames.items():
        con.register(name, frame)
    try:
        con.execute(sql)
    finally:
        for name in frames:
            con.unregister(name)


def _totals(df):
    from pyspark.sql import functions as F

    return df.agg(
        F.count(F.lit(1)),
        F.sum("cents"),
        F.sum(F.pmod(F.col("o_orderkey") * 31 + F.col("cents"), F.lit(1000003))),
    )


def _sorted_rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())
