"""Materialized-view result cache with snapshot invalidation.

A query over slowly-changing parquet snapshots shouldn't recompute on
every read — but serving a stale cache after the snapshot moved is a
correctness bug, not a perf feature.  `MaterializedView` keys the
cached result on (a) the inputs' on-disk state — for a `SnapshotTable`
root its head log record's (version, size, mtime_ns), which every
commit moves; for any other path every file's (path, size, mtime_ns)
— and (b) the query's analyzed logical plan, so EITHER new data OR a
changed view definition invalidates.  The plan fingerprint costs a
`build()`, so it is taken once per view object (first freshness
check) and once per refresh, from the DataFrame the refresh writes: a
hit is one `_log/` listing and one stat, never a build.  Stale views
rebuild atomically (plans/incremental.py's swap: readers never observe
a half-written view).  The check is driver-side metadata, never a
data read; the rebuild cost is the query itself.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

from dbt_lab_spark.plans.snapshots import _read_pq, head_record_stamp

from dbt_lab_spark.plans.incremental import _atomic_swap_write

_MANIFEST = "_matview_manifest.json"


def _input_fingerprint(paths: Sequence[str]) -> str:
    """Fingerprint the inputs' on-disk state, order-canonical: a snapshot
    table's head record stamp, else every file's (relpath, size, mtime_ns)."""
    h = hashlib.sha256()
    for root in sorted(paths):
        if (stamp := head_record_stamp(root)) is not None:
            h.update(f"{root}@{stamp}\n".encode())
            continue
        if os.path.isfile(root):
            st = os.stat(root)
            h.update(f"{root}|{st.st_size}|{st.st_mtime_ns}\n".encode())
            continue
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames.sort()
            for fn in sorted(filenames):
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                rel = os.path.relpath(p, root)
                h.update(f"{root}::{rel}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def _plan_fingerprint(df: DataFrame) -> str:
    """Fingerprint the view definition via its analyzed logical plan
    (stable across sessions for the same query over the same schema;
    changes whenever the definition does)."""
    plan = df._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
    # expression IDs (#123) vary run-to-run; strip them so the same
    # definition fingerprints identically across sessions
    import re

    canon = re.sub(r"#\d+L?", "#", plan)
    return hashlib.sha256(canon.encode()).hexdigest()


class MaterializedView:
    """A parquet-materialized query with freshness checking.

    >>> mv = MaterializedView("daily_rollup", build_fn, inputs=[sf_dir],
    ...                       store=state_dir)
    >>> df = mv.read(spark)     # rebuilds iff inputs or definition moved

    `build_fn(spark) -> DataFrame` declares the view; `inputs` are the
    paths whose on-disk state gates freshness.
    """

    def __init__(
        self,
        name: str,
        build: Callable[[SparkSession], DataFrame],
        inputs: Sequence[str],
        store: str,
    ) -> None:
        self.name = name
        self.build = build
        self.inputs = list(inputs)
        self.path = os.path.join(store, name)
        self._plan_fp: str | None = None
        os.makedirs(store, exist_ok=True)

    # -- freshness -------------------------------------------------------
    def _manifest_path(self) -> str:
        return self.path + "." + _MANIFEST

    def is_fresh(self, spark: SparkSession) -> bool:
        if not os.path.exists(self.path) or not os.path.exists(self._manifest_path()):
            return False
        with open(self._manifest_path()) as fh:
            stored = json.load(fh)
        if stored.get("inputs") != _input_fingerprint(self.inputs):
            return False
        if self._plan_fp is None:
            self._plan_fp = _plan_fingerprint(self.build(spark))
        return stored.get("plan") == self._plan_fp

    # -- read / refresh --------------------------------------------------
    def refresh(self, spark: SparkSession) -> None:
        """Rebuild unconditionally (atomic swap — readers keep the old
        view until the rename lands; inputs are fingerprinted BEFORE the
        build, so a commit landing mid-build leaves the view stale)."""
        inputs = _input_fingerprint(self.inputs)
        df = self.build(spark)
        self._plan_fp = _plan_fingerprint(df)
        _atomic_swap_write(df, self.path)
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"inputs": inputs, "plan": self._plan_fp}, fh)
        os.replace(tmp, self._manifest_path())

    def read(self, spark: SparkSession) -> DataFrame:
        """Serve the cached view, rebuilding first iff stale."""
        if not self.is_fresh(spark):
            self.refresh(spark)
        return _read_pq(spark, self.path)
