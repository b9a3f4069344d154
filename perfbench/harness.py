"""One client, closed loop: the next op starts when the last one ends.

An op is a build step (a query's build function, or one lake API call) plus
an optional materialize step (a noop-sink write or a collect).  Its
latency covers both, because some build functions run Spark jobs themselves.
Result checks run after the op, outside its latency, and every failed
check counts as a failed op.
"""

from __future__ import annotations

import json
import sys
import time
import traceback
import urllib.request
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field
from urllib.parse import urlparse

from perfbench.trace import Tracer


@dataclass
class OpRecord:
    op_type: str
    pass_idx: int
    traced: bool
    latency_s: float
    build_s: float
    jobs: int = 0
    eager_jobs: int = 0
    stages: list[int] = field(default_factory=list)
    tasks: int = 0


def materialize_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Harness:
    """Runs ops and keeps their records.  `timed_pass` marks whole passes
    whose ops count toward the end-to-end metrics; ops outside a timed
    pass are set-up (warm-up, checks) and only count as attempted.

    With a tracer, each op type alternates between untraced and traced
    runs, starting traced for every other type, so traced and untraced
    samples cover the same ops at the same points of the run."""

    def __init__(self, spark, tracer: Tracer | None) -> None:
        self.spark = spark
        self.tracer = tracer
        self.records: list[OpRecord] = []
        self.pass_idx: int | None = None
        self._seen: dict[str, int] = {}
        self._rank: dict[str, int] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.paused_s = 0.0
        # job groups other threads ran the current op's jobs in (a
        # streaming query runs its micro-batches in a group of its own)
        self.op_groups: list[str] = []

    # -- set-up accounting ------------------------------------------------
    @contextmanager
    def paused(self):
        """Work (checks, calibration) excluded from set-up and op time.
        It runs between ops, where the tracer is off."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.paused_s += time.perf_counter() - t0

    @contextmanager
    def timed_pass(self, idx: int):
        self.pass_idx = idx
        try:
            yield
        finally:
            self.pass_idx = None

    def _traced(self, op_type: str) -> bool:
        if self.tracer is None or self.pass_idx is None:
            return False
        rank = self._rank.setdefault(op_type, len(self._rank))
        k = self._seen.get(op_type, 0)
        self._seen[op_type] = k + 1
        return (k + rank) % 2 == 1

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)

    # -- one op ---------------------------------------------------------------
    def op(
        self,
        op_type: str,
        build: Callable[[], object],
        materialize: Callable[[object], object] | None = None,
        check: Callable[[object], bool] | None = None,
    ):
        """Run build() then materialize(built); return materialize's result
        (or build's when there is none), or None if the op raised."""
        n = self.attempted
        self.attempted += 1
        sc = self.spark.sparkContext
        counting = self.tracer is not None
        traced = self._traced(op_type)
        self.op_groups = []
        tr = self.tracer if traced else None
        if tr is not None:
            tr.op = n
            tr.active = True
        try:
            if counting:
                sc.setJobGroup(f"perfbench-b{n}", op_type)
            t0 = time.perf_counter()
            with _span(tr, "op", op_type):
                with _span(tr, "workload", op_type):
                    out = build()
                t1 = time.perf_counter()
                if materialize is not None:
                    if counting:
                        sc.setJobGroup(f"perfbench-m{n}", op_type)
                    with _span(tr, "spark", op_type):
                        out = materialize(out)
            t2 = time.perf_counter()
        except Exception:  # a failed op is counted and the loop goes on
            traceback.print_exc(file=sys.stderr)
            self.fail(f"{op_type} raised")
            return None
        finally:
            if tr is not None:
                tr.active = False
            if counting:
                sc.setJobGroup("perfbench-idle", "outside ops")
        rec = OpRecord(op_type, self.pass_idx, traced, t2 - t0, t1 - t0)
        if counting and self.pass_idx is not None:
            self._count_jobs(rec, n)
        if check is not None:
            with self.paused():
                ok = check(out)
            if not ok:
                self.fail(f"{op_type} returned a wrong result")
                return out
        if self.pass_idx is not None:
            self.records.append(rec)
        return out

    def _count_jobs(self, rec: OpRecord, n: int) -> None:
        st = self.spark.sparkContext.statusTracker()
        eager = list(st.getJobIdsForGroup(f"perfbench-b{n}"))
        for g in self.op_groups:
            eager += st.getJobIdsForGroup(g)
        jobs = eager + list(st.getJobIdsForGroup(f"perfbench-m{n}"))
        rec.eager_jobs, rec.jobs = len(eager), len(jobs)
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info is not None else ():
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    rec.stages.append(s)
                    rec.tasks += si.numCompletedTasks

    # -- stage byte counts from the local UI's REST API --------------------
    def stage_bytes(self, stage_ids: set[int]) -> dict[int, tuple[int, int]]:
        """{stage id: (input bytes, shuffle write bytes)} for completed stages.
        The status store fills asynchronously, so poll briefly for stragglers."""
        sc = self.spark.sparkContext
        url = urlparse(sc.uiWebUrl or "")
        if not url.port:
            return {}
        api = f"http://127.0.0.1:{url.port}/api/v1/applications/{sc.applicationId}/stages?status=complete"
        out: dict[int, tuple[int, int]] = {}
        for _ in range(20):
            with urllib.request.urlopen(api, timeout=10) as resp:
                for s in json.load(resp):
                    out[s["stageId"]] = (s.get("inputBytes", 0), s.get("shuffleWriteBytes", 0))
            if stage_ids <= out.keys():
                break
            time.sleep(0.1)
        return out


@contextmanager
def _span(tracer: Tracer | None, layer: str, name: str):
    if tracer is None:
        yield
    else:
        with tracer.span(layer, name):
            yield
