"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_curation --seed 1 --seconds 18 --trace 0

Runs one workload in one process against the engine's own tuned
session (`dbt_lab_spark.session.get_spark`) on local[<cpus>], with one
client in a closed loop.  Everything the run writes (Spark local dirs,
warehouse, lake tables, temp files) lives in a per-run directory under
`.perfbench_tmp/` that is deleted at the end.

The last stdout line is one JSON object: with `--trace 0` the
end-to-end metrics, with `--trace 1` the per-layer metrics of a run
whose op types alternate between untraced and traced runs; a traced run
also writes its spans to `.perfbench_out/spans-<workload>-seed<seed>.jsonl`.
The line before it carries the host-noise record, the sample counts and
the set-up parts.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.harness import Harness  # noqa: E402
from perfbench.lake import LAKE_OPS, LakeWorkload  # noqa: E402
from perfbench.queries import LLM_OPS, OLAP_OPS, TPCH_TABLES, QueryWorkload  # noqa: E402

WORKLOADS = ("olap_curation", "lake_ingest")

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "query_geomean_s": "s",
    "peak_rss_mb": "MB",
    "ok_op_ratio": "ratio",
}

SELF_LAYERS = ("operators", "parser", "catalog", "functions", "llm", "snapshots", "streaming", "matview")

PER_LAYER = {
    "session.start_s": "s",
    "catalog.analyze_s": "s",
    "setup.warmup_s": "s",
    "setup.inputs_s": "s",
    **{f"op.{t}_s": "s" for t in OLAP_OPS + LLM_OPS + LAKE_OPS},
    "op.build_share": "ratio",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.eager_jobs_per_op": "count",
    "spark.shuffle_write_mb_per_op": "MB",
    "spark.input_mb_per_op": "MB",
    **{f"{layer}.self_s": "s" for layer in SELF_LAYERS},
    "workload.self_s": "s",
    "spark.exec_s": "s",
    "trace.accounted_ratio": "ratio",
    "snapshots.write_amp": "ratio",
    "snapshots.space_amp": "ratio",
    "snapshots.files_live": "count",
    "snapshots.pruned_ratio": "ratio",
    "matview.hit_ratio": "ratio",
    "host.calib_s": "s",
    "host.steal_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
    "failed_op_ratio": "ratio",
}


# -- host noise record -----------------------------------------------------------
def host_calib() -> float:
    """Seconds for a fixed pure-Python loop plus a fixed numpy copy."""
    import numpy as np

    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i & 7
    a = np.ones(4_000_000)
    for _ in range(4):
        a = a.copy()
    return time.perf_counter() - t0


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


# -- process lifetime ---------------------------------------------------------------
def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
                out.append(int(d))
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM and the
    Python workers it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [w for w in workers if os.path.exists(f"/proc/{w}")]
        time.sleep(0.05)


# -- one run ---------------------------------------------------------------------
def hermetic_env(workdir: str) -> dict[str, str]:
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.chdir(workdir)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    return {
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def make_workload(name: str, seed: int, workdir: str, trace: bool):
    # the query ops read the tests' sf0.01 tables; the lake draws its key
    # batches from the sf0.1 orders next to them
    from tests.conftest import SF_MEDIUM

    if name == "olap_curation":
        tables = TPCH_TABLES + ("documents", "embeddings")
        return QueryWorkload(OLAP_OPS + LLM_OPS, tables, SF_MEDIUM, seed, pass_s=18.0)
    sf01 = os.path.join(os.path.dirname(SF_MEDIUM), "sf0.1")
    return LakeWorkload(sf01, seed, workdir, measure_storage=trace)


def run(args, workdir: str) -> tuple[dict, dict]:
    conf = hermetic_env(workdir)
    t0 = time.perf_counter()
    calib = [host_calib()]
    cpu0 = cpu_times()
    calib_paused = time.perf_counter() - t0

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer, install

        tracer = Tracer()
        install(tracer)

    from dbt_lab_spark.session import get_spark

    layer: dict[str, float] = {}
    t0 = time.perf_counter()
    spark = get_spark(extra_conf=conf)
    layer["session.start_s"] = time.perf_counter() - t0
    try:
        h = Harness(spark, tracer)
        h.paused_s += calib_paused
        wl = make_workload(args.workload, args.seed, workdir, bool(args.trace))
        t0 = time.perf_counter()
        wl.setup_catalog(h)
        layer["catalog.analyze_s"] = time.perf_counter() - t0
        t0, p0 = time.perf_counter(), h.paused_s
        wl.setup_inputs(h)
        layer["setup.inputs_s"] = time.perf_counter() - t0 - (h.paused_s - p0)

        t0, p0 = time.perf_counter(), h.paused_s
        wl.warmup_check_pass(h)
        layer["setup.warmup_s"] = time.perf_counter() - t0 - (h.paused_s - p0)
        setup_s = time.perf_counter() - T_START - h.paused_s

        # --seconds becomes a whole number of passes through the workload's
        # nominal pass time: a pass count that followed the machine's speed
        # would amplify its slow and fast stretches.  A traced run needs an
        # even count, so every op type is timed traced and untraced.
        n_passes = max(1, round(args.seconds / wl.pass_s))
        if tracer is not None:
            n_passes += n_passes % 2
        passes: list[float] = []
        stage_bytes: dict[int, tuple[int, int]] = {}
        for idx in range(n_passes):
            t0, p0 = time.perf_counter(), h.paused_s
            with h.timed_pass(idx):
                wl.run_pass(h, idx)
            passes.append(time.perf_counter() - t0 - (h.paused_s - p0))
            if tracer is not None:
                with h.paused():
                    ids = {s for r in h.records if r.pass_idx == idx for s in r.stages}
                    stage_bytes.update(h.stage_bytes(ids))

        calib.append(host_calib())
        cpu1 = cpu_times()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = (vm_hwm_kb("self") + vm_hwm_kb(jvm_pid)) / 1024
    finally:
        stop_spark(spark)

    d = [b - a for a, b in zip(cpu0, cpu1)]
    host = {
        "calib_s": calib,
        "steal_ratio": d[7] / sum(d) if sum(d) else 0.0,
        "passes": len(passes),
        "timed_ops": sum(1 for r in h.records if not r.traced),
        "op_types": len({r.op_type for r in h.records}),
        "attempted": h.attempted,
        "failed": h.failed,
        "failures": h.failures[:10],
        "setup_parts_s": {k: round(v, 3) for k, v in layer.items()},
        "wall_s": time.perf_counter() - T_START,
    }
    if tracer is None:
        metrics = end_to_end(h, passes, setup_s, rss_mb)
        units = END_TO_END
    else:
        metrics = per_layer(h, wl, tracer, layer, stage_bytes, host)
        units = PER_LAYER
        host["spans"] = write_spans(tracer, args)
    result = {
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    return result, host


def write_spans(tracer, args) -> str:
    """Write the traced run's spans as JSON lines under `.perfbench_out/`
    (ignored by git, kept after the run); returns the path written."""
    rel = os.path.join(".perfbench_out", f"spans-{args.workload}-seed{args.seed}.jsonl")
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    with open(os.path.join(ROOT, rel), "w") as fh:
        for sp in tracer.spans:
            fh.write(json.dumps(dataclasses.asdict(sp)) + "\n")
    return rel


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300

    def nz(v: float) -> float:
        return v if abs(v) > tiny else tiny

    c, d = 1.0, 1 / nz(1 - (a + b) * x / (a + 1))
    h = d
    for m in range(1, 500):
        for num in (
            m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
            -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1)),
        ):
            d = 1 / nz(1 + num * d)
            c = nz(1 + num / c)
            h *= d * c
        if abs(d * c - 1) < 1e-15:
            break
    return h


def betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0 or x >= 1.0:
        return min(max(x, 0.0), 1.0)
    front = math.exp(
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) + a * math.log(x) + b * math.log1p(-x)
    )
    if x < (a + 1) / (a + b + 2):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1 - x) / b


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: a Beta((n+1)p, (n+1)(1-p))
    weighted mean of all order statistics.  On a few dozen samples it is
    steadier than a single order statistic, which jumps between op types
    where the slow ones stop."""
    xs = sorted(values)
    n = len(xs)
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((hi - lo) * x for lo, hi, x in zip(cdf, cdf[1:], xs))


def _medians_by_type(records) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for r in records:
        by.setdefault(r.op_type, []).append(r.latency_s)
    return {t: statistics.median(v) for t, v in by.items()}


def end_to_end(h: Harness, passes, setup_s: float, rss_mb: float) -> dict[str, float]:
    lat = [r.latency_s for r in h.records]
    med = _medians_by_type(h.records)
    return {
        "setup_s": setup_s,
        "ops_per_s": len(lat) / sum(passes),
        "latency_p50_s": statistics.median(lat),
        "latency_p90_s": hd_quantile(lat, 0.9),
        "query_geomean_s": math.exp(statistics.fmean(math.log(v) for v in med.values())),
        "peak_rss_mb": rss_mb,
        "ok_op_ratio": 1 - h.failed / h.attempted,
    }


def per_layer(h: Harness, wl, tracer, layer, stage_bytes, host) -> dict[str, float]:
    from perfbench.trace import self_times

    out = {k: 0.0 for k in PER_LAYER}
    out.update(layer)
    plain = [r for r in h.records if not r.traced]
    traced = [r for r in h.records if r.traced]
    for t, v in _medians_by_type(plain).items():
        out[f"op.{t}_s"] = v
    out["op.build_share"] = sum(r.build_s for r in plain) / sum(r.latency_s for r in plain)

    n = len(traced)
    out["spark.jobs_per_op"] = sum(r.jobs for r in traced) / n
    out["spark.eager_jobs_per_op"] = sum(r.eager_jobs for r in traced) / n
    out["spark.stages_per_op"] = sum(len(r.stages) for r in traced) / n
    out["spark.tasks_per_op"] = sum(r.tasks for r in traced) / n
    stages = [s for r in traced for s in r.stages]
    out["spark.input_mb_per_op"] = sum(stage_bytes.get(s, (0, 0))[0] for s in stages) / 1e6 / n
    out["spark.shuffle_write_mb_per_op"] = sum(stage_bytes.get(s, (0, 0))[1] for s in stages) / 1e6 / n

    spans = tracer.spans
    selfs = self_times(spans)
    for lyr in SELF_LAYERS:
        out[f"{lyr}.self_s"] = selfs.get(lyr, 0.0) / n
    out["workload.self_s"] = selfs.get("workload", 0.0) / n
    out["spark.exec_s"] = selfs.get("spark", 0.0) / n
    # the op span's own self time (harness bookkeeping between the build
    # call and the materialize) is the part no layer accounts for
    covered = sum(v for k, v in selfs.items() if k != "op")
    op_time = sum(s.t1 - s.t0 for s in spans if s.layer == "op")
    out["trace.accounted_ratio"] = covered / op_time if op_time else 0.0

    if isinstance(wl, LakeWorkload):
        out.update(wl.storage_metrics())
    out["host.calib_s"] = statistics.fmean(host["calib_s"])
    out["host.steal_ratio"] = host["steal_ratio"]
    # every op type runs traced and untraced equally often
    out["trace.overhead_ratio"] = sum(r.latency_s for r in traced) / sum(r.latency_s for r in plain)
    out["failed_op_ratio"] = h.failed / h.attempted
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    try:
        result, host = run(args, workdir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"host": host}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
