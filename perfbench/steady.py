"""Steadiness check for the benchmark in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 --out steady.json [--workloads a,b]

Makes two sets of `--runs` runs per workload, interleaved A B A B ... so
that a slow stretch of the machine lands in both sets, each run with
its own seed.  For every end-to-end metric it reports each set's
median and quartile spread (Python's `statistics.quantiles(n=4)`, as a
share of the median) and how far set B's median is from set A's, and
flags a spread or a drift above the metric's bound, on every metric
`setup_s` included.  Exits non-zero when something is flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one_run(workload: str, seed: int, seconds: int, command: list[str]) -> dict:
    cmd = command + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    wall = time.monotonic() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    host = json.loads(lines[-2])["host"] if len(lines) > 1 else {}
    return {"wall_s": wall, "host": host, **result}


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=None, help="comma-separated subset")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    runs: dict[str, dict[str, list[dict]]] = {w: {"A": [], "B": []} for w in workloads}
    for i in range(args.runs):
        for label, base in (("A", 1), ("B", 1001)):
            for w in workloads:
                r = one_run(w, base + i, bench["run_seconds"], bench["command"])
                runs[w][label].append(r)
                print(
                    json.dumps({"workload": w, "set": label, "seed": base + i, "wall_s": round(r["wall_s"], 1),
                                "correct": r["correct"], "calib_s": r["host"].get("calib_s"),
                                "metrics": {k: round(v["value"], 4) for k, v in r["metrics"].items()}}),
                    flush=True,
                )

    flagged = 0
    report = {}
    for w in workloads:
        for m in bench["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            a = [r["metrics"][name]["value"] for r in runs[w]["A"]]
            b = [r["metrics"][name]["value"] for r in runs[w]["B"]]
            ma, mb = statistics.median(a), statistics.median(b)
            worse = (mb - ma) / ma if lower else (ma - mb) / ma
            row = {
                "median_a": ma, "median_b": mb, "spread_a": spread(a), "spread_b": spread(b),
                "b_worse_by": worse, "bound": bound,
            }
            row["flag"] = worse > bound or max(row["spread_a"], row["spread_b"]) > bound
            flagged += row["flag"]
            report[f"{w}/{name}"] = row
            print(f"{w:14s} {name:16s} medA={ma:10.4f} medB={mb:10.4f} spreadA={row['spread_a']:.3f} "
                  f"spreadB={row['spread_b']:.3f} worse={worse:+.3f} bound={bound} {'FLAG' if row['flag'] else 'ok'}")
    walls = [r["wall_s"] for w in workloads for s in "AB" for r in runs[w][s]]
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    with open(args.out, "w") as fh:
        json.dump({"report": report, "runs": runs}, fh, indent=1)
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
