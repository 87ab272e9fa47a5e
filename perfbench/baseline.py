"""Record the benchmark's baseline: run every workload over a set of
seeds, untraced, then once traced, and write medians, quartiles and
spreads (interquartile range / median) of every metric to
``perfbench/baseline.json``.

    python3 perfbench/baseline.py [--seeds 501-510] [--workloads a,b]

Run it from the root of a checkout, alone on the host. It prints one
line per run and the spreads of the end-to-end metrics at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".work", "out")
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

SECONDS = 10
# run-record entries kept as the set of values seen, not summarised
COUNTS = ("op_tail_percentile", "op_tail_samples", "steady_passes")


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}


def run(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(SECONDS), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
    line = json.loads(lines[-1])
    print(f"{workload} seed={seed} trace={trace} {time.time() - t0:.1f}s {lines[-1][:300]}", flush=True)
    with open(os.path.join(OUT, f"{workload}-trace{trace}.json")) as fh:
        record = json.load(fh)
    record["line"] = line
    return record


def parse_seeds(s: str) -> list[int]:
    if "-" in s:
        lo, hi = s.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in s.split(",")]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="501-510")
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    a = ap.parse_args()
    seeds, workloads = parse_seeds(a.seeds), a.workloads.split(",")
    base: dict = {"run_seconds": SECONDS, "runs_per_workload": len(seeds),
                  "seeds": {}, "end_to_end": {}, "run_record": {}, "per_layer": {}}
    host = None
    for w in workloads:
        recs = [run(w, s, 0) for s in seeds]
        host = host or recs[0]["host"] | {"spark": recs[0]["spark_version"]}
        base["seeds"][w] = seeds
        base["end_to_end"][w] = {
            k: summary([r["end_to_end"][k] for r in recs]) for k in recs[0]["end_to_end"]
        }
        rr: dict = {"attempted_failed": sorted({(r["line"]["attempted"], r["line"]["failed"]) for r in recs})}
        rr["setup_samples_s"] = summary([x for r in recs for x in r["extra"]["setup_samples_s"]])
        for k in recs[0]["extra"]:
            if k == "setup_samples_s":
                continue
            if k in COUNTS:
                rr[k] = sorted({json.dumps(r["extra"][k]) for r in recs})
            else:
                rr[k] = summary([r["extra"][k] for r in recs])
        base["run_record"][w] = rr
        traced = run(w, seeds[-1] + 1, 1)
        base["per_layer"][w] = {"seed": seeds[-1] + 1, "metrics": traced["per_layer"],
                                **traced["layer_table"]}
    keep = ("nproc", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "ram_gb", "python", "pyspark",
            "spark", "duckdb", "java", "commit")
    base["measured_on"] = {k: host.get(k) for k in keep}
    with open(os.path.join(HERE, "baseline.json"), "w") as fh:
        json.dump(base, fh, indent=1, sort_keys=True)
        fh.write("\n")
    for w, m in base["end_to_end"].items():
        for k, s in m.items():
            print(f"{w} {k}: median {s['median']:.4f} spread {s['spread']:.4f}")


if __name__ == "__main__":
    main()
