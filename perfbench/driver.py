"""The measured process: one Spark driver at ``local[$SPARK_GRAFT_CPUS]``
running one workload with a closed-loop client.

Started by ``run.py``, never by hand. It sets up (``session.get_spark``
then ``registry.all_queries``; with ``--setup-only`` it stops there),
runs the first pass in the fresh session, then steady passes until
``--seconds`` have been spent in them and at least ``MIN_STEADY_OPS``
operations have run, and writes everything it measured to ``--out`` as
JSON. Output checking happens in ``run.py``; this process only records
a digest of each operation's output, outside the timed region.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import canon  # noqa: E402
import procstat  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import chains  # noqa: E402


# Steady passes still get faster for a few passes after the cold one
# (7.7, 7.2, 6.5 s on dedup_pipelines), so a short workload runs until
# this many operations too, and its median pass is the middle one.
MIN_STEADY_OPS = 9


class Ctx:
    """What an operation sees: the session, the registered queries, the
    input paths and the current pass's scratch directory."""

    def __init__(self, spark, queries, inputs: dict):
        self.spark = spark
        self.queries = queries
        self.tables_dir = inputs["tables"]
        self.inputs = inputs
        self.pass_dir = ""


def digest_of(out):
    if out is None:
        return None, None
    if isinstance(out, list):
        return canon.lines_digest(out)
    return canon.frame_digest(out)


def run_op(ctx, tracer, M, op, pass_idx: int) -> dict:
    rec = {"pass": pass_idx, "name": op.name, "kind": op.kind, "expect": op.expect}
    sc = ctx.spark.sparkContext
    sc.setJobDescription(f"perfbench: {op.name}")
    out = None
    t0 = time.perf_counter()
    rec["start"] = time.time()
    try:
        with tracer.span(op.name, "op"):
            with tracer.span(f"build:{op.name}", op.layer):
                df = op.build(ctx)
            t1 = time.perf_counter()
            with tracer.span(f"sink:{op.name}", "sink"):
                out = op.sink(ctx, df)
        t2 = time.perf_counter()
        rec.update(latency=t2 - t0, build_s=t1 - t0, sink_s=t2 - t1, error=None)
    except Exception as ex:  # counted as a failed operation
        rec.update(latency=time.perf_counter() - t0, error=f"{type(ex).__name__}: {ex}"[:2000])
        traceback.print_exc()
    rec["end"] = time.time()
    sc.setJobDescription(None)
    # outside the timed region: release the op's blocks, digest its output
    rec["blocks_freed"] = M.free_blocks()
    if rec["error"] is None:
        rec["digest"], rec["rows"] = digest_of(out)
    return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--setup-only", action="store_true")
    a = ap.parse_args()
    inputs = json.loads(a.inputs)
    tracer = Tracer(run_id=f"{a.workload}-{a.seed}", enabled=bool(a.trace))
    result: dict = {"workload": a.workload, "seed": a.seed, "trace": a.trace}

    tracer.install()
    from yamr_spark import materialize as M
    from yamr_spark import registry, session

    conf = {"spark.sql.shuffle.partitions": os.environ["SPARK_GRAFT_CPUS"]}
    if a.trace:
        log_dir = os.path.join(a.work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    with tracer.span("setup", "run"):
        spark = session.get_spark("perfbench", extra_conf=conf)
        queries = registry.all_queries()
    result["t_ready"] = time.time()
    if a.setup_only:  # one more set-up sample for run.py's median
        spark.stop()
        with open(a.out, "w") as fh:
            json.dump(result, fh)
        return
    tracer.attach(spark)
    result["spark_version"] = spark.version
    ctx = Ctx(spark, queries, inputs)

    import numpy as np

    rng = np.random.default_rng([a.seed, 0])
    ops: list[dict] = []
    passes: list[dict] = []
    steady_spent, steady_ops = 0.0, 0
    with tracer.span(f"run:{a.workload}", "run"):
        while not passes or steady_spent < a.seconds or steady_ops < MIN_STEADY_OPS:
            i = len(passes)
            ctx.pass_dir = os.path.join(a.work, f"pass{i}")
            shutil.rmtree(ctx.pass_dir, ignore_errors=True)
            os.makedirs(ctx.pass_dir)
            chs = chains(a.workload, ctx)
            if not passes:  # one seeded order, kept for every pass of the run
                perm = rng.permutation(len(chs))
            order = [chs[j] for j in perm]
            cpu0 = procstat.tree_cpu(os.getpid())
            # every pass pays each shared build once, in its first consumer
            freed = M.free_shared_caches()
            p = {"index": i, "blocks_freed": freed, "cpu0": cpu0, "shared0": dict(tracer.shared)}
            t0 = time.perf_counter()
            with tracer.span(f"pass:{i}", "pass"):
                for chain in order:
                    for op in chain:
                        ops.append(run_op(ctx, tracer, M, op, i))
            p["wall"] = time.perf_counter() - t0
            p["cpu1"] = procstat.tree_cpu(os.getpid())
            p["shared1"] = dict(tracer.shared)
            p["store"] = procstat.store_stats(os.path.join(ctx.pass_dir, "stores"))
            passes.append(p)
            if i > 0:
                steady_spent += p["wall"]
                steady_ops += sum(len(c) for c in chs)
                # keep only the last pass's stores, for the space figures
                shutil.rmtree(os.path.join(a.work, f"pass{i - 1}"), ignore_errors=True)
    result.update(ops=ops, passes=passes)
    spark.stop()
    result["spans"] = tracer.spans
    with open(a.out, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
