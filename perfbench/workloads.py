"""The benchmark's workloads, as chains of operations.

An operation is one closed-loop client request: ``build`` returns a
DataFrame (the time spent inside a query function, a job builder or a
reader), ``sink`` consumes it (an action, a write or a merge) and
returns what gets checked, or None. A chain is a list of operations
that must run in order (a job before its read-back, a store load
before its CDC merges); a pass runs every chain of its workload once,
in an order drawn from the run's seed.

Expected outputs are named by ``Op.expect``: ``query:<name>`` digests
come from the registry's DuckDB oracles over the fixed tables,
``lines:<job>`` and ``store:<k>`` are recomputed in DuckDB from the
run's seeded inputs (``expected.py``).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

WORKLOADS = ("dedup_pipelines", "mapreduce_store")

# Two shared-build pairs: in each chain the first query builds a shared
# frame (the near-dup pair table; the flagged LLM-prep frame) and the
# second hits it. The rest of the dedup and curation family costs too
# much per pass for the run budget. mmr_diverse_topk is left out: it
# differs from its oracle on these tables (README, Open items).
DEDUP_CHAINS = (
    ("dedup_groups", "leakage_safe_split"),
    ("llm_prep_pipeline", "llm_prep_pipeline_v3"),
)
DEDUP_QUERIES = tuple(q for chain in DEDUP_CHAINS for q in chain)
COMPAT_QUERIES = ("compat_word_count", "compat_year_max_refpart")

# keyed-store shape
STORE_KEY, STORE_ORDER, STORE_TIE = "o_orderkey", "version", "seq"
N_BUCKETS = 2
N_CDC = 1
CDC_FRAC = 0.1

# MapReduce job inputs
CORPUS_FILES, CORPUS_FILE_BYTES = 8, 128 * 1024
TEMP_FILES, TEMP_LINES = 4, 10_000

HERE = os.path.dirname(os.path.abspath(__file__))
JOBS = os.path.join(HERE, "jobs")


@dataclass
class Op:
    name: str
    kind: str  # query | job | write | probe
    build: Callable[[Any], Any]
    sink: Callable[[Any, Any], Any]
    expect: str | None = None
    layer: str = "bench"


def chains(workload: str, ctx) -> list[list[Op]]:
    if workload == "dedup_pipelines":
        return [[query_op(ctx, q) for q in chain] for chain in DEDUP_CHAINS]
    if workload == "mapreduce_store":
        return mapreduce_chains(ctx) + [[query_op(ctx, q)] for q in COMPAT_QUERIES] + store_chains(ctx)
    raise ValueError(f"unknown workload {workload!r}; known: {WORKLOADS}")


def query_op(ctx, name: str) -> Op:
    fn = ctx.queries[name]
    layer = getattr(fn, "__wrapped__", fn).__module__.rsplit(".", 1)[-1]
    return Op(
        name,
        "query",
        build=lambda c: fn(c.spark, c.tables_dir),
        sink=lambda c, df: df.toPandas(),
        expect=f"query:{name}",
        layer=layer,
    )


def mapreduce_chains(ctx) -> list[list[Op]]:
    """Each job runs like the reference CLI's ``run --output``: the job
    script through ``cli.run_script_job``, the result out through
    ``sources.write_result_json``, back through ``read_result_json``,
    and printed by ``cli.render_result``."""
    from yamr_spark import cli, sources

    def job(name, path, script, map_schema, key_type, value_type, **kw):
        out = os.path.join(ctx.pass_dir, "results", name)

        def sink(c, df):
            sources.write_result_json(df, out)
            back = sources.read_result_json(c.spark, out, key_type=key_type, value_type=value_type)
            return cli.render_result(back)

        return [
            Op(
                name,
                "job",
                build=lambda c: cli.run_script_job(
                    c.spark, path, os.path.join(JOBS, script), map_schema=map_schema, **kw
                ),
                sink=sink,
                expect=f"lines:{name}",
                layer="cli",
            )
        ]

    corpus, temps = ctx.inputs["corpus"], ctx.inputs["temps"]
    words = ("key string, value long", "string", "long")
    return [
        job("wc_lines", corpus, "word_count.py", *words),
        job("wc_chunks", corpus, "word_count.py", *words, chunks=True),
        job("temps_region", temps, "max_year_temp.py", "key long, value double", "long", "double",
            mode="region"),
    ]


def probe_frame(df):
    """The aggregate every store probe runs: exact integer sums, so the
    DuckDB recomputation compares bit for bit."""
    from pyspark.sql import functions as F

    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("cents"),
        F.sum("version").alias("versions"),
        F.max("seq").alias("max_seq"),
    )


def store_chains(ctx) -> list[list[Op]]:
    from yamr_spark.operators import maintenance, snapshots
    from yamr_spark.streaming import upsert

    batches = [os.path.join(ctx.inputs["store"], "load.parquet")] + [
        os.path.join(ctx.inputs["store"], f"cdc-{i}.parquet") for i in range(1, N_CDC + 1)
    ]
    keys = dict(key=STORE_KEY, order=STORE_ORDER, tie=STORE_TIE, n_buckets=N_BUCKETS)

    def dpo_write(c, df, d):
        upsert.merge_batch_into_store_dpo(df, d, **keys)

    def loop_write(c, df, d):
        upsert.merge_batch_into_store(df, d, **keys)

    def snap_write(c, df, d):
        if not os.path.exists(d):
            snapshots.create_table(d)
        snapshots.commit_merge(df, d, **keys)

    writers = {
        # merge_batch_into_store_dpo writes no _SUCCESS per bucket, so
        # read_store cannot read its store; probe it with a plain scan
        "dpo": (dpo_write, lambda c, d: c.spark.read.parquet(d), "streaming.upsert"),
        "loop": (loop_write, lambda c, d: upsert.read_store(c.spark, d), "streaming.upsert"),
        "snap": (snap_write, lambda c, d: snapshots.read_snapshot(c.spark, d), "operators.snapshots"),
    }
    out = []
    for wname, (write, reader, layer) in writers.items():
        d = os.path.join(ctx.pass_dir, "stores", wname)

        def merge_op(i, path, write=write, d=d, layer=layer, wname=wname):
            return Op(
                f"{wname}_merge_{i}",
                "write",
                build=lambda c: c.spark.read.parquet(path),
                sink=lambda c, df: write(c, df, d),
                layer=layer,
            )

        def probe_op(label, k, reader=reader, d=d, wname=wname):
            return Op(
                f"{wname}_probe_{label}",
                "probe",
                build=lambda c: probe_frame(reader(c, d)),
                sink=lambda c, df: df.toPandas(),
                expect=f"store:{k}",
                layer="bench",
            )

        chain = []
        for i, path in enumerate(batches):
            chain += [merge_op(i, path), probe_op(str(i), i)]
        if wname == "dpo":
            chain += [
                Op(
                    "dpo_compact",
                    "write",
                    build=lambda c: None,
                    sink=lambda c, df, d=d: maintenance.compact_store(c.spark, d),
                    layer="operators.maintenance",
                ),
                probe_op("compacted", len(batches) - 1),
            ]
        out.append(chain)
    return out
