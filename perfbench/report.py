"""Per-layer metrics of a traced run.

Inputs: the driver's spans (``tracing.py``), its per-pass process and
store figures, and Spark's own event log (``spark.eventLog.compress``
off; Spark 4.1 writes one ``eventlog_v2_<app>`` directory of
``events_<n>_<app>`` JSON-lines files). Every Spark job carries the
span that launched it as the ``perfbench.span`` job property, so jobs,
their stages and their tasks are charged to an operation, and to the
build or the sink of it.

Every figure is per steady pass (passes after the first), averaged,
except the setup spans, which happen once.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

from tracing import SPAN_PROPERTY, self_times

# The per-layer metrics printed on the result line. Each is defined on
# every workload; the layer-specific seconds that are zero on a workload
# that does not touch the layer are in the run record's full table.
UNITS = {
    "session.get_spark_s": "s",
    "registry.load_s": "s",
    "tables.calls": "count",
    "tables.s": "s",
    "build.s": "s",
    "build.share": "ratio",
    "build.jobs": "count",
    "sink.s": "s",
    "materialize.calls": "count",
    "materialize.eager_calls": "count",
    "materialize.blocks_freed": "count",
    "shared.builds": "count",
    "shared.hits": "count",
    "shared.hit_ratio": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.jobs_per_op": "ratio",
    "task.run_s": "s",
    "task.cpu_s": "s",
    "task.gc_s": "s",
    "task.core_util": "ratio",
    "op.fixed_s": "s",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "spill_mb": "MB",
    "task.peak_exec_mem_mb": "MB",
    "python.mb_to_workers": "MB",
    "python.mb_from_workers": "MB",
    "store.jobs_per_merge": "ratio",
    "store.write_amp": "ratio",
    "store.files": "count",
    "store.space_amp": "ratio",
    "driver.py_cpu_s": "s",
    "jvm.cpu_s": "s",
    "pyworkers.cpu_s": "s",
}

# seconds inside one public function, by span name
FUNCTION_SECONDS = {
    "materialize.s": ["materialize.materialize"],
    "materialize.eager_s": ["materialize.materialize_eager"],
    "shared.build_s": ["materialize.shared_build"],
    "compat.run_job_s": ["compat.run_job", "compat.mapreduce.run_job"],
    "cli.run_script_job_s": ["cli.run_script_job"],
    "cli.render_s": ["cli.render_result"],
    "sources.read_text_s": ["sources.read_text", "sources.read_text_chunks"],
    "sources.write_result_json_s": ["sources.write_result_json"],
    "sources.read_result_json_s": ["sources.read_result_json"],
    "upsert.dpo_merge_s": ["streaming.upsert.merge_batch_into_store_dpo"],
    "upsert.loop_merge_s": ["streaming.upsert.merge_batch_into_store"],
    "upsert.read_store_s": ["streaming.upsert.read_store"],
    "snapshots.commit_s": ["operators.snapshots.commit_merge"],
    "snapshots.read_s": ["operators.snapshots.read_snapshot"],
    "maintenance.compact_s": ["operators.maintenance.compact_store"],
}
PYTHON_SENT = "data sent to Python workers"
PYTHON_RETURNED = "data returned from Python workers"
MB = 2**20


def read_event_log(log_dir: str) -> list[dict]:
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not files:  # single-file event log
        files = sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))
    events = []
    for path in files:
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def spark_jobs(events: list[dict]) -> dict[int, dict]:
    """Jobs with their launching span, times, summed task metrics and
    the bytes their stages sent to and got back from Python workers."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            jobs[jid] = {
                "id": jid,
                "span": int(span) if span not in (None, "") else None,
                "start": ev["Submission Time"] / 1000,
                "end": None,
                "stages": set(),
                "tasks": 0,
                "run_s": 0.0,
                "cpu_s": 0.0,
                "gc_s": 0.0,
                "shuffle_write": 0,
                "shuffle_read": 0,
                "spill": 0,
                "peak_mem": 0,
                "output_bytes": 0,
                PYTHON_SENT: 0.0,
                PYTHON_RETURNED: 0.0,
            }
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"], -1))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            job["stages"].add(ev["Stage ID"])
            job["tasks"] += 1
            job["run_s"] += m.get("Executor Run Time", 0) / 1000
            job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            job["gc_s"] += m.get("JVM GC Time", 0) / 1000
            sr = m.get("Shuffle Read Metrics") or {}
            job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            job["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            job["spill"] += m.get("Disk Bytes Spilled", 0)
            job["peak_mem"] = max(job["peak_mem"], m.get("Peak Execution Memory", 0))
            job["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"], -1))
            for acc in info.get("Accumulables", []) if job else []:
                if acc.get("Name") in (PYTHON_SENT, PYTHON_RETURNED):
                    job[acc["Name"]] += float(acc.get("Value") or 0)
    for job in jobs.values():
        if job["end"] is None:
            job["end"] = job["start"]
    return jobs


def per_layer(result: dict, inp: dict, run_dir: str, cores: int, out_dir: str):
    spans = result["spans"]
    by_id = {s["id"]: s for s in spans}
    steady = [p for p in result["passes"] if p["index"] > 0]
    n = len(steady)
    wall = sum(p["wall"] for p in steady) / n

    def ancestor(sid, test):
        while sid is not None:
            s = by_id[sid]
            if test(s):
                return s
            sid = s["parent"]
        return None

    def pass_of(sid) -> int | None:
        s = ancestor(sid, lambda s: s["layer"] == "pass")
        return int(s["name"].split(":")[1]) if s else None

    def in_steady(s) -> bool:
        p = pass_of(s["id"])
        return p is not None and p > 0

    def dur(s) -> float:
        return s["end"] - s["start"]

    def seconds(names) -> float:
        return sum(dur(s) for s in spans if s["name"] in names and in_steady(s)) / n

    def calls(names) -> float:
        return sum(1 for s in spans if s["name"] in names and in_steady(s)) / n

    events = read_event_log(os.path.join(run_dir, "eventlog"))
    jobs = spark_jobs(events)
    steady_jobs = [j for j in jobs.values() if j["span"] is not None and (pass_of(j["span"]) or 0) > 0]
    steady_ops = [o for o in result["ops"] if o["pass"] > 0]
    op_span = {}
    for s in spans:
        if s["layer"] == "op" and in_steady(s):
            op_span[(pass_of(s["id"]), s["name"])] = s["id"]
    job_op = {
        j["id"]: ancestor(j["span"], lambda s: s["layer"] == "op") for j in steady_jobs
    }
    job_phase = {
        j["id"]: ancestor(j["span"], lambda s: s["name"].startswith(("build:", "sink:")))
        for j in steady_jobs
    }

    def total(key) -> float:
        return sum(j[key] for j in steady_jobs) / n

    m: dict[str, float] = {}
    m["session.get_spark_s"] = sum(dur(s) for s in spans if s["name"] == "session.get_spark")
    m["registry.load_s"] = sum(dur(s) for s in spans if s["name"] == "registry.all_queries")
    m["tables.calls"] = calls({"tables.table"})
    m["tables.s"] = seconds({"tables.table"})
    builds = [s for s in spans if s["name"].startswith("build:") and in_steady(s)]
    sinks = [s for s in spans if s["name"].startswith("sink:") and in_steady(s)]
    m["build.s"] = sum(map(dur, builds)) / n
    m["build.share"] = m["build.s"] / wall
    m["build.jobs"] = sum(
        1 for j in steady_jobs if job_phase[j["id"]] and job_phase[j["id"]]["name"].startswith("build:")
    ) / n
    m["sink.s"] = sum(map(dur, sinks)) / n
    m["materialize.calls"] = calls({"materialize.materialize"})
    m["materialize.eager_calls"] = calls({"materialize.materialize_eager"})
    m["materialize.blocks_freed"] = (
        sum(o["blocks_freed"] for o in steady_ops) + sum(p["blocks_freed"] for p in steady)
    ) / n
    shared = {
        k: sum(p["shared1"][k] - p["shared0"][k] for p in steady) / n
        for k in ("lookups", "hits", "builds")
    }
    m["shared.builds"] = shared["builds"]
    m["shared.hits"] = shared["hits"]
    m["shared.hit_ratio"] = shared["hits"] / shared["lookups"] if shared["lookups"] else 0.0
    m["spark.jobs"] = len(steady_jobs) / n
    m["spark.stages"] = sum(len(j["stages"]) for j in steady_jobs) / n
    m["spark.tasks"] = total("tasks")
    m["spark.jobs_per_op"] = len(steady_jobs) / len(steady_ops)
    m["task.run_s"] = total("run_s")
    m["task.cpu_s"] = total("cpu_s")
    m["task.gc_s"] = total("gc_s")
    m["task.core_util"] = m["task.run_s"] / (wall * cores)
    op_run = {}
    for j in steady_jobs:
        op = job_op[j["id"]]
        if op is not None:
            op_run[op["id"]] = op_run.get(op["id"], 0.0) + j["run_s"]
    m["op.fixed_s"] = statistics.median(
        [
            o["latency"] - op_run.get(op_span.get((o["pass"], o["name"])), 0.0) / cores
            for o in steady_ops
        ]
    )
    m["shuffle.write_mb"] = total("shuffle_write") / MB
    m["shuffle.read_mb"] = total("shuffle_read") / MB
    m["spill_mb"] = total("spill") / MB
    m["task.peak_exec_mem_mb"] = max([j["peak_mem"] for j in steady_jobs] or [0]) / MB
    m["python.mb_to_workers"] = total(PYTHON_SENT) / MB
    m["python.mb_from_workers"] = total(PYTHON_RETURNED) / MB
    merges = [o for o in steady_ops if o["kind"] == "write" and "_merge_" in o["name"]]
    merge_ids = {op_span.get((o["pass"], o["name"])) for o in merges}
    merge_jobs = [j for j in steady_jobs if job_op[j["id"]] and job_op[j["id"]]["id"] in merge_ids]
    m["store.jobs_per_merge"] = len(merge_jobs) / len(merges) if merges else 0.0
    batch_bytes = sum(os.path.getsize(batch_path(inp, o["name"])) for o in merges) if merges else 0
    m["store.write_amp"] = (
        sum(j["output_bytes"] for j in merge_jobs) / batch_bytes if batch_bytes else 0.0
    )
    last = result["passes"][-1]["store"]
    m["store.files"] = float(sum(s["files"] for s in last.values()))
    if last:
        import expected

        live = expected.live_state_bytes(inp)
        m["store.space_amp"] = sum(s["bytes"] for s in last.values()) / len(last) / live
    else:
        m["store.space_amp"] = 0.0
    for key, cls in (("driver.py_cpu_s", "driver"), ("jvm.cpu_s", "jvm"), ("pyworkers.cpu_s", "pyworkers")):
        m[key] = sum(p["cpu1"][cls] - p["cpu0"][cls] for p in steady) / n

    extra = {k: seconds(set(v)) for k, v in FUNCTION_SECONDS.items()}
    extra["wall_s"] = wall
    extra["span_coverage"] = (m["build.s"] + m["sink.s"]) / wall
    extra["shared.lookups"] = shared["lookups"]
    untraced = os.path.join(out_dir, f"{result['workload']}-trace0.json")
    if os.path.exists(untraced):
        with open(untraced) as fh:
            base = json.load(fh)["end_to_end"]["wall_s"]
        extra["trace_overhead_s"] = wall - base
    steady_spans = [s for s in spans if in_steady(s) and s["layer"] != "pass"]
    table = {
        "self_s": {k: v / n for k, v in sorted(self_times(steady_spans).items())},
        "function_s": extra,
    }
    # Spark jobs become spans too, under the span that launched them
    next_id = len(spans)
    for j in sorted(jobs.values(), key=lambda j: j["id"]):
        spans.append(
            {
                "id": next_id,
                "parent": j["span"],
                "name": f"spark.job:{j['id']}",
                "layer": "spark.job",
                "run": result["spans"][0]["run"] if result["spans"] else None,
                "start": j["start"],
                "end": j["end"],
            }
        )
        next_id += 1
    with open(os.path.join(out_dir, f"{result['workload']}-spans.json"), "w") as fh:
        json.dump(spans, fh)
    return m, table


def batch_path(inp: dict, op_name: str) -> str:
    i = int(op_name.rsplit("_", 1)[1])
    return os.path.join(inp["store"], "load.parquet" if i == 0 else f"cdc-{i}.parquet")


def format_table(table: dict, layer: dict) -> str:
    lines = ["per-layer self time per steady pass (s):"]
    lines += [f"  {k:<28} {v:10.4f}" for k, v in table["self_s"].items()]
    lines.append("time inside public functions per steady pass (s):")
    lines += [f"  {k:<28} {v:10.4f}" for k, v in table["function_s"].items()]
    lines.append("per-layer metrics:")
    lines += [f"  {k:<28} {v:12.4f} {UNITS[k]}" for k, v in layer.items()]
    return "\n".join(lines)


SIDE_BY_SIDE = ("build.share", "spark.jobs_per_op", "materialize.calls", "shared.hit_ratio")


def side_by_side(out_dir: str, keys=None) -> str:
    """The per-layer metrics of the latest traced run of each workload,
    one column per workload."""
    records = {}
    for path in sorted(glob.glob(os.path.join(out_dir, "*-trace1.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        records[rec["workload"]] = rec["per_layer"]
    keys = keys or list(UNITS)
    names = list(records)
    lines = [f"{'metric':<26}" + "".join(f"{n:>20}" for n in names)]
    for k in keys:
        lines.append(f"{k:<26}" + "".join(f"{records[n].get(k, float('nan')):>20.4f}" for n in names))
    return "\n".join(lines)


if __name__ == "__main__":
    # python3 perfbench/report.py [--all]: compare the latest traced runs
    import sys

    here = os.path.dirname(os.path.abspath(__file__))
    print(side_by_side(os.path.join(here, ".work", "out"), None if "--all" in sys.argv else SIDE_BY_SIDE))
