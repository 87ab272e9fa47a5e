"""The benchmark command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It generates the workload's inputs
from ``--seed`` (cached under ``perfbench/.work``), times the set-up
of a set-up-only driver process, starts the measuring Spark driver
process (``driver.py``) at ``local[<cores>]``, samples the
process tree's memory from ``/proc`` while it runs, checks every
operation's output against DuckDB-computed expectations, and prints as
its last line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). The full record of the run —
host facts, every operation, all metrics — goes to
``perfbench/.work/out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DEADLINE_S = 160  # all driver processes together; a run must end within 180 s
SETUP_TIMEOUT_S = 30
# set-up is one sample per driver process: it is timed in the measured
# process and in this many set-up-only ones, and the median reported.
# Each costs 7-9 s; more would not fit the time all runs together have.
EXTRA_SETUPS = 1
DRIVER_MEM = "2g"
# printed on the result line; the run record holds the rest (README.md)
END_TO_END = {"setup_s": "s", "wall_s": "s"}


def die(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def host_facts() -> dict:
    facts = {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "python": platform.python_version(),
    }
    with open("/proc/meminfo") as fh:
        mem = dict(line.split(":", 1) for line in fh)
    facts["ram_gb"] = round(int(mem["MemTotal"].split()[0]) / 2**20, 2)
    for mod in ("pyspark", "duckdb", "numpy", "pandas", "pyarrow"):
        try:
            facts[mod] = __import__(mod).__version__
        except ImportError:
            facts[mod] = None
    try:
        java = subprocess.run(
            ["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True, timeout=30
        ).stderr.splitlines()
        facts["java"] = java[0] if java else None
    except (OSError, subprocess.SubprocessError):
        facts["java"] = None
    facts["commit"] = git_commit()
    return facts


def git_commit() -> str | None:
    """HEAD of the checkout when it is a git work tree; None otherwise."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None


def other_spark_jvms() -> list[int]:
    """Live Spark JVMs that this run did not start."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as fh:
                cmd = fh.read().decode(errors="replace")
        except OSError:
            continue
        if "java" in cmd and "org.apache.spark" in cmd:
            out.append(int(name))
    return out


def prepare_inputs(workload: str, seed: int) -> dict:
    import inputs
    import workloads as W

    tables = inputs.write_tables(os.path.join(WORK, f"tables-{inputs.TABLE_SEED}"))
    inp = {"tables": tables}
    if workload == "mapreduce_store":
        base = os.path.join(WORK, f"inputs-{seed}")
        os.makedirs(base, exist_ok=True)
        inp["corpus"] = inputs.write_corpus(
            os.path.join(base, "corpus"), seed, W.CORPUS_FILES, W.CORPUS_FILE_BYTES
        )
        inp["temps"] = inputs.write_temps(
            os.path.join(base, "temps"), seed, W.TEMP_FILES, W.TEMP_LINES
        )
        inp["store"] = inputs.write_store_batches(
            os.path.join(base, "store"),
            seed,
            os.path.join(tables, "orders.parquet"),
            W.N_CDC,
            W.CDC_FRAC,
        )
    return inp


class TreeSampler(threading.Thread):
    """Samples the resident memory of the driver's process tree and
    remembers every process it saw, so all of them can be stopped."""

    def __init__(self, root: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.root, self.period = root, period
        self.peak = 0
        self.seen: set[int] = set()
        self.halt = threading.Event()

    def run(self) -> None:
        import procstat

        while not self.halt.is_set():
            rss, pids = procstat.tree_rss_bytes(self.root)
            self.peak = max(self.peak, rss)
            self.seen.update(pids)
            self.halt.wait(self.period)


def become_subreaper() -> None:
    """Adopt the driver's orphans (its JVM outlives it by a moment), so
    this process can reap them instead of leaving zombies behind."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_tree(proc: subprocess.Popen, pids: set[int]) -> None:
    """Stop the driver's process group and any process of its tree that
    left it, then reap every one of them."""
    pgid = proc.pid
    try:
        os.killpg(pgid, signal.SIGTERM)
    except ProcessLookupError:
        pass
    if proc.poll() is None:
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 10
    while True:
        alive = [p for p in pids if _in_group(p, pgid)]
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        if not alive or time.time() > deadline + 10:
            break
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _in_group(pid: int, pgid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return False
    fields = raw[raw.rindex(")") + 2 :].split()
    return int(fields[2]) == pgid


def launch(cmd: list[str], env: dict, cwd: str, log_path: str, timeout: float) -> tuple[int | None, float, int]:
    """Run one driver process to its end (or ``timeout``), stop and reap
    its whole tree; (exit code or None on timeout, spawn time, peak
    tree RSS in bytes)."""
    with open(log_path, "w") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(
            cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True
        )
        sampler = TreeSampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            sampler.halt.set()
            sampler.join()
            stop_tree(proc, sampler.seen | {proc.pid})
    return code, t_spawn, sampler.peak


def failed_launch(code, log_path: str) -> None:
    with open(log_path, errors="replace") as fh:
        sys.stderr.write(fh.read()[-4000:])
    die(f"driver process failed (exit {code}); log above", 1)


def check(result: dict, expected: dict) -> tuple[int, int, list[dict]]:
    """(attempted, failed, failures): an operation fails when it raised,
    or when its output's digest differs from the expected one."""
    failures = []
    for op in result["ops"]:
        why = op.get("error")
        if why is None and op["expect"] is not None:
            exp = expected.get(op["expect"])
            if exp is None:
                why = f"no expected output for {op['expect']}"
            elif op.get("digest") != exp["digest"]:
                why = f"wrong output: rows={op.get('rows')} expected rows={exp['rows']}"
        if why is not None:
            failures.append({"pass": op["pass"], "name": op["name"], "why": why})
    return len(result["ops"]), len(failures), failures


def end_to_end(result: dict, setups: list[float], peak_rss: int) -> tuple[dict, dict]:
    passes = result["passes"]
    steady = passes[1:]
    ops = [o for o in result["ops"] if o["pass"] > 0]
    lat = [o["latency"] for o in ops]
    tail, pct, n = stats.tail(lat)

    def per_pass(kind: str) -> float:
        return statistics.median(
            [sum(o["latency"] for o in ops if o["pass"] == p["index"] and o["kind"] == kind) for p in steady]
        )

    m = {
        "setup_s": statistics.median(setups),
        "wall_s": statistics.median([p["wall"] for p in steady]),
    }
    extra = {
        "setup_samples_s": setups,
        "first_pass_s": passes[0]["wall"],
        "peak_rss_mb": peak_rss / 2**20,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail,
        "op_tail_percentile": pct,
        "op_tail_samples": n,
        "write_s": per_pass("write"),
        "read_s": per_pass("probe"),
        "steady_passes": len(steady),
    }
    return m, extra


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload!r}; known: {', '.join(WORKLOADS)}")
    if not os.path.isfile(os.path.join(ROOT, "yamr_spark", "__init__.py")):
        die(f"no yamr_spark package beside perfbench/ in {ROOT}; run from a full checkout")

    facts = host_facts()
    cores = facts["nproc"]
    facts["SPARK_GRAFT_CPUS"] = str(cores)
    facts["SPARK_GRAFT_DRIVER_MEM"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    facts["load_1m_start"] = os.getloadavg()[0]
    others = other_spark_jvms()
    flags = []
    if others:
        flags.append(f"{len(others)} other Spark JVM(s) alive: {others}")
    if facts["load_1m_start"] > cores:
        flags.append(f"1-minute load {facts['load_1m_start']:.2f} above {cores} cores")
    for f in flags:
        print(f"perfbench: WARNING: {f}; timings may be inflated", file=sys.stderr)

    inp = prepare_inputs(a.workload, a.seed)
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(WORK, "out")
    for d in (run_dir, out_dir, os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark-local")):
        os.makedirs(d, exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    # a bounded heap keeps the run small on a shared host and its peak
    # memory steady; the engine's own default is 32g
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    env.update(
        SPARK_GRAFT_CPUS=str(cores),
        # the Python workers import yamr_spark, as under `python -m yamr_spark`
        PYTHONPATH=os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "driver.py"),
        "--workload", a.workload,
        "--seed", str(a.seed),
        "--seconds", str(a.seconds),
        "--trace", str(a.trace),
        "--work", run_dir,
        "--inputs", json.dumps(inp),
    ]
    log_path = os.path.join(run_dir, "driver.log")
    become_subreaper()
    # a TERM or INT must still stop the driver's tree (launch's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.time() + DEADLINE_S
    setups = []
    # set-up is reported only untraced
    for k in range(0 if a.trace else EXTRA_SETUPS):
        out = os.path.join(run_dir, f"setup{k}.json")
        code, t_spawn, _ = launch(
            cmd + ["--setup-only", "--out", out], env, run_dir, log_path, SETUP_TIMEOUT_S
        )
        if code != 0 or not os.path.exists(out):
            failed_launch(code, log_path)
        with open(out) as fh:
            setups.append(json.load(fh)["t_ready"] - t_spawn)
    code, t_spawn, peak = launch(
        cmd + ["--out", result_path], env, run_dir, log_path, deadline - time.time()
    )
    facts["load_1m_end"] = os.getloadavg()[0]
    if code != 0 or not os.path.exists(result_path):
        failed_launch(code, log_path)
    with open(result_path) as fh:
        result = json.load(fh)
    setups.append(result["t_ready"] - t_spawn)

    import expected

    exp = expected.load_digests()
    if a.workload == "mapreduce_store":
        exp.update(expected.seeded(inp))
    attempted, failed, failures = check(result, exp)
    metrics, extra = end_to_end(result, setups, peak)
    extra["failed_frac"] = failed / attempted
    record = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "host": facts,
        "host_flags": flags,
        "spark_version": result.get("spark_version"),
        "end_to_end": metrics,
        "extra": extra,
        "failures": failures,
        "ops": result["ops"],
        "passes": result["passes"],
    }
    for f in failures:
        print(f"perfbench: FAILED pass {f['pass']} {f['name']}: {f['why']}", file=sys.stderr)
    if a.trace:
        import report

        layer, table = report.per_layer(result, inp, run_dir, cores, out_dir)
        record["per_layer"] = layer
        record["layer_table"] = table
        print(report.format_table(table, layer))
        shown = {k: {"value": v, "unit": report.UNITS[k]} for k, v in layer.items() if k in report.UNITS}
    else:
        shown = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    tag = f"{a.workload}-trace{a.trace}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": shown}
        )
    )


if __name__ == "__main__":
    main()
