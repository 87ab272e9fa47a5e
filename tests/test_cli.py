"""CLI parity surface (yamr_spark/cli.py): the reference's
yamr.py start_task / task_result lifecycle over the compat shim."""

from __future__ import annotations

import json
import subprocess
import sys
import textwrap

from yamr_spark.cli import load_job_script, render_result, run_script_job

JOB_SCRIPT = textwrap.dedent(
    '''
    import re
    from itertools import groupby

    class Mapper:
        def run_map(self, data):
            return [(w.lower(), 1) for w in re.findall(r"\\w+", data or "")]

    class Reducer:
        def run_reduce(self, pairs):
            return [
                (k, sum(v for _, v in grp))
                for k, grp in groupby(pairs, key=lambda t: t[0])
            ]
    '''
)


# the shape of the reference's map_libs/max_year_temp.py: the mapper
# parses its WHOLE input chunk as one JSON array of [yyyymm, temp] pairs
MAX_TEMP_SCRIPT = textwrap.dedent(
    '''
    import json
    from itertools import groupby

    class Mapper:
        def run_map(self, data):
            return [(int(str(k)[:4]), float(v)) for k, v in json.loads(data)]

    class Reducer:
        def run_reduce(self, pairs):
            return [
                (k, max(v for _, v in grp))
                for k, grp in groupby(pairs, key=lambda t: t[0])
            ]
    '''
)


def _write_fixture(tmp_path):
    script = tmp_path / "wc_job.py"
    script.write_text(JOB_SCRIPT)
    inp = tmp_path / "corpus.txt"
    inp.write_text("the cat sat\nthe cat ran\nThe dog sat\n")
    return str(inp), str(script)


def test_run_script_job_word_count(spark, tmp_path):
    inp, script = _write_fixture(tmp_path)
    df = run_script_job(spark, inp, script)
    got = {r["key"]: r["value"] for r in df.collect()}
    assert got == {"the": 3, "cat": 2, "sat": 2, "ran": 1, "dog": 1}


def test_run_script_job_whole_file_chunks(spark, tmp_path):
    """chunks=True feeds run_map each file whole (the reference's chunk
    semantics): the mapper json.loads the file, which line feeding would
    hand invalid JSON. Pinned against ground truth computed from the
    file in Python."""
    pairs = [
        [201901, 3.5], [201907, 31.0], [201912, 1.0],
        [202001, -2.0], [202008, 29.5], [202103, 12.25],
    ]
    inp = tmp_path / "temperature.json"
    inp.write_text(json.dumps(pairs, indent=1))  # no single line parses
    script = tmp_path / "max_temp_job.py"
    script.write_text(MAX_TEMP_SCRIPT)
    df = run_script_job(
        spark, str(inp), str(script), map_schema="key long, value double", chunks=True
    )
    got = {int(r["key"]): float(r["value"]) for r in df.collect()}
    truth: dict[int, float] = {}
    for k, v in json.loads(inp.read_text()):
        y = int(str(k)[:4])
        truth[y] = max(truth.get(y, float("-inf")), float(v))
    assert got == truth and len(truth) == 3


def test_render_and_result_roundtrip(spark, tmp_path):
    inp, script = _write_fixture(tmp_path)
    df = run_script_job(spark, inp, script)
    lines = render_result(df)
    assert lines[0] == "cat: 2" and "the: 3" in lines
    # task-result path: S6 sink then S7 scan re-renders identically
    from yamr_spark.sources import read_result_json, write_result_json

    out = str(tmp_path / "result")
    write_result_json(df, out)
    back = read_result_json(spark, out, value_type="long")
    assert render_result(back) == lines


def test_load_job_script_rejects_incomplete(tmp_path):
    bad = tmp_path / "bad_job.py"
    bad.write_text("class Mapper:\n    def run_map(self, d):\n        return []\n")
    try:
        load_job_script(str(bad))
        raise AssertionError("expected ValueError for missing Reducer")
    except ValueError as e:
        assert "Reducer" in str(e)


def test_render_capped_truncates_with_warning(spark, tmp_path, capsys):
    """The CLI's default cap: over-cap results truncate (sorted prefix)
    with a stderr note; cap=None is the unbounded reference mode."""
    from yamr_spark.cli import render_capped

    inp, script = _write_fixture(tmp_path)
    df = run_script_job(spark, inp, script)  # 5 distinct keys
    lines = render_capped(df, cap=3)
    assert lines == ["cat: 2", "dog: 1", "ran: 1"]
    assert "truncated at 3 rows" in capsys.readouterr().err
    assert len(render_capped(df, cap=None)) == 5
    # exactly-at-cap: no truncation, no warning
    assert len(render_capped(df, cap=5)) == 5
    assert "truncated" not in capsys.readouterr().err


def test_cli_help_smoke():
    """`python -m yamr_spark --help` exits 0 without starting a JVM."""
    out = subprocess.run(
        [sys.executable, "-m", "yamr_spark", "--help"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=60,
    )
    assert out.returncode == 0
    assert "run" in out.stdout and "task-result" in out.stdout
