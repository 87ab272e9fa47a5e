"""The benchmark's own tests: input determinism, the strict comparator,
the tail-percentile rule and span self-time arithmetic. No Spark needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import canon  # noqa: E402
import inputs  # noqa: E402
import stats  # noqa: E402
from tracing import self_times  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def _seeded_inputs(base: str, seed: int, tables: str) -> list[str]:
    return [
        inputs.write_corpus(os.path.join(base, "corpus"), seed, 3, 20_000),
        inputs.write_temps(os.path.join(base, "temps"), seed, 2, 500),
        inputs.write_store_batches(
            os.path.join(base, "store"), seed, os.path.join(tables, "orders.parquet"), 2, 0.1
        ),
    ]


@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    return inputs.write_tables(str(tmp_path_factory.mktemp("t") / "tables"))


def test_tables_same_seed_identical_other_seed_differs(tmp_path, tables):
    again = inputs.write_tables(str(tmp_path / "again"))
    other = inputs.write_tables(str(tmp_path / "other"), seed=inputs.TABLE_SEED + 1)
    assert _same_tree(tables, again)
    names = sorted(os.listdir(tables))
    _, mismatch, _ = filecmp.cmpfiles(tables, other, names, shallow=False)
    # region and nation are fixed lookup tables; every generated one differs
    assert set(mismatch) == {f"{t}.parquet" for t in inputs.TABLE_NAMES} - {
        "region.parquet",
        "nation.parquet",
    }


def test_seeded_inputs_byte_identical_per_seed(tmp_path, tables):
    a = _seeded_inputs(str(tmp_path / "a"), 7, tables)
    b = _seeded_inputs(str(tmp_path / "b"), 7, tables)
    c = _seeded_inputs(str(tmp_path / "c"), 8, tables)
    for x, y, z in zip(a, b, c):
        assert _same_tree(x, y)
        assert not _same_tree(x, z)


def test_corpus_mixes_latin_and_cyrillic():
    import numpy as np

    text = inputs.corpus_text(np.random.default_rng(0), 50_000)
    assert any("a" <= ch <= "z" for ch in text)
    assert any("а" <= ch <= "я" for ch in text)


def _digest(values) -> str:
    return canon.frame_digest(pd.DataFrame({"v": values}))[0]


def test_comparator_int_is_not_float():
    assert _digest([1]) != _digest([1.0])


def test_comparator_bool_is_not_int():
    assert _digest(pd.Series([True], dtype=object)) != _digest(pd.Series([1], dtype=object))


def test_comparator_compares_float_bits():
    assert _digest([0.1 + 0.2]) != _digest([0.3])
    assert _digest([0.5]) == _digest([0.5])


def test_comparator_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2], "y": ["p", "q"]})
    b = pd.DataFrame({"y": ["q", "p"], "x": [2, 1]})
    assert canon.frame_digest(a) == canon.frame_digest(b)


def test_comparator_numpy_and_python_scalars_agree():
    import numpy as np

    assert canon.canon(np.int64(3)) == canon.canon(3)
    assert canon.canon(np.float64(2.5)) == canon.canon(2.5)
    assert canon.canon(np.array([1, 2])) == canon.canon([1, 2])


def test_lines_digest_is_order_sensitive():
    assert canon.lines_digest(["a: 1", "b: 2"]) != canon.lines_digest(["b: 2", "a: 1"])


@pytest.mark.parametrize(
    "n,pct",
    [(1, 0), (10, 0), (11, 9), (20, 50), (37, 72), (100, 90), (1000, 99), (10_000, 99)],
)
def test_tail_percentile(n, pct):
    value, p, count = stats.tail([float(i) for i in range(1, n + 1)])
    assert (p, count) == (pct, n)
    if n > 10:
        # at least ten samples lie beyond the reported value
        assert n - value >= 10


def test_tail_percentile_is_the_highest_that_qualifies():
    import math

    for n in range(11, 400):
        value, p, _ = stats.tail([float(i) for i in range(1, n + 1)])
        assert n - value >= 10
        assert n - math.ceil((p + 1) * n / 100) < 10


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
    assert stats.tail(xs) == stats.tail(sorted(xs))


def _span(i, parent, layer, start, end):
    return {"id": i, "parent": parent, "layer": layer, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [
        _span(0, None, "op", 0.0, 10.0),
        _span(1, 0, "build", 0.0, 6.0),
        _span(2, 1, "materialize", 1.0, 4.0),
        _span(3, 1, "tables", 4.0, 5.0),
        _span(4, 0, "sink", 6.0, 9.5),
    ]
    st = self_times(spans)
    assert st["op"] == pytest.approx(0.5)
    assert st["build"] == pytest.approx(2.0)
    assert st["materialize"] == pytest.approx(3.0)
    assert st["tables"] == pytest.approx(1.0)
    assert st["sink"] == pytest.approx(3.5)
    # self times partition the root span
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_sums_layers_across_spans():
    spans = [
        _span(0, None, "op", 0.0, 4.0),
        _span(1, 0, "tables", 0.0, 1.0),
        _span(2, 0, "tables", 2.0, 3.0),
    ]
    assert self_times(spans) == pytest.approx({"op": 2.0, "tables": 2.0})
