"""Strict output comparison: a canonical, type-tagged form of a result
and its digest.

Two results are equal iff their digests are equal. The comparison is as
strict as the repository's strict oracle check: floats compare by their
exact bits (``float.hex``), an integer never equals a float
(``1`` vs ``1.0``), a bool is not an integer (``True`` vs ``1``), and
only pandas materialisation artifacts are forgiven (numpy scalar
wrappers, ``Timestamp`` vs ``datetime``, ``ndarray`` vs ``list``).
Rows compare order-insensitively; columns by name.
"""

from __future__ import annotations

import decimal
import hashlib
import math

import numpy as np


def canon(v):
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return ("f", "nan") if math.isnan(f) else ("f", f.hex())
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("arr", tuple(canon(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted((k, canon(x)) for k, x in v.items())))
    if isinstance(v, (bytes, bytearray)):
        return ("bin", bytes(v))
    if hasattr(v, "isoformat"):  # date / datetime / pandas.Timestamp
        return ("t", v.isoformat())
    return (type(v).__name__, v)


def frame_digest(pdf) -> tuple[str, int]:
    """(digest, row count) of a pandas DataFrame."""
    cols = sorted(pdf.columns)
    rows = sorted(
        (tuple(canon(v) for v in row) for row in pdf[cols].itertuples(index=False)),
        key=repr,
    )
    return _digest((tuple(cols), tuple(rows))), len(rows)


def lines_digest(lines: list[str]) -> tuple[str, int]:
    """(digest, line count) of rendered output lines; order matters."""
    return _digest(("lines", tuple(lines))), len(lines)


def _digest(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()
