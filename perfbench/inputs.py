"""Seeded inputs for every workload.

Everything the engine reads during a run is generated here, so a run
needs nothing outside its checkout:

- ``write_tables``: the ten star-schema tables the registered queries
  read, in the shapes and value distributions of the sf0.01 test data
  (row counts, key ranges, vocabularies). The query workload uses ONE
  fixed table seed, so its expected results can be computed once and
  stored as digests (``expected.py``); ``--seed`` only permutes its
  operation order.
- ``write_corpus`` / ``write_temps``: the MapReduce job inputs — a Zipf
  text corpus over a Latin + Cyrillic vocabulary, and ``yyyymm,temp``
  lines — drawn from the run's seed.
- ``write_store_batches``: the keyed-store load (every ``orders`` key)
  and the CDC batches applied to it, drawn from the run's seed.

Every generator is a pure function of its seed (numpy PCG64), and each
output is written to a temporary name and renamed into place, so an
interrupted run never leaves a half-written input behind.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240101
TABLE_NAMES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# sf0.01 row counts of the generated star schema
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
PART_ADJ = "small red blue hot old large new cold".split()
PART_NOUN = "ring widget bolt gear gizmo plate anvil rod".split()

# corpus vocabulary: Latin and Cyrillic stems, suffixed to a few
# thousand distinct words so the Zipf tail is long
LATIN_STEMS = (
    "lorem ipsum dolor amet consectetur adipiscing elit sed tempor incididunt "
    "labore dolore magna aliqua enim minim veniam quis nostrud exercitation "
    "ullamco laboris nisi aliquip commodo consequat duis aute irure"
).split()
CYRILLIC_STEMS = (
    "онегин татьяна ленский ольга дядя честных правил когда шутку занемог "
    "уважать заставил лучше выдумать мог пример другим наука боже скука "
    "больным сидеть день ночь отходя ни шагу прочь"
).split()
SUFFIXES = ["", "a", "o", "um", "es", "ов", "ая", "ий", "ами", "ет"]
PUNCT = [" ", " ", " ", " ", " ", ", ", ". ", "; ", "! ", "\n"]


def _atomic_dir(path: str, fill) -> str:
    """Create ``path`` by filling a sibling temp dir and renaming it in;
    a no-op when ``path`` already exists (inputs are pure functions of
    their seed, so an existing directory is the same data)."""
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    fill(tmp)
    try:
        os.rename(tmp, path)
    except OSError:  # a concurrent writer won the rename: same bytes
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Uniform prices with two decimals, exact as integer cents / 100."""
    return rng.integers(lo, hi, n) / 100.0


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n).astype("datetime64[D]")).astype("datetime64[us]")


def _pick(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def make_tables(seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = ROWS["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _cents(rng, -99_999, 1_000_000, n),
            "c_mktsegment": _pick(
                rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n
            ),
        }
    )
    n = ROWS["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _cents(rng, -99_999, 1_000_000, n),
        }
    )
    n = ROWS["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(_pick(rng, PART_ADJ, n), _pick(rng, PART_NOUN, n))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
            "p_type": _pick(
                rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n
            ),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.array([9000 + i % 1000 for i in range(n)]) / 10.0,
        }
    )
    n = ROWS["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": _cents(rng, 100_000, 50_000_000, n),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
            ),
        }
    )
    n = ROWS["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _cents(rng, 90_000, 10_500_000, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
        }
    )
    n = ROWS["events"]
    gaps_us = rng.exponential(259e6, n).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps_us).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, n), pa.int64()),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        # every 25th document after the first 50 is a near copy of an
        # earlier one (a few words replaced), so the dedup operators
        # have real groups to find
        if i >= 50 and i % 25 == 0:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = DOC_WORDS[int(rng.integers(0, len(DOC_WORDS)))]
        else:
            words = _pick(rng, DOC_WORDS, int(rng.integers(10, 100)))
        texts.append(" ".join(words))
    langs = np.array(["en", "de", "es", "fr", "zh"])
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": langs[rng.choice(5, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])].tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    n = ROWS["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, 64))
    vecs = rng.normal(size=(n, 64)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, seed: int = TABLE_SEED) -> str:
    def fill(tmp: str) -> None:
        for name, tbl in make_tables(seed).items():
            pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))

    return _atomic_dir(out_dir, fill)


def _vocabulary() -> list[str]:
    words = [s + x for s in LATIN_STEMS for x in SUFFIXES[:5]]
    words += [s + x for s in CYRILLIC_STEMS for x in SUFFIXES[5:]]
    words += [s + x for s in LATIN_STEMS + CYRILLIC_STEMS for x in ("", "s")]
    return sorted(set(words))


def corpus_text(rng: np.random.Generator, n_bytes: int) -> str:
    """Zipf-distributed words over the Latin + Cyrillic vocabulary,
    mixed case, separated by spaces, punctuation and newlines."""
    vocab = _vocabulary()
    out: list[str] = []
    size = 0
    while size < n_bytes:
        ranks = np.minimum(rng.zipf(1.2, 4096), len(vocab)) - 1
        caps = rng.random(4096) < 0.1
        seps = rng.integers(0, len(PUNCT), 4096)
        for r, cap, s in zip(ranks, caps, seps):
            w = vocab[r]
            w = w.capitalize() if cap else w
            out.append(w + PUNCT[s])
            size += len(w.encode()) + len(PUNCT[s])
    return "".join(out)


def write_corpus(out_dir: str, seed: int, n_files: int, bytes_per_file: int) -> str:
    def fill(tmp: str) -> None:
        rng = np.random.default_rng([seed, 1])
        for i in range(n_files):
            with open(os.path.join(tmp, f"part-{i:02d}.txt"), "w", encoding="utf-8") as fh:
                fh.write(corpus_text(rng, bytes_per_file))

    return _atomic_dir(out_dir, fill)


def write_temps(out_dir: str, seed: int, n_files: int, lines_per_file: int) -> str:
    """``yyyymm,temp`` lines; temps are one-decimal values, written with
    Python's shortest float repr (some read as integers, like the
    reference's mixed int/float temperature fixture)."""

    def fill(tmp: str) -> None:
        rng = np.random.default_rng([seed, 2])
        for i in range(n_files):
            years = rng.integers(1950, 2024, lines_per_file)
            months = rng.integers(1, 13, lines_per_file)
            temps = rng.integers(-400, 450, lines_per_file) / 10.0
            body = "".join(
                f"{y}{m:02d},{repr(float(t)) if t % 1 else int(t)}\n"
                for y, m, t in zip(years, months, temps)
            )
            with open(os.path.join(tmp, f"temps-{i:02d}.csv"), "w") as fh:
                fh.write(body)

    return _atomic_dir(out_dir, fill)


STORE_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("version", pa.int64()),
        ("seq", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("cents", pa.int64()),
    ]
)


def write_store_batches(out_dir: str, seed: int, orders_path: str, n_cdc: int, frac: float) -> str:
    """``load.parquet``: every ``orders`` key at version 0.
    ``cdc-<i>.parquet``: a seeded ``frac`` of the keys re-written at
    version ``i`` (new status and price), each key at most once per
    batch. ``seq`` is unique across all batches, so keep-latest by
    (version, seq) has one winner per key."""

    def fill(tmp: str) -> None:
        rng = np.random.default_rng([seed, 3])
        orders = pq.read_table(orders_path, columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"])
        n = orders.num_rows
        keys = orders.column("o_orderkey").to_numpy()
        load = pa.table(
            {
                "o_orderkey": keys,
                "version": np.zeros(n, np.int64),
                "seq": np.arange(n, dtype=np.int64),
                "o_custkey": orders.column("o_custkey").to_numpy(),
                "o_orderstatus": orders.column("o_orderstatus"),
                "cents": np.round(orders.column("o_totalprice").to_numpy() * 100).astype(np.int64),
            },
            schema=STORE_SCHEMA,
        )
        pq.write_table(load, os.path.join(tmp, "load.parquet"))
        seq = n
        for i in range(1, n_cdc + 1):
            m = int(n * frac)
            pick = np.sort(rng.choice(keys, m, replace=False))
            batch = pa.table(
                {
                    "o_orderkey": pick,
                    "version": np.full(m, i, np.int64),
                    "seq": np.arange(seq, seq + m, dtype=np.int64),
                    "o_custkey": rng.integers(0, ROWS["customer"], m),
                    "o_orderstatus": _pick(rng, ["F", "O", "P"], m),
                    "cents": rng.integers(100_000, 50_000_000, m),
                },
                schema=STORE_SCHEMA,
            )
            seq += m
            pq.write_table(batch, os.path.join(tmp, f"cdc-{i}.parquet"))

    return _atomic_dir(out_dir, fill)
