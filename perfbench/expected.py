"""Expected outputs, computed independently of Spark in DuckDB.

Fixed-data queries: the registry's own DuckDB oracles
(``registry.all_oracles()``) run over the fixed generated tables, and
the digests are stored in ``expected/digests.json``. Regenerate them
(after changing the table generator or a workload's query list) with::

    python3 perfbench/expected.py

Seeded inputs: ``seeded()`` recomputes word counts, per-year maxima and
the keep-latest store state from the run's own inputs, every run.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "expected", "digests.json")
sys.path.insert(0, HERE)

import canon  # noqa: E402
import inputs  # noqa: E402
import workloads  # noqa: E402


def _connect(tables_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in inputs.TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')"
        )
    return con


def oracle_digests(tables_dir: str, names) -> dict[str, dict]:
    from yamr_spark.registry import all_oracles

    oracles = all_oracles()
    con = _connect(tables_dir)
    out = {}
    for name in names:
        t0 = time.time()
        digest, rows = canon.frame_digest(con.execute(oracles[name]).fetchdf())
        out[f"query:{name}"] = {"digest": digest, "rows": rows}
        print(f"  {name}: rows={rows} ({time.time() - t0:.1f}s)", file=sys.stderr)
    return out


def load_digests() -> dict[str, dict]:
    with open(DIGESTS) as fh:
        return json.load(fh)["digests"]


def _render(rows) -> list[str]:
    return [f"{k}: {v}" for k, v in rows]


def seeded(inp: dict) -> dict[str, dict]:
    """Expected digests for the seeded ``mapreduce_store`` inputs."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    out: dict[str, dict] = {}

    def put(key, d):
        out[key] = {"digest": d[0], "rows": d[1]}

    texts = []
    for path in sorted(glob.glob(os.path.join(inp["corpus"], "*.txt"))):
        with open(path, encoding="utf-8") as fh:
            texts.append(fh.read())
    import pandas as pd

    con.register("corpus", pd.DataFrame({"content": texts}))
    words = con.execute(
        r"""
        SELECT w AS key, CAST(COUNT(*) AS BIGINT) AS value FROM (
          SELECT unnest(regexp_extract_all(lower(content), '[\p{L}\p{N}_]+')) AS w
          FROM corpus) GROUP BY w
        """
    ).fetchall()
    wc = canon.lines_digest(_render(sorted(words)))
    put("lines:wc_lines", wc)
    put("lines:wc_chunks", wc)
    temps = con.execute(
        f"""
        SELECT CAST(substr(line, 1, 4) AS BIGINT) AS key,
               MAX(CAST(split_part(line, ',', 2) AS DOUBLE)) AS value
        FROM read_csv('{inp["temps"]}/*.csv', columns={{'line': 'VARCHAR'}},
                      header=false, delim='|', quote='', escape='')
        GROUP BY 1
        """
    ).fetchall()
    put("lines:temps_region", canon.lines_digest(_render(sorted(temps))))
    batches = [os.path.join(inp["store"], "load.parquet")] + [
        os.path.join(inp["store"], f"cdc-{i}.parquet") for i in range(1, workloads.N_CDC + 1)
    ]
    for k in range(len(batches)):
        files = ", ".join(f"'{b}'" for b in batches[: k + 1])
        pdf = con.execute(
            f"""
            WITH s AS (SELECT * FROM read_parquet([{files}])),
            latest AS (
              SELECT * FROM s QUALIFY row_number() OVER (
                PARTITION BY o_orderkey ORDER BY version DESC, seq DESC) = 1)
            SELECT o_orderstatus,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(cents) AS BIGINT) AS cents,
                   CAST(SUM(version) AS BIGINT) AS versions,
                   CAST(MAX(seq) AS BIGINT) AS max_seq
            FROM latest GROUP BY o_orderstatus
            """
        ).fetchdf()
        put(f"store:{k}", canon.frame_digest(pdf))
    return out


def live_state_bytes(inp: dict) -> int:
    """Bytes of the final keep-latest state written as one parquet file:
    the denominator of the stores' space amplification."""
    import duckdb

    files = [os.path.join(inp["store"], "load.parquet")] + [
        os.path.join(inp["store"], f"cdc-{i}.parquet") for i in range(1, workloads.N_CDC + 1)
    ]
    dst = os.path.join(inp["store"], "live.parquet")
    if not os.path.exists(dst):
        con = duckdb.connect()
        lst = ", ".join(f"'{f}'" for f in files)
        con.execute(
            f"""COPY (SELECT * FROM read_parquet([{lst}]) QUALIFY row_number() OVER (
                PARTITION BY o_orderkey ORDER BY version DESC, seq DESC) = 1)
                TO '{dst}.tmp' (FORMAT PARQUET)"""
        )
        os.rename(f"{dst}.tmp", dst)
    return os.path.getsize(dst)


def main() -> None:
    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    tables = inputs.write_tables(os.path.join(HERE, ".work", f"tables-{inputs.TABLE_SEED}"))
    names = list(workloads.DEDUP_QUERIES) + list(workloads.COMPAT_QUERIES)
    digests = oracle_digests(tables, names)
    os.makedirs(os.path.dirname(DIGESTS), exist_ok=True)
    with open(DIGESTS, "w") as fh:
        json.dump(
            {
                "tables_seed": inputs.TABLE_SEED,
                "rows": inputs.ROWS,
                "regenerate": "python3 perfbench/expected.py",
                "digests": digests,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
        fh.write("\n")
    print(f"wrote {len(digests)} digests to {os.path.relpath(DIGESTS, root)}")


if __name__ == "__main__":
    main()
