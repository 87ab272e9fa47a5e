"""Partition-layout invariance sweep: every registered query must
return BIT-IDENTICAL rows under different shuffle layouts
(spark.sql.shuffle.partitions 8 vs 37) — the proactive gate for the
float-accumulation-order flake class (a float AVG summed in shuffle
order changes last-ulp bits with the layout; the r07 stratified-sample
flake was exactly this). Strict comparison by perfbench/canon.py's
frame_digest: float bits via hex, type-family tags, no rounding.

Run: python scripts/layout_sweep.py [start] [end]   (name-index slice)
     python scripts/layout_sweep.py <substr> ...    (name filter)
Expect final line RESULT: ALL-INVARIANT. Last full run: r10, 230/230.
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.append(os.path.join(ROOT, "perfbench"))
from canon import frame_digest
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .appName("layout-sweep")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e

qs = e.queries()
SF = "/root/testdata/sf0.01"


def digest_at(name, parts):
    """(digest, row count) of ``name``'s result under ``parts`` shuffle
    partitions."""
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    return frame_digest(qs[name](spark, SF).toPandas())


def main():
    fails = []
    names = sorted(qs)
    args = sys.argv[1:]
    if args and not all(a.lstrip("-").isdigit() for a in args):
        # name-substring filter (drive.py convention)
        names = [n for n in names if any(a in n for a in args)]
    elif len(args) > 1:
        names = names[int(args[0]) : int(args[1])]
    for name in names:
        try:
            a, b = digest_at(name, 8), digest_at(name, 37)
            if a != b:
                fails.append(name)
                print(f"  {name}: LAYOUT-SENSITIVE", flush=True)
            else:
                print(f"  {name}: invariant rows={a[1]}", flush=True)
        except Exception as ex:  # noqa: BLE001 — the sweep must finish
            fails.append(name)
            print(f"  {name}: ERROR {type(ex).__name__} {str(ex)[:120]}", flush=True)
    print("RESULT:", "ALL-INVARIANT" if not fails else f"FAILS={fails}", flush=True)
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
