"""Per-query certification-stamp ages from the CORRECTNESS_r*.json
artifacts — the input to ``registry.all_queries()``'s order.

For each registered query: the latest round a driver row covered it,
whether that row was green, and which registered queries have never
been stamped. Run: python scripts/stamp_age.py
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yamr_spark.registry import all_queries, load_stamps  # noqa: E402


def main() -> None:
    stamps = load_stamps()
    registered = list(all_queries())
    never = [n for n in registered if n not in stamps]
    red = [n for n, (_, ok) in stamps.items() if not ok]
    ages = Counter(r for r, _ in stamps.values())
    print("stamp-age histogram:", dict(sorted(ages.items())))
    print(f"registered {len(registered)}; ever-stamped {len(stamps)}; "
          f"never-stamped {len(never)}; red-latest {len(red)}")
    if never:
        print("never-stamped:", sorted(never))
    if red:
        print("red-latest:", sorted(red))
    oldest = min(ages)
    print(f"oldest stamps (r{oldest:02d}):",
          sorted(n for n, (r, _) in stamps.items() if r == oldest))


if __name__ == "__main__":
    main()
