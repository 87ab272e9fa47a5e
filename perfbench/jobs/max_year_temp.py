"""Maximum temperature per year, written as a reference-style job
script. ``run_map`` reads ``yyyymm,temp`` lines (one line, or a whole
chunk of them) and emits ``(year, temp)``; ``run_reduce`` receives a
region's key-sorted pairs and emits ``(year, max temp)``."""

from itertools import groupby


class Mapper:
    def run_map(self, data):
        out = []
        for line in data.splitlines():
            if line:
                ym, temp = line.split(",", 1)
                out.append((int(ym[:4]), float(temp)))
        return out


class Reducer:
    def run_reduce(self, pairs):
        return [(k, max(v for _, v in grp)) for k, grp in groupby(pairs, key=lambda t: t[0])]
