"""Word count, written as a reference-style job script: a ``Mapper``
whose ``run_map`` turns one chunk of text into ``(word, 1)`` pairs and a
``Reducer`` whose ``run_reduce`` folds key-sorted pairs into
``(word, count)``. Tokens are lowercased ``\\w+`` runs (Unicode), so
Latin and Cyrillic words both count."""

import re
from itertools import groupby

_WORD = re.compile(r"\w+", re.UNICODE)


class Mapper:
    def run_map(self, data):
        return [(w.lower(), 1) for w in _WORD.findall(data)]


class Reducer:
    def run_reduce(self, pairs):
        return [(k, sum(v for _, v in grp)) for k, grp in groupby(pairs, key=lambda t: t[0])]
