"""Brute-force SymSpell TOP oracle in pure Python.

For each query it scans the whole dictionary: a vectorized bag-distance
bound (a lower bound on any edit distance) discards terms that cannot
be within ``max_distance``, and every remaining term gets an exact
optimal-string-alignment (restricted Damerau) distance. The TOP answer
is the minimum by (distance ASC, count DESC, term ASC) — the engine's
documented tie-break.
"""

from __future__ import annotations

import numpy as np

__all__ = ["osa_distance", "TopOracle"]


def osa_distance(a: str, b: str, max_distance: int) -> int:
    """Optimal-string-alignment distance, or ``max_distance + 1`` when it
    exceeds ``max_distance``."""
    if abs(len(a) - len(b)) > max_distance:
        return max_distance + 1
    prev2: list[int] = []
    prev = list(range(len(b) + 1))
    for i in range(1, len(a) + 1):
        cur = [i] + [0] * len(b)
        ai = a[i - 1]
        for j in range(1, len(b) + 1):
            cost = 0 if ai == b[j - 1] else 1
            v = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if i > 1 and j > 1 and ai == b[j - 2] and a[i - 2] == b[j - 1]:
                v = min(v, prev2[j - 2] + 1)
            cur[j] = v
        if min(cur) > max_distance:
            return max_distance + 1
        prev2, prev = prev, cur
    return prev[-1] if prev[-1] <= max_distance else max_distance + 1


def _bags(strings: list[str]) -> np.ndarray:
    out = np.zeros((len(strings), 27), dtype=np.int16)
    for r, s in enumerate(strings):
        for ch in s:
            o = ord(ch) - 97
            out[r, o if 0 <= o < 26 else 26] += 1
    return out


class TopOracle:
    def __init__(self, words: dict[str, int], max_distance: int = 2):
        self.terms = list(words)
        self.counts = np.array([words[t] for t in self.terms], dtype=np.int64)
        self.lens = np.array([len(t) for t in self.terms], dtype=np.int16)
        self.bags = _bags(self.terms)
        self.max_distance = max_distance

    def top(self, query: str) -> tuple[str, int, int] | None:
        """-> (term, distance, count) of the best suggestion, or None."""
        d = self.max_distance
        qb = _bags([query])[0]
        diff = self.bags - qb
        # bag distance: max(chars only in the term, chars only in the query)
        bag = np.maximum(np.clip(diff, 0, None).sum(1), np.clip(-diff, 0, None).sum(1))
        cand = np.flatnonzero((bag <= d) & (np.abs(self.lens - len(query)) <= d))
        best = None
        for i in cand:
            t = self.terms[i]
            dist = osa_distance(query, t, d)
            if dist > d:
                continue
            key = (dist, -int(self.counts[i]), t)
            if best is None or key < best:
                best = key
        if best is None:
            return None
        return best[2], best[0], -best[1]
