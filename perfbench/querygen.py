"""Seeded query stream over a built index's dictionary.

Shapes follow FIXTURES F8: 40% single term, 30% OR of 2 terms, 20% AND
of 2 terms, 10% OR of 3 terms. Terms are drawn from a Zipf law
(s = 1.1) over the dictionary ranked by document frequency, so popular
queries read long postings, the tail reads rare terms, and queries in
one batch share terms the way a real query log does.
"""

from __future__ import annotations

import numpy as np

SHAPES = ("term", "or2", "and2", "or3")
SHAPE_WEIGHTS = (0.4, 0.3, 0.2, 0.1)
SHAPE_ARITY = {"term": 1, "or2": 2, "and2": 2, "or3": 3}
ZIPF_S = 1.1


def rank_terms(term_df: dict[str, int]) -> list[str]:
    """Dictionary terms ordered by df descending, ties by term."""
    return sorted(term_df, key=lambda t: (-int(term_df[t]), t))


class QueryStream:
    """Deterministic stream of ``(shape, terms)`` specs for one seed."""

    def __init__(self, ranked_terms: list[str], seed: int,
                 s: float = ZIPF_S):
        if len(ranked_terms) < 3:
            raise ValueError("need at least 3 dictionary terms")
        self.terms = list(ranked_terms)
        self.rng = np.random.default_rng(seed)
        w = 1.0 / np.arange(1, len(self.terms) + 1, dtype=np.float64) ** s
        self.cdf = np.cumsum(w / w.sum())

    def _draw_terms(self, n: int) -> tuple[str, ...]:
        picked: list[str] = []
        while len(picked) < n:
            r = int(np.searchsorted(self.cdf, self.rng.random(), side="right"))
            t = self.terms[min(r, len(self.terms) - 1)]
            if t not in picked:
                picked.append(t)
        return tuple(picked)

    def spec(self, shape: str | None = None) -> tuple[str, tuple[str, ...]]:
        if shape is None:
            shape = SHAPES[int(self.rng.choice(len(SHAPES), p=SHAPE_WEIGHTS))]
        return shape, self._draw_terms(SHAPE_ARITY[shape])

    def take(self, n: int) -> list[tuple[str, tuple[str, ...]]]:
        return [self.spec() for _ in range(n)]


def to_query(spec: tuple[str, tuple[str, ...]]):
    """Engine query object for one ``(shape, terms)`` spec."""
    from lucene_solr_spark.search.queries import BooleanQuery, TermQuery

    shape, terms = spec
    tqs = [TermQuery(t) for t in terms]
    if shape == "term":
        return tqs[0]
    if shape == "and2":
        return BooleanQuery.of(must=tqs)
    return BooleanQuery.of(should=tqs)


def bloom_sets(spec: tuple[str, tuple[str, ...]]) -> tuple[set, set]:
    """(must terms, should terms) of a spec, as
    ``SegmentBlooms.excluded_segments`` takes them."""
    shape, terms = spec
    return (set(terms), set()) if shape == "and2" else (set(), set(terms))
