"""Distributed (sharded) search with pluggable stats caches.

Reference: Solr distributed search (handler/component/QueryComponent's
shard fan-out + merge) and the distributed-IDF stats caches in
``solr/core/src/java/org/apache/solr/search/stats/``:

* ``LocalStatsCache.java`` — Solr's DEFAULT: every shard scores with
  its OWN term/collection statistics; ranks can diverge from a
  monolithic index when shards are statistically skewed.
* ``ExactStatsCache.java`` — one extra stats round-trip: per-term
  docFreq and the collection counts are aggregated across shards
  (``mergeToGlobalStats`` / ``returnLocalStats``), and every shard
  scores with the GLOBAL weights — results are rank- and score-
  identical to one big index.

Merge follows ``TopDocs.merge`` (lucene/search/TopDocs.java:105-117,
188-230): score desc, then shard index, then per-shard doc id — which
is (score desc, global docid asc), global docid = shard offset + local
docid, so one driver merge of every shard's leaf rows realizes it.
With shards produced by :func:`..index.segments.split_index` (shard
order = slice order), the (shard, local-docid) tie-break is EXACTLY
the monolithic docid tie-break, which is what makes the exact-stats
mode bit-identical end-to-end.

Scale shape: the stats round is one driver-side dictionary lookup per
shard (no Spark job); each shard runs the normal
one-job compressed-path leaf for a batch, and for a single query the
same rendering choice as ``SegmentSearcher.search`` (driver-local when
the shard's own postings of the query fit its serving budget); the
merge touches at most segments * queries * k rows per shard on the
driver. Shards never talk to each other — the same topology as
SolrCloud's scatter-gather.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import SparkSession

from ..index.segments import SegmentIndex, _next_docid
from . import bm25
from .queries import Query, TopDoc
from .wand import SegmentSearcher, _hits_by_qid, _merge_topk, _top_docs


class ShardedSearcher:
    """Scatter-gather searcher over independent shard indexes.

    ``stats="exact"`` (ExactStatsCache) or ``"local"``
    (LocalStatsCache). Global docids = shard offset + local docid,
    offsets the cumulative ``next_docid`` of the shards before (the
    split_index / addIndexes numbering).
    """

    def __init__(self, roots: list[str], spark: SparkSession,
                 stats: str = "exact"):
        if stats not in ("exact", "local"):
            raise ValueError(f"unknown stats cache {stats!r}")
        self.stats_mode = stats
        self.shards = [SegmentSearcher(SegmentIndex(r, spark)) for r in roots]
        self.offsets = []
        off = 0
        for s in self.shards:
            self.offsets.append(off)
            off += _next_docid(s.index, s.index.manifest())
        self.doc_count = sum(s.doc_count for s in self.shards)
        self.sum_ttf = sum(s.sum_ttf for s in self.shards)
        if stats == "exact":
            # collection-level stats merge (ExactStatsCache.java:
            # mergeToGlobalStats role), PER FIELD — every shard scores
            # every field with global docCount/avgdl; per-term dfs
            # resolve per query
            fields: set[str] = set()
            for s in self.shards:
                fields |= set(s.field_stats)
            for f in sorted(fields):
                dc = sum(int(s.field_stats.get(f, {}).get("doc_count", 0))
                         for s in self.shards)
                ttf = sum(int(s.field_stats.get(f, {}).get("sum_ttf", 0))
                          for s in self.shards)
                scorer = bm25.BM25Scorer(max(dc, 1), max(ttf, 1))
                for s in self.shards:
                    s.set_scorer(scorer, field=f)

    def _query_terms(self, q: Query) -> set[str]:
        """FIELD-QUALIFIED terms of ``q`` (the _qual rendering
        SegmentSearcher keys stats/blocks by — a bare-term key would
        silently resolve df=0 for any non-content field), unioned over
        each shard's rewrite so multi-term expansions contribute their
        per-shard expansions to the stats round."""
        out: set[str] = set()
        for s in self.shards:
            out |= SegmentSearcher._general_terms(s.rewrite(q))
        return out

    def _exact_stats(self, terms: set[str]) -> tuple:
        """(global term → docFreq = Σ shard docFreq, each shard's own
        term → docFreq): the stats round-trip
        (ExactStatsCache.returnLocalStats → merge)."""
        own = [s._stats(terms) for s in self.shards]
        out: dict[str, int] = {}
        for dfs in own:
            for t, df in dfs.items():
                out[t] = out.get(t, 0) + df
        return out, own

    def _global_rows(self, parts: list) -> tuple:
        """Every shard's leaf rows (qidx, docid, score), docids shifted
        to global ids: one TopDocs.merge input."""
        return (np.concatenate([p[0] for p in parts]),
                np.concatenate([p[1] + off
                                for p, off in zip(parts, self.offsets)]),
                np.concatenate([p[2] for p in parts]))

    def search_many(self, queries: dict[str, Query], k: int = 10
                    ) -> dict[str, list[TopDoc]]:
        """Batched scatter-gather: ONE batched job per shard (the
        shard-side leaf amortizes decodes across the whole batch),
        exact-stats mode resolves the batch's full term set in one
        global round, and one driver merge with the TopDocs.merge
        comparator. Global stats thread through each searcher's stats
        override — never by mutating the shared _df_map, which is both
        non-reentrant and the multi-term rewrite dictionary."""
        qs = list(queries.values())
        stats = None
        if self.stats_mode == "exact":
            term_set: set[str] = set()
            for q in qs:
                term_set |= self._query_terms(q)
            stats, _own = self._exact_stats(term_set)
        parts = [s._leaf_arrays(qs, k, stats) for s in self.shards]
        return _hits_by_qid(list(queries),
                            _merge_topk(*self._global_rows(parts), k))

    def search(self, q: Query, k: int = 10) -> list[TopDoc]:
        """One query over every shard, each rendered as
        ``SegmentSearcher.search`` renders it: driver-local when the
        shard's OWN postings of the query fit its serving budget
        (global stats only set the weights), else one job."""
        if self.stats_mode == "exact":
            stats, own = self._exact_stats(self._query_terms(q))
            parts = [s._query_arrays(q, k, stats, dfs)
                     for s, dfs in zip(self.shards, own)]
        else:
            parts = [s._query_arrays(q, k) for s in self.shards]
        return _top_docs(self._global_rows(parts), k)
