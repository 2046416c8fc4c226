"""BM25 top-k over the compressed segment index (codec v2).

One evaluator serves every query shape and every entry point: the
driver compiles each (rewritten) query into a plain-tuple tree with
its BM25 weights resolved (``SegmentSearcher._compile_general``), and
a per-segment step (``_segment_topk``) evaluates the trees over whole
decoded posting lists (``_eval_node``) — vectorized, exhaustive within
a segment (a BulkScorer without dynamic pruning), so results are rank-
and score-identical to IndexSearcher/OracleIndex by construction.

One reader feeds it: ``_read_segment`` reads a segment's block rows
of the wanted terms straight from its Parquet files (pyarrow, no
Spark), and ``_SegGroups`` decodes them in one vectorized pass into
per-term arrays (docids, unit scores, tfs, norms; positions on first
use). Two renderings read through them.

Distributed rendering (``search_many`` / ``search_df``, and ``search``
for a query whose postings exceed the serving budget):

  * leaves = segments (contiguous docID ranges). After Bloom
    exclusion, one ``mapInPandas`` task per live segment — no exchange
    under the leaf — reads, decodes, evaluates, masks deleted docs
    and cuts to per-segment top-k (``_segment_topk``) = Lucene's
    per-leaf ``BulkScorer`` (search/IndexSearcher.java:634-656).
  * merge = TopDocs.merge (TopDocs.java:188-230) by (score desc,
    docid asc): ``search``/``search_many`` collect the leaf rows as
    Arrow in one job and merge them in the driver (``_merge_topk``);
    ``search_df`` is the lazy DataFrame form (``orderBy.limit(k)``)
    that components join against.

Driver-local rendering (``search`` for a query whose postings fit the
serving budget, ``search_local`` always): a bytes-capped per-term
cache filled per segment by the same reader and ``_SegGroups``, the
same ``_segment_topk`` per segment, and the same ``_merge_topk`` —
no Spark job, cold or hot. ``search`` picks its rendering per query:
Σ df of the compiled tree's terms × the decoded bytes per posting
(``POSTING_BYTES``) against ``LOCAL_CACHE_BYTES``.

Scoring float discipline: per-term float32 scores, per-doc sums
accumulated in float64 and cast to float32 once (WANDScorer.java:445-453).
"""

from __future__ import annotations

import collections

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..index import codec
from ..index.segments import (FIELD_SEP, SegmentIndex, job_description,
                               summary_docs)
from . import bm25
from .executor import _collect_terms, _str_in
from .sloppy import _phrase_freqs
from .queries import (
    BooleanQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    MatchNoDocsQuery,
    MultiPhraseQuery,
    PhraseQuery,
    Query,
    SynonymQuery,
    TermQuery,
    TopDoc,
)


def _field_of(qterm: str) -> str:
    """Field of a qualified postings key (segments.FIELD_SEP)."""
    i = qterm.find(FIELD_SEP)
    return qterm[:i] if i >= 0 else "content"


def _qual(field: str, term: str) -> str:
    return term if field == "content" else field + FIELD_SEP + term


def _cache_for(cache, qterm: str):
    """Resolve a term's norm cache: ``cache`` is either one ndarray
    (single-field index) or a {field: ndarray} dict (per-field codec —
    avgdl, hence the cache, is per field: BM25Similarity.java:79)."""
    if isinstance(cache, dict):
        return cache[_field_of(qterm)]
    return cache


class _SegGroups(dict):
    """One segment's postings, decoded ONCE: {qterm: entry}. The only
    decoded-postings structure — the Spark leaf
    (:func:`segment_eval_topk`) evaluates over one per segment, and the
    serving cache (``SegmentSearcher._local_tbs``) is filled from them.

    Construction sorts the scanned block rows by (term, block_ord) and
    decodes them in one vectorized pass — the leaf-level counterpart of
    Lucene's bulk block decode (ForUtil.java:41): one
    codec.bulk_decode_seqs call decodes every docid-delta plane, one
    decodes every tf plane, one frombuffer covers all norm bytes, and
    one score_terms call per field cache scores everything; docids come
    from a single segmented cumsum (block starts corrected by first -
    previous-last, which the block metadata carries).

    Each term's entry is a list of slices of those arrays::

        [docids asc, unit scores, tfs, norm bytes,
         block ns, block position buffers, positions]

    Scores are weight-free unit tf-partials (weight 1); a query's
    float32 weight multiplies in afterwards, which is
    BM25Scorer.partial's discipline (weight * float32(tf_part) in
    float32), so one decode serves a whole query batch. Positions
    decode on first use (:func:`_positions`); the buffers are None when
    the scan did not carry the positions column, which the plan adds
    whenever a tree has a positional node."""

    def __init__(self, pdf: pd.DataFrame, caches):
        super().__init__()
        if not len(pdf):
            return
        pdf = pdf.sort_values(["term", "block_ord"], kind="stable")
        terms = pdf["term"].to_numpy()
        ns = pdf["n"].to_numpy(dtype=np.int64)
        firsts = pdf["first_docid"].to_numpy(dtype=np.int64)
        lasts = pdf["last_docid"].to_numpy(dtype=np.int64)
        deltas = codec.bulk_decode_seqs(pdf["docids"].tolist(), ns) \
            .astype(np.int64)
        # segmented cumsum: each block's encoded delta[0] is 0; replacing
        # it with (first - previous block's last) makes ONE global cumsum
        # yield every block's absolute docids
        starts = np.cumsum(ns) - ns
        deltas[starts] = firsts - np.r_[0, lasts[:-1]]
        docids = np.cumsum(deltas)
        tfs = codec.bulk_decode_seqs(pdf["tfs"].tolist(), ns) \
            .astype(np.int64)
        norms = np.frombuffer(b"".join(pdf["norms"].tolist()),
                              dtype=np.uint8).astype(np.int64)
        pbufs = (pdf["positions"].tolist()
                 if "positions" in pdf.columns else None)
        # per-term row range [r0, r1) and posting range [p0, p1)
        r0 = np.flatnonzero(np.r_[True, terms[1:] != terms[:-1]])
        r1 = np.r_[r0[1:], terms.size]
        p0 = starts[r0]
        p1 = np.r_[p0[1:], docids.size]
        uterms = terms[r0].tolist()
        # one scoring call per field cache (usually one)
        by_field: dict[str, list[int]] = {}
        for i, t in enumerate(uterms):
            by_field.setdefault(_field_of(t), []).append(i)
        one = np.float32(1.0)
        if len(by_field) == 1:
            scores = bm25.score_terms(tfs, norms, one,
                                      _cache_for(caches, uterms[0]))
        else:
            scores = np.empty(docids.size, dtype=np.float32)
            for idxs in by_field.values():
                sl = np.concatenate([np.arange(p0[i], p1[i])
                                     for i in idxs])
                scores[sl] = bm25.score_terms(
                    tfs[sl], norms[sl], one,
                    _cache_for(caches, uterms[idxs[0]]))
        for t, a, b, ra, rb in zip(uterms, p0.tolist(), p1.tolist(),
                                   r0.tolist(), r1.tolist()):
            self[t] = [docids[a:b], scores[a:b], tfs[a:b], norms[a:b],
                       ns[ra:rb],
                       pbufs[ra:rb] if pbufs is not None else None, None]


def _positions(e: list) -> list:
    """Per-doc position arrays of a :class:`_SegGroups` term entry,
    decoded block by block (codec.decode_positions) the first time a
    positional node asks, then memoized in the entry."""
    if e[6] is None:
        ps: list = []
        off = 0
        for n, buf in zip(e[4].tolist(), e[5]):
            ps.extend(codec.decode_positions(buf, e[2][off:off + n]))
            off += n
        e[6] = ps
    return e[6]


def _own(e: list) -> list:
    """A term entry holding COPIES of its group's array slices, so a
    term evicted from the serving cache frees its decoded arrays
    instead of pinning the whole segment's."""
    return [a.copy() for a in e[:5]] + e[5:]


class SegmentSearcher:
    """IndexSearcher over the compressed segment index — the 100-TB
    query path.

    One evaluator, rank/score-identical to IndexSearcher/OracleIndex:
    every query (term/phrase booleans, DisjunctionMax/edismax, nested
    booleans, constant-score, synonyms, multi-phrase, spans,
    intervals, automatons) is rewritten, compiled driver-side into a
    plain-tuple tree (``_compile``) and evaluated per segment over
    whole decoded posting lists (``_eval_node``). One decoded-segment
    structure (``_SegGroups``: one bulk decode per segment) and one
    per-segment evaluate → tombstone mask → top-k step
    (``_segment_topk``) serve two renderings:

    * distributed — one plan (``_plan``: Bloom segment exclusion, one
      ``segment_eval_topk`` task per live segment reading its own
      files); ``search_many`` collects its rows in one job and merges
      them in the driver (``_merge_topk``), ``search_df`` keeps them
      as a DataFrame ordered by ``orderBy.limit(k)``;
    * driver-local — a bytes-capped per-term cache filled through the
      same reader, merged across segments with the same
      ``_merge_topk``, with no Spark job.

    ``search`` serves a query driver-locally when the postings its
    tree reads fit the serving budget (``LOCAL_CACHE_BYTES``) and
    distributed otherwise (``_query_arrays``); ``search_local`` is the
    forced driver-local form. Batches (``search_many``) and the
    lazy/all-hits forms (``search_df``, ``search_after``) always run
    distributed.

    ``cache=True`` only loads the dictionary's term → df map into the
    driver (nothing is persisted).

    Multi-term queries (prefix/wildcard/regexp/fuzzy/range/set and
    span wrappers) rewrite against the v2 dictionary first
    (``rewrite()``), sharing the exact refinement with v1/oracle.
    Per-field postings/norms/stats (manifest ``field_stats``) give
    per-field BM25 scorers and caches."""

    #: driver-side term→df cache cap: a real-corpus vocabulary can be
    #: billions of terms — beyond this the searcher falls back to the
    #: pushed-down dictionary scan per query (same guard as
    #: IndexSearcher.DICT_CACHE_MAX, executor.py)
    DICT_CACHE_MAX = 5_000_000

    def __init__(self, index: SegmentIndex, cache: bool = False):
        self.index = index
        m = index.manifest()
        self.doc_count = int(m["doc_count"])
        self.sum_ttf = int(m["sum_ttf"])
        self.scorer = bm25.BM25Scorer(self.doc_count, self.sum_ttf)
        # per-field collection stats → per-field scorers (the
        # Lucene70Codec per-field delegation, manifest "field_stats";
        # single-field indexes keep the flat doc_count/sum_ttf scorer)
        self.field_stats = m.get("field_stats") or {
            "content": {"doc_count": self.doc_count,
                        "sum_ttf": self.sum_ttf}}
        self.scorers = {"content": self.scorer}
        for f, st in self.field_stats.items():
            if f != "content":
                self.scorers[f] = bm25.BM25Scorer(
                    max(int(st["doc_count"]), 1),
                    max(int(st["sum_ttf"]), 1))
        #: norm caches for the leaves: plain ndarray on single-field
        #: indexes (bit-stable historic path), {field: cache} otherwise
        self.caches = (self.scorer.cache if len(self.scorers) == 1
                       else {f: sc.cache for f, sc in self.scorers.items()})
        # this commit's files (the next commit still keeps them) and
        # dictionary listed once, as Spark lists a frame's files
        self.seg_files = index.segment_files()
        self.dict = index.dict()
        # tombstones, masked inside each leaf BEFORE its top-k cut
        # (masking after the per-segment truncation would drop docs
        # that should be promoted); collection stats keep counting
        # deleted docs until compaction, exactly like Lucene's
        # docCount-vs-liveDocs split
        self.deleted = index.deleted_docids()
        # per-segment term Bloom filters (BloomFilteringPostingsFormat
        # role, index/bloom.py) — present only after
        # build_segment_blooms; prunes live segment ids driver-side
        from ..index.bloom import SegmentBlooms

        self.blooms = SegmentBlooms.load(index)
        self._df_map: dict[str, int] | None = None
        # compiled leaf plans by (queries, k) — the queryResultCache
        # role at plan granularity: a re-submitted identical batch skips
        # rewrite, tree compile and Catalyst planning. Safe because the
        # searcher reads one commit (segment files, dictionary and
        # deletes are resolved above); a new commit means a new
        # searcher, Solr's cache-per-searcher lifecycle.
        self._batch_plan_cache: collections.OrderedDict = (
            collections.OrderedDict())
        if cache:
            # read straight from the files and never persisted: Spark's
            # cache would hand this dictionary to every later read of
            # dict/ in the session, a flush's or fold's delta merge too
            if self.dict.count() <= self.DICT_CACHE_MAX:
                pdf = self.dict.select("term", "df").toPandas()
                self._df_map = dict(zip(pdf["term"], pdf["df"].astype(int)))

    def set_scorer(self, scorer: "bm25.BM25Scorer",
                   field: str = "content") -> None:
        """Swap one field's scorer (the distributed ExactStatsCache
        hook — sharded.py installs a GLOBAL-collection-stats scorer so
        every shard scores with corpus-wide avgdl/docCount), keeping
        the per-field cache map consistent. Cached plans carry weights,
        and serving-cache entries unit scores, of the old scorer, so
        both caches are dropped."""
        self.scorers[field] = scorer
        if field == "content":
            self.scorer = scorer
        self.caches = (self.scorer.cache if len(self.scorers) == 1
                       else {f: sc.cache for f, sc in self.scorers.items()})
        self._batch_plan_cache.clear()
        self._local_cache = collections.OrderedDict()
        self._local_cache_bytes = 0

    @property
    def docs(self) -> DataFrame:
        """Stored-fields surface (docid, repo/path/commit, lang, dl,
        norm, sha) of this searcher's commit: the summary rows of the
        segments it opened — lets doc-joining components (highlight,
        collapse keyed on metadata) run over this searcher too."""
        return summary_docs(self.index._block_rows(self.seg_files))

    def manifest(self) -> dict:
        return self.index.manifest()

    def term_stats(self, pairs) -> dict:
        """{(field, term): df} — the IndexSearcher-compatible stats
        surface components (spellcheck, MLT term ranking) consume."""
        qmap = {p: _qual(p[0], p[1]) for p in pairs}
        dfm = self._stats(set(qmap.values()))
        return {p: dfm.get(qt, 0) for p, qt in qmap.items()}

    # -- planning -------------------------------------------------------
    def field_scorer(self, field: str) -> "bm25.BM25Scorer":
        sc = self.scorers.get(field)
        if sc is None:  # unknown field: empty stats (no matches anyway)
            sc = bm25.BM25Scorer(1, 1)
        return sc

    def _stats(self, terms: set[str]) -> dict[str, int]:
        if not terms:
            return {}
        if self._df_map is not None:
            return {t: self._df_map[t] for t in terms if t in self._df_map}
        rows = self.dict.where(_str_in("term", terms)).collect()
        return {r["term"]: int(r["df"]) for r in rows}

    # -- multi-term rewrite (dictionary expansion on the v2 dict) -------
    #: driver-safety valve for degenerate expansions (IndexSearcher's
    #: guard, executor.py MAX_EXPANSION_SCAN)
    MAX_EXPANSION_SCAN = 1_000_000

    def rewrite(self, q: Query) -> Query:
        """Expand MultiTermQuery leaves (prefix/wildcard/regexp/fuzzy/
        range/set) against the compressed index's dictionary into
        primitive term/boolean queries (MultiTermQuery.java:94-126
        rewrite methods), recursing through compound queries — the
        IndexSearcher.rewrite counterpart for the v2 path. The
        expansion refinement is the SAME expand_terms the v1 engine
        and oracle use, so all three expand identically."""
        from .queries import BooleanClause, MultiTermQuery

        if isinstance(q, MultiTermQuery):
            terms = self._expand_multiterm(q)
            qfield = getattr(q, "field", "content")
            inner = BooleanQuery(
                tuple(BooleanClause(TermQuery(t, field=qfield), "SHOULD")
                      for t in terms))
            if getattr(q, "rewrite", "constant_score") == "scoring_boolean":
                return BooleanQuery(inner.clauses, boost=q.boost)
            return ConstantScoreQuery(inner, boost=q.boost)
        if isinstance(q, BooleanQuery):
            from .queries import BooleanClause

            return BooleanQuery(
                tuple(BooleanClause(self.rewrite(c.query), c.occur)
                      for c in q.clauses),
                minimum_should_match=q.minimum_should_match, boost=q.boost)
        if isinstance(q, DisjunctionMaxQuery):
            return DisjunctionMaxQuery(
                tuple(self.rewrite(d) for d in q.disjuncts),
                q.tie_breaker, q.boost)
        if isinstance(q, ConstantScoreQuery):
            return ConstantScoreQuery(self.rewrite(q.query), q.boost)
        from .spans import SpanQuery, expand_span_multiterm

        if isinstance(q, SpanQuery):
            field = getattr(q, "field", "content")
            return expand_span_multiterm(q, self._field_vocab(field))
        from .queries import CommonTermsQuery, build_common_terms

        if isinstance(q, CommonTermsQuery):
            # CommonTermsQuery.buildQuery: df-cutoff split into
            # MUST(lowFreq) + SHOULD(highFreq) against THIS index's
            # stats (field docCount per the per-field manifest)
            qstats = self._stats({_qual(q.field, t) for t in q.terms})
            dfs = {t: qstats.get(_qual(q.field, t), 0) for t in q.terms}
            dc = int(self.field_stats.get(
                q.field, {"doc_count": self.doc_count})["doc_count"])
            return self.rewrite(build_common_terms(q, dfs, dc))
        return q

    def _field_vocab(self, field: str) -> list[str]:
        """Sorted bare-term vocabulary of one field (span wrapper
        expansion; bounded by MAX_EXPANSION_SCAN like _expand)."""
        pfx = "" if field == "content" else field + FIELD_SEP
        if self._df_map is not None:
            if pfx:
                return sorted(t[len(pfx):] for t in self._df_map
                              if t.startswith(pfx))
            return sorted(t for t in self._df_map
                          if FIELD_SEP not in t)
        scope = (F.col("term").startswith(pfx) if pfx
                 else ~F.col("term").contains(FIELD_SEP))
        rows = (self.dict.where(scope).select("term")
                .limit(self.MAX_EXPANSION_SCAN + 1).collect())
        if len(rows) > self.MAX_EXPANSION_SCAN:
            raise ValueError("vocabulary exceeds MAX_EXPANSION_SCAN")
        return sorted(r["term"][len(pfx):] for r in rows)

    def _expand_multiterm(self, q) -> list[str]:
        from .multiterm import dict_prefilter, expand_terms

        field = getattr(q, "field", "content")
        pfx = "" if field == "content" else field + FIELD_SEP
        if self._df_map is not None:
            if pfx:
                vocab = (t[len(pfx):] for t in self._df_map
                         if t.startswith(pfx))
            else:
                vocab = (t for t in self._df_map if FIELD_SEP not in t)
            return expand_terms(vocab, q)
        # dict scan with the shared coarse JVM-side predicate on the
        # BARE term, exact refinement in Python (shared with the oracle)
        bare = (F.expr(f"substring(term, {len(pfx) + 1})") if pfx
                else F.col("term"))
        scope = (F.col("term").startswith(pfx) if pfx
                 else ~F.col("term").contains(FIELD_SEP))
        pred = dict_prefilter(q, bare)
        rows = (self.dict.where(scope & pred).select("term")
                .limit(self.MAX_EXPANSION_SCAN + 1).collect())
        if len(rows) > self.MAX_EXPANSION_SCAN:
            raise ValueError(
                "multi-term expansion exceeds MAX_EXPANSION_SCAN")
        return expand_terms((r["term"][len(pfx):] for r in rows), q)

    # -- general compiled-tree path (dismax / nested boolean / ...) -----
    @staticmethod
    def _general_terms(q: Query) -> set[str]:
        """All qualified leaf terms of a (rewritten) query tree: the
        (field, term) pairs of the v1 engine's :func:`_collect_terms`,
        rendered as postings keys."""
        return {_qual(f, t) for f, t in _collect_terms(q)}

    def _compile_general(self, q: Query, boost: float,
                         stats: dict[str, int]):
        """Driver-side weight resolution of a general query tree into a
        plain-tuple program for :func:`segment_eval_topk`. Weight and
        float disciplines mirror OracleIndex._match / IndexSearcher
        (per-field scorer, boost folded into the leaf weight)."""
        if isinstance(q, TermQuery):
            qt = _qual(q.field, q.term)
            df = stats.get(qt, 0)
            if not df:
                return ("none",)
            w = float(self.field_scorer(q.field).weight(df, boost * q.boost))
            return ("term", qt, w)
        if isinstance(q, SynonymQuery):
            qts = tuple(_qual(q.field, t) for t in q.terms)
            df = max((stats.get(t, 0) for t in qts), default=0)
            if not df:
                return ("none",)
            w = float(self.field_scorer(q.field).weight(df, boost * q.boost))
            return ("syn", qts, w)
        if isinstance(q, PhraseQuery):
            qts = tuple(_qual(q.field, t) for t in q.terms)
            if any(stats.get(t, 0) == 0 for t in qts):
                return ("none",)
            fsc = self.field_scorer(q.field)
            idfs = [fsc.idf(stats[t]) for t in qts]
            idf_sum = np.float32(np.sum(np.asarray(idfs, dtype=np.float64)))
            w = float(fsc.weight_from_idf_sum(idf_sum, boost * q.boost))
            return ("phrase", qts, tuple(q.effective_positions()),
                    int(q.slop), w)
        if isinstance(q, MultiPhraseQuery):
            # MultiPhraseQuery.java: per-slot positional union; weight
            # = idf summed over every member term with df > 0
            slots = tuple(tuple(_qual(q.field, t) for t in slot)
                          for slot in q.termss)
            if not slots or any(not slot for slot in slots):
                return ("none",)
            if any(all(stats.get(t, 0) == 0 for t in slot)
                   for slot in slots):
                return ("none",)  # a slot with no postings: no matches
            fsc = self.field_scorer(q.field)
            idfs = [fsc.idf(stats[t]) for slot in slots for t in slot
                    if stats.get(t, 0) > 0]
            idf_sum = np.float32(np.sum(np.asarray(idfs, dtype=np.float64)))
            w = float(fsc.weight_from_idf_sum(idf_sum, boost * q.boost))
            return ("mphrase", slots, tuple(q.effective_positions()),
                    int(q.slop), w)
        if isinstance(q, ConstantScoreQuery):
            child = self._compile_general(q.query, 1.0, stats)
            if child[0] == "none":
                return ("none",)
            return ("const", child, float(np.float32(boost * q.boost)))
        if isinstance(q, DisjunctionMaxQuery):
            kids = []
            for d in q.disjuncts:
                c = self._compile_general(d, boost * q.boost, stats)
                if c[0] != "none":
                    kids.append(c)
            if not kids:
                return ("none",)
            return ("dismax", tuple(kids), float(q.tie_breaker))
        if isinstance(q, BooleanQuery):
            kids = []
            n_should_kept = 0
            for c in q.clauses:
                cb = 1.0 if c.occur in ("FILTER", "MUST_NOT") \
                    else boost * q.boost
                node = self._compile_general(c.query, cb, stats)
                if node[0] == "none":
                    if c.occur in ("MUST", "FILTER"):
                        return ("none",)  # required clause can't match
                    continue  # SHOULD scores nothing; MUST_NOT excludes nothing
                if c.occur == "SHOULD":
                    n_should_kept += 1
                kids.append((c.occur, node))
            msm = int(q.minimum_should_match)
            if msm > n_should_kept:
                # BooleanWeight.java:396 — dropped (null-scorer) SHOULD
                # clauses don't count toward minShouldMatch; when fewer
                # survive than msm no document can match. Without this
                # the bool node's msm became vacuous once every absent
                # SHOULD clause was pruned above.
                return ("none",)
            if not kids:
                return ("none",)
            return ("bool", tuple(kids), msm)
        if isinstance(q, MatchNoDocsQuery):
            return ("none",)
        from .intervals import IntervalQuery, interval_terms
        from .spans import SpanQuery, span_field_terms

        if isinstance(q, (SpanQuery, IntervalQuery)):
            # span/interval scoring (spans/SpanScorer.java:118-141):
            # freq = Σ 1/(1+width) over enumerated matches, weight =
            # float32 idf sum over the tree's PRESENT terms
            if isinstance(q, SpanQuery):
                pairs = sorted(span_field_terms(q))
                fields = {f for f, _t in pairs}
                field = getattr(q, "field", "content")
                # cross-field trees (FieldMaskingSpanQuery): positions
                # enumerate from each term's OWN field; scoring norms
                # come from the TOP field (SpanWeight.buildSimWeight
                # uses the span's field for getNormValues), which the
                # term postings may not carry — the leaf then reads
                # that field's per-doc norm rows (norm_field marker)
                norm_field = field if (fields - {field}) else None
                bare_keys = False
            else:
                field = getattr(q, "field", "content")
                pairs = sorted((field, t) for t in interval_terms(q))
                bare_keys = True
                norm_field = None
            dfs = [stats.get(_qual(f, t), 0) for f, t in pairs]
            if not any(dfs):
                return ("none",)
            fsc = self.field_scorer(field)
            idfs = [fsc.idf(df) for df in dfs if df > 0]
            idf_sum = np.float32(np.sum(np.asarray(idfs, dtype=np.float64)))
            w = float(fsc.weight_from_idf_sum(idf_sum, boost * q.boost))
            return ("span", q, tuple(pairs), w, bare_keys, norm_field)
        from .term_automaton import TermAutomatonQuery

        if isinstance(q, TermAutomatonQuery):
            # TermAutomatonScorer: freq = DFA acceptances over the
            # position-ordered (pos, term_id) events; weight = idf sum
            # over PRESENT terms (TermAutomatonWeight ctor :341-363)
            det = q._check_finished()
            id_terms = tuple(
                (tid, _qual(q.field, t) if t is not None else None)
                for tid, t in q.terms().items())
            dfs = [stats.get(qt, 0) for _tid, qt in id_terms
                   if qt is not None]
            if not any(dfs):
                return ("none",)
            fsc = self.field_scorer(q.field)
            idfs = [fsc.idf(df) for df in dfs if df > 0]
            idf_sum = np.float32(np.sum(np.asarray(idfs, dtype=np.float64)))
            w = float(fsc.weight_from_idf_sum(idf_sum, boost * q.boost))
            return ("automaton", det, int(q.any_id), id_terms, w)
        raise TypeError(
            f"SegmentSearcher cannot evaluate {type(q).__name__}; "
            "rewrite it first (IndexSearcher.rewrite) or use "
            "IndexSearcher")

    # -- one evaluator: plan, leaf, one driver merge ---------------------
    def _compile(self, queries: list[Query],
                 stats: dict[str, int] | None = None) -> tuple:
        """Rewrite → term stats → compiled tree, one per query; returns
        (trees, the term → df map they were compiled with). The
        batch's term set resolves in ONE stats lookup; ``stats`` is the
        optional (term → df) override of the distributed ExactStatsCache
        hook (search/sharded.py injects GLOBAL term stats so a shard
        scores with corpus-wide weights)."""
        queries = [self.rewrite(q) for q in queries]
        if stats is None:
            term_set: set[str] = set()
            for q in queries:
                term_set |= self._general_terms(q)
            stats = self._stats(term_set)
        return [self._compile_general(q, 1.0, stats) for q in queries], stats

    def _plan(self, trees: list, k: int | None) -> DataFrame | None:
        """Per-segment top-k rows (qidx, docid, score) of a batch of
        compiled trees — None when no tree can match anything.

        A segment is dropped when EVERY query's Bloom sets exclude it.
        Each live segment is one :func:`segment_eval_topk` task (a
        ``mapInPandas`` partition of ``spark.range`` — no exchange) that
        reads ONLY its block rows of the trees' terms, with positions
        only for positional trees and norm rows only for cross-field
        spans (:func:`_read_segment`)."""
        live = [t for t in trees if t[0] != "none"]
        if not live:
            return None
        excl: set[int] = set()
        if self.blooms is not None:
            for i, t in enumerate(live):
                e = set(self.blooms.excluded_segments(*_tree_bloom_sets(t)))
                excl = e if i == 0 else (excl & e)
                if not excl:
                    break
        files = [f for s, f in sorted(self.seg_files.items()) if s not in excl]
        if not files:
            return None
        terms: set[str] = set()
        norm_fields: set[str] = set()
        for t in live:
            terms |= _tree_terms(t)
            norm_fields |= _tree_norm_fields(t)
        norm_fields = sorted(norm_fields)
        pos_cols = ["positions"] if any(map(_tree_has_phrase, live)) else []
        cols = [*_BLOCK_COLS, *pos_cols]
        caches = self.caches
        deleted = self.deleted if self.deleted.size else None

        def leaf(batches):
            for b in batches:
                for i in b["id"].tolist():
                    pdf = _read_segment(files[i], terms, cols, norm_fields)
                    yield segment_eval_topk(pdf, trees, caches, k, deleted,
                                            norm_fields)

        return (self.index.spark.range(len(files), numPartitions=len(files))
                .mapInPandas(leaf, _LEAF_SCHEMA))

    def search_df(self, q: Query, k: int = 10) -> DataFrame:
        """Top-k (docid, score) of one query as a lazy DataFrame, for
        components that join against it: the per-segment leaf rows then
        ONE global ``orderBy(score desc, docid asc).limit(k)`` =
        TopDocs.merge (TopDocs.java:188-230). ``k=None`` is all-hits
        mode (collapse/rescore two-phase components): every match, no
        truncation. Jobs the call itself starts (dictionary lookups of
        an uncached searcher) carry its job description; the frame's
        own job runs when the caller collects it."""
        kk = None if k is None else int(k)
        with job_description(self.index.spark, "search_df: 1 query"):
            per_seg = self._plan(self._compile([q])[0], kk)
        if per_seg is None:
            return self.index.spark.createDataFrame(
                [], "docid long, score float")
        ordered = per_seg.select("docid", "score").orderBy(
            F.desc("score"), F.asc("docid"))
        return ordered if kk is None else ordered.limit(kk)

    def _leaf_arrays(self, queries: list[Query], k: int | None,
                     stats: dict[str, int] | None = None,
                     trees: list | None = None,
                     call: str = "search_many") -> tuple:
        """The batch's per-segment top-k rows as numpy arrays (qidx,
        docid, score), collected from :meth:`_plan` with ``toArrow`` —
        one Spark job, no exchange, described as ``call`` and the
        query count. Plans are cached per (queries, k) unless ``stats``
        overrides the term stats (see :meth:`_compile`); ``trees`` are
        the queries already compiled."""
        k = None if k is None else int(k)
        key = (tuple(queries), k) if stats is None else None
        n = len(queries)
        with job_description(self.index.spark,
                             f"{call}: {n} {'query' if n == 1 else 'queries'}"):
            try:
                plan = self._batch_plan_cache.pop(key, None)
            except TypeError:  # unhashable custom query: no cache
                key = plan = None
            if plan is None:
                plan = self._plan(trees or self._compile(queries, stats)[0], k)
                if plan is None:  # no query can match: no rows
                    return _segment_topk([], None, None, k, None)
            if key is not None:  # (re)insert as the most recent, LRU 32
                self._batch_plan_cache[key] = plan
                while len(self._batch_plan_cache) > 32:
                    self._batch_plan_cache.popitem(last=False)
            t = plan.toArrow()
        return tuple(t.column(c).to_numpy() for c in ("qidx", "docid", "score"))

    #: driver bytes per posting of a serving-cache entry (:func:`_own`:
    #: int64 docid, float32 unit score, int64 tf, int64 norm)
    POSTING_BYTES = 28

    def _query_arrays(self, q: Query, k: int | None,
                      stats: dict[str, int] | None = None,
                      dfs: dict[str, int] | None = None) -> tuple:
        """One query's per-segment top-k rows (qidx, docid, score),
        rendered by its size: when the postings its compiled tree reads
        (Σ df × POSTING_BYTES) fit the serving budget
        (LOCAL_CACHE_BYTES), in the driver (:meth:`_local_arrays`, no
        Spark job); otherwise by the distributed leaf
        (:meth:`_leaf_arrays`, one job). The query compiles once and the
        df values come from its compile's stats; under a ``stats``
        override (see :meth:`_compile`) ``dfs`` gives this searcher's
        own term → df, the postings it would read."""
        trees, fetched = self._compile([q], stats)
        own = fetched if dfs is None else dfs
        postings = sum(own.get(t, 0) for t in _tree_terms(trees[0]))
        if postings * self.POSTING_BYTES <= self.LOCAL_CACHE_BYTES:
            return self._local_arrays(trees[0], k)
        return self._leaf_arrays([q], k, stats, trees, call="search")

    def search(self, q: Query, k: int = 10) -> list[TopDoc]:
        """Top-k of one query: driver-local when its postings fit the
        serving budget, else one distributed job (:meth:`_query_arrays`)."""
        return _top_docs(self._query_arrays(q, k), k)

    def search_after(self, q: Query, after: TopDoc,
                     k: int = 10) -> list[TopDoc]:
        """Keyset pagination (IndexSearcher.searchAfter semantics:
        (score < s) OR (score == s AND docid > d)) — one all-hits
        evaluation filtered past the totem; cursor_page's deep-paging
        substrate on the compressed path."""
        scored = self.search_df(q, None)
        sv = float(np.float32(after.score))
        pred = ((F.col("score") < sv)
                | ((F.col("score") == sv) & (F.col("docid") > after.docid)))
        with job_description(self.index.spark, "search_after: 1 query"):
            rows = (scored.where(pred).orderBy(F.desc("score"), F.asc("docid"))
                    .limit(k).collect())
        return [TopDoc(r["docid"], r["score"]) for r in rows]

    def term_vector(self, docid: int,
                    field: str = "content") -> list[tuple[str, int]]:
        """(term, tf) pairs of ONE document — the term-vectors read
        (TermVectorsReader role) the v2 codec serves by reading the
        doc's OWN segment only: ``docs`` resolves the segment, the read
        keeps only blocks whose docid range covers the doc, and only
        those decode (a few per term region). Feeds MoreLikeThis on
        the compressed path."""
        seg_row = (self.docs.where(F.col("docid") == docid)
                   .select("segment").collect())
        if not seg_row:
            return []
        cols = ["term", "n", "first_docid", "docids", "tfs"]
        pdf = _read_segment(self.seg_files[int(seg_row[0]["segment"])],
                            None, cols, docid=docid)
        pfx = "" if field == "content" else field + FIELD_SEP
        pdf = pdf[pdf["term"].str.startswith(pfx) if pfx
                  else ~pdf["term"].str.contains(FIELD_SEP, regex=False)]
        out = []
        for r in pdf.itertuples(index=False):
            n = int(r.n)
            d = codec.decode_docids(int(r.first_docid), r.docids, n)
            j = int(np.searchsorted(d, docid))
            if j < d.size and int(d[j]) == docid:
                tfs = codec.decode_seq(r.tfs, n)
                out.append((r.term[len(pfx):], int(tfs[j])))
        out.sort()
        return out

    # -- serving mode (driver-local evaluation) -------------------------

    #: serving-mode block cache budget, in bytes of ENCODED posting
    #: buffers (a Solr serving core's block cache is bounded/LRU the
    #: same way — an unbounded cache would accumulate the postings of
    #: every term ever queried for the searcher's lifetime). Each term's
    #: decoded arrays are its own copies and die with it on eviction;
    #: evict-and-refetch is one filtered read per segment. ``search``
    #: serves a query in the driver only when its decoded postings
    #: (df × POSTING_BYTES) fit this budget.
    LOCAL_CACHE_BYTES = 256 << 20

    def _local_tbs(self, qterms: set[str]) -> dict:
        """Fetch (and cache) the given terms' decoded postings
        driver-side: {qterm: {segment: _SegGroups entry}}. A cache-miss
        batch reads each segment's rows of the missing terms
        (:func:`_read_segment`) and decodes them by
        :class:`_SegGroups` — no Spark job; bytes-capped LRU over terms
        (LOCAL_CACHE_BYTES) — the live query's own terms are never
        evicted."""
        if not hasattr(self, "_local_cache"):
            self._local_cache: dict = collections.OrderedDict()
            self._local_cache_bytes = 0
        cache = self._local_cache
        missing = sorted(t for t in qterms if t not in cache)
        if missing:
            bufs = ["docids", "tfs", "norms", "positions"]
            maps: dict[str, dict] = {t: {} for t in missing}
            sizes = dict.fromkeys(missing, 0)
            for seg, fs in self.seg_files.items():
                pdf = _read_segment(fs, missing, [*_BLOCK_COLS, "positions"])
                for t, e in _SegGroups(pdf, self.caches).items():
                    maps[t][seg] = _own(e)
                nbytes = pdf[bufs].map(len, na_action="ignore").sum(axis=1)
                for t, sz in nbytes.groupby(pdf["term"]).sum().items():
                    sizes[t] += int(sz)
            for t in missing:
                cache[t] = (sizes[t], maps[t])
                self._local_cache_bytes += sizes[t]
        # LRU touch, then evict cold terms beyond the budget
        for t in qterms:
            if t in cache:
                cache.move_to_end(t)
        while self._local_cache_bytes > self.LOCAL_CACHE_BYTES and cache:
            coldest = next(iter(cache))
            if coldest in qterms:
                break  # a single over-budget query still runs
            _t, (sz, _m) = cache.popitem(last=False)
            self._local_cache_bytes -= sz
        return {t: cache[t][1] if t in cache else {} for t in qterms}

    def _local_norms(self, field: str) -> dict:
        """Driver-cached {docid: norm_byte} of one field's per-doc
        norm rows (cross-field span serving path) — the same rows and
        reader the leaf uses (:func:`_read_segment` /
        ``_norm_maps_from_rows``). One byte per (doc, field) — the
        .nvd-file role; cached for the searcher's lifetime like a Solr
        core's norms reader."""
        if not hasattr(self, "_local_norm_cache"):
            self._local_norm_cache: dict = {}
        nm = self._local_norm_cache.get(field)
        if nm is None:
            nm = {}
            for files in self.seg_files.values():
                pdf = _read_segment(files, (), ["term", "first_docid",
                                                "norms"], [field])
                nm.update(_norm_maps_from_rows(pdf, [field])[field])
            self._local_norm_cache[field] = nm
        return nm

    def _local_arrays(self, tree, k: int | None) -> tuple:
        """One compiled tree's per-segment top-k rows (qidx, docid,
        score), evaluated in the driver over the serving cache
        (:meth:`_local_tbs`) — no Spark job, cold or hot. The same
        decoded-segment structure (:class:`_SegGroups`) and per-segment
        step (:func:`_segment_topk`) the distributed leaf runs, so the
        rows are the leaf's rows."""
        parts = [_segment_topk([], None, None, k, None)]
        if tree[0] != "none":
            per_term = self._local_tbs(_tree_terms(tree))
            norm_maps = {f: self._local_norms(f)
                         for f in _tree_norm_fields(tree)}
            get_norms = norm_maps.get if norm_maps else None
            deleted = self.deleted if self.deleted.size else None
            for seg in {s for m in per_term.values() for s in m}:
                seg_terms = {t: m[seg] for t, m in per_term.items()
                             if seg in m}
                parts.append(_segment_topk([tree], seg_terms.get,
                                           self.caches, k, deleted,
                                           get_norms))
        return tuple(map(np.concatenate, zip(*parts)))

    def search_local(self, q: Query, k: int = 10) -> list[TopDoc]:
        """The forced driver-local form of :meth:`search`: evaluate in
        the driver over the serving cache whatever the query's size —
        no Spark job, cold or hot (a Solr core serves from its own
        block cache the same way). ``search`` takes this rendering
        whenever the query's postings fit the serving budget.
        Rank/score-identical to the distributed leaf: the same compile
        step (:meth:`_compile`), :meth:`_local_arrays` and merge
        (:func:`_merge_topk`)."""
        return _top_docs(self._local_arrays(self._compile([q])[0][0], k), k)

    # -- batched execution ---------------------------------------------
    def search_many(self, queries: dict[str, Query], k: int = 10,
                    stats: dict[str, int] | None = None
                    ) -> dict[str, list[TopDoc]]:
        """Evaluate MANY queries in ONE job over the compressed index —
        the throughput path.

        The same plan and leaf as :meth:`search`: per live segment ONE
        ``mapInPandas`` task reads that segment's block rows for the
        batch's whole term set from its own files, decodes every
        (term, segment) once and evaluates every query's compiled tree;
        no row crosses an exchange. The driver then merges the <=
        segments * |queries| * k leaf rows (TopDocs.merge,
        :func:`_merge_topk`). ``stats``: see :meth:`_compile`."""
        return _hits_by_qid(list(queries), _merge_topk(
            *self._leaf_arrays(list(queries.values()), k, stats), k))

    def search_many_df(self, queries: dict[str, Query],
                       k: int = 10) -> DataFrame:
        """:meth:`search_many`'s hits as a local DataFrame (qid, docid,
        score, rn), rn the 1-based rank. Only perfbench's traced batch
        path reads it; it goes once that path traces ``search_many``."""
        qids = list(queries)
        qidx, d, s = _merge_topk(
            *self._leaf_arrays(list(queries.values()), k), k)
        rn = np.arange(qidx.size) - np.searchsorted(qidx, qidx) + 1
        return self.index.spark.createDataFrame(pd.DataFrame({
            "qid": [qids[i] for i in qidx.tolist()], "docid": d,
            "score": s, "rn": rn.astype(np.int32)}),
            "qid string, docid long, score float, rn int")


# ---------------------------------------------------------------------------
# Compiled-tree evaluation over the v2 codec — the per-segment rendering
# of the full query algebra. Exhaustive within a segment (no dynamic
# pruning — a BulkScorer without ImpactsDISI), so results are rank- and
# score-identical to IndexSearcher/OracleIndex by construction.

def _tree_terms(node) -> set:
    """Qualified terms a compiled node will actually scan."""
    kind = node[0]
    if kind == "term":
        return {node[1]}
    if kind in ("syn", "phrase"):
        return set(node[1])
    if kind == "mphrase":
        return {t for slot in node[1] for t in slot}
    if kind == "span":
        return {_qual(f, t) for f, t in node[2]}
    if kind == "automaton":
        return {qt for _tid, qt in node[3] if qt is not None}
    return set().union(*map(_tree_terms, _children(node)))


def _children(node) -> list:
    """Sub-trees of a compiled bool/dismax/const node ([] otherwise)."""
    if node[0] == "bool":
        return [c for _occ, c in node[1]]
    if node[0] == "dismax":
        return list(node[1])
    return [node[1]] if node[0] == "const" else []


#: block-row columns every query read carries
_BLOCK_COLS = ["term", "block_ord", "n", "first_docid", "last_docid",
               "docids", "tfs", "norms"]


def _read_segment(files: list[str], terms, cols: list[str],
                  norm_fields=(), docid: int | None = None) -> pd.DataFrame:
    """One segment's block rows from its Parquet files (paths or URIs):
    kind=0 rows of ``terms`` (all when None; only blocks covering
    ``docid`` when given) OR the norm rows of ``norm_fields`` (kind=1
    content, kind=2 keyed by field name; ``kind`` kept then). Columns
    are read one at a time, single-threaded, and cut to the matching
    rows, so the reader (the driver, when serving) never holds a whole
    decoded segment."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    kind, term = ds.field("kind"), ds.field("term")
    pred = kind == 0
    if terms is not None:
        pred &= term.isin(pa.array(sorted(terms), pa.string()))
    if docid is not None:
        pred &= ((ds.field("first_docid") <= docid)
                 & (ds.field("last_docid") >= docid))
    for f in norm_fields:
        pred |= (kind == 1) if f == "content" else (kind == 2) & (term == f)
    keys = ["kind", "term", "first_docid", "last_docid"]
    parts = []
    for f in files:
        pf = pq.ParquetFile(f)
        t = pf.read(columns=keys, use_threads=False)
        t = t.append_column("row", pa.array(np.arange(len(t)))).filter(pred)
        parts.append(pa.table({c: t[c] if c in keys else pf.read(
            columns=[c], use_threads=False)[c].take(t["row"])
            for c in (["kind", *cols] if norm_fields else cols)}))
    return pa.concat_tables(parts).to_pandas()


def _norm_maps_from_rows(pdf: pd.DataFrame, fields) -> dict:
    """{field: {docid: norm_byte}} from per-doc norm rows riding in a
    leaf's frame — kind=1 rows carry content norms (one per doc),
    kind=2 rows carry an extra field's norms (term = field name)."""
    out: dict = {}
    for f in fields:
        if f == "content":
            sub = pdf[pdf["kind"] == 1]
        else:
            sub = pdf[(pdf["kind"] == 2) & (pdf["term"] == f)]
        out[f] = {int(d): nb[0] for d, nb in
                  zip(sub["first_docid"].to_numpy(), sub["norms"])}
    return out


def _tree_norm_fields(node) -> set:
    """Fields whose PER-DOC norm rows the leaves must carry — set only
    by cross-field span nodes (FieldMaskingSpanQuery), whose scoring
    norms come from the masked-to field rather than the term
    postings."""
    if node[0] == "span":
        return {node[5]} if node[5] is not None else set()
    return set().union(*map(_tree_norm_fields, _children(node)))


def _tree_has_phrase(node) -> bool:
    return (node[0] in ("phrase", "mphrase", "span", "automaton")
            or any(map(_tree_has_phrase, _children(node))))


def _tree_bloom_sets(node) -> tuple[set, set]:
    """(must_like, should) term sets for driver-side Bloom segment
    skipping — conservative: anything not provably required counts as
    SHOULD (false inclusions only add segments, never drop matches)."""
    kind = node[0]
    if kind == "phrase":
        # every phrase match holds every member term
        return set(node[1]), set()
    if kind in ("term", "syn", "dismax", "const",
                "mphrase", "span", "automaton"):
        # sound as SHOULD terms: every match of any of these shapes
        # contains at least one of the node's terms (matches are
        # built from term postings), so "every term definitely
        # absent" implies "cannot match"
        return set(), _tree_terms(node)
    if kind == "bool":
        must_like: set = set()
        should: set = set()
        for occ, c in node[1]:
            m, sh = _tree_bloom_sets(c)
            if occ in ("MUST", "FILTER"):
                must_like |= m | (sh if c[0] in ("term", "phrase") else set())
                should |= sh if c[0] not in ("term", "phrase") else set()
            elif occ == "SHOULD":
                should |= m | sh
            # MUST_NOT never prunes
        return must_like, should
    return set(), set()


def _topk_arrays(d: np.ndarray, s: np.ndarray, k: int):
    """Exact top-k by (score desc, docid asc). For candidate sets well
    beyond k, an O(n) argpartition preselect keeps only the rows that
    can reach the top-k (everything scoring above the k-th plus the
    full tie group AT the k-th score — ties then resolve by docid in
    the final small sort), replacing the full O(n log n) lexsort the
    hot leaves used to pay per query."""
    if k is not None and d.size > 4 * k and k > 0:
        kth = np.argpartition(-s, k - 1)[:k]
        thr = s[kth].min()
        cand = np.flatnonzero(s >= thr)
        order = np.lexsort((d[cand], -s[cand].astype(np.float64)))[:k]
        sel = cand[order]
        return d[sel], s[sel]
    order = np.lexsort((d, -s.astype(np.float64)))[:k]
    return d[order], s[order]


def _merge_topk(qidx: np.ndarray, docid: np.ndarray, score: np.ndarray,
                k: int | None) -> tuple:
    """TopDocs.merge (TopDocs.java:188-230) of per-leaf top-k rows:
    one lexsort by (qidx, score desc, docid asc), then each qidx group
    cut at rank k (``k=None`` keeps every row). Returns the merged
    (qidx, docid, score), grouped by qidx in rank order."""
    order = np.lexsort((docid, -score.astype(np.float64), qidx))
    qidx, docid, score = qidx[order], docid[order], score[order]
    if k is not None:
        keep = np.arange(qidx.size) - np.searchsorted(qidx, qidx) < k
        qidx, docid, score = qidx[keep], docid[keep], score[keep]
    return qidx, docid, score


def _top_docs(rows: tuple, k: int | None) -> list[TopDoc]:
    """[TopDoc] of one query's per-leaf rows (qidx, docid, score),
    merged by :func:`_merge_topk`."""
    _qi, d, s = _merge_topk(*rows, k)
    return [TopDoc(di, si) for di, si in zip(d.tolist(), s.tolist())]


def _hits_by_qid(qids: list[str], merged: tuple) -> dict[str, list[TopDoc]]:
    """{qid: [TopDoc]} of :func:`_merge_topk`'s output for a batch."""
    out: dict[str, list[TopDoc]] = {qid: [] for qid in qids}
    qidx, d, s = merged
    for qi, di, si in zip(qidx.tolist(), d.tolist(), s.tolist()):
        out[qids[qi]].append(TopDoc(di, si))
    return out


def _eval_node(node, get_tb, caches, get_norms=None):
    """Evaluate one compiled node over a segment: (docids unique asc,
    float32 scores). ``get_tb(qterm)`` returns the term's
    :class:`_SegGroups` entry, or None when it has no postings here;
    ``get_norms(field) -> {docid: norm_byte}`` serves cross-field span
    nodes (None when the plan carries no such node)."""
    empty = (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float32))
    kind = node[0]
    if kind in ("none", "matchno"):
        return empty

    if kind == "term":
        _, qterm, w = node
        e = get_tb(qterm)
        if e is None:
            return empty
        return e[0], (np.float32(w) * e[1]).astype(np.float32)

    if kind == "syn":
        # pseudo-term: freq = Σ member tf, ONE similarity call
        # (SynonymQuery.java:144-158, freq sum :446-455)
        _, qterms, w = node
        ds, ts, ns = [], [], []
        for t in qterms:
            e = get_tb(t)
            if e is None:
                continue
            ds.append(e[0])
            ts.append(e[2])
            ns.append(e[3])
        if not ds:
            return empty
        d_cat = np.concatenate(ds)
        uds, inv = np.unique(d_cat, return_inverse=True)
        fsum = np.bincount(inv, weights=np.concatenate(ts).astype(np.float64))
        norms = np.zeros(uds.size, dtype=np.int64)
        norms[inv] = np.concatenate(ns)  # same field → same norm per doc
        sc = bm25.score_terms(fsum, norms, np.float32(w),
                              _cache_for(caches, qterms[0]))
        return uds, sc.astype(np.float32)

    if kind == "phrase":
        _, qterms, offs, slop, w = node
        cand = None
        per_term = []
        for t in qterms:
            e = get_tb(t)
            if e is None:
                return empty
            d = e[0]
            per_term.append((d, e[3], _positions(e)))
            cand = d if cand is None else cand[
                np.isin(cand, d, assume_unique=True)]
            if cand.size == 0:
                return empty
        pos_lists = []
        norms0 = None
        for i, (d, nb, poss) in enumerate(per_term):
            idx = np.searchsorted(d, cand)
            pos_lists.append([poss[j] for j in idx])
            if i == 0:
                norms0 = nb[idx]
        freqs = _phrase_freqs(pos_lists, offs, slop)
        hit = freqs > 0
        if not hit.any():
            return empty
        sc = bm25.score_terms(freqs[hit], norms0[hit], np.float32(w),
                              _cache_for(caches, qterms[0]))
        return cand[hit], sc.astype(np.float32)

    if kind == "mphrase":
        _, slots, offs, slop, w = node
        slot_maps = []
        norm_map: dict = {}
        for slot in slots:
            m: dict = {}
            any_present = False
            for t in slot:
                e = get_tb(t)
                if e is None:
                    continue
                any_present = True
                d, nb, poss = e[0], e[3], _positions(e)
                for j in range(d.size):
                    did = int(d[j])
                    prev = m.get(did)
                    m[did] = (poss[j] if prev is None
                              else np.concatenate([prev, poss[j]]))
                    norm_map[did] = int(nb[j])
            if not any_present or not m:
                return empty  # slot has no postings in this segment
            slot_maps.append({k: np.sort(v) for k, v in m.items()})
        common = set(slot_maps[0])
        for m in slot_maps[1:]:
            common &= set(m)
        if not common:
            return empty
        cand = np.array(sorted(common), dtype=np.int64)
        pos_lists = [[sm[int(dd)] for dd in cand] for sm in slot_maps]
        freqs = _phrase_freqs(pos_lists, offs, slop)
        hit = freqs > 0
        if not hit.any():
            return empty
        norms = np.array([norm_map[int(dd)] for dd in cand[hit]],
                         dtype=np.int64)
        sc = bm25.score_terms(freqs[hit], norms, np.float32(w),
                              _cache_for(caches, slots[0][0]))
        return cand[hit], sc.astype(np.float32)

    if kind == "span":
        _, q, pairs, w, bare_keys, norm_field = node
        from .intervals import interval_freq
        from .spans import span_freq

        by_doc: dict = {}
        norm_map: dict = {}
        for f, t in pairs:
            e = get_tb(_qual(f, t))
            if e is None:
                continue
            d, nb, poss = e[0], e[3], _positions(e)
            key = t if bare_keys else (f, t)
            for j in range(d.size):
                did = int(d[j])
                by_doc.setdefault(did, {})[key] = poss[j]
                norm_map[did] = int(nb[j])
        if not by_doc:
            return empty
        if norm_field is not None:
            # cross-field tree: scoring norms come from the masked-to
            # field's per-doc rows (SpanWeight.buildSimWeight scores
            # with the span FIELD's norms); docs without that field
            # are dropped, matching the v1 engine's inner norms join
            if get_norms is None:
                raise RuntimeError(
                    "cross-field span node needs per-doc norm rows "
                    "the leaf scan did not carry")
            norm_map = get_norms(norm_field)
        freq_fn = interval_freq if bare_keys else span_freq
        out_d, out_f, out_n = [], [], []
        for did in sorted(by_doc):
            nb_doc = norm_map.get(did)
            if nb_doc is None:
                continue
            freq = freq_fn(q, by_doc[did])
            if freq > 0:
                out_d.append(did)
                out_f.append(freq)
                out_n.append(nb_doc)
        if not out_d:
            return empty
        score_field = (norm_field if norm_field is not None
                       else pairs[0][0])
        cache0 = _cache_for(caches, _qual(score_field, ""))
        sc = bm25.score_terms(
            np.asarray(out_f, dtype=np.float64),
            np.asarray(out_n, dtype=np.int64), np.float32(w), cache0)
        return np.asarray(out_d, dtype=np.int64), sc.astype(np.float32)

    if kind == "automaton":
        _, det, any_id, id_terms, w = node
        from .term_automaton import count_matches

        by_doc: dict = {}
        norm_map: dict = {}
        cache0 = None
        for tid, qt in id_terms:
            if qt is None:
                continue
            e = get_tb(qt)
            if e is None:
                continue
            if cache0 is None:
                cache0 = _cache_for(caches, qt)
            d, nb, poss = e[0], e[3], _positions(e)
            for j in range(d.size):
                did = int(d[j])
                by_doc.setdefault(did, []).extend(
                    (int(p), tid) for p in poss[j])
                norm_map[did] = int(nb[j])
        if not by_doc:
            return empty
        out_d, out_f, out_n = [], [], []
        for did in sorted(by_doc):
            events = sorted(by_doc[did])
            freq = count_matches(events, det, any_id)
            if freq > 0:
                out_d.append(did)
                out_f.append(freq)
                out_n.append(norm_map[did])
        if not out_d:
            return empty
        sc = bm25.score_terms(
            np.asarray(out_f, dtype=np.float64),
            np.asarray(out_n, dtype=np.int64), np.float32(w), cache0)
        return np.asarray(out_d, dtype=np.int64), sc.astype(np.float32)

    if kind == "const":
        _, child, c = node
        d, _s = _eval_node(child, get_tb, caches, get_norms)
        return d, np.full(d.size, np.float32(c), dtype=np.float32)

    if kind == "dismax":
        # (float)(max + (sum - max) * tieBreaker), sum in double
        # (DisjunctionMaxScorer.java:58-71)
        _, children, tb_f = node
        subs = [_eval_node(c, get_tb, caches, get_norms)
                for c in children]
        subs = [(d, sc) for d, sc in subs if d.size]
        if not subs:
            return empty
        d_cat = np.concatenate([d for d, _ in subs])
        s_cat = np.concatenate([sc for _, sc in subs])
        uds, inv = np.unique(d_cat, return_inverse=True)
        mx = np.full(uds.size, -np.inf, dtype=np.float64)
        np.maximum.at(mx, inv, s_cat.astype(np.float64))
        sums = np.bincount(inv, weights=s_cat.astype(np.float64),
                           minlength=uds.size)
        tbv = np.float64(np.float32(tb_f))
        out = (mx + (sums - mx) * tbv).astype(np.float32)
        return uds, out

    if kind == "bool":
        _, children, msm = node
        must, should, filt, must_not = [], [], [], []
        for occ, c in children:
            r = _eval_node(c, get_tb, caches, get_norms)
            if occ == "MUST":
                must.append(r)
            elif occ == "SHOULD":
                should.append(r)
            elif occ == "FILTER":
                filt.append(r)
            else:
                must_not.append(r)
        # candidate docs — IndexSearcher._compile_boolean /
        # OracleIndex._match_boolean semantics
        if must or filt:
            cand = None
            for d, _s in must + filt:
                cand = d if cand is None else np.intersect1d(
                    cand, d, assume_unique=True)
                if cand.size == 0:
                    return empty
            if should and msm > 0:
                cnt = np.zeros(cand.size, dtype=np.int64)
                for d, _s in should:
                    cnt += np.isin(cand, d, assume_unique=True)
                cand = cand[cnt >= msm]
        else:
            need = max(msm, 1)
            if not should:
                return empty
            if need == 1 and not must_not:
                # pure-disjunction fast path (the dominant BM25 batch
                # shape): ONE stable sort of the concatenated sorted
                # postings — radix for int64, so effectively O(n) —
                # plus one reduceat yields candidates AND the float64
                # clause-sum in a single pass. Bit-exact: the stable
                # sort keeps equal docids in clause order, so the
                # float64 accumulation order matches the per-clause
                # searchsorted loop below exactly.
                if len(should) == 1:
                    return should[0]
                d_cat = np.concatenate([d for d, _s in should])
                if d_cat.size == 0:
                    return empty
                s_cat = np.concatenate([sc for _d, sc in should])
                order = np.argsort(d_cat, kind="stable")
                ds = d_cat[order]
                ss = s_cat[order].astype(np.float64)
                b = np.flatnonzero(np.r_[True, ds[1:] != ds[:-1]])
                return ds[b], np.add.reduceat(ss, b).astype(np.float32)
            d_cat = np.concatenate([d for d, _s in should])
            uds, counts = np.unique(d_cat, return_counts=True)
            cand = uds[counts >= need]
        if cand.size == 0:
            return empty
        for d, _s in must_not:
            if d.size:
                cand = cand[~np.isin(cand, d, assume_unique=True)]
                if cand.size == 0:
                    return empty
        # score = float32(Σ float64 of scoring-clause float32 partials)
        total = np.zeros(cand.size, dtype=np.float64)
        for d, sc in must + should:
            idx = np.searchsorted(d, cand)
            idx_ok = idx < d.size
            idx_c = np.minimum(idx, d.size - 1) if d.size else idx
            m = idx_ok & (d[idx_c] == cand) if d.size else np.zeros(
                cand.size, dtype=bool)
            total[m] += sc[idx_c[m]].astype(np.float64)
        return cand, total.astype(np.float32)

    raise TypeError(f"unknown compiled node {kind}")


#: output rows of the per-segment leaf (qidx = position in the batch)
_LEAF_SCHEMA = "qidx int, docid long, score float"


def _segment_topk(trees: list, get_tb, caches, k: int | None,
                  deleted: np.ndarray | None, get_norms=None) -> tuple:
    """Per-segment evaluate → tombstone mask → top-k of every compiled
    tree: the (qidx, docid, score) arrays of their hits. Deleted
    docs are masked BEFORE the cut — masking after the per-segment
    truncation would drop docs that should be promoted — and the
    survivors are cut to k by (score desc, docid asc); ``k=None`` keeps
    every hit."""
    qs = [np.empty(0, np.int32)]
    ds = [np.empty(0, np.int64)]
    ss = [np.empty(0, np.float32)]
    for qi, tree in enumerate(trees):
        if tree[0] == "none":
            continue
        d, sc = _eval_node(tree, get_tb, caches, get_norms)
        if deleted is not None and d.size:
            live = ~np.isin(d, deleted)
            d, sc = d[live], sc[live]
        d, sc = _topk_arrays(d, sc, k)
        qs.append(np.full(d.size, qi, np.int32))
        ds.append(d)
        ss.append(sc)
    return np.concatenate(qs), np.concatenate(ds), np.concatenate(ss)


def segment_eval_topk(pdf: pd.DataFrame, trees: list, caches,
                      k: int | None, deleted: np.ndarray | None = None,
                      norm_fields=()) -> pd.DataFrame:
    """The per-segment leaf: top-k rows (qidx, docid, score) of every
    compiled tree over one segment's scanned block rows.

    The rows decode ONCE into a :class:`_SegGroups`, then
    :func:`_segment_topk` evaluates, masks and cuts every tree.
    ``norm_fields`` names the fields whose per-doc norm rows (kind 1/2)
    ride in ``pdf`` for cross-field span nodes (see _tree_norm_fields)."""
    from lucene_solr_spark.util.env import retain_malloc

    retain_malloc()
    get_norms = None
    if norm_fields:
        get_norms = _norm_maps_from_rows(pdf, norm_fields).get
        pdf = pdf[pdf["kind"] == 0]
    qidx, d, s = _segment_topk(trees, _SegGroups(pdf, caches).get, caches,
                               k, deleted, get_norms)
    return pd.DataFrame({"qidx": qidx, "docid": d,
                         "score": s.astype(np.float32, copy=False)})
