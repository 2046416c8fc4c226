"""Distributed BM25 query execution (the read path).

Spark-first rendering of IndexSearcher.search(Query, n) → TopDocs
(search/IndexSearcher.java:391-430, lifecycle in SURVEY.md §3.1):

  rewrite/plan (driver)   — resolve per-term df/ttf from the dict table
                            (TermStates resolution, IndexSearcher.java:764-780)
                            and precompute float32 weights in numpy;
  per-leaf scoring        — postings scan pruned to term buckets
                            (partition pruning ≙ the term dictionary
                            seek) + one Arrow-vectorized pandas UDF
                            computing exact-float32 per-(term,doc)
                            scores (BM25Similarity.java:223-226);
  boolean algebra         — MUST/SHOULD: one groupBy(docid) summing
                            clause scores in float64 and casting to
                            float32 once (BooleanScorer Bucket is
                            double; WANDScorer.java:445-453); FILTER:
                            left_semi join; MUST_NOT: left_anti join
                            (BooleanQuery.java:78-222 semantics);
  top-k                   — orderBy(score desc, docid asc).limit(k)
                            → Catalyst TakeOrderedAndProject, the
                            distributed equivalent of per-leaf heaps +
                            TopDocs.merge with the HitQueue tie-break
                            (HitQueue.java:76-81, TopDocs.java:188-230).

Everything between the scoring UDF and the result stays JVM-side
(whole-stage codegen); the UDF is Arrow-batched.
"""

from __future__ import annotations

import zlib
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import FloatType
from pyspark.sql.window import Window

from ..index.builder import IndexTables
from . import bm25
from .multiterm import dict_prefilter, expand_terms
from .queries import (
    BlendedTermLeaf,
    BlendedTermQuery,
    BooleanClause,
    BooleanQuery,
    CommonTermsQuery,
    ConstantScoreQuery,
    CoveringQuery,
    DisjunctionMaxQuery,
    FieldExistsQuery,
    FuzzyQuery,
    MatchAllDocsQuery,
    MatchNoDocsQuery,
    MultiPhraseQuery,
    MultiTermQuery,
    PhraseQuery,
    Query,
    SynonymQuery,
    TermQuery,
    TopDoc,
    build_common_terms,
)


def term_bucket(term: str, n_buckets: int) -> int:
    """Python twin of builder.term_bucket_expr (crc32 == F.crc32)."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def _phrase_verify_fn(offs, slop, nterms, w, scorer):
    """mapInPandas verifier shared by PhraseQuery and MultiPhraseQuery:
    input rows carry per-slot position arrays pos0..pos{n-1} + norm.
    The frequency is the shared phrase kernel (sloppy._phrase_freqs,
    also the v2 evaluator's): exact phrases vectorized across the whole
    Arrow batch, sloppy ones sequential per conjunction survivor."""
    offs = tuple(offs)

    def verify(batches):
        from .sloppy import _phrase_freqs

        for pdf in batches:
            if len(pdf) == 0:
                continue
            freqs = _phrase_freqs(
                [list(pdf[f"pos{i}"]) for i in range(nterms)], offs, slop)
            hit = freqs > 0
            if not hit.any():
                yield pd.DataFrame({"docid": pd.Series([], dtype="int64"),
                                    "score": pd.Series([], dtype="float32")})
                continue
            docids = pdf["docid"].to_numpy(dtype=np.int64)
            norms = pdf["norm"].to_numpy(dtype=np.int64)
            s = scorer.partial(freqs[hit], norms[hit], np.float32(w))
            yield pd.DataFrame({"docid": docids[hit], "score": s})

    return verify


def _str_in(colname: str, values) -> "F.Column":
    """``col IN (...)`` over a string list as ONE parsed SQL expression.

    ``Column.isin`` pays one py4j round-trip per element (a 1024-term
    batch costs ~2.5 s of driver time); a single ``F.expr`` string is
    one call and yields the identical Catalyst ``In``/``InSet`` (same
    pushdown / same plan)."""
    vals = ", ".join(
        "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        for v in values)
    return F.expr(f"`{colname}` IN ({vals})") if vals else F.lit(False)


def _collect_terms(q: Query) -> set[tuple[str, str]]:
    """(field, term) pairs needing TermStates resolution."""
    if isinstance(q, TermQuery):
        return {(q.field, q.term)}
    if isinstance(q, (PhraseQuery, SynonymQuery, CommonTermsQuery)):
        return {(q.field, t) for t in q.terms}
    if isinstance(q, MultiPhraseQuery):
        return {(q.field, t) for slot in q.termss for t in slot}
    if isinstance(q, BooleanQuery):
        out: set[tuple[str, str]] = set()
        for c in q.clauses:
            out |= _collect_terms(c.query)
        return out
    if isinstance(q, ConstantScoreQuery):
        return _collect_terms(q.query)
    if isinstance(q, DisjunctionMaxQuery):
        out = set()
        for d in q.disjuncts:
            out |= _collect_terms(d)
        return out
    if isinstance(q, CoveringQuery):
        out = set()
        for sq in q.queries:
            out |= _collect_terms(sq)
        return out
    if isinstance(q, BlendedTermQuery):
        return {(f, t) for f, t, _b in q.terms}
    if isinstance(q, BlendedTermLeaf):
        return {(q.field, q.term)}
    from .feature import FeatureQuery

    if isinstance(q, FeatureQuery):
        return {(q.field, q.feature)}
    from .spans import SpanQuery, span_field_terms

    if isinstance(q, SpanQuery):
        # each term pairs with its OWN field (FieldMaskingSpanQuery
        # composes cross-field trees)
        return span_field_terms(q)
    from .term_automaton import TermAutomatonQuery

    if isinstance(q, TermAutomatonQuery):
        return {(q.field, t) for t in q.terms().values()}
    from .intervals import IntervalQuery, interval_terms

    if isinstance(q, IntervalQuery):
        return {(q.field, t) for t in interval_terms(q)}
    from .qparser import FieldJoinQuery, FunctionBoostQuery, GraphTermsQuery

    if isinstance(q, GraphTermsQuery):
        return {(q.field, t) for t in q.terms}
    if isinstance(q, (FunctionBoostQuery, FieldJoinQuery)):
        return _collect_terms(q.query)
    return set()


class IndexSearcher:
    """Searcher bound to one index (IndexTables). Caches the postings/
    dict DataFrames (≙ Lucene's SegmentReader pooling; at cluster scale
    these are just lazy plans — persist() them for closed-loop QPS)."""

    #: don't driver-cache dictionaries bigger than this (rows). At
    #: cluster scale the dict stays distributed and term_stats is a
    #: bucket-pruned Spark lookup; below the threshold we hold
    #: term→df in driver RAM exactly like Lucene holds its FST.
    DICT_CACHE_MAX = 5_000_000
    #: driver-safety cap on one multi-term dictionary expansion scan
    MAX_EXPANSION_SCAN = 1_000_000
    #: LRU capacity (term buckets) for cache="buckets" mode
    BUCKET_CACHE_MAX = 64

    def __init__(self, tables: IndexTables, cache: bool | str = False,
                 similarity: str = "bm25"):
        from .similarities import make_scorer

        self.tables = tables
        m = tables.manifest()
        self.doc_count = int(m["doc_count"])
        self.sum_ttf = int(m["sum_ttf"])
        self.n_buckets = int(m["n_buckets"])
        self.similarity = similarity
        # per-field collection stats → per-field scorers (FieldInfos /
        # collectionStatistics role; similarity is pluggable —
        # IndexSearcher.setSimilarity, search/similarities/)
        self.field_stats = m.get("field_stats") or {
            "content": {"doc_count": self.doc_count, "sum_ttf": self.sum_ttf}}
        from .similarities import resolve_field_similarity

        self.scorers = {
            f: make_scorer(resolve_field_similarity(similarity, f),
                           s["doc_count"], s["sum_ttf"])
            for f, s in self.field_stats.items()}
        self.scorer = self.scorers.get(
            "content", next(iter(self.scorers.values())))
        # scoring never reads positions — keep the cached/scanned
        # projection slim (positions are arrays, ~10× the bytes of the
        # scoring columns; caching them trashed executor memory).
        # Phrase verification reads the full table with column pruning.
        self.postings_full = tables.postings()
        if "field" not in self.postings_full.columns:  # pre-field index
            self.postings_full = self.postings_full.withColumn(
                "field", F.lit("content"))
        self.postings = self.postings_full.drop("positions")
        self.dict = tables.dict()
        if "field" not in self.dict.columns:
            self.dict = self.dict.withColumn("field", F.lit("content"))
        self.docs = tables.docs()
        # tombstones (anti-joined onto every scored result; the
        # Lucene liveDocs role — stats keep counting deleted docs
        # until a rebuild/compaction, like docCount vs numDocs)
        import os as _os

        droot = _os.path.join(tables.root, "deletes")
        self.deletes = (
            tables.spark.read.parquet(droot).select("docid").distinct()
            if _os.path.exists(droot) else None)
        self._df_map: dict[tuple[str, str], int] | None = None
        self._ttf_map: dict[tuple[str, str], int] | None = None
        self._norm_cache_cols: dict[str, object] = {}
        self._batch_postings: DataFrame | None = None
        #: batched-path top-k strategy: declarative groupBy+window
        #: (False, default — all-JVM) vs partition-local numpy
        #: collector (True). The collector eliminates the candidate
        #: sort entirely, but on a single box the Arrow export of the
        #: scored rows costs more than the JVM sort it replaces; on a
        #: real cluster (per-executor Arrow streams) it is the
        #: scale-out strategy.
        self.batch_collector = False
        #: cache modes: False/None = pure lazy plans; True/"full" =
        #: persist the whole slim postings projection (searcher-
        #: lifetime, single-box QPS mode); "buckets" = LRU of persisted
        #: per-term-bucket slices populated on first touch — memory is
        #: bounded by the QUERY WORKING SET (≤ BUCKET_CACHE_MAX
        #: buckets), not the index size, which is the 100-TB-safe
        #: variant of the full persist (round-2 plan-audit note).
        self._cache_mode = cache if isinstance(cache, str) else (
            "full" if cache else None)
        if self._cache_mode not in (None, "full", "buckets"):
            raise ValueError(f"unknown cache mode {cache!r}")
        from collections import OrderedDict
        self._bucket_cache: "OrderedDict[int, DataFrame]" = OrderedDict()
        self.bucket_cache_evictions = 0
        if self._cache_mode == "full":
            self.postings.persist()
        if self._cache_mode is not None:
            self.dict.persist()
            n_terms = self.dict.count()  # also materializes the caches lazily
            if n_terms <= self.DICT_CACHE_MAX:
                pdf = self.dict.select("field", "term", "df", "ttf").toPandas()
                self._df_map = {(f, t): int(d) for f, t, d in
                                zip(pdf["field"], pdf["term"], pdf["df"])}
                if getattr(self.scorer, "needs_ttf", False):
                    self._ttf_map = {(f, t): int(x) for f, t, x in
                                     zip(pdf["field"], pdf["term"],
                                         pdf["ttf"])}

    def _bucket_frame(self, buckets: list[int]) -> DataFrame:
        """cache="buckets": union of persisted per-bucket postings
        slices, loading misses (one partition-pruned scan each) and
        evicting least-recently-used buckets past BUCKET_CACHE_MAX."""
        frames = []
        for b in buckets:
            f = self._bucket_cache.get(b)
            if f is None:
                f = self.postings.where(F.col("bucket") == b).persist()
                self._bucket_cache[b] = f
                while len(self._bucket_cache) > self.BUCKET_CACHE_MAX:
                    _b, old = self._bucket_cache.popitem(last=False)
                    old.unpersist()
                    self.bucket_cache_evictions += 1
            else:
                self._bucket_cache.move_to_end(b)
            frames.append(f)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def _batch_table(self) -> DataFrame:
        """Slim DOCID-partitioned postings projection for the batched
        path, built lazily once per searcher and persisted.

        Two scale properties fall out of the layout:
          * hash(docid) partitioning means every (query, doc) group is
            partition-local, so the per-(query, doc) score aggregation
            needs NO exchange (HashPartitioning(docid) satisfies
            ClusteredDistribution(qidx, docid)) — the only shuffle left
            in the batched plan is the tiny per-query top-k merge.
          * the join key is one int64 (xxhash64 of field+term, computed
            by the SAME Spark function on the clause side), so the hot
            scan reads (tkey, docid, tf, norm) — no strings. A 64-bit
            collision between two distinct index terms (~1e-8 at 1M
            terms) is the accepted trade, as in Spark's own hash joins'
            memory-format fallbacks.
        """
        if self._batch_postings is None:
            spark = self.tables.spark
            n = int(spark.conf.get("spark.sql.shuffle.partitions"))
            # materialize the cache with AQE OFF: under AQE the cached
            # plan is an unfinalized AdaptiveSparkPlan whose output
            # partitioning reads as Unknown, and the downstream
            # aggregation re-shuffles the whole table; with a plain
            # Exchange in the cached plan, InMemoryTableScan reports
            # HashPartitioning(docid) and the per-(query, doc) groupBy
            # is exchange-free.
            aqe = spark.conf.get("spark.sql.adaptive.enabled")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            try:
                bp = (
                    self.postings
                    .select(F.xxhash64("field", "term").alias("tkey"),
                            "docid", "tf", "norm", "field")
                    .repartition(n * 2, "docid")
                    .persist()
                )
                bp.count()
                # collision guard, once per searcher lifetime: verify
                # xxhash64 is injective over THIS index's vocabulary.
                # Clause probes are restricted to dictionary terms
                # (df > 0 — see search_many), so dict-level injectivity
                # makes every join match exact; a violation (~1e-8 at
                # 1M terms) falls back loudly instead of silently
                # merging two terms' postings into one score.
                chk = self.dict.agg(
                    F.count("*").alias("n"),
                    F.countDistinct(
                        F.xxhash64("field", "term")).alias("nk")).collect()[0]
                if int(chk["n"]) != int(chk["nk"]):
                    bp.unpersist()
                    raise RuntimeError(
                        "xxhash64(field, term) collision in the index "
                        "dictionary — the int64-keyed batched path is "
                        "unsafe for this index; use search()/search_df "
                        "(string-keyed) instead")
                self._batch_postings = bp
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", aqe)
        return self._batch_postings

    def _norm_cache_col(self, field: str):
        """256-entry float32 norm cache (BM25Similarity.java:219) as an
        ARRAY LITERAL column, built once per searcher per field — a
        plan-side lookup table (element_at) instead of a broadcast
        join: no exchange, no per-batch py4j cost."""
        col = self._norm_cache_cols.get(field)
        if col is None:
            col = F.lit([float(c) for c in self.field_scorer(field).cache])
            self._norm_cache_cols[field] = col
        return col

    def _field_norms(self, field: str) -> DataFrame:
        """(docid, norm) for ``field`` — the docs table for the
        content field and single-field indexes, the per-field norms
        table (field_docs) otherwise."""
        if field != "content":
            fd = self.tables.field_docs()
            if fd is not None:
                return fd.where(F.col("field") == field).select(
                    "docid", "norm")
        return self.docs.select("docid", "norm")

    def field_scorer(self, field: str):
        s = self.scorers.get(field)
        if s is None:  # unknown field: empty stats (no matches anyway)
            from .similarities import make_scorer, resolve_field_similarity

            s = make_scorer(resolve_field_similarity(self.similarity, field),
                            max(self.doc_count, 1),
                            max(self.sum_ttf, 1))
        return s

    # -- rewrite (logical optimization) ---------------------------------
    def rewrite(self, q: Query) -> Query:
        """Fixpoint rewrite (IndexSearcher.java:667-669): expand
        multi-term queries against the dictionary into primitive
        term/boolean queries (MultiTermQuery.java:94-126 rewrite
        methods), recursing through compound queries."""
        if isinstance(q, MultiTermQuery):
            terms = self._expand(q)
            qfield = getattr(q, "field", "content")
            inner = BooleanQuery(
                tuple(BooleanClause(TermQuery(t, field=qfield), "SHOULD")
                      for t in terms))
            if getattr(q, "rewrite", "constant_score") == "scoring_boolean":
                return BooleanQuery(inner.clauses, boost=q.boost)
            return ConstantScoreQuery(inner, boost=q.boost)
        if isinstance(q, CommonTermsQuery):
            # df-threshold split against the dictionary
            # (CommonTermsQuery.java buildQuery)
            pairs = self.term_stats({(q.field, t) for t in q.terms})
            dfs = {t: df for (_f, t), df in pairs.items()}
            doc_count = self.field_scorer(q.field).doc_count
            return build_common_terms(q, dfs, doc_count)
        if isinstance(q, BooleanQuery):
            return BooleanQuery(
                tuple(BooleanClause(self.rewrite(c.query), c.occur)
                      for c in q.clauses),
                q.minimum_should_match, q.boost)
        if isinstance(q, ConstantScoreQuery):
            return ConstantScoreQuery(self.rewrite(q.query), q.boost)
        if isinstance(q, DisjunctionMaxQuery):
            return DisjunctionMaxQuery(
                tuple(self.rewrite(d) for d in q.disjuncts),
                q.tie_breaker, q.boost)
        if isinstance(q, CoveringQuery):
            return CoveringQuery(
                tuple(self.rewrite(sq) for sq in q.queries),
                q.min_match, q.boost, q.oracle_min_match)
        if isinstance(q, BlendedTermQuery):
            return self._rewrite_blended(q)
        from .fuzzy_like_this import FuzzyLikeThisQuery

        if isinstance(q, FuzzyLikeThisQuery):
            return self._rewrite_fuzzy_like_this(q)
        from .qparser import FieldJoinQuery, FunctionBoostQuery

        if isinstance(q, FunctionBoostQuery):
            return FunctionBoostQuery(self.rewrite(q.query), q.func, q.boost)
        if isinstance(q, FieldJoinQuery):
            return FieldJoinQuery(q.from_field, q.to_field,
                                  self.rewrite(q.query), q.boost)
        from .spans import SpanQuery, expand_span_multiterm

        if isinstance(q, SpanQuery):
            # SpanMultiTermQueryWrapper rewrite: each wrapper becomes a
            # SpanOr over the dictionary-pruned expansion (_expand —
            # the same scan multi-term queries use outside spans)
            return expand_span_multiterm(q, self._expand)
        return q

    def _rewrite_fuzzy_like_this(self, q) -> Query:
        """FuzzyLikeThisQuery.rewrite (sandbox/queries/
        FuzzyLikeThisQuery.java:276-333) — the shared builder with the
        dict-scan variant enumerator: prefix + levenshtein-prefiltered
        Spark predicate, exact OSA refinement inside the builder."""
        from ..analysis.tokenizer import StandardAnalyzer
        from .fuzzy_like_this import build_fuzzy_like_this

        def enum(field, term, max_edits, prefix_length):
            if self._df_map is not None:
                return [(t, df)
                        for (f, t), df in self._df_map.items()
                        if f == field and t.startswith(term[:prefix_length])
                        and abs(len(t) - len(term)) <= max_edits]
            pred = dict_prefilter(
                FuzzyQuery(term, max_edits, prefix_length), F.col("term"))
            rows = (self.dict
                    .where(pred & (F.col("field") == field))
                    .select("term", "df")
                    .limit(self.MAX_EXPANSION_SCAN + 1).collect())
            if len(rows) > self.MAX_EXPANSION_SCAN:
                raise ValueError(
                    f"fuzzy-like-this expansion scanned > "
                    f"{self.MAX_EXPANSION_SCAN} dictionary terms for "
                    f"{term!r}")
            return [(r["term"], int(r["df"])) for r in rows]

        def doc_freq(field, term):
            return self.term_stats({(field, term)}).get((field, term), 0)

        return build_fuzzy_like_this(
            q, enum, doc_freq, self.doc_count,
            q.analyzer or StandardAnalyzer())

    def _rewrite_blended(self, q: BlendedTermQuery) -> Query:
        """BlendedTermQuery.rewrite (BlendedTermQuery.java:265-296):
        df = max member df, ttf = sum member ttf, every member scores
        with the blended pair; then DisMax(tie) or SHOULD-Boolean."""
        pairs = {(f, t) for f, t, _b in q.terms}
        dfs = self.term_stats(pairs)
        df = max([dfs.get(p, 0) for p in pairs], default=0)
        needs_ttf = any(
            getattr(self.field_scorer(f), "needs_ttf", False)
            for f, _t, _b in q.terms)
        ttf = 0
        if needs_ttf:
            ttfs = self._ttf_for(pairs)
            ttf = sum(ttfs.get(p, 0) for p in pairs)
        leaves = tuple(
            BlendedTermLeaf(f, t, df, ttf, b) for f, t, b in q.terms)
        if q.rewrite_method == "boolean":
            return BooleanQuery(
                tuple(BooleanClause(l, "SHOULD") for l in leaves),
                boost=q.boost)
        return DisjunctionMaxQuery(leaves, q.tie_breaker, q.boost)

    def _expand(self, q: MultiTermQuery) -> list[str]:
        """Dictionary walk (the TermsEnum/automaton role): a cheap
        Spark-side predicate prunes the dict scan, then the candidate
        set is refined exactly in Python (shared with the oracle via
        expand_terms, so both engines expand identically)."""
        qfield = getattr(q, "field", "content")
        if self._df_map is not None:
            return expand_terms(
                (t for f, t in self._df_map.keys() if f == qfield), q)
        pred = dict_prefilter(q, F.col("term"))
        scan = (self.dict.where(pred & (F.col("field") == qfield))
                .select("term").limit(self.MAX_EXPANSION_SCAN + 1).collect())
        if len(scan) > self.MAX_EXPANSION_SCAN:
            # driver-safety valve at real-corpus vocabulary: a
            # dialect-divergent regex (pred = True) or a degenerate
            # range could otherwise pull the whole dictionary into the
            # driver; fail loudly like BooleanQuery.TooManyClauses
            # rather than OOM (BooleanQuery.java:44-57)
            raise ValueError(
                f"multi-term expansion scanned > {self.MAX_EXPANSION_SCAN} "
                f"dictionary terms for {q!r}; narrow the pattern")
        return expand_terms([r["term"] for r in scan], q)

    # -- planning -------------------------------------------------------
    def term_stats(self, pairs: set[tuple[str, str]]) -> dict[tuple[str, str], int]:
        """df per (field, term) — the TermStates resolution
        (IndexSearcher.java:764). Driver dict cache when loaded (≙
        Lucene's in-RAM FST), else a bucket-pruned scan of the dict
        table; tiny collect (|pairs| rows)."""
        if not pairs:
            return {}
        if self._df_map is not None:
            return {p: self._df_map[p] for p in pairs if p in self._df_map}
        terms = {t for _f, t in pairs}
        fields = {f for f, _t in pairs}
        buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
        rows = (
            self.dict
            .where(F.col("bucket").isin(buckets)
                   & _str_in("term", terms)
                   & _str_in("field", fields))
            .select("field", "term", "df")
            .collect()
        )
        out = {(r["field"], r["term"]): int(r["df"]) for r in rows}
        return {p: out[p] for p in pairs if p in out}

    def _weights(self, q: Query, stats: dict[tuple[str, str], int]) -> dict:
        """Per-(field, term) float32 weight = (k1+1) * boost * idf.
        Boost folded in per-leaf during compilation (boost=1 here)."""
        out = {}
        for pair in _collect_terms(q):
            df = stats.get(pair, 0)
            if df:
                out[pair] = float(self.field_scorer(pair[0]).weight(df, 1.0))
        return out

    # -- leaf scoring ---------------------------------------------------
    def _postings_for(self, terms: list[str], with_positions: bool = False,
                      field: str = "content") -> DataFrame:
        present = [t for t in terms]
        buckets = sorted({term_bucket(t, self.n_buckets) for t in present})
        if self._cache_mode == "buckets" and not with_positions:
            # LRU'd per-bucket slices; the term/field filters prune
            # inside the cached batches (positions path stays a direct
            # column-pruned parquet scan — arrays would bloat the cache)
            return self._bucket_frame(buckets).where(
                _str_in("term", present) & (F.col("field") == field))
        src = self.postings_full if with_positions else self.postings
        return src.where(
            F.col("bucket").isin(buckets) & _str_in("term", present)
            & (F.col("field") == field)
        )

    def _score_udf(self, weights: dict[str, float], scorer=None):
        scorer = scorer or self.scorer

        @F.pandas_udf(FloatType())
        def score(term: pd.Series, tf: pd.Series, norm: pd.Series) -> pd.Series:
            w = term.map(weights).to_numpy(dtype=np.float32)
            s = scorer.partial(tf.to_numpy(), norm.to_numpy(), w)
            return pd.Series(s)

        return score

    def _ttf_for(self, pairs: set[tuple[str, str]]) -> dict:
        """(field, term) → totalTermFreq for the SimilarityBase family
        (LM/DFR); cached map when the dictionary fit the driver cap,
        else one bucket-pruned dict scan."""
        if self._ttf_map is not None:
            return {p: self._ttf_map[p] for p in pairs if p in self._ttf_map}
        terms = {t for _f, t in pairs}
        buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
        rows = (self.dict
                .where(F.col("bucket").isin(buckets) & _str_in("term", terms)
                       & _str_in("field", {f for f, _t in pairs}))
                .select("field", "term", "ttf").collect())
        return {(r["field"], r["term"]): int(r["ttf"]) for r in rows}

    def _term_leaf(self, q: TermQuery, stats, boost: float) -> DataFrame:
        """(docid, score float32) for one term."""
        df = stats.get((q.field, q.term), 0)
        if df == 0:
            return self._empty_scored()
        scorer = self.field_scorer(q.field)
        if getattr(scorer, "needs_ttf", False):
            ttf = self._ttf_for({(q.field, q.term)}).get((q.field, q.term), df)
            bq = float(boost * q.boost)

            @F.pandas_udf(FloatType())
            def sscore(tf: pd.Series, norm: pd.Series) -> pd.Series:
                return pd.Series(scorer.stats_partial(
                    tf.to_numpy(), norm.to_numpy(), bq, df, ttf))

            return (self._postings_for([q.term], field=q.field)
                    .select("docid",
                            sscore(F.col("tf"), F.col("norm")).alias("score")))
        w = float(scorer.weight(df, boost * q.boost))
        udf = self._score_udf({q.term: w}, scorer)
        return (
            self._postings_for([q.term], field=q.field)
            .select("docid", udf(F.col("term"), F.col("tf"), F.col("norm")).alias("score"))
        )

    def _phrase_leaf(self, q: PhraseQuery, stats, boost: float) -> DataFrame:
        """Two-phase phrase (TwoPhaseIterator semantics): conjunction
        join on docid approximates; position verification is exact.

        slop=0 — ExactPhraseMatcher (ExactPhraseMatcher.java:93-126):
        freq = #alignments, verified VECTORIZED across the whole Arrow
        batch (positions flattened with per-row strides, one
        intersect1d per term pair — no per-row Python).

        slop>0 — SloppyPhraseMatcher (SloppyPhraseMatcher.java:119-152):
        float32 freq = Σ 1/(1+matchLength) over the greedy pq traversal
        (search/sloppy.py). The traversal is inherently sequential per
        doc; it runs only on conjunction survivors.

        Weight from summed member idfs (BM25Similarity.java:172-181).
        """
        if not q.terms or any(stats.get((q.field, t), 0) == 0 for t in q.terms):
            return self._empty_scored()
        scorer = self.field_scorer(q.field)
        offs = q.effective_positions()
        idfs = [scorer.idf(stats[(q.field, t)]) for t in q.terms]
        idf_sum = np.float32(np.sum(np.asarray(idfs, dtype=np.float64)))
        w = float(scorer.weight_from_idf_sum(idf_sum, boost * q.boost))
        slop = q.slop
        nterms = len(q.terms)

        # per-term position arrays joined on docid (sort-merge on docid)
        parts = []
        for i, t in enumerate(q.terms):
            p = (
                self._postings_for([t], with_positions=True, field=q.field)
                .select("docid", F.col("positions").alias(f"pos{i}"),
                        *( [F.col("norm")] if i == 0 else [] ))
            )
            parts.append(p)
        joined = reduce(lambda a, b: a.join(b, "docid"), parts)

        return joined.mapInPandas(
            _phrase_verify_fn(offs, slop, nterms, w, scorer),
            schema="docid long, score float")

    def _span_leaf(self, q, stats, boost: float) -> DataFrame:
        """Span AND interval queries, two-phase like phrases: the
        doc-level boolean skeleton prunes candidates (a MUST
        conjunction for Near/Ordered, a SHOULD union for Or —
        spans/SpanWeight approximation), the tree's term positions are
        left-joined per candidate, and a mapInPandas pass enumerates
        matches per doc (search/spans.py minimal-anchor spans;
        search/intervals.py minimal intervals) and scores float32
        Σ 1/(1+width|gaps) with the idf-sum weight
        (SpanScorer.java:118-141, SpanWeight.buildSimWeight;
        queries/intervals/IntervalScorer.java role)."""
        from .intervals import (
            IntervalQuery,
            interval_freq,
            interval_terms,
            interval_to_boolean,
        )
        from .spans import span_freq, span_terms, span_to_boolean

        if isinstance(q, IntervalQuery):
            span_freq = interval_freq             # noqa: F811
            span_to_boolean = interval_to_boolean  # noqa: F811
        field = getattr(q, "field", "content")
        scorer = self.field_scorer(field)
        if getattr(scorer, "needs_ttf", False):
            raise TypeError("span queries need a precomputed weight; "
                            "unsupported under LM/DFR similarities")
        # (field, term) pairs: span trees may cross fields via
        # FieldMaskingSpanQuery; intervals are single-field
        if isinstance(q, IntervalQuery):
            pairs = sorted((field, t) for t in interval_terms(q))
            bare_keys = True
        else:
            from .spans import span_field_terms

            pairs = sorted(span_field_terms(q))
            bare_keys = False
        present = {p: stats.get(p, 0) for p in pairs}
        dfs = [df for df in present.values() if df]
        if not dfs:
            return self._empty_scored()
        # SpanWeight.buildSimWeight: per-term idf from each term's OWN
        # field statistics, one similarity built from the top field
        idfs = [scorer.idf(df) for df in dfs]
        idf_sum = np.float32(np.sum(np.asarray(idfs, dtype=np.float64)))
        w = float(scorer.weight_from_idf_sum(idf_sum, boost * q.boost))

        skeleton = self.rewrite(span_to_boolean(q))
        cand = self._compile(skeleton, stats, 1.0).select("docid").distinct()
        base = cand.join(self._field_norms(field), "docid")
        tlist = [p for p in pairs if present[p]]
        qq = q

        if len(tlist) <= 8:
            # narrow tree: one positional left join per (field, term)
            # (plan stays a short join chain; the common case)
            for i, (f, t) in enumerate(tlist):
                p = (self._postings_for([t], with_positions=True,
                                        field=f)
                     .select("docid", F.col("positions").alias(f"pos{i}")))
                base = base.join(p, "docid", "left")

            nterms = len(tlist)

            def verify(batches):
                for pdf in batches:
                    nrows = len(pdf)
                    if nrows == 0:
                        continue
                    docids = pdf["docid"].to_numpy(dtype=np.int64)
                    norms = pdf["norm"].to_numpy(dtype=np.int64)
                    cols = [pdf[f"pos{i}"].to_numpy()
                            for i in range(nterms)]
                    freqs = np.empty(nrows, dtype=np.float64)
                    for r in range(nrows):
                        pos = {}
                        for i in range(nterms):
                            v = cols[i][r]
                            if v is None or (isinstance(v, float)
                                             and np.isnan(v)):
                                continue  # left-join miss: term absent
                            arr = np.asarray(v, dtype=np.int64)
                            key = (tlist[i][1] if bare_keys
                                   else tlist[i])
                            pos[key] = arr
                        freqs[r] = span_freq(qq, pos)
                    hit = freqs > 0
                    if not hit.any():
                        yield pd.DataFrame(
                            {"docid": pd.Series([], dtype="int64"),
                             "score": pd.Series([], dtype="float32")})
                        continue
                    s = scorer.partial(freqs[hit], norms[hit],
                                       np.float32(w))
                    yield pd.DataFrame({"docid": docids[hit], "score": s})

            return base.mapInPandas(verify, schema="docid long, score float")

        # wide tree (e.g. a SpanMultiTermWrapper expansion): a join per
        # term would build an unboundedly deep plan (JVM stack), so all
        # term positions ride ONE bucket-pruned scan per distinct field
        # grouped per doc — joins bounded by the field count, not the
        # expansion width
        wide_fields = sorted({f for f, _t in tlist})
        for j, f in enumerate(wide_fields):
            terms_f = [t for ff, t in tlist if ff == f]
            grouped = (
                self._postings_for(terms_f, with_positions=True, field=f)
                .groupBy("docid")
                .agg(F.collect_list(F.struct("term", "positions"))
                     .alias(f"tpos{j}")))
            base = base.join(grouped, "docid", "left")
        nfields = len(wide_fields)

        def verify_grouped(batches):
            for pdf in batches:
                nrows = len(pdf)
                if nrows == 0:
                    continue
                docids = pdf["docid"].to_numpy(dtype=np.int64)
                norms = pdf["norm"].to_numpy(dtype=np.int64)
                tcols = [pdf[f"tpos{j}"].to_numpy()
                         for j in range(nfields)]
                freqs = np.empty(nrows, dtype=np.float64)
                for r in range(nrows):
                    pos = {}
                    for j in range(nfields):
                        v = tcols[j][r]
                        if v is None or (isinstance(v, float)
                                         and np.isnan(v)):
                            continue
                        for e in v:
                            arr = np.asarray(e["positions"],
                                             dtype=np.int64)
                            key = (e["term"] if bare_keys
                                   else (wide_fields[j], e["term"]))
                            pos[key] = arr
                    freqs[r] = span_freq(qq, pos)
                hit = freqs > 0
                if not hit.any():
                    yield pd.DataFrame(
                        {"docid": pd.Series([], dtype="int64"),
                         "score": pd.Series([], dtype="float32")})
                    continue
                s = scorer.partial(freqs[hit], norms[hit], np.float32(w))
                yield pd.DataFrame({"docid": docids[hit], "score": s})

        return base.mapInPandas(verify_grouped,
                                schema="docid long, score float")

    def _multi_phrase_leaf(self, q: MultiPhraseQuery, stats, boost: float) -> DataFrame:
        """MultiPhraseQuery (search/MultiPhraseQuery.java): per slot,
        the positional UNION of the slot terms' postings
        (UnionPostingsEnum) — one bucket-pruned scan + groupBy(docid)
        flattening per slot — then the SAME two-phase verify as
        PhraseQuery. Weight sums idf over every member term with
        df > 0 (MultiPhraseWeight → idfExplain(termStats[]))."""
        if not q.termss:
            return self._empty_scored()
        present_slots = [[t for t in slot if stats.get((q.field, t), 0)]
                         for slot in q.termss]
        if any(not slot for slot in present_slots):
            return self._empty_scored()
        scorer = self.field_scorer(q.field)
        offs = q.effective_positions()
        dfs = [stats[(q.field, t)] for slot in present_slots for t in slot]
        idfs = [scorer.idf(df) for df in dfs]
        idf_sum = np.float32(np.sum(np.asarray(idfs, dtype=np.float64)))
        w = float(scorer.weight_from_idf_sum(idf_sum, boost * q.boost))

        parts = []
        for i, slot in enumerate(present_slots):
            src = self._postings_for(slot, with_positions=True, field=q.field)
            if len(slot) == 1:
                p = src.select("docid", F.col("positions").alias(f"pos{i}"),
                               *([F.col("norm")] if i == 0 else []))
            else:
                aggs = [F.sort_array(F.flatten(F.collect_list("positions")))
                        .alias(f"pos{i}")]
                if i == 0:
                    aggs.append(F.min("norm").alias("norm"))
                p = src.groupBy("docid").agg(*aggs)
            parts.append(p)
        joined = reduce(lambda a, b: a.join(b, "docid"), parts)
        return joined.mapInPandas(
            _phrase_verify_fn(offs, q.slop, len(present_slots), w, scorer),
            schema="docid long, score float")

    def _empty_scored(self) -> DataFrame:
        return self.tables.spark.createDataFrame([], "docid long, score float")

    # -- compilation ----------------------------------------------------
    def _compile(self, q: Query, stats: dict[str, int], boost: float = 1.0) -> DataFrame:
        """query → DataFrame(docid, score:float32). Each level's score
        is cast to float32 (each Lucene Scorer.score() returns float)."""
        if isinstance(q, TermQuery):
            return self._term_leaf(q, stats, boost)
        if isinstance(q, PhraseQuery):
            return self._phrase_leaf(q, stats, boost)
        if isinstance(q, MultiPhraseQuery):
            return self._multi_phrase_leaf(q, stats, boost)
        if isinstance(q, MatchAllDocsQuery):
            return self.docs.select(
                "docid", F.lit(float(np.float32(boost * q.boost))).cast("float").alias("score")
            )
        if isinstance(q, MatchNoDocsQuery):
            return self._empty_scored()
        if isinstance(q, FieldExistsQuery):
            # NormsFieldExistsQuery role: docs that indexed the field
            c = float(np.float32(boost * q.boost))
            fd = self.tables.field_docs()
            if fd is not None:
                base = fd.where(F.col("field") == q.field).select("docid")
            elif q.field in self.field_stats:
                base = self.docs.select("docid")  # single-field index
            else:
                return self._empty_scored()
            return base.select("docid", F.lit(c).cast("float").alias("score"))
        if isinstance(q, ConstantScoreQuery):
            inner = self._compile(q.query, stats, 1.0).select("docid")
            c = float(np.float32(boost * q.boost))
            return inner.select("docid", F.lit(c).cast("float").alias("score"))
        if isinstance(q, BooleanQuery):
            return self._compile_boolean(q, stats, boost)
        from .intervals import IntervalQuery
        from .spans import SpanQuery

        if isinstance(q, (SpanQuery, IntervalQuery)):
            return self._span_leaf(q, stats, boost)
        if isinstance(q, SynonymQuery):
            return self._synonym_leaf(q, stats, boost)
        if isinstance(q, DisjunctionMaxQuery):
            return self._compile_dismax(q, stats, boost)
        if isinstance(q, CoveringQuery):
            return self._covering_leaf(q, stats, boost)
        if isinstance(q, BlendedTermLeaf):
            return self._blended_term_leaf(q, boost)
        from .feature import FeatureQuery

        if isinstance(q, FeatureQuery):
            return self._feature_leaf(q, stats, boost)
        from .term_automaton import TermAutomatonQuery

        if isinstance(q, TermAutomatonQuery):
            return self._term_automaton_leaf(q, stats, boost)
        from .qparser import (
            FieldJoinQuery,
            FunctionBoostQuery,
            FunctionRangeQuery,
            GraphTermsQuery,
            HashQuery,
        )

        if isinstance(q, FieldJoinQuery):
            return self._field_join_leaf(q, stats, boost)
        if isinstance(q, FunctionRangeQuery):
            return self._frange_leaf(q, boost)
        if isinstance(q, HashQuery):
            return self._hash_leaf(q, boost)
        if isinstance(q, GraphTermsQuery):
            return self._graph_terms_leaf(q, stats, boost)
        if isinstance(q, FunctionBoostQuery):
            return self._function_boost_leaf(q, stats, boost)
        raise TypeError(f"unsupported query {type(q)}")

    def _field_join_leaf(self, q, stats, boost: float) -> DataFrame:
        """{!join from to} (JoinQParserPlugin; JoinUtil.createJoinQuery
        ScoreMode.None): subquery docids → their from-field values →
        docs whose to-field holds any of them. Two semi-joins on the
        docs table; at scale the from-value set is the small side and
        broadcasts (the global-ordinals join shape)."""
        inner = self._compile(q.query, stats, 1.0).select("docid")
        from_vals = (self.docs.join(inner, "docid", "left_semi")
                     .select(F.col(q.from_field).alias(q.to_field))
                     .where(F.col(q.to_field).isNotNull()).distinct())
        c = float(np.float32(boost * q.boost))
        return (self.docs.join(F.broadcast(from_vals), q.to_field,
                               "left_semi")
                .select("docid", F.lit(c).cast("float").alias("score")))

    def _frange_leaf(self, q, boost: float) -> DataFrame:
        """{!frange}: ValueSourceRangeFilter over the compiled function
        value (FunctionRangeQParserPlugin.java:45-67) → constant score.
        One projection over the docs table; Catalyst pushes the range
        predicate into the scan when the function is a plain column."""
        from .function_queries import FunctionQueryCompiler

        vals = FunctionQueryCompiler(self).dataframe(q.func, alias="_v")
        cond = F.lit(True)
        if q.l is not None:
            cond = cond & (F.col("_v") >= q.l if q.incl
                           else F.col("_v") > q.l)
        if q.u is not None:
            cond = cond & (F.col("_v") <= q.u if q.incu
                           else F.col("_v") < q.u)
        c = float(np.float32(boost * q.boost))
        return vals.where(cond).select(
            "docid", F.lit(c).cast("float").alias("score"))

    def _hash_leaf(self, q, boost: float) -> DataFrame:
        """{!hash}: worker-partition filter with the reference's exact
        hash arithmetic (HashQParserPlugin.java): per-key Java
        String.hashCode for strings (BytesHash:292-305; missing → "")
        or Longs.hashCode ``(int)(l ^ (l >>> 32))`` for numerics
        (NumericHash:321-333; missing → 0), keys summed
        (CompositeHash:368), match when
        ``(sum & 0x7FFFFFFF) % workers == worker`` (:212,:265).

        All JVM expressions (codegen; int32 wrap emulated in int64
        mod-2^32 so ANSI mode can't overflow-throw) — at scale this is
        a full-scan predicate exactly like the reference's
        SegmentPartitioner, embarrassingly parallel, no shuffle."""
        df = self.docs
        total = F.lit(0).cast("long")
        for k in q.keys:
            dt = dict(df.dtypes).get(k)
            if dt is None:
                h = F.lit(0).cast("long")
            elif dt in ("string", "varchar"):
                codes = F.transform(
                    F.split(F.coalesce(F.col(k), F.lit("")), ""),
                    lambda ch: F.ascii(ch).cast("long"))
                raw = F.aggregate(
                    codes, F.lit(0).cast("long"),
                    lambda acc, x: (acc * F.lit(31) + x) % F.lit(1 << 32))
                h = F.when(raw >= F.lit(1 << 31),
                           raw - F.lit(1 << 32)).otherwise(raw)
            else:
                lx = F.coalesce(F.col(k).cast("long"), F.lit(0))
                x = lx.bitwiseXOR(F.shiftrightunsigned(lx, 32))
                m = x.bitwiseAND(F.lit((1 << 32) - 1))
                h = F.when(m >= F.lit(1 << 31),
                           m - F.lit(1 << 32)).otherwise(m)
            total = total + h
        match = (total.bitwiseAND(F.lit(0x7FFFFFFF))
                 % F.lit(q.workers)) == F.lit(q.worker)
        c = float(np.float32(boost * q.boost))
        return df.where(match).select(
            "docid", F.lit(c).cast("float").alias("score"))

    def _graph_terms_leaf(self, q, stats, boost: float) -> DataFrame:
        """{!graphTerms}: constant-score union over the terms whose
        docFreq <= maxDocFreq (GraphTermsQParserPlugin.java:262 gate,
        ConstantScoreQuery wrap at :154). The df gate runs on the
        already-resolved term stats — no extra dictionary pass."""
        keep = [t for t in q.terms
                if 0 < stats.get((q.field, t), 0) <= q.max_doc_freq]
        if not keep:
            return self._empty_scored()
        c = float(np.float32(boost * q.boost))
        return (self._postings_for(keep, field=q.field)
                .select("docid").distinct()
                .select("docid", F.lit(c).cast("float").alias("score")))

    def _function_boost_leaf(self, q, stats, boost: float) -> DataFrame:
        """{!boost b=f}q (BoostedQuery.java BoostedWeight/CustomScorer:
        score = subquery score × function value per doc). The function
        column joins onto the subquery's scored rows — docs outside the
        subquery don't match, unlike a FunctionQuery."""
        from .function_queries import FunctionQueryCompiler

        inner = self._compile(q.query, stats, boost * q.boost)
        vals = FunctionQueryCompiler(self).dataframe(q.func, alias="_b")
        return inner.join(vals, "docid").select(
            "docid",
            (F.col("score") * F.col("_b")).cast("float").alias("score"))

    def _term_automaton_leaf(self, q, stats, boost: float) -> DataFrame:
        """TermAutomatonQuery (sandbox TermAutomatonScorer.java): a
        DISJUNCTION over the automaton's terms — every doc holding any
        query term is a candidate (scorer javadoc) — then a per-doc
        position-ordered DFA intersection counts acceptances
        (countMatches :225-341, ported in search/term_automaton.py).

        Plan: per-term positional postings left-joined onto the
        candidate union (same shape as _span_leaf), one mapInPandas
        pass; the compiled DFA rides the closure (dict of
        states×terms, tiny). Weight = summed idf over ALL present
        terms (TermAutomatonWeight ctor :341-363)."""
        from .term_automaton import count_matches

        det = q._check_finished()
        scorer = self.field_scorer(q.field)
        if getattr(scorer, "needs_ttf", False):
            raise TypeError("TermAutomatonQuery needs a precomputed "
                            "weight; unsupported under LM/DFR "
                            "similarities")
        id_to_term = q.terms()  # non-ANY terms only
        present = {tid: t for tid, t in sorted(id_to_term.items())
                   if stats.get((q.field, t), 0)}
        if not present:
            return self._empty_scored()
        idfs = [scorer.idf(stats[(q.field, t)]) for t in present.values()]
        idf_sum = np.float32(np.sum(np.asarray(idfs, dtype=np.float64)))
        w = float(scorer.weight_from_idf_sum(idf_sum, boost * q.boost))
        any_id = q.any_id

        tlist = list(present.items())  # [(tid, term)]
        parts = [self._postings_for([t], with_positions=True, field=q.field)
                 .select("docid") for _tid, t in tlist]
        cand = reduce(lambda a, b: a.unionByName(b), parts).distinct()
        base = cand.join(self.docs.select("docid", "norm"), "docid")
        for i, (_tid, t) in enumerate(tlist):
            p = (self._postings_for([t], with_positions=True, field=q.field)
                 .select("docid", F.col("positions").alias(f"pos{i}")))
            base = base.join(p, "docid", "left")
        nterms = len(tlist)
        tids = [tid for tid, _t in tlist]

        def verify(batches):
            for pdf in batches:
                nrows = len(pdf)
                if nrows == 0:
                    continue
                docids = pdf["docid"].to_numpy(dtype=np.int64)
                norms = pdf["norm"].to_numpy(dtype=np.int64)
                cols = [pdf[f"pos{i}"].to_numpy() for i in range(nterms)]
                freqs = np.empty(nrows, dtype=np.float64)
                for r in range(nrows):
                    events = []
                    for i in range(nterms):
                        v = cols[i][r]
                        if v is None or (isinstance(v, float)
                                         and np.isnan(v)):
                            continue  # left-join miss: term absent
                        tid = tids[i]
                        events.extend((int(p), tid) for p in v)
                    events.sort()
                    freqs[r] = count_matches(events, det, any_id)
                hit = freqs > 0
                if not hit.any():
                    yield pd.DataFrame(
                        {"docid": pd.Series([], dtype="int64"),
                         "score": pd.Series([], dtype="float32")})
                    continue
                s = scorer.partial(freqs[hit], norms[hit], np.float32(w))
                yield pd.DataFrame({"docid": docids[hit], "score": s})

        return base.mapInPandas(verify, schema="docid long, score float")

    def _feature_leaf(self, q, stats, boost: float) -> DataFrame:
        """FeatureQuery.java scorer: the posting tf IS the encoded
        static feature value; score = monotone function of the decoded
        value (FeatureField.java LogFunction/SaturationFunction/
        SigmoidFunction, exact float disciplines in feature.py). Same
        bucket-pruned postings scan as a TermQuery; norms unused
        (FeatureField omits norms, FIELD_TYPE at :108-113)."""
        from .feature import FeatureQuery, compute_pivot, feature_scores

        assert isinstance(q, FeatureQuery)
        pair = (q.field, q.feature)
        df = stats.get(pair, 0)
        if df == 0:
            return self._empty_scored()
        pivot = q.pivot
        if q.function == "satu" and pivot is None:
            # rewrite-time pivot from index stats
            # (FeatureField.java:508-520 computePivotFeatureValue)
            ttf = self._ttf_for({pair}).get(pair, df)
            pivot = compute_pivot(df, ttf)
        w = float(boost * q.weight)
        fn, sf, exp = q.function, q.scaling_factor, q.exponent

        @F.pandas_udf(FloatType())
        def fscore(tf: pd.Series) -> pd.Series:
            return pd.Series(feature_scores(
                fn, tf.to_numpy(dtype=np.int64), w, sf, pivot, exp))

        return (self._postings_for([q.feature], field=q.field)
                .select("docid", fscore(F.col("tf")).alias("score")))

    def _blended_term_leaf(self, q: BlendedTermLeaf, boost: float) -> DataFrame:
        """_term_leaf with the blended (df, ttf) overriding the
        dictionary stats (the adjusted-TermStates role)."""
        if q.df == 0:
            return self._empty_scored()
        scorer = self.field_scorer(q.field)
        df, ttf = q.df, q.ttf
        if getattr(scorer, "needs_ttf", False):
            bq = float(boost * q.boost)

            @F.pandas_udf(FloatType())
            def sscore(tf: pd.Series, norm: pd.Series) -> pd.Series:
                return pd.Series(scorer.stats_partial(
                    tf.to_numpy(), norm.to_numpy(), bq, df, ttf))

            return (self._postings_for([q.term], field=q.field)
                    .select("docid",
                            sscore(F.col("tf"), F.col("norm")).alias("score")))
        w = float(scorer.weight(df, boost * q.boost))
        udf = self._score_udf({q.term: w}, scorer)
        return (
            self._postings_for([q.term], field=q.field)
            .select("docid",
                    udf(F.col("term"), F.col("tf"), F.col("norm")).alias("score"))
        )

    def _covering_leaf(self, q: CoveringQuery, stats, boost: float) -> DataFrame:
        """Per-doc minimumNumberMatch disjunction (sandbox
        CoveringQuery.java:36-63 / CoveringScorer.java:125-134): the
        sub-queries union into one (docid, score, 1) frame, ONE
        groupBy(docid) yields (Σscore, n_matched), and the per-doc
        required count joins in from the docs table via the
        function-query compiler (the LongValuesSource role). minMatch
        = max(1, value); docs with a NULL value never match."""
        from .function_queries import FunctionQueryCompiler

        b = boost * q.boost
        scoring = [self._compile(sq, stats, b).select("docid", "score")
                   for sq in q.queries]
        if not scoring:
            return self._empty_scored()
        unioned = reduce(DataFrame.unionByName, scoring)
        agg = unioned.groupBy("docid").agg(
            F.sum(F.col("score").cast("double")).alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        )
        mm = FunctionQueryCompiler(self).dataframe(q.min_match, alias="_mm")
        out = agg.join(mm, "docid").where(
            F.col("_mm").isNotNull()
            & (F.col("_n") >= F.greatest(F.lit(1), F.col("_mm").cast("long"))))
        return out.select("docid", F.col("_s").cast("float").alias("score"))

    def _synonym_leaf(self, q: SynonymQuery, stats, boost: float) -> DataFrame:
        """Pseudo-term scoring: per-doc freq = sum of member tfs, df =
        max member df, ONE similarity call (SynonymQuery.java:144-158,
        freq sum :446-455). groupBy(docid) sums tfs (ints — no float
        ordering concern), then the scoring UDF runs once per doc."""
        present = [t for t in q.terms if stats.get((q.field, t), 0)]
        if not present:
            return self._empty_scored()
        scorer = self.field_scorer(q.field)
        df_pseudo = max(stats[(q.field, t)] for t in present)
        w = float(scorer.weight(df_pseudo, boost * q.boost))

        @F.pandas_udf(FloatType())
        def score(freq: pd.Series, norm: pd.Series) -> pd.Series:
            s = scorer.partial(freq.to_numpy(), norm.to_numpy(), np.float32(w))
            return pd.Series(s)

        agg = (
            self._postings_for(present, field=q.field)
            .groupBy("docid")
            .agg(F.sum("tf").alias("freq"), F.max("norm").alias("norm"))
        )
        return agg.select("docid", score(F.col("freq"), F.col("norm")).alias("score"))

    def _compile_dismax(self, q: DisjunctionMaxQuery, stats, boost: float) -> DataFrame:
        """(float)(max + (sum - max) * tieBreaker), sums in double
        (DisjunctionMaxScorer.java:58-71)."""
        subs = [self._compile(d, stats, boost * q.boost) for d in q.disjuncts]
        if not subs:
            return self._empty_scored()
        unioned = reduce(DataFrame.unionByName, subs)
        tb = float(np.float32(q.tie_breaker))
        agg = unioned.groupBy("docid").agg(
            F.max("score").alias("_mx"),
            F.sum(F.col("score").cast("double")).alias("_sum"),
        )
        return agg.select(
            "docid",
            (F.col("_mx").cast("double")
             + (F.col("_sum") - F.col("_mx").cast("double")) * F.lit(tb)
             ).cast("float").alias("score"),
        )

    def _term_batch_leaf(self, term_clauses: list[tuple[TermQuery, int]],
                         stats, boost: float) -> DataFrame | None:
        """Score MANY term clauses with ONE postings scan: per-(field,
        term) weights ride in the scoring UDF's dict, so an expanded
        multi-term disjunction (prefix/range/fuzzy rewrite) costs one
        scan + one aggregate regardless of how many terms it expanded
        to — the plan shape that survives a 100× scale-up (a per-term
        union would be N scans). Emits (docid, score, is_must) rows,
        one per (field, term, doc) hit. Norm caches differ per field,
        so the UDF keys on "field\x00term" and resolves each row's
        cache from its field."""
        needs_ttf = getattr(self.scorer, "needs_ttf", False)
        ttfs = (self._ttf_for({(tq.field, tq.term) for tq, _m in term_clauses})
                if needs_ttf else {})
        weights = {}
        is_must_map = {}
        params: dict[str, tuple[float, float, float]] = {}
        for tq, is_must in term_clauses:
            df = stats.get((tq.field, tq.term), 0)
            if df:
                key = tq.field + "\x00" + tq.term
                if needs_ttf:
                    # (boost, df, ttf) ride per-key for stats_partial
                    params[key] = (float(boost * tq.boost), float(df),
                                   float(ttfs.get((tq.field, tq.term), df)))
                    weights[key] = 0.0
                else:
                    weights[key] = float(
                        self.field_scorer(tq.field).weight(df, boost * tq.boost))
                is_must_map[key] = is_must
        if not weights:
            return None
        scorers = dict(self.scorers)

        @F.pandas_udf(FloatType())
        def score(key: pd.Series, tf: pd.Series, norm: pd.Series) -> pd.Series:
            out = np.empty(len(key), dtype=np.float32)
            fields = key.str.split("\x00").str[0]
            tfv = tf.to_numpy()
            nv = norm.to_numpy()
            if needs_ttf:
                b = key.map({k: v[0] for k, v in params.items()}).to_numpy(
                    dtype=np.float64)
                d = key.map({k: v[1] for k, v in params.items()}).to_numpy(
                    dtype=np.float64)
                t3 = key.map({k: v[2] for k, v in params.items()}).to_numpy(
                    dtype=np.float64)
                for f, idx in fields.groupby(fields).groups.items():
                    ii = np.asarray(idx)
                    out[ii] = scorers[f].stats_partial(
                        tfv[ii], nv[ii], b[ii], d[ii], t3[ii])
                return pd.Series(out)
            w = key.map(weights).to_numpy(dtype=np.float32)
            for f, idx in fields.groupby(fields).groups.items():
                ii = np.asarray(idx)
                out[ii] = scorers[f].partial(tfv[ii], nv[ii], w[ii])
            return pd.Series(out)

        fields_l = sorted({tq.field for tq, _m in term_clauses})
        terms_l = sorted({tq.term for tq, _m in term_clauses})
        must_keys = [k for k, m in is_must_map.items() if m]
        buckets = sorted({term_bucket(t, self.n_buckets) for t in terms_l})
        key_col = F.concat_ws("\x00", F.col("field"), F.col("term"))
        scan = self.postings.where(
            F.col("bucket").isin(buckets) & F.col("term").isin(terms_l)
            & F.col("field").isin(fields_l)
            & key_col.isin(list(weights)))
        return scan.select(
            "docid",
            score(key_col, F.col("tf"), F.col("norm")).alias("score"),
            (key_col.isin(must_keys) if must_keys else F.lit(False))
            .cast("int").alias("is_must"),
        )

    def _compile_boolean(self, q: BooleanQuery, stats, boost: float) -> DataFrame:
        must = [c.query for c in q.clauses if c.occur == "MUST"]
        should = [c.query for c in q.clauses if c.occur == "SHOULD"]
        filt = [c.query for c in q.clauses if c.occur == "FILTER"]
        must_not = [c.query for c in q.clauses if c.occur == "MUST_NOT"]
        msm = q.minimum_should_match
        b = boost * q.boost

        n_must_total = len(must)

        # batch all term clauses into ONE postings scan (unique terms
        # only — Lucene's builder likewise dedups, BooleanQuery.java:150);
        # compound clauses compile recursively and union in
        term_clauses = [(sq, 1) for sq in must if isinstance(sq, TermQuery)]
        term_clauses += [(sq, 0) for sq in should if isinstance(sq, TermQuery)]
        seen_terms = [(tq.field, tq.term) for tq, _ in term_clauses]
        batchable = len(set(seen_terms)) == len(seen_terms)

        scoring: list[DataFrame] = []
        if term_clauses and batchable:
            batched = self._term_batch_leaf(term_clauses, stats, b)
            if batched is not None:
                scoring.append(batched)
            must = [sq for sq in must if not isinstance(sq, TermQuery)]
            should = [sq for sq in should if not isinstance(sq, TermQuery)]
        for sq in must:
            scoring.append(self._compile(sq, stats, b).withColumn("is_must", F.lit(1)))
        for sq in should:
            scoring.append(self._compile(sq, stats, b).withColumn("is_must", F.lit(0)))

        if not scoring:
            # filter-only query: constant score 0 over the filter set.
            # msm > 0 with ZERO scoring clauses is unsatisfiable
            # (BooleanWeight.java:396 — 0 optional scorers < msm), the
            # same rule the oracle and compressed paths enforce; and
            # scoring can only be empty with n_must_total > 0 when
            # every MUST term was absent from the dictionary — a
            # required null scorer, also no hits (:374-378).
            if msm > 0 or n_must_total:
                return self._empty_scored()
            base = None
            for fq in filt:
                d = self._compile(fq, stats, 1.0).select("docid")
                base = d if base is None else base.join(d, "docid", "left_semi")
            if base is None:
                return self._empty_scored()
            out = base.select("docid", F.lit(0.0).cast("float").alias("score"))
        else:
            unioned = reduce(DataFrame.unionByName, scoring)
            agg = unioned.groupBy("docid").agg(
                F.sum(F.col("score").cast("double")).alias("_s"),
                F.sum("is_must").alias("_nmust"),
                F.sum(F.lit(1) - F.col("is_must")).alias("_nshould"),
            )
            cond = F.col("_nmust") == n_must_total
            # SHOULD is required only when nothing else is
            # (BooleanQuery semantics: MUST/FILTER make SHOULD optional)
            need = msm if (n_must_total or filt) else max(msm, 1)
            if need > 0:
                cond = cond & (F.col("_nshould") >= need)
            out = agg.where(cond).select(
                "docid", F.col("_s").cast("float").alias("score")
            )
            if n_must_total == 0 and filt and need == 0:
                # FILTER+SHOULD: filter-only docs match with score 0
                base = None
                for fq in filt:
                    d = self._compile(fq, stats, 1.0).select("docid")
                    base = d if base is None else base.join(d, "docid", "left_semi")
                out = base.join(out, "docid", "left_outer").select(
                    "docid",
                    F.coalesce(F.col("score"), F.lit(0.0)).cast("float").alias("score"),
                )
            else:
                for fq in filt:
                    d = self._compile(fq, stats, 1.0).select("docid")
                    out = out.join(d, "docid", "left_semi")

        for mq in must_not:
            d = self._compile(mq, stats, 1.0).select("docid")
            out = out.join(d, "docid", "left_anti")
        return out

    # -- public API -----------------------------------------------------
    def _live(self, scored: DataFrame) -> DataFrame:
        """Drop tombstoned docs (liveDocs anti-join; broadcast — the
        tombstone set is small between compactions)."""
        if self.deletes is None:
            return scored
        return scored.join(F.broadcast(self.deletes), "docid", "left_anti")

    def search_df(self, q: Query, k: int | None = 10) -> DataFrame:
        """Scored result as a DataFrame(docid, score), top-k ordered.
        k=None → all matches, unordered (for counting / set ops)."""
        q = self.rewrite(q)
        stats = self.term_stats(_collect_terms(q))
        scored = self._live(self._compile(q, stats))
        if k is None:
            return scored
        return scored.orderBy(F.desc("score"), F.asc("docid")).limit(k)

    def search(self, q: Query, k: int = 10) -> list[TopDoc]:
        rows = self.search_df(q, k).collect()
        return [TopDoc(r["docid"], r["score"]) for r in rows]

    def count(self, q: Query) -> int:
        return self.search_df(q, None).count()

    @staticmethod
    def _collect_topk(scored: DataFrame, req_rows, n_queries: int, k: int,
                      unconstrained: bool, doc_bits: int) -> DataFrame:
        """Partition-local exact top-k collector (TopScoreDocCollector.
        java role) over docid-partitioned scored clause rows.

        Every (qidx, docid) group is complete within its partition
        (hash(docid) partitioning), so per-partition group sums and
        per-query top-k selection are exact; the caller's global window
        merges the <= partitions * queries * k survivors (TopDocs.merge
        role). All numpy passes are O(n) radix / reduceat — no
        comparison sort of the full candidate set, no hash map.
        """
        mask11 = (1 << 11) - 1
        if not unconstrained:
            n_must_a = np.zeros(n_queries, dtype=np.int64)
            n_filter_a = np.zeros(n_queries, dtype=np.int64)
            need_a = np.zeros(n_queries, dtype=np.int64)
            for qi, m, fil, need in req_rows:
                n_must_a[qi], n_filter_a[qi], need_a[qi] = m, fil, need

        def collect(batches):
            import pyarrow as pa

            from lucene_solr_spark.util.env import retain_malloc

            retain_malloc()  # this host stalls on fresh large mmaps
            qis, dis, ss, fls = [], [], [], []
            for b in batches:
                if b.num_rows == 0:
                    continue
                cols = {b.schema.names[i]: b.column(i)
                        for i in range(b.num_columns)}
                qis.append(cols["qidx"].to_numpy(
                    zero_copy_only=False).astype(np.int64))
                dis.append(cols["docid"].to_numpy(zero_copy_only=False))
                ss.append(cols["s"].to_numpy(
                    zero_copy_only=False).astype(np.float64))
                if not unconstrained:
                    fls.append(cols["flags"].to_numpy(zero_copy_only=False))
            if not qis:
                return
            qi = np.concatenate(qis)
            di = np.concatenate(dis)
            s = np.concatenate(ss)
            # group by packed (qidx, docid): radix argsort + reduceat.
            # float64 accumulation, ONE float32 cast (BM25 discipline).
            gkey = (qi << doc_bits) | di
            order = np.argsort(gkey, kind="stable")
            gk = gkey[order]
            bounds = np.flatnonzero(np.r_[True, gk[1:] != gk[:-1]])
            sums = np.add.reduceat(s[order], bounds)
            heads = gk[bounds]
            gq = heads >> doc_bits
            gd = heads & ((1 << doc_bits) - 1)
            score32 = sums.astype(np.float32)
            if not unconstrained:
                flsum = np.add.reduceat(
                    np.concatenate(fls)[order], bounds)
                ok = (
                    ((flsum & mask11) == n_must_a[gq])
                    & (((flsum >> 22) & mask11) == n_filter_a[gq])
                    & ((flsum >> 33) == 0)
                    & (((flsum >> 11) & mask11) >= need_a[gq])
                )
                gq, gd, score32 = gq[ok], gd[ok], score32[ok]
                if not len(gq):
                    return
            # top-k per qidx on (score desc, docid asc): groups arrive
            # docid-ascending, so ONE stable radix pass on the packed
            # (qidx, inverted-float32-bits) key orders each query's
            # candidates score-desc with docid-asc tie-break (IEEE bits
            # of non-negative floats are order-isomorphic; scores are
            # sums of non-negative clause partials).
            bits = score32.view(np.uint32).astype(np.uint64)
            skey = ((gq.astype(np.uint64) << np.uint64(32))
                    | (np.uint64(0xFFFFFFFF) - bits))
            idx = np.argsort(skey, kind="stable")
            sq = gq[idx]
            starts = np.flatnonzero(np.r_[True, sq[1:] != sq[:-1]])
            counts = np.diff(np.r_[starts, len(sq)])
            ranks = np.arange(len(sq)) - np.repeat(starts, counts)
            keep = idx[ranks < k]
            yield pa.RecordBatch.from_arrays(
                [pa.array(gq[keep].astype(np.int32)),
                 pa.array(gd[keep]),
                 pa.array(score32[keep])],
                names=["qidx", "docid", "score"])

        return scored.mapInArrow(
            collect, "qidx int, docid long, score float")

    # -- batched execution ------------------------------------------------
    def search_many_df(self, queries: dict[str, Query], k: int = 10,
                       _raw: bool = False) -> DataFrame:
        """Evaluate MANY queries in ONE Spark plan — the throughput path.

        Lucene/Solr reach QPS with many concurrent in-process searchers;
        the Spark-native equivalent is batch evaluation: all query
        clauses become one small broadcast table hash-joined (int64
        term-key) against the docid-partitioned slim postings cache
        (see _batch_table), scored by pure JVM column math (float32
        discipline preserved bit-exactly — see the norm-cache lookup
        below), aggregated per (query, doc) WITHOUT an exchange (the
        partitioning already clusters the groups), and top-k'd with a
        window whose partial WindowGroupLimit keeps the only shuffle
        at queries*k rows per partition. Per-query cost is amortized
        to ~zero; the job does one postings pass regardless of query
        count. `batch_collector` selects the alternative
        collector strategy (_collect_topk).

        Supports flat term queries and single-level BooleanQuery over
        TermQuery clauses (MUST/SHOULD/FILTER/MUST_NOT + msm) — the
        FIXTURES F8 benchmark shapes. Scores follow the same float32
        discipline as :meth:`search` (rank-identical, test-enforced).
        Duplicate identical (occur, term) pairs within one query are
        not supported (Lucene's builder also dedups FILTER/MUST_NOT,
        BooleanQuery.java:150-152).

        Returns DataFrame(qid, docid, score float, rn) with rn ≤ k,
        ordered within each qid by (score desc, docid asc).
        """
        spark = self.tables.spark
        all_pairs: set[tuple[str, str]] = set()
        for q in queries.values():
            all_pairs |= _collect_terms(q)
        stats = self.term_stats(all_pairs)

        qid_list = list(queries)  # int qidx on the wire, string out
        qidx_of = {qid: i for i, qid in enumerate(qid_list)}
        clause_rows = []  # (qidx, field, term, weight, occur flags)
        req_rows = []  # (qidx, n_must, n_filter, should_need)
        for qid, q in queries.items():
            if isinstance(q, TermQuery):
                clauses = [(q, "SHOULD")]
                msm = 0
                boost = 1.0
            elif isinstance(q, BooleanQuery):
                clauses = [(c.query, c.occur) for c in q.clauses]
                msm = q.minimum_should_match
                boost = q.boost
            else:
                raise TypeError(f"search_many supports term/boolean queries, got {type(q)}")
            n_must = n_filter = n_should = 0
            for cq, occur in clauses:
                if not isinstance(cq, TermQuery):
                    raise TypeError("search_many clauses must be TermQuery")
                df = stats.get((cq.field, cq.term), 0)
                scoring = occur in ("MUST", "SHOULD")
                w = (float(self.field_scorer(cq.field).weight(df, boost * cq.boost))
                     if df and scoring else 0.0)
                # one long packs the occur counters (11 bits each —
                # Lucene's max-clause default is 1024): summing the
                # packed flags over a (query, doc) group yields all
                # four clause counts in ONE aggregate / shuffle column
                flags = {"MUST": 1, "SHOULD": 1 << 11,
                         "FILTER": 1 << 22, "MUST_NOT": 1 << 33}[occur]
                # df == 0 ⇒ the term is not in the dictionary, so the
                # clause can never legitimately match a posting — don't
                # let its tkey probe the join (an absent term's hash
                # colliding with a real index term would otherwise
                # silently adopt that term's postings). Semantics are
                # preserved driver-side: req_rows still counts the
                # clause, so a MUST/FILTER on an absent term yields the
                # empty result exactly as an empty scorer would.
                if df:
                    clause_rows.append(
                        (qidx_of[qid], cq.field, cq.term, w, flags)
                    )
                n_must += occur == "MUST"
                n_filter += occur == "FILTER"
                n_should += occur == "SHOULD"
            # n_should == 0 with msm > 0 must yield no hits
            # (BooleanWeight.java:396) — keep need = msm so the
            # SHOULD-count condition (always 0) fails every doc
            need = (msm if n_must or n_filter else max(msm, 1)) \
                if n_should else msm
            req_rows.append((qidx_of[qid], n_must, n_filter, need))

        # pure disjunction batch? (no MUST/FILTER/MUST_NOT anywhere and
        # msm <= 1): every aggregated (query, doc) row trivially matches
        # >=1 SHOULD clause, so the occur-flag aggregate, requirement
        # join and filter all drop out — BooleanWeight's specialization
        # to DisjunctionSumScorer (BooleanWeight.java optional-only
        # path). Halves the shuffled bytes per row.
        unconstrained = all(
            m == 0 and f == 0 and need <= 1
            for _qi, m, f, need in req_rows
        ) and not any(r[4] & (1 << 33) for r in clause_rows)

        pairs_present = [p for p in all_pairs if stats.get(p)]
        if not pairs_present:
            return spark.createDataFrame(
                [], ("qidx int" if _raw else "qid string")
                    + ", docid long, score float, rn int")
        clause_df = spark.createDataFrame(pd.DataFrame(
            clause_rows,
            columns=["qidx", "field", "term", "weight", "flags"]).astype(
            {"qidx": "int32", "weight": "float32", "flags": "int64"}))
        fields_present = sorted({f for f, _t in pairs_present})
        clause_cols = (["qidx", "weight"] if unconstrained
                       else ["qidx", "weight", "flags"])
        # the broadcast hash join IS the term filter: a non-matching
        # row costs one int64 hash probe, the same as an InSet
        # pre-filter would — so no pre-filter, and the scan reads no
        # string columns at all (single-field index: `field` pruned).
        src = self._batch_table()
        scan_cols = (["tkey", "docid", "tf", "norm"]
                     if len(fields_present) == 1
                     else ["tkey", "docid", "tf", "norm", "field"])
        matches = src.select(*scan_cols).join(
            F.broadcast(
                clause_df.withColumn("tkey", F.xxhash64("field", "term"))
                .select("tkey", *clause_cols)),
            "tkey")

        # JVM-side float32 BM25 partial — NO Python in the hot path.
        # The 256-entry norm cache per field (BM25Similarity.java:219)
        # is an array-literal lookup (see _norm_cache_col); the float
        # discipline of BM25Scorer.partial is preserved bit-exactly:
        # freq/(freq+cache) divides in double and casts to float
        # (exact: a float32 cache value is exact in double, and
        # double->float rounding of a double quotient of floats is the
        # correctly-rounded float quotient), then multiplies by the
        # float weight in float.
        nb = F.col("norm").cast("int").bitwiseAND(F.lit(255)) + 1
        cache_d = F.element_at(self._norm_cache_col(fields_present[0]), nb)
        for f in fields_present[1:]:
            cache_d = F.when(F.col("field") == f,
                             F.element_at(self._norm_cache_col(f), nb)
                             ).otherwise(cache_d)
        tfd = F.col("tf").cast("double")
        tf_part = (tfd / (tfd + cache_d)).cast("float")
        scored = matches.select(
            *clause_cols[:1], "docid", *clause_cols[2:],
            (F.col("weight") * tf_part).cast("float").alias("s"),
        )
        # -- per-partition exact top-k collector ------------------------
        # The declarative twin (groupBy + window below) hash-aggregates
        # and comparison-sorts every scored row; profiled on this
        # workload the 50M-row agg merges <0.1% of rows (multi-term
        # docs are rare) and the sort dominates — both DRAM-bound, ~2.6x
        # on 4x cores. Lucene instead streams postings through a
        # 10-element heap per query (TopScoreDocCollector.java). The
        # Spark-native rendering: docid partitioning makes every
        # (query, doc) group partition-local, so ONE mapInPandas pass
        # (numpy radix sort + reduceat group sums + packed-key top-k,
        # all O(n)) emits <= queries*k candidate rows per partition;
        # the tiny global window merge below stays exact. Float
        # discipline unchanged: float64 clause sums, one float32 cast
        # (same as BM25Scorer / the oracle).
        doc_bits = max(1, int(self.doc_count).bit_length())
        use_collector = (self.batch_collector and doc_bits + 19 <= 62
                         and len(qid_list) < (1 << 19))
        if use_collector:
            kept = self._collect_topk(
                self._live(scored), req_rows, len(qid_list), k,
                unconstrained, doc_bits)
        elif unconstrained:
            agg = scored.groupBy("qidx", "docid").agg(
                F.sum(F.col("s").cast("double")).alias("_s"))
            kept = self._live(agg).select(
                "qidx", "docid", F.col("_s").cast("float").alias("score"))
        else:
            req_df = spark.createDataFrame(pd.DataFrame(
                req_rows, columns=["qidx", "q_n_must", "q_n_filter",
                                   "q_should_need"]).astype("int32"))
            agg = scored.groupBy("qidx", "docid").agg(
                F.sum(F.col("s").cast("double")).alias("_s"),
                F.sum("flags").alias("_flags"),
            )
            mask = F.lit((1 << 11) - 1).cast("long")
            fl = F.col("_flags")
            kept = (
                self._live(agg).join(F.broadcast(req_df), "qidx")
                .where(
                    (fl.bitwiseAND(mask) == F.col("q_n_must"))
                    & (F.shiftrightunsigned(fl, 22).bitwiseAND(mask)
                       == F.col("q_n_filter"))
                    & (F.shiftrightunsigned(fl, 33) == 0)
                    & (F.shiftrightunsigned(fl, 11).bitwiseAND(mask)
                       >= F.col("q_should_need"))
                )
                .select("qidx", "docid", F.col("_s").cast("float").alias("score"))
            )
        w = Window.partitionBy("qidx").orderBy(F.desc("score"), F.asc("docid"))
        topk = (
            kept.select(
                "qidx", "docid", "score", F.row_number().over(w).alias("rn")
            )
            .where(F.col("rn") <= k)
        )
        if _raw:  # internal: caller maps qidx -> qid driver-side
            return topk
        qmap_df = spark.createDataFrame(pd.DataFrame(
            {"qidx": pd.array(range(len(qid_list)), dtype="int32"),
             "qid": qid_list}))
        return (topk.join(F.broadcast(qmap_df), "qidx")
                .select("qid", "docid", "score", "rn"))

    def search_many(self, queries: dict[str, Query], k: int = 10) -> dict[str, list[TopDoc]]:
        rows = self.search_many_df(queries, k, _raw=True).collect()
        qid_list = list(queries)
        out: dict[str, list[TopDoc]] = {qid: [] for qid in queries}
        for r in sorted(rows, key=lambda r: (r["qidx"], r["rn"])):
            out[qid_list[r["qidx"]]].append(TopDoc(r["docid"], r["score"]))
        return out

    def search_after(self, q: Query, after: TopDoc, k: int = 10) -> list[TopDoc]:
        """Keyset pagination (IndexSearcher.searchAfter semantics):
        (score < s) OR (score == s AND docid > d)."""
        q = self.rewrite(q)
        stats = self.term_stats(_collect_terms(q))
        scored = self._live(self._compile(q, stats))
        s = float(np.float32(after.score))
        pred = (F.col("score") < s) | ((F.col("score") == s) & (F.col("docid") > after.docid))
        rows = (
            scored.where(pred)
            .orderBy(F.desc("score"), F.asc("docid")).limit(k).collect()
        )
        return [TopDoc(r["docid"], r["score"]) for r in rows]
