"""Search components layered over the core searcher — the Solr
SearchComponent / Lucene-module surface (SURVEY §2.7/§2.13):

  collapse_topk     Solr CollapsingQParserPlugin / grouping module
                    (grouping/FirstPassGroupingCollector.java): best hit
                    per group, groups ranked by their best hit.
  facet_on_results  FacetsCollector over the match set
                    (facet/FacetsCollector.java): counts per field value.
  more_like_this    queries/mlt/MoreLikeThis.java: top tf-idf terms of a
                    document → SHOULD disjunction.
  rescore           search/QueryRescorer.java / Solr ReRankQParserPlugin:
                    second-pass scoring of the top-N, combined score.
  suggest           suggest/analyzing/AnalyzingSuggester.java role:
                    prefix completion from the term dictionary weighted
                    by doc frequency.
  spellcheck        solr/.../SpellCheckComponent + DirectSpellChecker:
                    nearest dictionary terms by (edit distance, -df).
  highlight         highlighter/uhighlight/UnifiedHighlighter.java role:
                    re-analyze the stored content of the top hits, wrap
                    query-term occurrences, pick the densest window.

All components compose DataFrames; per-row Python appears only in the
highlighter's snippet UDF, which runs on k rows, not the corpus.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType
from pyspark.sql.window import Window

from ..analysis.tokenizer import StandardAnalyzer
from .executor import IndexSearcher
from .multiterm import dict_prefilter, osa_distance
from .queries import (
    BooleanClause,
    BooleanQuery,
    DisjunctionMaxQuery,
    FuzzyQuery,
    PhraseQuery,
    Query,
    TermQuery,
)


def edismax_query(query_string: str, qf: dict[str, float],
                  tie: float = 0.0, analyzer: StandardAnalyzer | None = None,
                  default_operator: str = "OR",
                  minimum_should_match: int | str = 0,
                  pf: dict[str, float] | None = None,
                  pf2: dict[str, float] | None = None,
                  pf3: dict[str, float] | None = None,
                  ps: int = 0, ps2: int = 0, ps3: int = 0) -> Query:
    """Solr edismax (ExtendedDismaxQParser.java role): each whitespace
    clause of the user query becomes a DisjunctionMaxQuery over the
    query fields ``qf`` with per-field boosts; ``+``/``-`` prefixes set
    required/prohibited; multi-token clauses (after analysis) become
    per-field phrases. The resulting AST runs on the multi-field index
    (per-field postings/stats, builder.py fields=...).

    ``pf``/``pf2``/``pf3`` add phrase-proximity boosting
    (ExtendedDismaxQParser.addPhraseFieldQueries:209-248 +
    addShingledPhraseQueries:509-543): the query's bare words are
    shingled into whole-phrase (pf), bigram (pf2) and trigram (pf3)
    sloppy phrases (slop ``ps``/``ps2``/``ps3``), each shingle a
    DisjunctionMax across its phrase fields, all shingles SHOULD'd
    into one optional boost clause — matching is unchanged, ranking
    rewards proximity. When boosts are present the main query is
    wrapped MUST alongside the SHOULD boosts (the reference's
    BooleanQuery.Builder mainQuery shape). Divergence: we require at
    least 2 bare words before any phrase boost fires (the reference
    would emit a degenerate one-word "phrase")."""
    analyzer = analyzer or StandardAnalyzer()
    clauses = []
    bare_words: list[str] = []  # analyzed normal-clause tokens, in order
    for word in query_string.split():
        mod = None
        if word.startswith("+") and len(word) > 1:
            mod, word = "MUST", word[1:]
        elif word.startswith("-") and len(word) > 1:
            mod, word = "MUST_NOT", word[1:]
        terms, positions = analyzer.analyze(word)
        if not terms:
            continue
        bare_words.extend(terms)
        per_field: list[Query] = []
        for f, b in sorted(qf.items()):
            if len(terms) == 1:
                per_field.append(TermQuery(terms[0], boost=b, field=f))
            else:
                base = positions[0]
                per_field.append(PhraseQuery(
                    tuple(terms), tuple(p - base for p in positions),
                    0, b, f))
        dm = DisjunctionMaxQuery(tuple(per_field), tie_breaker=tie)
        occur = mod or ("MUST" if default_operator == "AND" else "SHOULD")
        clauses.append(BooleanClause(dm, occur))
    if isinstance(minimum_should_match, str):
        # Solr mm spec grammar ("75%", "-2", "2<-25% 9<-3") applied to
        # the count of optional clauses (SolrPluginUtils.java
        # setMinShouldMatch:620-645, mmAutoRelax=false branch: every
        # SHOULD clause counts)
        from .mm import calc_min_should_match

        optional = sum(c.occur == "SHOULD" for c in clauses)
        minimum_should_match = calc_min_should_match(
            optional, minimum_should_match)
    main = BooleanQuery(tuple(clauses),
                        minimum_should_match=minimum_should_match)

    boost_clauses: list[BooleanClause] = []
    for fields, size, slop in ((pf, 0, ps), (pf2, 2, ps2), (pf3, 3, ps3)):
        if not fields or len(bare_words) < max(size, 2):
            continue
        n = size or len(bare_words)  # 0 = one whole-query phrase
        shingles: list[Query] = []
        for i in range(len(bare_words) - n + 1):
            per_field = tuple(
                PhraseQuery(tuple(bare_words[i:i + n]), tuple(range(n)),
                            slop, b, f)
                for f, b in sorted(fields.items())
            )
            shingles.append(DisjunctionMaxQuery(per_field, tie_breaker=tie))
        if len(shingles) == 1:
            boost_clauses.append(BooleanClause(shingles[0], "SHOULD"))
        else:
            boost_clauses.append(BooleanClause(
                BooleanQuery(tuple(
                    BooleanClause(s, "SHOULD") for s in shingles)),
                "SHOULD"))
    if not boost_clauses:
        return main
    return BooleanQuery((BooleanClause(main, "MUST"), *boost_clauses))


def _field_dict(searcher, field: str = "content"):
    """One field's dictionary rows regardless of searcher layout: the
    v1 dict carries a field column; the v2 (compressed) dict qualifies
    non-content terms with FIELD_SEP — strip the prefix so callers see
    bare terms either way."""
    d = searcher.dict
    if "field" in d.columns:
        return d.where(F.col("field") == field)
    from ..index.segments import FIELD_SEP

    if field == "content":
        return d.where(~F.col("term").contains(FIELD_SEP))
    pfx = field + FIELD_SEP
    return (d.where(F.col("term").startswith(pfx))
            .withColumn("term", F.expr(f"substring(term, {len(pfx) + 1})")))



def collapse_topk(searcher: IndexSearcher, q: Query, group_col: str,
                  k_groups: int = 10, docs_per_group: int = 1) -> DataFrame:
    """Top groups by best-hit score; within each group the top
    `docs_per_group` hits. Two-pass grouping collapsed into one
    shuffle: Window.partitionBy(group) ranks within groups, then
    groups rank by their best (score, docid)."""
    scored = searcher.search_df(q, None)
    docs = searcher.docs.select("docid", group_col)
    joined = scored.join(docs, "docid")
    w_in = Window.partitionBy(group_col).orderBy(F.desc("score"), F.asc("docid"))
    ranked = joined.withColumn("rank_in_group", F.row_number().over(w_in)).where(
        F.col("rank_in_group") <= docs_per_group)
    # top k_groups groups by best hit: a global orderBy.limit —
    # Catalyst TakeOrderedAndProject, per-partition heaps + driver
    # merge — NOT an unpartitioned Window, which would funnel every
    # group's best row through one task at scale (VERDICT perf #6);
    # the residual row_number runs over <= k_groups rows.
    best = (ranked.where(F.col("rank_in_group") == 1)
            .select(F.col(group_col), F.col("score").alias("best_score"),
                    F.col("docid").alias("best_docid"))
            .orderBy(F.desc("best_score"), F.asc("best_docid"))
            .limit(k_groups))
    w_grp = Window.orderBy(F.desc("best_score"), F.asc("best_docid"))
    top_groups = best.withColumn("group_rank", F.row_number().over(w_grp))
    return (ranked.join(F.broadcast(top_groups.select(group_col, "group_rank")),
                        group_col)
            .orderBy("group_rank", "rank_in_group")
            .select(group_col, "group_rank", "docid", "score", "rank_in_group"))


def diversified_topk(searcher: IndexSearcher, q: Query, key_col: str,
                     k: int = 10, max_per_key: int = 1) -> DataFrame:
    """Diversified top-k (misc/search/DiversifiedTopDocsCollector.java:28-76):
    a top-``k`` where no more than ``max_per_key`` hits share a key
    (the de-duplicated news-search / one-song-per-artist collector).
    The collector's evict-lowest-per-key priority-queue semantics
    reduce declaratively to: rank hits within each key by (score desc,
    docid asc), keep rank <= max_per_key, then global top-k — the
    per-key window is one shuffle on the key and the global cut is
    TakeOrderedAndProject (per-partition heaps, no single-task sort).
    Keys come from a docs-table column (the NumericDocValues getKeys
    role, :82); docs with a NULL key are their own singleton key
    (Lucene reads 0 for missing — we keep them distinct, documented
    departure for usability)."""
    scored = searcher.search_df(q, None)
    docs = searcher.docs.select("docid", key_col)
    joined = scored.join(docs, "docid")
    # NULL keys: fall back to a per-doc unique key so they never
    # compete with each other for the per-key budget
    keyed = joined.withColumn(
        "_dkey",
        F.coalesce(F.col(key_col).cast("string"),
                   F.concat(F.lit("\x00docid:"), F.col("docid"))))
    w = Window.partitionBy("_dkey").orderBy(F.desc("score"), F.asc("docid"))
    return (keyed.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= max_per_key)
            .orderBy(F.desc("score"), F.asc("docid")).limit(k)
            .select("docid", "score", key_col))


def facet_on_results(searcher: IndexSearcher, q: Query, facet_col: str) -> DataFrame:
    """Field-value counts over the full match set (not just top-k) —
    FacetsCollector semantics. One semi-join + groupBy."""
    match = searcher.search_df(q, None).select("docid")
    docs = searcher.docs.select("docid", facet_col)
    return (docs.join(match, "docid", "left_semi")
            .groupBy(facet_col).agg(F.count("*").alias("count"))
            .orderBy(F.desc("count"), F.asc(facet_col)))


def more_like_this(searcher: IndexSearcher, docid: int,
                   max_query_terms: int = 25,
                   min_term_freq: int = 1, min_doc_freq: int = 2) -> Query:
    """Build the MLT disjunction: rank the document's terms by
    tf·idf (MoreLikeThis.java createQueue semantics: idf =
    log((N+1)/(df+1)) + 1 there; we use the engine's BM25 idf — the
    ranking, which is all that matters, is identical in N, df), take
    the top `max_query_terms` as SHOULD clauses."""
    if hasattr(searcher, "term_vector"):
        # SegmentSearcher: term vector from the doc's own segment
        pairs = searcher.term_vector(docid)
        if not pairs:
            return BooleanQuery.of(should=[])
        dfm = searcher._stats({t for t, _tf in pairs})
        stats = {("content", t): dfm.get(t, 0) for t, _tf in pairs}
    else:
        rows0 = (searcher.postings.where((F.col("docid") == docid)
                                         & (F.col("field") == "content"))
                 .select("term", "tf").collect())
        pairs = [(r["term"], int(r["tf"])) for r in rows0]
        if not pairs:
            return BooleanQuery.of(should=[])
        stats = searcher.term_stats({("content", t) for t, _tf in pairs})
    n = searcher.doc_count
    scored = []
    for t, tf in pairs:
        df = stats.get(("content", t), 0)
        if tf < min_term_freq or df < min_doc_freq:
            continue
        idf = float(np.log(1.0 + (n - df + 0.5) / (df + 0.5)))
        scored.append((tf * idf, t))
    scored.sort(key=lambda x: (-x[0], x[1]))
    picked = [t for _, t in scored[:max_query_terms]]
    return BooleanQuery.of(should=[TermQuery(t) for t in picked])


def rescore(searcher: IndexSearcher, first_pass: Query, second_pass: Query,
            rescore_n: int = 100, k: int = 10,
            first_weight: float = 1.0, second_weight: float = 1.0) -> DataFrame:
    """QueryRescorer.combine semantics: new = w1*first + w2*second for
    the top-N of the first pass (second term only where the rescore
    query matches); docs outside the top-N keep rank below all
    rescored docs (we simply re-rank within the N, as ReRank does)."""
    top_n = searcher.search_df(first_pass, rescore_n).select(
        "docid", F.col("score").alias("first_score"))
    second = searcher.search_df(second_pass, None).select(
        "docid", F.col("score").alias("second_score"))
    combined = (top_n.join(second, "docid", "left_outer")
                .select("docid",
                        (F.col("first_score") * F.lit(float(first_weight))
                         + F.coalesce(F.col("second_score"), F.lit(0.0))
                         * F.lit(float(second_weight))).cast("float").alias("score")))
    return combined.orderBy(F.desc("score"), F.asc("docid")).limit(k)


def suggest(searcher: IndexSearcher, prefix: str, n: int = 10) -> DataFrame:
    """Prefix completion from the dictionary, weighted by df (the FST
    suggester's weight role). Dict scan is bucket/row-group pruned by
    the startswith predicate."""
    return (_field_dict(searcher)
            .where(F.col("term").startswith(prefix))
            .select("term", F.col("df").alias("weight"))
            .orderBy(F.desc("weight"), F.asc("term")).limit(n))


SEP_LABEL = "\u001f"  # AnalyzingSuggester.SEP_LABEL (PRESERVE_SEP key separator)


def build_suggester(entries: DataFrame, analyzer=None,
                    text_col: str = "text",
                    weight_col: str = "weight") -> DataFrame:
    """AnalyzingSuggester.build() role (suggest/analyzing/
    AnalyzingSuggester.java:413-520): each (surface text, weight) entry
    is ANALYZED and stored under its analyzed key — tokens joined by
    SEP_LABEL '\\u001f' (PRESERVE_SEP, AnalyzingSuggester.java:163-167)
    — so lookups match analyzed forms, not raw strings ("Foo-Bar" and
    "foo bar" collide, the suggester's whole point). Returns
    (key, text, weight); at scale this is the precomputed suggester
    table, bucketable by key prefix."""
    if analyzer is None:
        from ..analysis import StandardAnalyzer

        analyzer = StandardAnalyzer()

    import pandas as pd

    def keyify(it):
        for pdf in it:
            pdf = pdf.copy()
            pdf["key"] = [SEP_LABEL.join(analyzer.terms(t))
                          for t in pdf[text_col]]
            yield pdf[["key", text_col, weight_col]].rename(
                columns={text_col: "text", weight_col: "weight"})

    return entries.mapInPandas(keyify, "key string, text string, weight long")


def suggest_analyzing(sugg: DataFrame, query: str, n: int = 10,
                      analyzer=None, exact_first: bool = True) -> DataFrame:
    """AnalyzingSuggester.lookup() (AnalyzingSuggester.java:553-669):
    analyze the query the same way, match stored keys by analyzed
    PREFIX, exact key matches first (EXACT_FIRST), then weight desc.
    One pushed-down startswith scan of the suggester table."""
    if analyzer is None:
        from ..analysis import StandardAnalyzer

        analyzer = StandardAnalyzer()
    qkey = SEP_LABEL.join(analyzer.terms(query))
    hits = sugg.where(F.col("key").startswith(qkey))
    exact = (F.col("key") == qkey).cast("int") if exact_first else F.lit(0)
    return (hits.select("text", "weight", exact.alias("is_exact"))
            .orderBy(F.desc("is_exact"), F.desc("weight"), F.asc("text"))
            .drop("is_exact").limit(n))


def suggest_fuzzy(sugg: DataFrame, query: str, n: int = 10,
                  analyzer=None, max_edits: int = 1,
                  non_fuzzy_prefix: int = 1,
                  min_fuzzy_length: int = 3) -> DataFrame:
    """FuzzySuggester.lookup() (suggest/analyzing/FuzzySuggester.java:
    87-109 defaults: maxEdits=1, nonFuzzyPrefix=1, minFuzzyLength=3):
    the analyzed query matches key prefixes within ``max_edits``
    Levenshtein edits, the first ``non_fuzzy_prefix`` chars must match
    exactly, and queries shorter than ``min_fuzzy_length`` fall back
    to exact-prefix matching. The edit distance against the BEST key
    prefix is the least over prefix lengths len(q)±max_edits — all
    JVM ``levenshtein``/``substring`` expressions, no UDF."""
    if analyzer is None:
        from ..analysis import StandardAnalyzer

        analyzer = StandardAnalyzer()
    qkey = SEP_LABEL.join(analyzer.terms(query))
    if len(qkey) < min_fuzzy_length or max_edits == 0:
        return suggest_analyzing(sugg, query, n, analyzer=analyzer)
    qlen = len(qkey)
    cand = sugg
    if non_fuzzy_prefix > 0:
        cand = cand.where(F.col("key").startswith(qkey[:non_fuzzy_prefix]))
    dist = F.least(*[
        F.levenshtein(F.substring(F.col("key"), 1, max(qlen + d, 1)),
                      F.lit(qkey))
        for d in range(-max_edits, max_edits + 1)
    ])
    return (cand.select("text", "weight", dist.alias("dist"))
            .where(F.col("dist") <= max_edits)
            .orderBy(F.asc("dist"), F.desc("weight"), F.asc("text"))
            .drop("dist").limit(n))


def spellcheck(searcher: IndexSearcher, word: str, n: int = 5,
               max_edits: int = 2, accuracy: float = 0.5,
               min_prefix: int = 1, min_query_length: int = 4,
               max_query_frequency: float = 0.01,
               threshold_frequency: float = 0.0,
               suggest_mode: str = "not_in_index",
               ) -> list[tuple[str, float, int]]:
    """DirectSpellChecker (suggest/spell/DirectSpellChecker.java
    :316-378 ``suggestSimilar`` with the class defaults :68-81:
    minPrefix 1, accuracy 0.5, thresholdFrequency 0, minQueryLength 4,
    maxQueryFrequency 0.01):

    * query gates — too-short queries return nothing (:320-321);
      ``not_in_index`` mode returns nothing for in-vocabulary words
      (:329-331); words more frequent than maxQueryFrequency (a count
      when >= 1, else a ceil'd fraction of maxDoc, :335-338) are
      assumed correctly spelled;
    * candidate gates — must share the first ``min_prefix`` chars
      (the FuzzyTermsEnum prefix, :409), be within ``max_edits`` OSA
      edits, have df above the floor (thresholdFrequency per
      :343-347; ``more_popular`` mode floors at the query word's own
      df, :341);
    * score = 1 - edits / min(|term|, |word|) — FuzzyTermsEnum's
      boost, the INTERNAL_LEVENSHTEIN path (:440-446) — kept when
      >= ``accuracy`` (:449-451);
    * ranked score desc, df desc, term asc (SuggestWordQueue's
      SuggestWordScoreComparator).

    Spark prefilter: builtin levenshtein bound + sargable prefix
    predicate on the dictionary scan; exact OSA refinement driver-side
    on the candidates. Returns (term, score, df) triples."""
    import math

    if min_query_length > 0 and len(word) < min_query_length:
        return []
    df_word = searcher.term_stats({("content", word)}).get(
        ("content", word), 0)
    if suggest_mode == "not_in_index" and df_word > 0:
        return []
    if max_query_frequency >= 1.0:
        if df_word > max_query_frequency:
            return []
    elif df_word > math.ceil(max_query_frequency * searcher.doc_count):
        return []
    df_floor = 0
    if suggest_mode == "more_popular":
        df_floor = df_word
    if threshold_frequency >= 1.0:
        df_floor = max(df_floor, int(threshold_frequency))
    elif threshold_frequency > 0.0:
        df_floor = max(df_floor,
                       int(threshold_frequency * searcher.doc_count) - 1)

    cond = dict_prefilter(FuzzyQuery(word, max_edits, min_prefix),
                          F.col("term"))
    cands = _field_dict(searcher).where(cond).select("term", "df").collect()
    out = []
    for r in cands:
        t = r["term"]
        if t == word:
            continue
        df = int(r["df"])
        if df <= df_floor:
            continue
        d = osa_distance(t, word, cap=max_edits)
        if d > max_edits:
            continue
        score = 1.0 - d / min(len(t), len(word))
        if score < accuracy:
            continue
        out.append((t, score, df))
    out.sort(key=lambda x: (-x[1], -x[2], x[0]))
    return out[:n]


def spellcheck_collate(searcher: IndexSearcher, query_string: str,
                       n_suggestions: int = 3,
                       max_collation_tries: int = 10,
                       max_collations: int = 3,
                       max_edits: int = 2) -> list[tuple[str, int]]:
    """SpellCheckCollator role (solr/core/.../spelling/
    SpellCheckCollator.java:53-160 + PossibilityIterator rank order):
    correct each out-of-vocabulary word of the query, enumerate
    substitution combinations cheapest-total-rank first, re-run each
    candidate collation against the index (``maxCollationTries``) and
    return up to ``max_collations`` ``(collation, hits)`` pairs that
    actually produce hits. Verification queries are a MUST
    conjunction of the collation's words (the "will this query return
    results" contract). In-dictionary words pass through unchanged."""
    import itertools

    words = [w for w in query_string.lower().split() if w]
    stats = searcher.term_stats({("content", w) for w in words})
    options: list[list[str]] = []
    any_misspelled = False
    for w in words:
        if stats.get(("content", w), 0) > 0:
            options.append([w])
        else:
            any_misspelled = True
            cands = [c for c, _s, _df in
                     spellcheck(searcher, w, n_suggestions, max_edits,
                                min_query_length=1)]
            options.append(cands or [w])
    if not any_misspelled:
        return []
    # PossibilityIterator order: rank of a combination = sum of each
    # word's correction index; emit ascending total rank
    idx_ranges = [range(len(o)) for o in options]
    combos = sorted(itertools.product(*idx_ranges),
                    key=lambda ix: (sum(ix), ix))
    out: list[tuple[str, int]] = []
    tries = 0
    for ix in combos:
        if tries >= max_collation_tries or len(out) >= max_collations:
            break
        terms = [options[i][j] for i, j in enumerate(ix)]
        if terms == words:
            continue
        tries += 1
        q = BooleanQuery.of(must=[TermQuery(t) for t in terms])
        hits = int(searcher.search_df(q, None).count())
        if hits > 0:
            out.append((" ".join(terms), hits))
    return out


def passage_score(term_freqs_in_passage: dict, term_freqs_in_doc: dict,
                  passage_len: int, passage_start: int, content_len: int,
                  k1: float = 1.2, b: float = 0.75,
                  pivot: float = 87.0) -> float:
    """uhighlight/PassageScorer.java score (:117-141) with the default
    parameters of :62-67 (k1=1.2, b=0.75, pivot=87 — "typical average
    english sentence length" in chars):

      weight(L, ttf) = (k1+1) * ln(1 + (numDocs+0.5)/(ttf+0.5)),
        numDocs = 1 + L/pivot                        (:86-92)
      tf(f, plen)    = f / (f + k1*((1-b) + b*plen/pivot))  (:98-101)
      norm(start)    = 1 + 1/ln(pivot + start)       (:114-116)
      score = norm(start) * Σ_terms tf(fp, plen) * weight(L, fd)
    """
    import math

    num_docs = 1.0 + content_len / pivot
    score = 0.0
    for t, fp in term_freqs_in_passage.items():
        fd = term_freqs_in_doc.get(t, fp)
        weight = (k1 + 1.0) * math.log(1.0 + (num_docs + 0.5) / (fd + 0.5))
        norm = k1 * ((1.0 - b) + b * (passage_len / pivot))
        score += (fp / (fp + norm)) * weight
    return score * (1.0 + 1.0 / math.log(pivot + passage_start))


def highlight(searcher: IndexSearcher, q: Query, k: int = 10,
              window_tokens: int = 16, pre: str = "<b>", post: str = "</b>",
              corpus: DataFrame | None = None,
              max_passages: int = 1, separator: str = " ... ") -> DataFrame:
    """Snippets for the top-k hits: join hits back to the stored
    content (two-phase: slim top-k first, content fetch after — the
    Solr two-phase distributed search shape, QueryComponent.java:585),
    then a UDF re-analyzes ONLY those k rows and returns the densest
    window(s) with query terms wrapped. ``max_passages`` > 1 emits up
    to that many non-overlapping windows in document order joined by
    ``separator`` (UnifiedHighlighter.java maxPassages/getFieldHighlighter
    — passages ranked by match density, rendered in offset order)."""
    q = searcher.rewrite(q)
    from .executor import _collect_terms

    qterms = {t for _f, t in _collect_terms(q)}
    hits = searcher.search_df(q, k)
    if corpus is None:
        raise ValueError("pass the corpus DataFrame holding (repo,path,commit,content)")
    keyed = searcher.docs.select("docid", "repo", "path", "commit")
    content = corpus.select("repo", "path", "commit", "content")
    with_text = (hits.join(keyed, "docid")
                 .join(content, ["repo", "path", "commit"]))

    # works over IndexSearcher (v1 tables) and SegmentSearcher (v2)
    m = (searcher.tables.manifest() if hasattr(searcher, "tables")
         else searcher.manifest())
    stop = frozenset(m.get("stop_words", ()))
    maxlen = int(m.get("max_token_length", 255))

    @F.pandas_udf(StringType())
    def snip(content_s: pd.Series) -> pd.Series:
        analyzer = StandardAnalyzer(stop_words=stop, max_token_length=maxlen)
        out = []
        for text in content_s.fillna(""):
            spans = analyzer.token_spans(text)
            flags = np.array([t in qterms for t, _, _ in spans], dtype=np.int64)
            if not flags.any() or not spans:
                out.append(text[:120])
                continue
            # candidate windows of `window_tokens` tokens ranked by
            # the reference PassageScorer formula (match-count
            # prefilter keeps the scored set small), greedy
            # non-overlapping top-N, emitted in document order
            csum = np.concatenate(([0], np.cumsum(flags)))
            w = min(window_tokens, len(flags))
            dens = csum[w:] - csum[:-w]
            if dens.size == 0:
                starts = [0]
            else:
                doc_tf: dict[str, int] = {}
                for (t, _a, _b), fl in zip(spans, flags):
                    if fl:
                        doc_tf[t] = doc_tf.get(t, 0) + 1
                content_len = len(text)
                cand = np.flatnonzero(dens > 0)
                pscores = np.zeros(dens.size, dtype=np.float64)
                for s in cand:
                    wtf: dict[str, int] = {}
                    for t, _a, _b in spans[s:s + w]:
                        if t in qterms:
                            wtf[t] = wtf.get(t, 0) + 1
                    plen = spans[min(s + w, len(spans)) - 1][2] - spans[s][1]
                    pscores[s] = passage_score(
                        wtf, doc_tf, plen, spans[s][1], content_len)
                order = np.argsort(-pscores, kind="stable")
                starts, taken = [], []
                for s in order:
                    if pscores[s] <= 0 and starts:
                        break
                    if all(abs(int(s) - t) >= w for t in taken):
                        starts.append(int(s))
                        taken.append(int(s))
                    if len(starts) >= max_passages:
                        break
                starts.sort()
            pieces = []
            for start in starts:
                end = min(start + w, len(spans)) - 1
                lo = spans[start][1]
                hi = spans[end][2]
                rendered = []
                cursor = lo
                for t, a, b in spans[start:end + 1]:
                    if t in qterms:
                        rendered.append(text[cursor:a])
                        rendered.append(pre + text[a:b] + post)
                        cursor = b
                rendered.append(text[cursor:hi])
                pieces.append("".join(rendered))
            out.append(separator.join(pieces))
        return pd.Series(out)

    return with_text.select("docid", "score", snip(F.col("content")).alias("snippet")) \
        .orderBy(F.desc("score"), F.asc("docid"))


def percolate(queries: dict[str, Query], doc_fields,
              analyzer: StandardAnalyzer | None = None,
              k1: float = 1.2, b: float = 0.75) -> list[str]:
    """MemoryIndex percolation (memory/MemoryIndex.java role): index
    ONE document in-process and run every registered query against it,
    returning the ids of matching queries — the alerting/percolator
    pattern. Uses the oracle engine (single-doc, exact semantics);
    score discipline identical to the distributed path."""
    from ..oracle import OracleIndex

    mi = OracleIndex(analyzer=analyzer, k1=k1, b=b)
    mi.add(doc_fields)
    return sorted(qid for qid, q in queries.items() if mi.count(q) > 0)


def knn_classify(searcher: IndexSearcher, text: str, label_col: str = "lang",
                 k: int = 10, max_query_terms: int = 25,
                 analyzer: StandardAnalyzer | None = None) -> DataFrame:
    """KNearestNeighborClassifier (classification/
    KNearestNeighborClassifier.java role): MLT-style query from the
    input text, then majority label (count-weighted) among the top-k
    neighbors. Returns DataFrame(label, votes) descending."""
    analyzer = analyzer or StandardAnalyzer()
    terms, _ = analyzer.analyze(text)
    if not terms:
        return searcher.docs.select(
            F.col(label_col).alias("label")).limit(0).withColumn(
            "votes", F.lit(0).cast("long"))
    # rank candidate terms by tf in the input (createQueue role)
    tf: dict[str, int] = {}
    for t in terms:
        tf[t] = tf.get(t, 0) + 1
    picked = [t for t, _n in sorted(tf.items(), key=lambda x: (-x[1], x[0]))
              [:max_query_terms]]
    q = BooleanQuery.of(should=[TermQuery(t) for t in picked])
    hits = searcher.search_df(q, k).select("docid")
    return (searcher.docs.join(hits, "docid", "left_semi")
            .groupBy(F.col(label_col).alias("label"))
            .agg(F.count("*").alias("votes"))
            .orderBy(F.desc("votes"), F.asc("label")))


def elevate_topk(searcher: IndexSearcher, q: Query,
                 elevated: list[int], k: int = 10,
                 excluded: list[int] = ()) -> DataFrame:
    """QueryElevationComponent (solr/core/src/java/org/apache/solr/
    handler/component/QueryElevationComponent.java role): editorially
    pin ``elevated`` docids to the top of the result list IN CONFIG
    ORDER regardless of score, drop ``excluded`` docids, then the
    organic hits by (score desc, docid asc). Elevated docs that do NOT
    match the query are still included (the reference ORs an
    include-query into the main query; forceElevation=true ordering).

    Plan: the elevation map is editorial config — tiny — so it rides
    as a broadcast join; organic ranking stays the engine's normal
    top-k. Returns DataFrame(docid, score, elevated) with elevated
    docs' organic score where they matched, NULL where pinned in.
    """
    spark = searcher.docs.sparkSession
    elev_df = spark.createDataFrame(
        [(int(d), i) for i, d in enumerate(elevated)],
        "docid long, elev_rank int") if elevated else None
    scored = searcher.search_df(q, None).select("docid", "score")
    if excluded:
        scored = scored.where(~F.col("docid").isin(*[int(d) for d in excluded]))
    if elev_df is None:
        return (scored.withColumn("elevated", F.lit(False))
                .orderBy(F.desc("score"), F.asc("docid")).limit(k))
    joined = scored.join(F.broadcast(elev_df), "docid", "full_outer")
    if excluded:
        # exclusion beats elevation — the full_outer join re-admits
        # pinned ids, so re-filter after it
        joined = joined.where(
            ~F.col("docid").isin(*[int(d) for d in excluded]))
    out = (joined.withColumn("elevated", F.col("elev_rank").isNotNull())
           .orderBy(F.when(F.col("elev_rank").isNotNull(), F.col("elev_rank"))
                    .otherwise(F.lit(2_147_483_647)).asc(),
                    F.desc_nulls_last("score"), F.asc("docid"))
           .select("docid", "score", "elevated")
           .limit(k))
    return out


def terms_enum(searcher: IndexSearcher, field: str = "content",
               prefix: str | None = None, regex: str | None = None,
               limit: int = 10, sort: str = "count",
               min_count: int = 1) -> DataFrame:
    """TermsComponent (solr/core/src/java/org/apache/solr/handler/
    component/TermsComponent.java role): enumerate index terms with
    their document frequencies — terms.prefix / terms.regex /
    terms.limit / terms.mincount / terms.sort={count,index}.

    Plan: a filtered scan of the dict table; the prefix filter is a
    sargable range predicate (startswith → [prefix, prefix+\\uffff)),
    so parquet row-group pruning applies when the dict is sorted by
    term; sort=count is a global top-k (TakeOrderedAndProject)."""
    d = _field_dict(searcher, field)
    if prefix:
        d = d.where(F.col("term").startswith(prefix))
    if regex:
        d = d.where(F.col("term").rlike(regex))
    if min_count > 1:
        d = d.where(F.col("df") >= min_count)
    d = d.select("term", F.col("df").alias("count"))
    if sort == "index":
        return d.orderBy(F.asc("term")).limit(limit)
    return d.orderBy(F.desc("count"), F.asc("term")).limit(limit)


def suggest_infix(sugg_entries: DataFrame, query: str, n: int = 10,
                  analyzer=None, all_terms_required: bool = True,
                  highlight: bool = True, blender_type: str | None = None,
                  exponent: float = 2.0) -> DataFrame:
    """AnalyzingInfixSuggester.lookup() (suggest/analyzing/
    AnalyzingInfixSuggester.java:63-76, :365-470): every query token
    but the last must match a WHOLE analyzed token of the suggestion
    (any position — that's the "infix"), the last query token matches
    as a token PREFIX; allTermsRequired=true ANDs the clauses (:381).
    Results sort by weight desc (:452 sortFields), ties by text.
    ``highlight=True`` wraps matches in <b>..</b> (:492-537: whole
    matched tokens fully, the prefix-match only up to the typed chars).

    Plan: one scan with JVM array predicates (exists/array_contains on
    the precomputed analyzed-token column — the Lucene side indexes
    edge-ngrams up to minPrefixChars for the same O(1)-per-token test),
    then a global top-n. At scale the entries table buckets by any
    token-prefix key; no Python in the match path.

    ``blender_type`` adds BlendedInfixSuggester's position blending
    (suggest/analyzing/BlendedInfixSuggester.java:86-93, :308-327):
    the weight is scaled by a coefficient of the FIRST matching token
    position (the closest occurrence, :277-297) —
    ``linear`` = 1 - 0.10*position (:62, :311),
    ``reciprocal`` = 1/(position+1) (:315),
    ``exponential_reciprocal`` = 1/(position+1)^exponent (:318) —
    and the blended score is truncated to a long exactly like
    ``(long)(weight * coefficient)`` (:228). Results then sort by the
    blended score. The position lookup is a JVM transform+array_min
    over the token array — the term-vector walk of the reference, no
    UDF."""
    if analyzer is None:
        from ..analysis import StandardAnalyzer

        analyzer = StandardAnalyzer()
    qtoks = analyzer.terms(query)
    if not qtoks:
        raise ValueError("query analyzed to no tokens")
    *whole, last = qtoks
    entries = sugg_entries.withColumn(
        "_toks", F.split(F.col("key"), SEP_LABEL))
    conds = [F.array_contains("_toks", t) for t in whole]
    conds.append(F.exists("_toks", lambda t: t.startswith(last)))
    cond = conds[0]
    for c in conds[1:]:
        cond = (cond & c) if all_terms_required else (cond | c)
    hits = entries.where(cond)
    if blender_type is not None:
        coefs = {
            "linear": lambda p: 1.0 - 0.10 * p,
            "reciprocal": lambda p: 1.0 / (p + 1.0),
            "exponential_reciprocal": lambda p: 1.0 / (p + 1.0) ** exponent,
        }
        if blender_type not in coefs:
            raise ValueError(f"blender_type must be one of {sorted(coefs)}")

        def _is_match(t):
            m = t.startswith(last)
            for w in whole:
                m = m | (t == F.lit(w))
            return m

        first_pos = F.array_min(F.transform(
            "_toks",
            lambda t, i: F.when(_is_match(t), i)
            .otherwise(F.lit(2147483647))))
        coef = coefs[blender_type]
        # (long)(weight * coefficient), :228 — Java casts truncate
        # toward zero (linear coefficients go negative past position 10)
        raw = F.col("weight").cast("double") * coef(first_pos.cast("double"))
        blended = (F.when(raw >= 0, F.floor(raw)).otherwise(F.ceil(raw))
                   .cast("long"))
        hits = hits.withColumn("score", blended).select(
            "text", "weight", "score")
        order = [F.desc("score"), F.asc("text")]
    else:
        hits = hits.select("text", "weight")
        order = [F.desc("weight"), F.asc("text")]
    if highlight:
        out = F.col("text")
        for t in whole:
            out = F.regexp_replace(
                out, f"(?i)\\b({re.escape(t)})\\b", "<b>$1</b>")
        out = F.regexp_replace(
            out, f"(?i)\\b({re.escape(last)})", "<b>$1</b>")
        hits = hits.withColumn("highlighted", out)
    return hits.orderBy(*order).limit(n)


def expand_topk(searcher: IndexSearcher, q: Query, group_col: str,
                k_groups: int = 10, expand_rows: int = 5) -> DataFrame:
    """ExpandComponent (solr/core/src/java/org/apache/solr/handler/
    component/ExpandComponent.java:112-130): companion to collapse —
    for each group that survived the collapse, return the top
    `expand_rows` OTHER matching docs of that group (the heads the
    collapse kept are excluded, :472-505 collapsedSet). One extra
    ranked pass over the already-scored match set, broadcast-joined to
    the (tiny) surviving-group list."""
    scored = searcher.search_df(q, None)
    docs = searcher.docs.select("docid", group_col)
    joined = scored.join(docs, "docid")
    w_in = Window.partitionBy(group_col).orderBy(F.desc("score"), F.asc("docid"))
    ranked = joined.withColumn("rn", F.row_number().over(w_in))
    heads = (ranked.where(F.col("rn") == 1)
             .select(group_col, F.col("score").alias("best_score"),
                     F.col("docid").alias("best_docid"))
             .orderBy(F.desc("best_score"), F.asc("best_docid"))
             .limit(k_groups))
    return (ranked.join(F.broadcast(heads.select(group_col)), group_col)
            .where(F.col("rn") > 1)  # the collapsed-away docs only
            .where(F.col("rn") <= expand_rows + 1)
            .select(group_col, "docid", "score",
                    (F.col("rn") - 1).alias("expand_rank")))


def naive_bayes_classify(searcher: IndexSearcher, text: str,
                         label_col: str = "lang",
                         analyzer: StandardAnalyzer | None = None) -> DataFrame:
    """SimpleNaiveBayesClassifier (classification/
    SimpleNaiveBayesClassifier.java): per class c,

      score(c) = log(docFreq(c)) - log(docsWithClass)              (:266-268)
               + Σ_w log( (hits(w,c) + 1) /
                          (avgUniqueTermsPerDoc·docFreq(c) + docsWithClass) )
                                                                    (:203-223)

    with hits(w,c) = docs of class c containing w (:250-264),
    avgUniqueTermsPerDoc = sumDocFreq/docCount (:231-240), then a
    log-sum-exp softmax normalization (:279-300). Returns
    DataFrame(label, score) descending, scores summing to 1.

    Plan: ONE pass — postings filtered to the query's words (sargable
    term predicate), joined to doc labels, grouped by (class, word);
    the per-class fold is a broadcast-joined agg, and the softmax runs
    over #classes rows. The word loop of the reference (one
    TotalHitCountCollector search per word×class, :250) collapses into
    that single join-aggregate."""
    analyzer = analyzer or StandardAnalyzer()
    terms, _ = analyzer.analyze(text)
    spark = searcher.docs.sparkSession
    if not terms:
        return searcher.docs.select(
            F.col(label_col).alias("label")).limit(0).withColumn(
            "score", F.lit(0.0))
    tf: dict[str, int] = {}
    for t in terms:
        tf[t] = tf.get(t, 0) + 1
    words = spark.createDataFrame(list(tf.items()), "term string, wcount long")
    docs = searcher.docs.select("docid", F.col(label_col).alias("label"))
    # class priors + docsWithClass
    cls = docs.groupBy("label").agg(F.count("*").alias("df_c"))
    docs_with_class = searcher.doc_count
    # avg unique terms per doc = sumDocFreq / docCount
    sum_doc_freq = searcher.dict.agg(F.sum("df")).collect()[0][0]
    avg_unique = float(sum_doc_freq) / docs_with_class
    # hits(w, c): postings ∩ words → labels → per-(class, word) doc count
    hits = (searcher.postings.join(F.broadcast(words), "term")
            .select("term", "docid", "wcount").dropDuplicates(["term", "docid"])
            .join(docs, "docid")
            .groupBy("label", "term", "wcount")
            .agg(F.count("*").alias("hits")))
    # every (class, word) pair contributes — absent pairs hit the +1
    # smoothing, so build the full grid first
    grid = cls.crossJoin(F.broadcast(words))
    ll = (grid.join(hits, ["label", "term", "wcount"], "left")
          .na.fill({"hits": 0})
          .withColumn("den", avg_unique * F.col("df_c") + F.lit(float(docs_with_class)))
          .withColumn("w_ll", F.col("wcount") * F.log((F.col("hits") + 1) / F.col("den")))
          .groupBy("label", "df_c")
          .agg(F.sum("w_ll").alias("loglik")))
    scored = ll.select(
        "label",
        (F.log(F.col("df_c").cast("double")) - F.lit(float(__import__("math").log(docs_with_class)))
         + F.col("loglik")).alias("raw"))
    # log-sum-exp softmax over #classes rows (normClassificationResults)
    mx = scored.agg(F.max("raw").alias("mx"))
    return (scored.crossJoin(F.broadcast(mx))
            .withColumn("_e", F.exp(F.col("raw") - F.col("mx")))
            .withColumn("_z", F.sum("_e").over(Window.partitionBy()))
            .select("label", F.exp(F.col("raw") - F.col("mx") - F.log("_z")).alias("score"))
            .orderBy(F.desc("score"), F.asc("label")))


def explain(searcher: IndexSearcher, q: Query, docid: int) -> DataFrame:
    """IndexSearcher.explain role (search/IndexSearcher.java:684-706 →
    Weight.explain; Solr DebugComponent's `explain` section): break a
    doc's score into per-clause contributions. For a BooleanQuery,
    each scoring clause (MUST/SHOULD — FILTER and MUST_NOT contribute
    no score, BooleanWeight.explain) gets a row with ITS score on the
    doc (0 when the clause misses it), plus a 'total' row equal to the
    engine's actual score for the full query.

    Each clause probe is the same DataFrame plan as a search, filtered
    to one docid — the postings scan prunes to the clause's terms and
    the docid predicate pushes into it."""
    from .queries import BooleanQuery as BQ

    legs = []
    if isinstance(q, BQ):
        for i, cl in enumerate(q.clauses):
            if cl.occur in ("MUST", "SHOULD"):
                legs.append((f"{i}:{cl.occur}:{cl.query!r}", cl.query))
    rows = searcher.search_df(q, None).where(F.col("docid") == docid).select(
        F.lit("total").alias("clause"),
        F.col("score").cast("double").alias("score"))
    for label, leg in legs:
        leg_df = (searcher.search_df(leg, None)
                  .where(F.col("docid") == docid)
                  .select(F.lit(label).alias("clause"),
                          F.col("score").cast("double").alias("score")))
        rows = rows.unionByName(leg_df)
    return rows


def luke_info(searcher: IndexSearcher, top_terms: int = 10) -> dict:
    """LukeRequestHandler role (solr/core/.../admin/LukeRequestHandler
    .java:568-593 getIndexInfo + :660-690 per-field info): index-level
    stats (numDocs/maxDoc/deletedDocs/hasDeletions) plus, per field,
    distinct-term count, sum of term frequencies, and the
    ``top_terms`` highest-docFreq terms — two small aggregate jobs
    over the dict table (the postings are never touched)."""
    max_doc = searcher.doc_count
    n_deleted = int(searcher.deletes.count()) if searcher.deletes is not None else 0
    info = {
        "numDocs": max_doc - n_deleted,
        "maxDoc": max_doc,
        "deletedDocs": n_deleted,
        "hasDeletions": n_deleted > 0,
        "nBuckets": searcher.n_buckets,
        "fields": {},
    }
    agg = {r["field"]: r for r in searcher.dict.groupBy("field").agg(
        F.count("*").alias("distinct"),
        F.sum("ttf").alias("sum_ttf")).collect()}
    w = Window.partitionBy("field").orderBy(F.desc("df"), F.asc("term"))
    top = (searcher.dict.withColumn("rn", F.row_number().over(w))
           .where(F.col("rn") <= top_terms)
           .select("field", "term", "df", "rn").collect())
    for f, r in agg.items():
        stats = searcher.field_stats.get(f, {})
        info["fields"][f] = {
            "distinct": int(r["distinct"]),
            "sumTotalTermFreq": int(r["sum_ttf"] or 0),
            "docCount": int(stats.get("doc_count", max_doc)),
            "topTerms": [(t["term"], int(t["df"]))
                         for t in sorted((x for x in top if x["field"] == f),
                                         key=lambda x: x["rn"])],
        }
    return info


def cursor_page(searcher: IndexSearcher, q, k: int = 10,
                cursor_mark: str = "*"):
    """Solr cursorMark deep paging (solr/core/.../search/CursorMark.java:
    ``parseSerializedTotem``/``getSerializedTotem`` :175-236 — an
    opaque base64 totem of the last row's sort values; ``*`` is
    ``CURSOR_MARK_START``; the sort always ends in the unique key so a
    cursor never skips or duplicates docs while pages are fetched).

    Returns ``(top_docs, next_cursor_mark)``. The Solr end-of-results
    contract holds: a page that yields no docs returns the SAME totem
    it was given — clients stop when nextCursorMark repeats.

    Unlike offset paging (deep ``start=`` re-collects and throws away
    N rows per page — quadratic over a full export), each page here is
    a keyset predicate pushed into the postings scan, so page cost is
    flat no matter how deep the cursor is."""
    import base64
    import json as _json

    from .queries import TopDoc

    if cursor_mark == "*":
        docs = searcher.search(q, k)
    else:
        raw = _json.loads(base64.urlsafe_b64decode(
            cursor_mark.encode()).decode())
        after = TopDoc(int(raw[1]), float(raw[0]))
        docs = searcher.search_after(q, after, k)
    if not docs:
        return [], cursor_mark
    last = docs[-1]
    totem = base64.urlsafe_b64encode(
        _json.dumps([float(last.score), int(last.docid)]).encode()).decode()
    return docs, totem


def build_suggester_with_contexts(entries: DataFrame, analyzer=None,
                                  text_col: str = "text",
                                  weight_col: str = "weight",
                                  contexts_col: str = "contexts") -> DataFrame:
    """ContextSuggestField role (suggest/document/ContextSuggestField.java):
    a suggester entry carrying a set of context labels alongside its
    analyzed key. Returns (key, text, weight, contexts array<string>)."""
    base = build_suggester(entries, analyzer, text_col, weight_col)
    # mapInPandas in build_suggester drops extra columns; re-join the
    # contexts by surface text (unique in a suggester entry table).
    return base.join(
        entries.select(F.col(text_col).alias("text"),
                       F.col(contexts_col).alias("contexts")),
        "text")


def suggest_with_contexts(sugg: DataFrame, query: str,
                          contexts: dict[str, float] | None = None,
                          n: int = 10, analyzer=None,
                          exact: bool = True) -> DataFrame:
    """ContextQuery (suggest/document/ContextQuery.java:40-78,
    addContext :89-120): filter and boost completion hits by context —
    a hit must carry at least one requested context (entries with
    none are dropped; ``contexts=None`` matches all, the
    "ignoring any context filtering/boosting" case at :72), its score
    is ``weight × boost`` of the best matching context, and
    ``exact=False`` treats the requested labels as context PREFIXES
    (:67-69). All-JVM: per-row greatest-over-contexts via
    array_contains / exists on the contexts column — no UDF, no
    explode (the per-entry context set stays row-local)."""
    if contexts is None:
        return suggest_analyzing(sugg, query, n, analyzer=analyzer)
    if analyzer is None:
        from ..analysis import StandardAnalyzer

        analyzer = StandardAnalyzer()
    qkey = SEP_LABEL.join(analyzer.terms(query))
    hits = sugg.where(F.col("key").startswith(qkey))
    boosts = []
    for ctx, boost in contexts.items():
        if exact:
            m = F.array_contains(F.col("contexts"), ctx)
        else:
            m = F.exists(F.col("contexts"), lambda x: x.startswith(ctx))  # noqa: B023
        boosts.append(F.when(m, F.lit(float(boost))))
    best = F.greatest(*boosts) if len(boosts) > 1 else boosts[0]
    return (hits.withColumn("boost", best)
            .where(F.col("boost").isNotNull())
            .withColumn("score", F.col("weight") * F.col("boost"))
            .orderBy(F.desc("score"), F.asc("text"))
            .select("text", "weight", "score").limit(n))


def mlt_interesting_terms(searcher: IndexSearcher, docid: int,
                          max_query_terms: int = 25,
                          min_term_freq: int = 1,
                          min_doc_freq: int = 2) -> list[tuple[str, float]]:
    """MoreLikeThis interestingTerms=details (Solr
    MoreLikeThisHandler / MoreLikeThis.retrieveInterestingTerms): the
    ranked (term, tf·idf score) list the MLT query is built from —
    same selection rules as :func:`more_like_this`, exposed for
    debugging/boost tuning."""
    rows = (searcher.postings.where((F.col("docid") == docid)
                                    & (F.col("field") == "content"))
            .select("term", "tf").collect())
    if not rows:
        return []
    stats = searcher.term_stats({("content", r["term"]) for r in rows})
    n = searcher.doc_count
    scored = []
    for r in rows:
        t, tf = r["term"], int(r["tf"])
        df = stats.get(("content", t), 0)
        if tf < min_term_freq or df < min_doc_freq:
            continue
        idf = float(np.log(1.0 + (n - df + 0.5) / (df + 0.5)))
        scored.append((tf * idf, t))
    scored.sort(key=lambda x: (-x[0], x[1]))
    return [(t, s) for s, t in scored[:max_query_terms]]


def parse_elevate_xml(text: str) -> dict[str, tuple[list[str], list[str]]]:
    """Parse Solr's ``elevate.xml`` (QueryElevationComponent's
    config-file format, solr/core/.../component/QueryElevationComponent.java
    loadElevationConfiguration role):

        <elevate>
          <query text="foo bar">
            <doc id="1" />
            <doc id="2" exclude="true" />
          </query>
        </elevate>

    Returns {query text: (elevated ids in config order, excluded ids)}
    — feed the id lists (resolved to docids) to :func:`elevate_topk`."""
    import xml.etree.ElementTree as ET

    root = ET.fromstring(text)
    out: dict[str, tuple[list[str], list[str]]] = {}
    for qel in root.findall("query"):
        qtext = qel.get("text") or ""
        ups: list[str] = []
        downs: list[str] = []
        for doc in qel.findall("doc"):
            did = doc.get("id")
            if did is None:
                continue
            if (doc.get("exclude") or "").lower() == "true":
                downs.append(did)
            else:
                ups.append(did)
        out[qtext] = (ups, downs)
    return out


def percolate_batch(queries: dict[str, Query], docs: DataFrame,
                    id_col: str = "doc_id", text_col: str = "text",
                    analyzer: StandardAnalyzer | None = None,
                    k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Distributed percolation: run EVERY registered query against
    EVERY document of a batch, returning DataFrame(doc_id, query_id)
    matches — the alerting pattern (MemoryIndex.java single-doc
    percolation, scaled out).

    Scale shape — the presearcher discipline: a doc can only match a
    query if it contains at least one of the query's terms (true for
    every term/phrase/boolean shape the oracle engine supports except
    MatchAllDocs, which is always a candidate), so stage 1 prunes the
    doc×query cross product to CANDIDATE pairs with one exploded-token
    join against the broadcast (term → query) table, and stage 2 runs
    the exact single-doc engine only on candidates, grouped per doc
    (one MemoryIndex build per doc per partition, Arrow-batched). The
    expensive exact check never touches the full cross product — at
    10^5 queries × 10^9 docs the join output is the real match-ish
    set, not the product."""
    from .executor import _collect_terms

    analyzer = analyzer or StandardAnalyzer()
    qterms = []                       # (term, query_id)
    always = []                       # term-free queries: no prefilter
    for qid, q in queries.items():
        terms = {t for _f, t in _collect_terms(q)}
        if terms:
            qterms.extend((t, qid) for t in sorted(terms))
        else:
            always.append(qid)
    spark = docs.sparkSession
    pairs_src = docs.select(
        F.col(id_col).alias("_pid"), F.col(text_col).alias("_ptext"))

    if qterms:
        from ..analysis.filters import tokenize_column

        qt = spark.createDataFrame(qterms, "term string, query_id string")
        # prefilter tokens come from the SAME analyzer family as the
        # verify stage (an Arrow UDF, not a \W+ approximation) so a
        # query term the analyzer would produce is never missed
        tk = tokenize_column(pairs_src, text_col="_ptext",
                             out_col="_toks")
        toks = tk.select(
            "_pid", F.explode(F.array_distinct("_toks")).alias("term"))
        cand = (toks.join(F.broadcast(qt), "term")
                .select("_pid", "query_id").distinct())
    else:
        cand = pairs_src.select("_pid").limit(0).withColumn(
            "query_id", F.lit(""))
    if always:
        al = spark.createDataFrame([(q,) for q in always],
                                   "query_id string")
        cand = cand.unionByName(pairs_src.select("_pid").crossJoin(al))

    joined = cand.groupBy("_pid").agg(
        F.collect_set("query_id").alias("_qids")).join(pairs_src, "_pid")
    qmap = dict(queries)
    an = analyzer

    def verify(batches):
        from ..oracle import OracleIndex

        for pdf in batches:
            out_d, out_q = [], []
            for pid, qids, text in zip(pdf["_pid"], pdf["_qids"],
                                       pdf["_ptext"]):
                mi = OracleIndex(analyzer=an, k1=k1, b=b)
                mi.add(text)
                for qid in qids:
                    if mi.count(qmap[qid]) > 0:
                        out_d.append(pid)
                        out_q.append(qid)
            yield pd.DataFrame({"doc_id": out_d, "query_id": out_q})

    return joined.mapInPandas(
        verify, schema=f"doc_id long, query_id string")
