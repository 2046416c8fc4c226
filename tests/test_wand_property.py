"""Property test: random boolean/dismax/phrase trees evaluate
identically on SegmentSearcher (compressed codec, WAND or compiled
tree) and the pure-Python oracle — the round-4 algebra widening's
fuzz gate."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lucene_solr_spark.analysis import ENGLISH_STOP_WORDS, StandardAnalyzer
from lucene_solr_spark.corpus import corpus_df, corpus_pandas
from lucene_solr_spark.index.segments import build_segment_index
from lucene_solr_spark.oracle import OracleIndex
from lucene_solr_spark.search.queries import (
    BooleanClause,
    BooleanQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    PhraseQuery,
    SynonymQuery,
    TermQuery,
)
from lucene_solr_spark.search.wand import SegmentSearcher

N_DOCS = 120


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("segidx_prop"))
    corpus = corpus_df(spark, N_DOCS, partitions=3)
    idx = build_segment_index(corpus, root,
                              stop_words=ENGLISH_STOP_WORDS,
                              docs_per_segment=32)
    searcher = SegmentSearcher(idx, cache=True)
    pdf = (corpus_pandas(N_DOCS)
           .sort_values(["repo", "path", "commit"]).reset_index(drop=True))
    oracle = OracleIndex(
        analyzer=StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS))
    oracle.add_all(pdf["content"])
    vocab = sorted({t for _f, t in oracle.postings})
    # mix of common and rare terms + a guaranteed-absent one
    by_df = sorted(vocab, key=lambda t: (oracle.doc_freq(t), t))
    terms = (by_df[:3] + by_df[len(by_df) // 2: len(by_df) // 2 + 3]
             + by_df[-3:] + ["zzzznotaterm"])
    return searcher, oracle, terms


def _tree_strategy(terms):
    term_q = st.sampled_from(terms).map(TermQuery)
    boosted = st.tuples(st.sampled_from(terms),
                        st.sampled_from([0.5, 1.0, 2.0])).map(
        lambda tb: TermQuery(tb[0], boost=tb[1]))
    phrase = st.tuples(st.sampled_from(terms), st.sampled_from(terms),
                       st.sampled_from([0, 1, 2])).map(
        lambda p: PhraseQuery((p[0], p[1]), slop=p[2]))
    synonym = st.lists(st.sampled_from(terms), min_size=2, max_size=3,
                       unique=True).map(
        lambda ts: SynonymQuery(tuple(ts)))
    leaf = st.one_of(term_q, boosted, phrase, synonym)

    def extend(children):
        def mk_bool(args):
            clauses, msm = args
            occurs = ["SHOULD", "MUST", "MUST_NOT", "FILTER"]
            built = []
            for i, c in enumerate(clauses):
                built.append(BooleanClause(c, occurs[i % len(occurs)]
                                           if i else "SHOULD"))
            return BooleanQuery(tuple(built), minimum_should_match=msm)

        return st.one_of(
            st.tuples(st.lists(children, min_size=1, max_size=3),
                      st.sampled_from([0, 1])).map(mk_bool),
            st.tuples(st.lists(children, min_size=1, max_size=3),
                      st.sampled_from([0.0, 0.3])).map(
                lambda a: DisjunctionMaxQuery(tuple(a[0]),
                                              tie_breaker=a[1])),
            children.map(lambda c: ConstantScoreQuery(c, boost=1.5)),
        )

    return st.recursive(leaf, extend, max_leaves=5)


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_random_trees_identical(built, data):
    searcher, oracle, terms = built
    q = data.draw(_tree_strategy(terms))
    exp = oracle.search(q, 10)
    # serving path: fast in-driver evaluation (same compiled tree as
    # the distributed leaves, whose identity the named suites pin)
    got = searcher.search_local(q, 10)
    assert [(d.docid, np.float32(d.score)) for d in got] == [
        (d.docid, np.float32(d.score)) for d in exp], q


def test_msm_unreachable_matches_nothing(built):
    """BooleanWeight.java:396: SHOULD clauses whose term is absent from
    the index are dropped like null scorers; when fewer survive than
    minimumNumberShouldMatch the query matches nothing — even if MUST
    clauses alone would match. All engines must agree (regression: the
    compiled-tree paths treated msm as vacuous once every absent
    SHOULD clause was pruned)."""
    searcher, oracle, terms = built
    t_exist = next(t for t in terms if t != "zzzznotaterm"
                   and oracle.doc_freq(t) > 0)
    cases = [
        BooleanQuery.of(must=[TermQuery(t_exist)],
                        should=[TermQuery("zzzznotaterm")],
                        minimum_should_match=1),
        # degenerate: msm > 0 with zero SHOULD clauses at build time
        BooleanQuery.of(must=[TermQuery(t_exist)],
                        minimum_should_match=1),
        # two absent SHOULD, msm=2, FILTER present
        BooleanQuery(
            (BooleanClause(TermQuery("zzzznotaterm"), "SHOULD"),
             BooleanClause(TermQuery("zzzzalsonotaterm"), "SHOULD"),
             BooleanClause(TermQuery(t_exist), "FILTER")),
            minimum_should_match=2),
    ]
    for q in cases:
        assert oracle.search(q, 10) == [], q
        assert searcher.search_local(q, 10) == [], q
        assert searcher.search_df(q, 10).count() == 0, q
        batch = searcher.search_many({f"q{i}": q for i in range(17)}, 10)
        assert all(v == [] for v in batch.values()), q
    # sanity: one surviving SHOULD satisfying msm=1 still matches
    ok = BooleanQuery.of(must=[TermQuery(t_exist)],
                         should=[TermQuery("zzzznotaterm"),
                                 TermQuery(t_exist)],
                         minimum_should_match=1)
    assert len(oracle.search(ok, 10)) > 0
