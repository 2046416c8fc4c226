"""Per-segment term Bloom filters (codecs/bloom/
BloomFilteringPostingsFormat role): A/B identity with pruning on/off,
real segment skipping for segment-local terms, uncovered segments
never pruned."""

import numpy as np
import pytest

from lucene_solr_spark.analysis import ENGLISH_STOP_WORDS, StandardAnalyzer
from lucene_solr_spark.corpus import corpus_pandas
from lucene_solr_spark.index.bloom import (
    SegmentBlooms,
    build_segment_blooms,
)
from lucene_solr_spark.index.segments import SegmentIndex, build_segment_index
from lucene_solr_spark.oracle import OracleIndex
from lucene_solr_spark.search.queries import BooleanQuery, PhraseQuery, TermQuery
from lucene_solr_spark.search.wand import SegmentSearcher

N_DOCS = 160
SEG = 40  # → 4 segments


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = (corpus_pandas(N_DOCS)
           .sort_values(["repo", "path", "commit"]).reset_index(drop=True))
    # plant a marker term confined to the FIRST segment's docs
    pdf = pdf.copy()
    pdf.loc[:SEG - 1, "content"] = (
        pdf.loc[:SEG - 1, "content"] + " zzmarkerzz")
    root = str(tmp_path_factory.mktemp("bloom_idx"))
    build_segment_index(spark.createDataFrame(pdf), root,
                        stop_words=ENGLISH_STOP_WORDS,
                        docs_per_segment=SEG)
    idx = SegmentIndex(root, spark)
    n_segments = idx.summaries().select("segment").distinct().count()
    n = build_segment_blooms(idx)
    assert n == n_segments
    searcher = SegmentSearcher(SegmentIndex(root, spark), cache=True)
    assert searcher.blooms is not None
    oracle = OracleIndex(
        analyzer=StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS))
    oracle.add_all(pdf["content"])
    return searcher, oracle


def test_maybe_contains_and_exclusion(built):
    searcher, _oracle = built
    b = searcher.blooms
    # the marker term lives only in segment 0: every other covered
    # segment must be definitely-absent (16 KiB bloom over a tiny
    # vocabulary → no false positives at this scale)
    excl = b.excluded_segments({"zzmarkerzz"}, set())
    assert set(excl) == set(b.filters) - {0}
    assert b.maybe_contains(0, "zzmarkerzz")
    # uncovered segments are never prunable
    assert b.maybe_contains(999, "zzmarkerzz")
    assert 999 not in b.excluded_segments({"zzmarkerzz"}, set())
    # no terms → no pruning
    assert b.excluded_segments(set(), set()) == []


def test_ab_identity_with_and_without_blooms(built, spark):
    searcher, oracle = built
    import shutil
    import tempfile

    # a searcher over the same index with the bloom dir hidden
    root2 = tempfile.mkdtemp(prefix="bloom_off_")
    shutil.copytree(searcher.index.root, root2, dirs_exist_ok=True,
                    copy_function=__import__("os").link)
    shutil.rmtree(f"{root2}/blooms")
    off = SegmentSearcher(SegmentIndex(root2, spark), cache=False)
    assert off.blooms is None

    terms = sorted(t for _f, t in oracle.postings)
    hot = max(terms, key=lambda t: oracle.doc_freq(t))
    mid = terms[len(terms) // 2]
    queries = [
        TermQuery("zzmarkerzz"),
        BooleanQuery.of(should=[TermQuery(hot), TermQuery(mid)]),
        BooleanQuery.of(must=[TermQuery(hot), TermQuery("zzmarkerzz")]),
        BooleanQuery.of(must=[TermQuery(hot)],
                        must_not=[TermQuery("zzmarkerzz")]),
        PhraseQuery((hot,)),
    ]
    for q in queries:
        a = [(d.docid, np.float32(d.score)) for d in searcher.search(q, 15)]
        c = [(d.docid, np.float32(d.score)) for d in off.search(q, 15)]
        e = [(d.docid, np.float32(d.score)) for d in oracle.search(q, 15)]
        assert a == c == e, q


def test_marker_results_only_from_segment_zero(built):
    searcher, oracle = built
    got = searcher.search(TermQuery("zzmarkerzz"), 50)
    assert got
    assert all(d.docid < SEG for d in got)
    exp = oracle.search(TermQuery("zzmarkerzz"), 50)
    assert [(d.docid, np.float32(d.score)) for d in got] == [
        (d.docid, np.float32(d.score)) for d in exp]


def test_should_only_pruning_conservative(built):
    searcher, _ = built
    b = searcher.blooms
    # should-set pruning: a segment with NEITHER should term drops;
    # with a must term present, should absence must NOT drop it
    excl_should = b.excluded_segments(set(), {"zzmarkerzz"})
    assert set(excl_should) == set(b.filters) - {0}
    excl_mixed = b.excluded_segments({"a"}, {"zzmarkerzz"})
    # pruning keyed on the must term only (a segment having 'a' but
    # not the should term stays)
    for seg in b.filters:
        if b.maybe_contains(seg, "a"):
            assert seg not in excl_mixed


def test_batch_ab_identity(built, spark):
    searcher, oracle = built
    terms = sorted(t for _f, t in oracle.postings)
    hot = max(terms, key=lambda t: oracle.doc_freq(t))
    mid = terms[len(terms) // 2]
    batch = {
        "q_marker": TermQuery("zzmarkerzz"),
        "q_or": BooleanQuery.of(should=[TermQuery(hot), TermQuery(mid)]),
        "q_and": BooleanQuery.of(must=[TermQuery(hot),
                                       TermQuery("zzmarkerzz")]),
    }
    got = searcher.search_many(batch, k=12)
    for qid, q in batch.items():
        exp = oracle.search(q, 12)
        assert [(d.docid, np.float32(d.score)) for d in got[qid]] == [
            (d.docid, np.float32(d.score)) for d in exp], qid


def test_batch_marker_only_prunes_when_all_queries_agree(built):
    searcher, oracle = built
    # the hot-term query touches every segment, so the BATCH exclusion
    # (intersection) must be empty even though the marker query alone
    # would skip 3 of 4 segments — verified via identical results
    terms = sorted(t for _f, t in oracle.postings)
    hot = max(terms, key=lambda t: oracle.doc_freq(t))
    got = searcher.search_many(
        {"m": TermQuery("zzmarkerzz"), "h": TermQuery(hot)}, k=30)
    exp_h = oracle.search(TermQuery(hot), 30)
    assert [(d.docid, np.float32(d.score)) for d in got["h"]] == [
        (d.docid, np.float32(d.score)) for d in exp_h]


def test_compaction_drops_stale_blooms(spark, tmp_path):
    """compact_segments writes merged docs under fresh segment ids and
    leaves blooms/ in place: the filters of the retired ids never match
    a fresh id, and a segment without a filter is never excluded, so
    search keeps every hit, as search_local does."""
    from lucene_solr_spark.streaming import (IncrementalIndexer,
                                             compact_segments)

    pdf = (corpus_pandas(120)
           .sort_values(["repo", "path", "commit"]).reset_index(drop=True))
    pdf.loc[108:, "content"] = pdf.loc[108:, "content"] + " zzmarkerzz"
    root = str(tmp_path / "idx")
    indexer = IncrementalIndexer(root, stop_words=ENGLISH_STOP_WORDS,
                                 docs_per_segment=48)
    indexer.process_batch(spark.createDataFrame(pdf.iloc[:60]), 0)
    indexer.process_batch(spark.createDataFrame(pdf.iloc[60:]), 1)
    build_segment_blooms(SegmentIndex(root, spark))
    compact_segments(SegmentIndex(root, spark), min_fill=1.0)
    searcher = SegmentSearcher(SegmentIndex(root, spark), cache=True)
    q = TermQuery("zzmarkerzz")
    got = [(d.docid, np.float32(d.score)) for d in searcher.search(q, 20)]
    assert len(got) == 12
    assert got == [(d.docid, np.float32(d.score))
                   for d in searcher.search_local(q, 20)]
