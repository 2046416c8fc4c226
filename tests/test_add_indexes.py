"""addIndexes (IndexWriter.java:2848-2931): fold a separately-built
shard index into a destination with docid/segment renumbering — the
merged index must be BIT-identical (scores + docids) to one index
built over the whole corpus, because the split is a PK-prefix split
and the codec's delta blocks are shift-invariant."""

import os
import shutil

import numpy as np
import pytest

from lucene_solr_spark.analysis import ENGLISH_STOP_WORDS, StandardAnalyzer
from lucene_solr_spark.corpus import corpus_df, corpus_pandas
from lucene_solr_spark.index import check_segment_index
from lucene_solr_spark.index.segments import (
    SegmentIndex,
    add_indexes,
    append_deletes,
    build_segment_index,
)
from lucene_solr_spark.oracle import OracleIndex
from lucene_solr_spark.search.queries import BooleanQuery, TermQuery
from lucene_solr_spark.search.wand import SegmentSearcher

N_DOCS = 200
SPLIT = 120


@pytest.fixture(scope="module")
def merged(spark, tmp_path_factory):
    pdf = (corpus_pandas(N_DOCS)
           .sort_values(["repo", "path", "commit"]).reset_index(drop=True))
    lo = spark.createDataFrame(pdf.iloc[:SPLIT])
    hi = spark.createDataFrame(pdf.iloc[SPLIT:])
    dst_root = str(tmp_path_factory.mktemp("addidx_dst"))
    src_root = str(tmp_path_factory.mktemp("addidx_src"))
    build_segment_index(lo, dst_root, stop_words=ENGLISH_STOP_WORDS,
                        docs_per_segment=48)
    build_segment_index(hi, src_root, stop_words=ENGLISH_STOP_WORDS,
                        docs_per_segment=32)   # different seg sizing ok
    man = add_indexes(dst_root, src_root, spark)
    searcher = SegmentSearcher(SegmentIndex(dst_root, spark), cache=True)
    oracle = OracleIndex(
        analyzer=StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS))
    oracle.add_all(pdf["content"])
    return man, searcher, oracle, pdf, dst_root


def test_manifest_sums(merged):
    man, searcher, oracle, pdf, _root = merged
    assert man["doc_count"] == N_DOCS
    assert searcher.doc_count == oracle.doc_count == N_DOCS
    assert searcher.sum_ttf == oracle.sum_ttf
    st = check_segment_index(searcher.index, decode=False)
    assert st.clean, st.failed()


def test_merged_is_bit_identical_to_full_build(merged):
    _man, searcher, oracle, _pdf, _root = merged
    by_df = sorted((t for _f, t in oracle.postings),
                   key=lambda t: (oracle.doc_freq(t), t))
    probes = [by_df[0], by_df[len(by_df) // 2], by_df[-1]]
    for t in probes:
        q = TermQuery(t)
        exp = oracle.search(q, 15)
        got = searcher.search(q, 15)
        assert [(d.docid, np.float32(d.score)) for d in got] == [
            (d.docid, np.float32(d.score)) for d in exp], t
    q = BooleanQuery.of(should=[TermQuery(by_df[-1]), TermQuery(by_df[-2])],
                        must_not=[TermQuery(by_df[0])])
    exp = oracle.search(q, 15)
    got = searcher.search(q, 15)
    assert [(d.docid, np.float32(d.score)) for d in got] == [
        (d.docid, np.float32(d.score)) for d in exp]


def test_src_docids_shifted(merged):
    _man, searcher, _oracle, pdf, _root = merged
    docs = searcher.index.docs().orderBy("docid").collect()
    assert [r["docid"] for r in docs] == list(range(N_DOCS))
    # rows past the split carry the src's metadata at shifted ids
    assert docs[SPLIT]["repo"] == pdf.iloc[SPLIT]["repo"]
    assert docs[SPLIT]["path"] == pdf.iloc[SPLIT]["path"]


def test_deletes_carry_over_shifted(spark, tmp_path_factory):
    pdf = (corpus_pandas(80)
           .sort_values(["repo", "path", "commit"]).reset_index(drop=True))
    dst_root = str(tmp_path_factory.mktemp("adddel_dst"))
    src_root = str(tmp_path_factory.mktemp("adddel_src"))
    build_segment_index(spark.createDataFrame(pdf.iloc[:50]), dst_root,
                        stop_words=ENGLISH_STOP_WORDS, docs_per_segment=32)
    build_segment_index(spark.createDataFrame(pdf.iloc[50:]), src_root,
                        stop_words=ENGLISH_STOP_WORDS, docs_per_segment=32)
    append_deletes(src_root, [0, 3])      # src-local docids
    add_indexes(dst_root, src_root, spark)
    idx = SegmentIndex(dst_root, spark)
    assert set(idx.deleted_docids()) == {50, 53}
    s = SegmentSearcher(idx, cache=True)
    live = {r["docid"] for r in
            s.search_df(TermQuery("class"), 10**6).collect()}
    assert not live & {50, 53}


def test_config_mismatch_rejected(spark, tmp_path_factory):
    pdf = corpus_pandas(40).sort_values(
        ["repo", "path", "commit"]).reset_index(drop=True)
    a = str(tmp_path_factory.mktemp("cfg_a"))
    b = str(tmp_path_factory.mktemp("cfg_b"))
    build_segment_index(spark.createDataFrame(pdf.iloc[:20]), a,
                        stop_words=ENGLISH_STOP_WORDS)
    build_segment_index(spark.createDataFrame(pdf.iloc[20:]), b,
                        stop_words=frozenset({"xyz"}))
    with pytest.raises(ValueError, match="config mismatch"):
        add_indexes(a, b, spark)


def _with_title(pdf):
    return pdf.assign(title=[
        "%s file of %s" % (lang, path.split("/")[-1].split(".")[0])
        for lang, path in zip(pdf["lang"], pdf["path"])])


def test_multifield_fold_matches_full_build(spark, tmp_path_factory):
    """Per-field collection stats (manifest ``field_stats``) fold like
    the flat ones: a two-half multi-field fold scores title-field
    queries exactly as one build over the whole corpus."""
    pdf = _with_title(corpus_pandas(120).sort_values(
        ["repo", "path", "commit"]).reset_index(drop=True))
    kw = dict(stop_words=ENGLISH_STOP_WORDS, docs_per_segment=32,
              fields=("content", "title"))
    roots = {n: str(tmp_path_factory.mktemp(f"addmf_{n}"))
             for n in ("full", "dst", "src")}
    build_segment_index(spark.createDataFrame(pdf), roots["full"], **kw)
    build_segment_index(spark.createDataFrame(pdf.iloc[:60]), roots["dst"],
                        **kw)
    build_segment_index(spark.createDataFrame(pdf.iloc[60:]), roots["src"],
                        **kw)
    man = add_indexes(roots["dst"], roots["src"], spark)
    full = SegmentSearcher(SegmentIndex(roots["full"], spark), cache=True)
    assert man["field_stats"] == full.manifest()["field_stats"]
    folded = SegmentSearcher(SegmentIndex(roots["dst"], spark), cache=True)
    langs = sorted(set(pdf["lang"]))
    queries = [TermQuery(t, field="title") for t in ["file", *langs]]
    queries.append(BooleanQuery.of(should=[
        TermQuery("file", field="title"), TermQuery(langs[0], field="title"),
        TermQuery("class")]))
    for q in queries:
        exp = [(d.docid, np.float32(d.score)) for d in full.search(q, 15)]
        assert exp, q
        got = [(d.docid, np.float32(d.score)) for d in folded.search(q, 15)]
        assert got == exp, q


def test_fields_mismatch_rejected(spark, tmp_path_factory):
    pdf = _with_title(corpus_pandas(40).sort_values(
        ["repo", "path", "commit"]).reset_index(drop=True))
    a = str(tmp_path_factory.mktemp("fields_a"))
    b = str(tmp_path_factory.mktemp("fields_b"))
    build_segment_index(spark.createDataFrame(pdf.iloc[:20]), a,
                        stop_words=ENGLISH_STOP_WORDS,
                        fields=("content", "title"))
    build_segment_index(spark.createDataFrame(pdf.iloc[20:]), b,
                        stop_words=ENGLISH_STOP_WORDS)
    with pytest.raises(ValueError, match="config mismatch on 'fields'"):
        add_indexes(a, b, spark)


def test_fold_rerun_after_crash_is_safe(spark, tmp_path_factory):
    """A fold that crashed before its manifest commit is re-run with
    the same src: the re-run must leave exactly what one fold leaves —
    no doubled docs/docmap rows, no dict counted twice."""
    pdf = (corpus_pandas(N_DOCS)
           .sort_values(["repo", "path", "commit"]).reset_index(drop=True))
    roots = {n: str(tmp_path_factory.mktemp(f"rerun_{n}"))
             for n in ("full", "dst", "src")}
    build_segment_index(spark.createDataFrame(pdf), roots["full"],
                        stop_words=ENGLISH_STOP_WORDS, docs_per_segment=48)
    build_segment_index(spark.createDataFrame(pdf.iloc[:SPLIT]), roots["dst"],
                        stop_words=ENGLISH_STOP_WORDS, docs_per_segment=48)
    build_segment_index(spark.createDataFrame(pdf.iloc[SPLIT:]), roots["src"],
                        stop_words=ENGLISH_STOP_WORDS, docs_per_segment=32)
    man_path = os.path.join(roots["dst"], "manifest.json")
    shutil.copy(man_path, man_path + ".pre")
    add_indexes(roots["dst"], roots["src"], spark)
    os.replace(man_path + ".pre", man_path)   # crash before the commit
    man = add_indexes(roots["dst"], roots["src"], spark)

    idx = SegmentIndex(roots["dst"], spark)
    st = check_segment_index(idx, decode=False)
    assert st.clean, st.failed()
    assert idx.docs().count() == idx.docmap().count() == N_DOCS
    full = SegmentSearcher(SegmentIndex(roots["full"], spark), cache=True)
    assert {k: man[k] for k in ("doc_count", "sum_ttf")} == {
        k: full.manifest()[k] for k in ("doc_count", "sum_ttf")}
    assert idx.stats() == SegmentIndex(roots["full"], spark).stats()
    assert sorted(map(tuple, idx.dict().collect())) == sorted(
        map(tuple, full.index.dict().collect()))
    folded = SegmentSearcher(idx, cache=True)
    oracle = OracleIndex(
        analyzer=StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS))
    oracle.add_all(pdf["content"])
    by_df = sorted((t for _f, t in oracle.postings),
                   key=lambda t: (oracle.doc_freq(t), t))
    for q in [TermQuery(by_df[len(by_df) // 2]), TermQuery(by_df[-1]),
              BooleanQuery.of(should=[TermQuery(by_df[-1]),
                                      TermQuery(by_df[-2])])]:
        exp = [(d.docid, np.float32(d.score)) for d in full.search(q, 15)]
        assert exp, q
        got = [(d.docid, np.float32(d.score)) for d in folded.search(q, 15)]
        assert got == exp, q
