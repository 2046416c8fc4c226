"""split_index (IndexSplitter/SPLITSHARD role): segment-boundary split
with dense renumbering; each part must be BIT-identical to a fresh
build over its slice, and add_indexes(split(A)) must reproduce A."""

import numpy as np
import pytest

from lucene_solr_spark.analysis import ENGLISH_STOP_WORDS, StandardAnalyzer
from lucene_solr_spark.corpus import corpus_pandas
from lucene_solr_spark.index import check_segment_index
from lucene_solr_spark.index.segments import (
    SegmentIndex,
    add_indexes,
    append_deletes,
    build_segment_index,
    split_index,
)
from lucene_solr_spark.oracle import OracleIndex
from lucene_solr_spark.search.queries import BooleanQuery, TermQuery
from lucene_solr_spark.search.wand import SegmentSearcher

N_DOCS = 200


@pytest.fixture(scope="module")
def split(spark, tmp_path_factory):
    pdf = (corpus_pandas(N_DOCS)
           .sort_values(["repo", "path", "commit"]).reset_index(drop=True))
    src = str(tmp_path_factory.mktemp("split_src"))
    build_segment_index(spark.createDataFrame(pdf), src,
                        stop_words=ENGLISH_STOP_WORDS, docs_per_segment=48)
    p0 = str(tmp_path_factory.mktemp("split_p0"))
    p1 = str(tmp_path_factory.mktemp("split_p1"))
    mans = split_index(src, [p0, p1], spark)
    return pdf, src, p0, p1, mans


def _probe_terms(oracle, n=3):
    by_df = sorted((t for _f, t in oracle.postings),
                   key=lambda t: (oracle.doc_freq(t), t))
    return [by_df[0], by_df[len(by_df) // 2], by_df[-1]][:n]


def test_parts_cover_and_renumber(split):
    pdf, _src, _p0, _p1, mans = split
    assert sum(m["doc_count"] for m in mans) == N_DOCS
    assert all(m["doc_count"] > 0 for m in mans)


def test_part_bit_identical_to_fresh_build(split, spark):
    pdf, _src, p0, p1, mans = split
    b = mans[0]["doc_count"]
    for root, lo, hi in ((p0, 0, b), (p1, b, N_DOCS)):
        oracle = OracleIndex(
            analyzer=StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS))
        oracle.add_all(pdf.iloc[lo:hi]["content"])
        s = SegmentSearcher(SegmentIndex(root, spark))
        assert s.doc_count == oracle.doc_count
        assert s.sum_ttf == oracle.sum_ttf
        st = check_segment_index(s.index, decode=False)
        assert st.clean, (root, st.failed())
        for t in _probe_terms(oracle):
            exp = oracle.search(TermQuery(t), 12)
            got = s.search(TermQuery(t), 12)
            assert [(d.docid, np.float32(d.score)) for d in got] == [
                (d.docid, np.float32(d.score)) for d in exp], (root, t)


def test_split_then_add_round_trips(split, spark):
    pdf, _src, p0, p1, _mans = split
    add_indexes(p0, p1, spark)
    oracle = OracleIndex(
        analyzer=StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS))
    oracle.add_all(pdf["content"])
    s = SegmentSearcher(SegmentIndex(p0, spark))
    assert s.doc_count == N_DOCS
    q = BooleanQuery.of(should=[TermQuery(t) for t in _probe_terms(oracle)])
    exp = oracle.search(q, 20)
    got = s.search(q, 20)
    assert [(d.docid, np.float32(d.score)) for d in got] == [
        (d.docid, np.float32(d.score)) for d in exp]


def test_tombstones_route_to_owning_part(spark, tmp_path_factory):
    pdf = (corpus_pandas(100)
           .sort_values(["repo", "path", "commit"]).reset_index(drop=True))
    src = str(tmp_path_factory.mktemp("splitdel_src"))
    build_segment_index(spark.createDataFrame(pdf), src,
                        stop_words=ENGLISH_STOP_WORDS, docs_per_segment=25)
    append_deletes(src, [3, 97])
    p0 = str(tmp_path_factory.mktemp("splitdel_p0"))
    p1 = str(tmp_path_factory.mktemp("splitdel_p1"))
    mans = split_index(src, [p0, p1], spark)
    b = mans[0]["doc_count"]
    d0 = set(SegmentIndex(p0, spark).deleted_docids().tolist())
    d1 = set(SegmentIndex(p1, spark).deleted_docids().tolist())
    assert d0 == {3}
    assert d1 == {97 - b}


def test_multifield_parts_match_fresh_builds(spark, tmp_path_factory):
    """Each part of a split multi-field index owns the per-field
    collection stats a fresh build over its docs would have."""
    pdf = (corpus_pandas(120)
           .sort_values(["repo", "path", "commit"]).reset_index(drop=True))
    pdf = pdf.assign(title=[
        "%s file of %s" % (lang, path.split("/")[-1].split(".")[0])
        for lang, path in zip(pdf["lang"], pdf["path"])])
    kw = dict(stop_words=ENGLISH_STOP_WORDS, docs_per_segment=32,
              fields=("content", "title"))
    src = str(tmp_path_factory.mktemp("splitmf_src"))
    build_segment_index(spark.createDataFrame(pdf), src, **kw)
    parts = [str(tmp_path_factory.mktemp(f"splitmf_p{i}")) for i in (0, 1)]
    mans = split_index(src, parts, spark)
    lo = 0
    for root, man in zip(parts, mans):
        hi = lo + man["doc_count"]
        fresh = str(tmp_path_factory.mktemp("splitmf_fresh"))
        build_segment_index(spark.createDataFrame(pdf.iloc[lo:hi]), fresh,
                            **kw)
        assert man["field_stats"] == (
            SegmentIndex(fresh, spark).manifest()["field_stats"])
        st = check_segment_index(SegmentIndex(root, spark), decode=False)
        assert st.clean, (root, st.failed())
        lo = hi


# ---- PKIndexSplitter: predicate split ------------------------------------

def test_pk_split_partition(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from lucene_solr_spark.index.segments import pk_split_index

    pdf = (corpus_pandas(120)
           .sort_values(["repo", "path", "commit"]).reset_index(drop=True))
    src = str(tmp_path_factory.mktemp("pk_src"))
    build_segment_index(spark.createDataFrame(pdf), src,
                        stop_words=ENGLISH_STOP_WORDS, docs_per_segment=32)
    out_pass = str(tmp_path_factory.mktemp("pk_pass"))
    out_fail = str(tmp_path_factory.mktemp("pk_fail"))
    pred = F.col("docid") % 3 == 0
    man_p, man_f = pk_split_index(src, out_pass, out_fail, spark, pred)
    assert man_p["pk_split_side"] == "pass"

    base = SegmentSearcher(SegmentIndex(src, spark))
    sp = SegmentSearcher(SegmentIndex(out_pass, spark))
    sf_ = SegmentSearcher(SegmentIndex(out_fail, spark))

    oracle = OracleIndex(
        analyzer=StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS))
    oracle.add_all(pdf["content"])
    for t in _probe_terms(oracle):
        full = base.search(TermQuery(t), 120)
        want_pass = [(d.docid, np.float32(d.score)) for d in full
                     if d.docid % 3 == 0]
        want_fail = [(d.docid, np.float32(d.score)) for d in full
                     if d.docid % 3 != 0]
        got_pass = [(d.docid, np.float32(d.score))
                    for d in sp.search(TermQuery(t), 120)]
        got_fail = [(d.docid, np.float32(d.score))
                    for d in sf_.search(TermQuery(t), 120)]
        # stats stay the source's until compaction (reference: df/ttf
        # include masked docs until merge), so scores are UNCHANGED —
        # each side serves exactly its partition of the original list
        assert got_pass == want_pass
        assert got_fail == want_fail


def test_pk_split_source_untouched(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from lucene_solr_spark.index.segments import pk_split_index

    pdf = (corpus_pandas(60)
           .sort_values(["repo", "path", "commit"]).reset_index(drop=True))
    src = str(tmp_path_factory.mktemp("pk_src2"))
    build_segment_index(spark.createDataFrame(pdf), src,
                        stop_words=ENGLISH_STOP_WORDS, docs_per_segment=32)
    before = SegmentSearcher(SegmentIndex(src, spark))
    oracle = OracleIndex(
        analyzer=StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS))
    oracle.add_all(pdf["content"])
    t = _probe_terms(oracle)[-1]
    exp = [(d.docid, np.float32(d.score)) for d in before.search(TermQuery(t), 60)]

    out_pass = str(tmp_path_factory.mktemp("pk_pass2"))
    out_fail = str(tmp_path_factory.mktemp("pk_fail2"))
    pk_split_index(src, out_pass, out_fail, spark, F.col("lang") == "py")

    # the hardlinked split must not mutate the source (commit-point
    # inode rule); a fresh reader over src sees identical results
    after = SegmentSearcher(SegmentIndex(src, spark))
    got = [(d.docid, np.float32(d.score)) for d in after.search(TermQuery(t), 60)]
    assert got == exp

    # non-empty output guard
    import pytest as _pytest
    with _pytest.raises(ValueError):
        pk_split_index(src, out_pass, out_fail, spark, F.col("lang") == "py")


def test_split_after_compaction_keeps_tombstones(spark, tmp_path):
    """Compaction leaves docid holes and interleaves merged segments'
    docid ranges, so tombstones route to parts by their doc's segment:
    a doc deleted after a compaction stays deleted in its part."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.streaming import (IncrementalIndexer,
                                             compact_segments)

    pk = ["repo", "path", "commit"]
    pdf = corpus_pandas(96).sort_values(pk).reset_index(drop=True)
    root = str(tmp_path / "src")
    indexer = IncrementalIndexer(root, stop_words=ENGLISH_STOP_WORDS,
                                 docs_per_segment=24)
    indexer.process_batch(spark.createDataFrame(pdf.iloc[:48]), 0)
    indexer.process_batch(spark.createDataFrame(pdf.iloc[48:]), 1)
    append_deletes(root, [3, 10, 60])
    compact_segments(SegmentIndex(root, spark), min_fill=0.5)
    append_deletes(root, [95])

    def live_keys(idx):
        dels = set(idx.deleted_docids().tolist())
        return {tuple(r[c] for c in pk) for r in idx.docmap().collect()
                if r["docid"] not in dels}

    src = SegmentIndex(root, spark)
    gone = tuple(src.docmap().where(F.col("docid") == 95)
                 .select(*pk).first())
    parts = [str(tmp_path / f"p{i}") for i in range(2)]
    split_index(root, parts, spark)
    part_live = set()
    for p in parts:
        part_live |= live_keys(SegmentIndex(p, spark))
    assert gone not in part_live
    assert part_live == live_keys(src)
