"""NRT incremental indexing: streamed micro-batches must converge to
the same searchable state as a one-shot batch build (Lucene NRT
reopen semantics), and tiered compaction must preserve results."""

import os

import numpy as np
import pytest

from lucene_solr_spark.analysis import ENGLISH_STOP_WORDS
from lucene_solr_spark.corpus import corpus_df
from lucene_solr_spark.index import check_segment_index
from lucene_solr_spark.index.segments import SegmentIndex, build_segment_index
from lucene_solr_spark.search.queries import BooleanQuery, TermQuery
from lucene_solr_spark.search.wand import SegmentSearcher
from lucene_solr_spark.streaming import IncrementalIndexer, compact_segments

N_DOCS = 180


@pytest.fixture(scope="module")
def streamed(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("stream_src"))
    root = str(tmp_path_factory.mktemp("stream_idx"))
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))

    full = corpus_df(spark, N_DOCS, partitions=3)
    schema = full.schema
    # three arrival waves (files land over time)
    parts = [full.where(F_expr) for F_expr in (
        "pmod(crc32(path), 3) = 0", "pmod(crc32(path), 3) = 1",
        "pmod(crc32(path), 3) = 2")]
    for i, p in enumerate(parts):
        p.coalesce(1).write.mode("append").parquet(src)
        # drain everything present so far as one micro-batch each wave
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1000").parquet(src)
        indexer = IncrementalIndexer(root, stop_words=ENGLISH_STOP_WORDS,
                                     docs_per_segment=48)
        q = indexer.start(stream, ckpt, trigger={"availableNow": True})
        q.awaitTermination(300)
    return SegmentIndex(root, spark)


def _topdocs_by_sha(spark, idx, q, k=10):
    """Top-k as a sorted multiset of (sha256, float32 score) — docids
    differ between arrival-ordered and PK-ordered builds, content+score
    must not."""
    s = SegmentSearcher(idx)
    rows = (s.search_df(q, k)
            .join(idx.docs().select("docid", "content_sha256"), "docid")
            .select("content_sha256", "score").collect())
    return sorted((r["content_sha256"], np.float32(r["score"])) for r in rows)


def test_streamed_equals_batch(spark, streamed, tmp_path_factory):
    batch_root = str(tmp_path_factory.mktemp("batch_idx"))
    # batch build over the SAME logical corpus
    corpus = corpus_df(spark, N_DOCS, partitions=3)
    batch_idx = build_segment_index(corpus, batch_root,
                                    stop_words=ENGLISH_STOP_WORDS,
                                    docs_per_segment=48)
    sm, bm = streamed.manifest(), batch_idx.manifest()
    assert sm["doc_count"] == bm["doc_count"] == N_DOCS
    assert sm["sum_ttf"] == bm["sum_ttf"]
    st = check_segment_index(streamed, decode=False)
    assert st.clean, st.failed()
    a = {(r["term"], r["df"], r["ttf"]) for r in streamed.dict().collect()}
    b = {(r["term"], r["df"], r["ttf"]) for r in batch_idx.dict().collect()}
    assert a == b
    # same ranked content (docids differ by arrival vs PK order, so
    # compare by content hash + float32 score)
    # full result set (k >= ndocs): membership at a top-k boundary is
    # docid-tiebreak-dependent and docids differ by arrival order, but
    # the complete (sha, score) multiset must be identical
    q = BooleanQuery.of(should=[TermQuery("int"), TermQuery("return")])
    assert (_topdocs_by_sha(spark, streamed, q, N_DOCS)
            == _topdocs_by_sha(spark, batch_idx, q, N_DOCS))


def test_exactly_once_on_restart(spark, streamed, tmp_path_factory):
    """Re-running the drained stream must not duplicate documents
    (checkpoint = the transaction log)."""
    before = streamed.manifest()["doc_count"]
    assert before == N_DOCS


def test_compaction_preserves_results(spark, streamed):
    q = BooleanQuery.of(should=[TermQuery("int"), TermQuery("public")])
    before = _topdocs_by_sha(spark, streamed, q, N_DOCS)
    n_before = len({r["segment"] for r in
                    streamed.blocks().select("segment").distinct().collect()})
    n_after = compact_segments(streamed)
    assert n_after <= n_before
    after = _topdocs_by_sha(spark, streamed, q, N_DOCS)
    assert before == after
    # doc set unchanged
    assert streamed.docs().count() == N_DOCS
    st = check_segment_index(streamed, decode=False)
    assert st.clean, st.failed()


def test_tiered_merge_plan_pure():
    """TieredMergePolicy planner (index/TieredMergePolicy.java
    findMerges shape): tier budget + skew-scored windows."""
    from lucene_solr_spark.streaming.incremental import tiered_merge_plan

    sizes = {i: 10 for i in range(20)} | {100: 1000, 101: 900}
    plan = tiered_merge_plan(sizes, segs_per_tier=10,
                             max_merged_docs=1000, floor_docs=10)
    assert plan and all(2 <= len(g) <= 10 for g in plan)
    assert all(s < 20 for g in plan for s in g)  # big segments stay
    # under budget -> no merges
    assert tiered_merge_plan({0: 1000, 1: 900}, 10, 1000, 10) == []
    # max_merged_docs caps group size
    capped = tiered_merge_plan({i: 10 for i in range(40)}, 10, 25, 1)
    assert capped and all(sum(10 for _ in g) <= 30 for g in capped)


def test_tiered_compaction_preserves_results(spark, streamed):
    q = BooleanQuery.of(should=[TermQuery("return"), TermQuery("class")])
    before = _topdocs_by_sha(spark, streamed, q, N_DOCS)
    compact_segments(streamed, policy="tiered", segs_per_tier=4)
    after = _topdocs_by_sha(spark, streamed, q, N_DOCS)
    assert before == after
    assert streamed.docs().count() == N_DOCS


def test_leftover_docs_and_stats_dirs_are_ignored(spark, tmp_path):
    """An index written when docs and collection stats were copied out
    of the segment files carries ``docs/`` (a streaming one under
    ``docs/batch=<id>/``) and ``stats/``; nothing reads them, so the
    next flush counts every doc once and CheckIndex stays clean."""
    root = str(tmp_path / "idx")
    corpus = corpus_df(spark, 60, partitions=2)
    indexer = IncrementalIndexer(root, stop_words=ENGLISH_STOP_WORDS,
                                 docs_per_segment=24)
    indexer.process_batch(corpus.where("pmod(crc32(path), 2) = 0"), 0)
    idx = SegmentIndex(root, spark)
    first = idx.stats()
    idx.docs().write.parquet(os.path.join(root, "docs", "batch=0"))
    spark.createDataFrame([first]).write.parquet(os.path.join(root, "stats"))
    indexer.process_batch(corpus.where("pmod(crc32(path), 2) = 1"), 1)
    idx = SegmentIndex(root, spark)
    assert 0 < first["doc_count"] < 60
    assert idx.manifest()["doc_count"] == idx.docs().count() == 60
    assert idx.docs().select("docid").distinct().count() == 60
    assert idx.stats()["doc_count"] == 60
    st = check_segment_index(idx, decode=False)
    assert st.clean, st.failed()


def test_cached_searcher_between_flushes_keeps_dict_exact(spark, tmp_path):
    """A searcher opened between flushes must not hand its dictionary
    to later writes: each flush merges its delta into
    ``dict/`` as read from the files, so a Spark-cached pre-flush
    dictionary would give every later flush wrong df/ttf."""
    root = str(tmp_path / "idx")
    corpus = corpus_df(spark, 90, partitions=3)
    indexer = IncrementalIndexer(root, stop_words=ENGLISH_STOP_WORDS,
                                 docs_per_segment=24)
    for b in range(3):
        indexer.process_batch(corpus.where(f"pmod(crc32(path), 3) = {b}"), b)
        if b == 0:
            SegmentSearcher(SegmentIndex(root, spark))
    idx = SegmentIndex(root, spark)
    st = check_segment_index(idx, decode=False)
    assert st.clean, st.failed()
    # a searcher opened after the writes sees every term on disk
    s = SegmentSearcher(idx)
    assert len(s._df_map) == idx.dict().count()
