"""Write-once segments (Lucene SegmentInfos / IndexFileDeleter roles):
every index write adds segments under fresh ids from the manifest's
``next_segment`` and writes its dictionary under a fresh name; the live
set changes only in the manifest commit, which then deletes what
neither the new commit nor the one before it lists. So a searcher
opened before a write keeps its view through that write, a write
killed before its commit leaves the previous commit intact, and the
files of retired commits do not pile up."""

import glob
import json
import os
import shutil

import numpy as np
import pytest

from lucene_solr_spark.analysis import ENGLISH_STOP_WORDS
from lucene_solr_spark.corpus import corpus_pandas
from lucene_solr_spark.index import check_segment_index
from lucene_solr_spark.index.segments import (
    SegmentIndex,
    add_indexes,
    append_deletes,
    build_segment_index,
)
from lucene_solr_spark.search.queries import TermQuery
from lucene_solr_spark.search.wand import SegmentSearcher
from lucene_solr_spark.streaming import IncrementalIndexer, compact_segments
from lucene_solr_spark.streaming import incremental

PK = ["repo", "path", "commit"]
DPS = 24
Q = TermQuery("import")


@pytest.fixture(scope="module")
def pdf():
    return corpus_pandas(96).sort_values(PK).reset_index(drop=True)


def _streamed(spark, pdf, root):
    """Two flushes (48 and 42 docs, 24 docs per segment), docid 3
    tombstoned."""
    indexer = IncrementalIndexer(root, stop_words=ENGLISH_STOP_WORDS,
                                 docs_per_segment=DPS)
    indexer.process_batch(spark.createDataFrame(pdf.iloc[:48]), 0)
    indexer.process_batch(spark.createDataFrame(pdf.iloc[48:90]), 1)
    append_deletes(root, [3])
    return indexer


def _hits(rows):
    return [(d.docid, np.float32(d.score)) for d in rows]


def _uncached(searcher):
    """Drop the searcher's plan and serving caches, so its next query
    reads the dictionary and the segment files again."""
    searcher._batch_plan_cache.clear()
    if hasattr(searcher, "_local_cache"):
        del searcher._local_cache


def _views(searcher):
    return (_hits(searcher.search(Q, 10)),
            _hits(searcher.search_local(Q, 10)),
            _hits(searcher.search_many({"q": Q}, 10)["q"]))


def _vectors(searcher):
    # docid 0 lives in segment 0, which the compaction below replaces
    return searcher.term_vector(0), searcher.term_vector(60)


def _dict_dirs(root):
    return sorted(n for n in os.listdir(os.path.join(root, "dict"))
                  if os.path.isdir(os.path.join(root, "dict", n)))


def test_searchers_keep_their_view_through_compaction(spark, pdf, tmp_path):
    root = str(tmp_path / "idx")
    _streamed(spark, pdf, root)
    searchers = [SegmentSearcher(SegmentIndex(root, spark), cache=c)
                 for c in (False, True)]
    before = [_views(s) for s in searchers]
    assert before[0] == before[1] and before[0][0]
    assert all(v == before[0][0] for v in before[0])
    assert 3 not in [d for d, _ in before[0][0]]
    vectors = _vectors(searchers[0])
    assert all(vectors)

    compact_segments(SegmentIndex(root, spark), min_fill=1.0)

    for s, want in zip(searchers, before):
        _uncached(s)
        assert _views(s) == want
        assert _vectors(s) == vectors
    # a searcher opened now sees the compacted commit
    fresh = SegmentSearcher(SegmentIndex(root, spark))
    assert fresh.doc_count == 89
    assert 3 not in [d for d, _ in _hits(fresh.search(Q, 100))]


def test_searcher_keeps_its_view_through_add_indexes(spark, pdf, tmp_path):
    roots = [str(tmp_path / n) for n in ("dst", "src")]
    for root, part in zip(roots, (pdf.iloc[:48], pdf.iloc[48:])):
        build_segment_index(spark.createDataFrame(part), root,
                            stop_words=ENGLISH_STOP_WORDS,
                            docs_per_segment=DPS)
    searcher = SegmentSearcher(SegmentIndex(roots[0], spark), cache=False)
    want = _hits(searcher.search(Q, 10))
    assert want

    add_indexes(roots[0], roots[1], spark)

    _uncached(searcher)
    assert _hits(searcher.search(Q, 10)) == want
    assert _hits(searcher.search_local(Q, 10)) == want
    assert SegmentSearcher(SegmentIndex(roots[0], spark)).doc_count == 96


def test_compaction_killed_before_commit_keeps_previous_commit(
        spark, pdf, tmp_path, monkeypatch):
    root = str(tmp_path / "idx")
    _streamed(spark, pdf, root)
    idx = SegmentIndex(root, spark)
    want = _hits(SegmentSearcher(idx).search(Q, 10))
    manifest = idx.manifest()

    def crash(*_args, **_kwargs):
        raise RuntimeError("killed before the commit")

    with monkeypatch.context() as m:
        m.setattr(incremental, "_derive_tables", crash)
        with pytest.raises(RuntimeError):
            compact_segments(SegmentIndex(root, spark), min_fill=1.0)

    idx = SegmentIndex(root, spark)
    assert idx.manifest() == manifest
    st = check_segment_index(idx, decode=False)
    assert st.clean, st.failed()
    assert idx.deleted_docids().tolist() == [3]
    assert _hits(SegmentSearcher(idx).search(Q, 10)) == want

    # the re-run writes the same fresh ids and commits
    assert compact_segments(SegmentIndex(root, spark), min_fill=1.0) == 4
    idx = SegmentIndex(root, spark)
    assert idx.deleted_docids().size == 0
    assert idx.manifest()["doc_count"] == 89
    # the one expected failure: compaction leaves the docid hole at 3
    st = check_segment_index(idx, decode=False)
    assert st.failed() == {"docmap_docid_contiguous": 1}


def test_compaction_killed_after_derive_keeps_previous_commit(
        spark, pdf, tmp_path, monkeypatch):
    """A compaction killed after its derive step, before its commit:
    the docs surface, the collection stats and CheckIndex still read
    the previous commit, since nothing outside the commit moved."""
    root = str(tmp_path / "idx")
    _streamed(spark, pdf, root)
    idx = SegmentIndex(root, spark)
    manifest = idx.manifest()
    docs = sorted(map(tuple, idx.docs().collect()))
    assert len(docs) == 90

    def crash(*_args, **_kwargs):
        raise RuntimeError("killed before the commit")

    with monkeypatch.context() as m:
        m.setattr(incremental, "_commit_manifest", crash)
        with pytest.raises(RuntimeError):
            compact_segments(SegmentIndex(root, spark), min_fill=1.0)

    idx = SegmentIndex(root, spark)
    assert idx.manifest() == manifest
    assert sorted(map(tuple, idx.docs().collect())) == docs
    assert idx.stats() == {"doc_count": 90, "sum_ttf": manifest["sum_ttf"]}
    st = check_segment_index(idx, decode=False)
    assert st.clean, st.failed()


def test_searcher_docs_shows_its_own_commit(spark, pdf, tmp_path):
    """A searcher's ``docs`` are the summary rows of the segments it
    opened: after a flush it still lists its own commit's docs, and
    ``term_vector`` still finds each doc's segment through them."""
    root = str(tmp_path / "idx")
    indexer = _streamed(spark, pdf, root)
    searcher = SegmentSearcher(SegmentIndex(root, spark))
    vectors = _vectors(searcher)

    indexer.process_batch(spark.createDataFrame(pdf.iloc[90:]), 2)

    assert SegmentIndex(root, spark).docs().count() == 96
    docs = searcher.docs
    assert searcher.doc_count == docs.count() == 90
    assert ({r[0] for r in docs.select("segment").distinct().collect()}
            == set(searcher.seg_files))
    assert _vectors(searcher) == vectors


def test_commit_deletes_what_two_commits_do_not_list(spark, pdf, tmp_path):
    root = str(tmp_path / "idx")
    indexer = IncrementalIndexer(root, stop_words=ENGLISH_STOP_WORDS,
                                 docs_per_segment=DPS)
    indexer.process_batch(spark.createDataFrame(pdf.iloc[:48]), 0)
    (first_dict,) = _dict_dirs(root)
    indexer.process_batch(spark.createDataFrame(pdf.iloc[48:90]), 1)
    append_deletes(root, [3])
    live = SegmentIndex(root, spark).manifest()["segments"]
    assert live == [0, 1, 2, 3]

    compact_segments(SegmentIndex(root, spark), min_fill=1.0)
    m = SegmentIndex(root, spark).manifest()
    # segment 3 is underfull and segment 0 holds the tombstone: their
    # 41 live docs take fresh ids from the counter, never 0 or 3 again
    assert m["segments"] == [1, 2, 4, 5]
    assert m["next_segment"] == 6 and m["n_segments"] == 4
    replaced = [0, 3]
    # the replaced segments stay on disk through one more commit
    for s in replaced:
        assert os.path.isdir(os.path.join(root, "blocks", f"segment={s}"))

    planted = os.path.join(root, "blocks",
                           f"segment={m['next_segment'] + 5}")
    os.makedirs(planted)
    shutil.copy(glob.glob(os.path.join(root, "blocks", "segment=4",
                                       "*.parquet"))[0], planted)
    indexer.process_batch(spark.createDataFrame(pdf.iloc[90:]), 2)

    for s in replaced:
        for table in ("blocks", "docmap"):
            assert not os.path.exists(
                os.path.join(root, table, f"segment={s}")), (table, s)
    assert not os.path.exists(planted)
    assert first_dict not in _dict_dirs(root)
    assert len(_dict_dirs(root)) == 2  # this commit's and the one before
    idx = SegmentIndex(root, spark)
    assert idx.manifest()["segments"] == [1, 2, 4, 5, 6]
    st = check_segment_index(idx, decode=False)
    assert st.failed() == {"docmap_docid_contiguous": 1}


def test_older_manifest_reads_and_upgrades(spark, pdf, tmp_path):
    """A manifest written before segment ids and dictionary names were
    kept: the live set comes from the ``blocks/segment=*`` directories
    and the dictionary from the flat ``dict/``; the next commit writes
    both, and the one after it removes the flat dictionary files."""
    root = str(tmp_path / "idx")
    indexer = IncrementalIndexer(root, stop_words=ENGLISH_STOP_WORDS,
                                 docs_per_segment=DPS)
    indexer.process_batch(spark.createDataFrame(pdf.iloc[:48]), 0)
    want = _hits(SegmentSearcher(SegmentIndex(root, spark)).search(Q, 10))
    path = os.path.join(root, "manifest.json")
    with open(path) as f:
        m = json.load(f)
    name = m.pop("dict")
    for k in ("segments", "next_segment"):
        m.pop(k)
    with open(path, "w") as f:
        json.dump(m, f)
    d = os.path.join(root, "dict")
    for fn in os.listdir(os.path.join(d, name)):
        os.rename(os.path.join(d, name, fn), os.path.join(d, fn))
    os.rmdir(os.path.join(d, name))

    idx = SegmentIndex(root, spark)
    got = idx.manifest()
    assert got["segments"] == [0, 1] and got["next_segment"] == 2
    assert _hits(SegmentSearcher(idx).search(Q, 10)) == want
    assert check_segment_index(idx, decode=False).clean

    indexer.process_batch(spark.createDataFrame(pdf.iloc[48:72]), 1)
    indexer.process_batch(spark.createDataFrame(pdf.iloc[72:96]), 2)
    idx = SegmentIndex(root, spark)
    assert idx.manifest()["segments"] == [0, 1, 2, 3]
    assert not glob.glob(os.path.join(d, "*.parquet"))
    st = check_segment_index(idx, decode=False)
    assert st.clean, st.failed()
