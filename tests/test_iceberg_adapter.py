"""Iceberg table-layout adapter (index/iceberg.py): the accessor-seam
contract in-container (no Iceberg runtime ships here), and the full
publish→search e2e wherever an Iceberg catalog IS configured."""

import numpy as np
import pytest

from lucene_solr_spark.index.iceberg import (
    INDEX_TABLES,
    IcebergSegmentIndex,
    iceberg_available,
    publish_index,
)
from lucene_solr_spark.index.segments import SegmentIndex
from lucene_solr_spark.search.wand import SegmentSearcher


def test_not_available_in_container(spark):
    assert iceberg_available(spark) is False


#: the SegmentIndex accessors IcebergSegmentIndex must also expose
NEEDED = ["blocks", "_block_rows", "summaries", "segment_files",
          "dict_files", "docmap", "docs", "dict", "stats", "deletes",
          "deleted_docids", "manifest"]


def test_accessor_surface_matches_segment_index():
    """IcebergSegmentIndex must expose every accessor SegmentSearcher
    touches on SegmentIndex — the drop-in contract."""
    for name in NEEDED:
        assert callable(getattr(IcebergSegmentIndex, name, None)), name
        assert callable(getattr(SegmentIndex, name, None)), name
    assert set(INDEX_TABLES) == {"blocks", "docmap", "dict"}


class _SurfaceOnly:
    """A directory index seen only through the ``NEEDED`` accessors
    (plus ``spark``/``root``, which IcebergSegmentIndex also has), its
    segment and dictionary files given as ``file:`` URIs the way
    Iceberg's ``files`` tables list them."""

    def __init__(self, idx):
        self._idx = idx
        self.spark, self.root = idx.spark, idx.root

    def __getattr__(self, name):
        if name not in NEEDED:
            raise AttributeError(name)
        return getattr(self._idx, name)

    def segment_files(self):
        return {s: ["file:" + f for f in fs]
                for s, fs in self._idx.segment_files().items()}

    def dict_files(self):
        return ["file:" + f for f in self._idx.dict_files()]


def test_searcher_runs_on_the_needed_surface(spark, tmp_path_factory):
    """SegmentSearcher over an index that offers only the drop-in
    accessors: a cross-field span (search and search_local, which read
    per-doc norm rows), a term batch and the dictionary reads (term
    stats, a prefix rewrite) equal the plain searcher's results."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.corpus import corpus_df
    from lucene_solr_spark.index.segments import build_segment_index
    from lucene_solr_spark.search.queries import PrefixQuery, TermQuery
    from lucene_solr_spark.search.spans import (
        FieldMaskingSpanQuery,
        SpanNearQuery,
        SpanTermQuery,
    )

    root = str(tmp_path_factory.mktemp("surface"))
    corpus = corpus_df(spark, 80, partitions=2).withColumn(
        "title", F.concat_ws(" ", F.col("lang"), F.lit("file")))
    idx = build_segment_index(corpus, root, docs_per_segment=32,
                              fields=("content", "title"))
    plain = SegmentSearcher(idx)
    narrow = SegmentSearcher(_SurfaceOnly(idx))
    q = SpanNearQuery(
        (SpanTermQuery("file", field="title"),
         FieldMaskingSpanQuery(SpanTermQuery("return", field="content"),
                               "title")),
        slop=30, in_order=True, field="title")

    def rows(hits):
        return [(d.docid, np.float32(d.score)) for d in hits]

    want = rows(plain.search(q, 10))
    assert want, "cross-field span should match the corpus"
    assert rows(narrow.search(q, 10)) == want
    assert rows(narrow.search_local(q, 10)) == want
    batch = {f"t{i}": TermQuery(t) for i, t in
             enumerate(["return", "self", "import", "def", "data"])}
    want_b = plain.search_many(batch, 10)
    got_b = narrow.search_many(batch, 10)
    assert any(want_b.values())
    for qid in batch:
        assert rows(got_b[qid]) == rows(want_b[qid]), qid
    assert narrow._df_map == plain._df_map and plain._df_map
    pairs = [("content", "return"), ("title", "file"), ("title", "nope")]
    assert narrow.term_stats(pairs) == plain.term_stats(pairs)
    pq = PrefixQuery("re")
    assert narrow.rewrite(pq) == plain.rewrite(pq)


import os


@pytest.mark.skipif(
    os.environ.get("LSS_ICEBERG") != "1",
    reason="needs an Iceberg-configured Spark session "
           "(spark.sql.catalog.iceberg=... + iceberg-spark jar); "
           "set LSS_ICEBERG=1 there")
def test_publish_and_search_e2e(spark, tmp_path_factory):
    from lucene_solr_spark.corpus import corpus_df
    from lucene_solr_spark.index.segments import build_segment_index
    from lucene_solr_spark.search.queries import TermQuery

    root = str(tmp_path_factory.mktemp("iceidx"))
    idx = build_segment_index(corpus_df(spark, 200, partitions=4), root,
                              docs_per_segment=64)
    publish_index(idx, "lss_test")
    ice = IcebergSegmentIndex("lss_test", spark)
    a = SegmentSearcher(idx)
    b = SegmentSearcher(ice)
    qa = a.search(TermQuery("return"), 10)
    qb = b.search(TermQuery("return"), 10)
    assert [(d.docid, np.float32(d.score)) for d in qa] == [
        (d.docid, np.float32(d.score)) for d in qb]
