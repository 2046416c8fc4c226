"""Multi-block posting lists through the compiled-tree leaf.

The other v2 suites build 24-48 docs per segment, so every term fits
one 128-posting block. Here segments hold 256 docs: hot terms span
several blocks, some blocks are full (n == 128, the FOR-packed shape),
and the leaf's one-pass decode (``_SegGroups``: segmented-cumsum
docids across block boundaries) must still equal the per-block codec
decode and give oracle-identical rankings on every entry point."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.analysis import ENGLISH_STOP_WORDS, StandardAnalyzer
from lucene_solr_spark.corpus import corpus_df, corpus_pandas
from lucene_solr_spark.index import codec
from lucene_solr_spark.index.segments import build_segment_index
from lucene_solr_spark.oracle import OracleIndex
from lucene_solr_spark.search import bm25
from lucene_solr_spark.search.queries import (
    BooleanQuery,
    PhraseQuery,
    TermQuery,
)
from lucene_solr_spark.search.wand import (
    SegmentSearcher,
    _positions,
    _SegGroups,
)

N_DOCS = 600
DOCS_PER_SEGMENT = 256


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("segidx_multiblock"))
    idx = build_segment_index(
        corpus_df(spark, N_DOCS, partitions=4), root,
        stop_words=ENGLISH_STOP_WORDS, docs_per_segment=DOCS_PER_SEGMENT)
    searcher = SegmentSearcher(idx)
    pdf = corpus_pandas(N_DOCS).sort_values(
        ["repo", "path", "commit"]).reset_index(drop=True)
    oracle = OracleIndex(
        analyzer=StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS))
    oracle.add_all(pdf["content"])
    blocks = (idx.blocks().groupBy("term")
              .agg(F.max("block_ord").alias("max_ord"),
                   F.max("n").alias("max_n")).toPandas())
    hot = blocks.sort_values(["max_ord", "term"], ascending=[False, True])
    return idx, searcher, oracle, blocks, hot["term"].tolist()[:6]


def _hits(rows):
    return [(d.docid, np.float32(d.score)) for d in rows]


def _adjacent_pair(oracle, terms):
    """The pair (a, b) of ``terms`` occurring as the bigram "a b" in
    the most docs."""
    best, best_n = None, 0
    for a in terms:
        pa = {d: set(ps) for d, _tf, ps in oracle.postings[("content", a)]}
        for b in terms:
            if a == b:
                continue
            n = sum(1 for d, _tf, ps in oracle.postings[("content", b)]
                    if d in pa and any(p - 1 in pa[d] for p in ps))
            if n > best_n:
                best, best_n = (a, b), n
    return best


def test_index_has_multi_block_terms(built):
    _idx, _searcher, _oracle, blocks, hot = built
    assert int(blocks["max_ord"].max()) >= 1, "no term spans two blocks"
    assert int(blocks["max_n"].max()) == codec.BLOCK_SIZE == 128
    assert int(blocks.set_index("term").loc[hot[-1], "max_ord"]) >= 1


def test_hot_terms_identical_to_oracle(built):
    _idx, searcher, oracle, _blocks, hot = built
    queries = {t: TermQuery(t) for t in hot}
    a, b = _adjacent_pair(oracle, hot)
    queries["phrase"] = PhraseQuery((a, b))
    queries["and"] = BooleanQuery.of(must=[TermQuery(hot[0]),
                                           TermQuery(hot[1])])
    queries["or"] = BooleanQuery.of(should=[TermQuery(t) for t in hot[:4]])
    assert oracle.search(queries["phrase"], 10), "phrase has no match"
    batched = searcher.search_many(queries, 10)
    for name, q in queries.items():
        exp = _hits(oracle.search(q, 10))
        assert len(exp) == 10, name
        assert _hits(searcher.search(q, 10)) == exp, name
        assert _hits(batched[name]) == exp, name
        assert _hits(searcher.search_local(q, 10)) == exp, name


def test_seg_groups_equal_per_block_decode(built):
    idx, searcher, _oracle, _blocks, hot = built
    cols = ["segment", "term", "block_ord", "n", "first_docid",
            "last_docid", "docids", "tfs", "norms", "positions"]
    pdf = idx.blocks().where(F.col("term").isin(hot)).select(*cols) \
        .toPandas()
    multi = 0
    for _seg, sub in pdf.groupby("segment"):
        groups = _SegGroups(sub, searcher.caches)
        assert set(groups) == set(sub["term"])
        for t, rows in sub.groupby("term"):
            rows = rows.sort_values("block_ord")
            multi += len(rows) > 1
            ds, ts, ps = [], [], []
            for r in rows.itertuples(index=False):
                n = int(r.n)
                ds.append(codec.decode_docids(int(r.first_docid),
                                              r.docids, n))
                tfs = codec.decode_seq(r.tfs, n).astype(np.int64)
                ts.append(tfs)
                ps.extend(codec.decode_positions(r.positions, tfs))
            norms = np.frombuffer(b"".join(rows["norms"]), dtype=np.uint8)
            e = groups[t]
            np.testing.assert_array_equal(e[0], np.concatenate(ds))
            np.testing.assert_array_equal(e[2], np.concatenate(ts))
            np.testing.assert_array_equal(e[3], norms)
            np.testing.assert_array_equal(
                e[1], bm25.score_terms(e[2], norms, np.float32(1.0),
                                       searcher.caches))
            got_ps = _positions(e)
            assert len(got_ps) == len(ps)
            for g, w in zip(got_ps, ps):
                np.testing.assert_array_equal(g, w)
    assert multi, "no multi-block (term, segment) was compared"
