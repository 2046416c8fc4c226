"""The two index formats hold the same inverted index.

The relational v1 build (``build_index``: ``postings/`` rows) and the
compressed v2 build (``build_segment_index``: encoded 128-blocks) invert
through one kernel (``builder.invert_tokens``) and keep their own
encodings around it. Over one corpus — stop words, a non-ASCII document
(the Python-analyzer path), an empty one and a stop-words-only one —
every v1 posting row (field, term, docid, tf, positions, norm) must
equal the v2 blocks as the searcher's own reader decodes them
(``_read_segment`` + ``_SegGroups``), for one field and for two."""

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.analysis import ENGLISH_STOP_WORDS
from lucene_solr_spark.corpus import corpus_pandas
from lucene_solr_spark.index import build_index
from lucene_solr_spark.index.segments import FIELD_SEP, build_segment_index
from lucene_solr_spark.search.wand import (
    _BLOCK_COLS,
    SegmentSearcher,
    _positions,
    _read_segment,
    _SegGroups,
)

N_DOCS = 120


def _corpus(spark, fields):
    pdf = corpus_pandas(N_DOCS, seed=11)
    pdf.loc[3, "content"] = "Ünïcödé naïve café: the façade of Straße"
    pdf.loc[4, "content"] = ""
    pdf.loc[5, "content"] = "the and of a"
    df = spark.createDataFrame(pdf)
    if "title" in fields:
        df = df.withColumn("title", F.concat_ws(
            " ", F.col("lang"), F.lit("file"), F.lit("of"),
            F.element_at(F.split(F.element_at(
                F.split(F.col("path"), "/"), -1), "\\."), 1)))
    return df


def _v2_rows(idx):
    s = SegmentSearcher(idx)
    out = []
    for files in s.seg_files.values():
        groups = _SegGroups(
            _read_segment(files, None, [*_BLOCK_COLS, "positions"]),
            s.caches)
        for qterm, e in groups.items():
            field, sep, term = qterm.rpartition(FIELD_SEP)
            for d, tf, nb, pos in zip(e[0].tolist(), e[2].tolist(),
                                      e[3].tolist(), _positions(e)):
                out.append((field if sep else "content", term, d, tf,
                            tuple(pos.tolist()), nb))
    return sorted(out)


@pytest.mark.parametrize("fields", [("content",), ("content", "title")])
def test_v1_postings_equal_v2_blocks(spark, tmp_path, fields):
    corpus = _corpus(spark, fields)
    v1 = build_index(corpus, str(tmp_path / "v1"),
                     stop_words=ENGLISH_STOP_WORDS, n_buckets=4,
                     fields=fields)
    v2 = build_segment_index(corpus, str(tmp_path / "v2"),
                             stop_words=ENGLISH_STOP_WORDS,
                             docs_per_segment=32, fields=fields)
    v1_rows = sorted(
        (r["field"], r["term"], r["docid"], r["tf"], tuple(r["positions"]),
         r["norm"]) for r in v1.postings().collect())
    assert v1_rows == _v2_rows(v2)
    assert {r[0] for r in v1_rows} == set(fields)
    assert any(not r[1].isascii() for r in v1_rows)
    assert not {r[1] for r in v1_rows} & ENGLISH_STOP_WORDS
    # the stopword "the" leaves a gap: "façade" stays at position 4
    doc = next(r[2] for r in v1_rows if r[1] == "naïve")
    assert [r[4] for r in v1_rows
            if r[:3] == ("content", "façade", doc)] == [(4,)]
