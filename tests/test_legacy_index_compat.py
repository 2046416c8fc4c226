"""Indexes written before the block-max impact columns were dropped
stay readable.

Older builds stored two more binary columns on every ``blocks/`` row,
``imp_tfs`` and ``imp_norms`` (per-block competitive impacts), between
``positions`` and the doc-metadata columns. No reader selects them, so
such an index must search, check clean and fold through ``add_indexes``
exactly like a fresh one — including the mixed case, where one
``blocks/`` directory holds files of both schemas."""

import glob
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lucene_solr_spark.analysis import ENGLISH_STOP_WORDS, StandardAnalyzer
from lucene_solr_spark.corpus import corpus_pandas
from lucene_solr_spark.index import check_segment_index
from lucene_solr_spark.index.segments import (
    SegmentIndex,
    add_indexes,
    build_segment_index,
)
from lucene_solr_spark.oracle import OracleIndex
from lucene_solr_spark.search.queries import (
    BooleanQuery,
    PhraseQuery,
    TermQuery,
)
from lucene_solr_spark.search.wand import SegmentSearcher

N_DOCS = 160
SPLIT = 96
LEGACY_COLS = ("imp_tfs", "imp_norms")
SPARK_ROW_META = b"org.apache.spark.sql.parquet.row.metadata"
SPARK_TYPES = {"int32": "integer", "int64": "long", "binary": "binary",
               "string": "string"}


def _block_files(root):
    return sorted(glob.glob(os.path.join(root, "blocks", "segment=*",
                                         "*.parquet")))


def _legacy_copy(src, dst):
    """Copy an index and rewrite each block file in the older layout:
    the two impact columns inserted after ``positions`` — in the
    Parquet schema and in the Spark schema the older writer (Spark)
    kept in the footer — non-empty on block rows (kind=0) and empty on
    norm rows, as the older writer left them."""
    shutil.copytree(src, dst)
    for f in _block_files(dst):
        t = pq.read_table(f)
        block_rows = np.asarray(t["kind"]) == 0
        # a one-impact varbyte stream (header 0xFF, value 1)
        col = pa.array([b"\xff\x01" if b else b"" for b in block_rows],
                       pa.binary())
        at = t.schema.get_field_index("positions") + 1
        for i, name in enumerate(LEGACY_COLS):
            t = t.add_column(at + i, name, col)
        row = {"type": "struct", "fields": [
            {"name": fl.name, "type": SPARK_TYPES[str(fl.type)],
             "nullable": True, "metadata": {}} for fl in t.schema]}
        meta = dict(t.schema.metadata or {})
        meta[SPARK_ROW_META] = json.dumps(row).encode()
        pq.write_table(t.replace_schema_metadata(meta), f)
    return dst


def _schemas(root):
    return {tuple(pq.read_schema(f).names) for f in _block_files(root)}


def _hits(rows):
    return [(d.docid, np.float32(d.score)) for d in rows]


@pytest.fixture(scope="module")
def roots(spark, tmp_path_factory):
    pdf = (corpus_pandas(N_DOCS)
           .sort_values(["repo", "path", "commit"]).reset_index(drop=True))
    base = tmp_path_factory.mktemp("legacy")
    out = {}
    for name, part, dps in (("full", pdf, 48), ("lo", pdf.iloc[:SPLIT], 48),
                            ("hi", pdf.iloc[SPLIT:], 32)):
        out[name] = str(base / name)
        build_segment_index(spark.createDataFrame(part), out[name],
                            stop_words=ENGLISH_STOP_WORDS,
                            docs_per_segment=dps)
        out[f"{name}_legacy"] = _legacy_copy(out[name],
                                             str(base / f"{name}_legacy"))
    oracle = OracleIndex(
        analyzer=StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS))
    oracle.add_all(pdf["content"])
    return out, oracle


def _queries(oracle):
    by_df = sorted((t for _f, t in oracle.postings),
                   key=lambda t: (oracle.doc_freq(t), t))
    qs = {f"t{i}": TermQuery(t) for i, t in enumerate(
        [by_df[0], by_df[len(by_df) // 2], by_df[-1]])}
    qs["or"] = BooleanQuery.of(should=[TermQuery(by_df[-1]),
                                       TermQuery(by_df[-2])],
                               must_not=[TermQuery(by_df[0])])
    qs["and"] = BooleanQuery.of(must=[TermQuery(by_df[-1]),
                                      TermQuery(by_df[-2])])
    qs["phrase"] = PhraseQuery(("public", "class"))
    return qs


def _assert_same_results(spark, root, fresh_root, oracle):
    legacy = SegmentSearcher(SegmentIndex(root, spark), cache=True)
    fresh = SegmentSearcher(SegmentIndex(fresh_root, spark), cache=True)
    qs = _queries(oracle)
    batched = legacy.search_many(qs, 10)
    for name, q in qs.items():
        exp = _hits(oracle.search(q, 10))
        assert exp, name
        assert _hits(fresh.search(q, 10)) == exp, name
        assert _hits(legacy.search(q, 10)) == exp, name
        assert _hits(batched[name]) == exp, name
        assert _hits(legacy.search_local(q, 10)) == exp, name


def test_fresh_blocks_have_no_impact_columns(roots):
    # file columns + the directory-encoded ``segment``: 16 now, 18 before
    r, _oracle = roots
    (names,) = _schemas(r["full"])
    assert len(names) + 1 == 16 and not set(LEGACY_COLS) & set(names)
    (legacy,) = _schemas(r["full_legacy"])
    assert set(LEGACY_COLS) <= set(legacy) and len(legacy) + 1 == 18


def test_legacy_index_searches_like_fresh(spark, roots):
    r, oracle = roots
    _assert_same_results(spark, r["full_legacy"], r["full"], oracle)


def test_legacy_index_checks_clean(spark, roots):
    r, _oracle = roots
    st = check_segment_index(SegmentIndex(r["full_legacy"], spark),
                             decode=True)
    assert st.clean, st.failed()
    assert "decode_docids" in st.checks


@pytest.mark.parametrize("dst,src", [("lo", "hi_legacy"),
                                     ("lo_legacy", "hi")])
def test_mixed_schema_fold_matches_full_build(spark, roots, tmp_path,
                                              dst, src):
    """add_indexes across the two layouts: a legacy destination keeps
    its older files next to the fold's, a legacy source folds in the
    current 16-column layout (its blocks are read with the pinned
    schema); either way the folded index equals the monolithic build
    and checks clean."""
    r, oracle = roots
    root = str(tmp_path / "folded")
    shutil.copytree(r[dst], root)
    man = add_indexes(root, r[src], spark)
    assert man["doc_count"] == N_DOCS
    assert len(_schemas(root)) == (2 if dst.endswith("_legacy") else 1)
    _assert_same_results(spark, root, r["full"], oracle)
    st = check_segment_index(SegmentIndex(root, spark), decode=True)
    assert st.clean, st.failed()
