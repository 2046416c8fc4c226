"""CheckIndex analogue (index/check.py): both index layouts validate
CLEAN after a build, and injected corruptions are caught by exactly
the invariant that guards them (CheckIndex.java:496-734 discipline:
recorded stats must equal enumerated reality)."""

import glob
import json
import os
import shutil

import pandas as pd
import pytest

from lucene_solr_spark.analysis import ENGLISH_STOP_WORDS
from lucene_solr_spark.corpus import corpus_df
from lucene_solr_spark.index import (
    IndexTables,
    SegmentIndex,
    build_index,
    build_segment_index,
    check_index,
    check_segment_index,
)
from lucene_solr_spark.index.segments import append_deletes

N_DOCS = 150


@pytest.fixture(scope="module")
def corpus(spark):
    return corpus_df(spark, N_DOCS, partitions=4)


@pytest.fixture(scope="module")
def v1_root(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("chk_v1"))
    build_index(corpus, root, stop_words=ENGLISH_STOP_WORDS, n_buckets=8)
    return root


@pytest.fixture(scope="module")
def v2_root(spark, corpus, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("chk_v2"))
    build_segment_index(corpus, root, stop_words=ENGLISH_STOP_WORDS,
                        docs_per_segment=48)
    return root


def _copy(root, tmp_path, name):
    dst = str(tmp_path / name)
    shutil.copytree(root, dst)
    return dst


def _mutate_parquet(table_dir, fn):
    """Read a parquet table dir into pandas, apply fn, rewrite."""
    files = sorted(glob.glob(os.path.join(table_dir, "**", "*.parquet"),
                             recursive=True))
    pdf = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    # partition columns are directory-encoded; recover them
    for f in files:
        os.remove(f)
    out = fn(pdf)
    out.to_parquet(os.path.join(table_dir, "part-corrupt.parquet"),
                   index=False)


# ---- clean builds ----------------------------------------------------------

def test_v1_clean(spark, v1_root, corpus):
    st = check_index(IndexTables(v1_root, spark), corpus=corpus)
    assert st.clean, st.failed()
    assert st.notes["maxDoc"] == N_DOCS
    # every invariant actually ran
    for k in ("docs_docid_unique", "docs_docid_contiguous",
              "docs_norm_encoding", "postings_tf_positive",
              "postings_positions_len", "postings_positions_sorted",
              "postings_positions_nonneg", "postings_bucket_routing",
              "postings_key_unique", "postings_docids_exist",
              "dict_df_ttf", "stats_consistent", "sha256_invariant"):
        assert k in st.checks, k


def test_v2_clean(spark, v2_root):
    st = check_segment_index(SegmentIndex(v2_root, spark))
    assert st.clean, st.failed()
    assert st.notes["maxDoc"] == N_DOCS
    for k in ("docmap_docid_unique", "docmap_docid_contiguous",
              "docs_count", "docs_keys_match_docmap",
              "docs_norm_encoding", "dict_df_ttf",
              "manifest_doc_count", "manifest_sum_ttf",
              "block_ordinals_contiguous",
              "block_full_size", "block_docid_ranges_ascend",
              "decode_docids", "decode_tfs", "decode_norms",
              "decode_positions"):
        assert k in st.checks, k


def test_v2_clean_with_deletes(spark, v2_root, tmp_path):
    root = _copy(v2_root, tmp_path, "v2_del")
    append_deletes(root, [0, 5, 7])
    st = check_segment_index(SegmentIndex(root, spark), decode=False)
    assert st.checks["deletes_in_range"] == 0
    append_deletes(root, [N_DOCS + 10])
    st = check_segment_index(SegmentIndex(root, spark), decode=False)
    assert st.checks["deletes_in_range"] == 1


# ---- v1 corruption detection ------------------------------------------------

def test_v1_detects_dict_drift(spark, v1_root, tmp_path):
    root = _copy(v1_root, tmp_path, "v1_dict")

    def bump_df(pdf):
        pdf.loc[pdf.index[0], "df"] = pdf.loc[pdf.index[0], "df"] + 1
        return pdf

    _mutate_parquet(os.path.join(root, "dict"), bump_df)
    st = check_index(IndexTables(root, spark))
    assert st.checks["dict_df_ttf"] == 1
    assert not st.clean


def test_v1_detects_bad_norm(spark, v1_root, tmp_path):
    root = _copy(v1_root, tmp_path, "v1_norm")

    def bust_norm(pdf):
        pdf.loc[pdf.index[0], "norm"] = 255
        return pdf

    _mutate_parquet(os.path.join(root, "docs"), bust_norm)
    st = check_index(IndexTables(root, spark))
    assert st.checks["docs_norm_encoding"] >= 1


def test_v1_detects_duplicate_docid(spark, v1_root, tmp_path):
    root = _copy(v1_root, tmp_path, "v1_dup")

    def dup_row(pdf):
        pdf.loc[pdf["docid"] == 1, "docid"] = 0  # interior dup → hole at 1
        return pdf

    _mutate_parquet(os.path.join(root, "docs"), dup_row)
    st = check_index(IndexTables(root, spark))
    assert st.checks["docs_docid_unique"] >= 1
    assert st.checks["docs_docid_contiguous"] == 1  # a hole opened up


def test_v1_detects_sha_mismatch(spark, v1_root, corpus, tmp_path):
    root = _copy(v1_root, tmp_path, "v1_sha")

    def bust_sha(pdf):
        pdf.loc[pdf.index[0], "content_sha256"] = "0" * 64
        return pdf

    _mutate_parquet(os.path.join(root, "docs"), bust_sha)
    st = check_index(IndexTables(root, spark), corpus=corpus)
    assert st.checks["sha256_invariant"] == 1


# ---- v2 corruption detection -------------------------------------------------

def _mutate_blocks(root, fn):
    """Mutate the kind=0 block rows of ONE segment partition dir."""
    seg_dirs = sorted(glob.glob(os.path.join(root, "blocks", "segment=*")))
    d = seg_dirs[0]
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    pdf = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    for f in files:
        os.remove(f)
    out = fn(pdf)
    out.to_parquet(os.path.join(d, "part-corrupt.parquet"), index=False)


def test_v2_detects_block_metadata_drift(spark, v2_root, tmp_path):
    root = _copy(v2_root, tmp_path, "v2_meta")

    def bump_sum_tf(pdf):
        m = pdf["kind"] == 0
        i = pdf.index[m][0]
        pdf.loc[i, "sum_tf"] = pdf.loc[i, "sum_tf"] + 1
        return pdf

    _mutate_blocks(root, bump_sum_tf)
    st = check_segment_index(SegmentIndex(root, spark))
    # the decode pass catches Σtf != sum_tf AND the dict reconciliation
    # catches the recorded-ttf drift
    assert st.checks["decode_tfs"] == 1
    assert st.checks["dict_df_ttf"] == 1


def test_v2_detects_corrupt_buffer(spark, v2_root, tmp_path):
    root = _copy(v2_root, tmp_path, "v2_buf")

    def truncate_docids(pdf):
        m = pdf["kind"] == 0
        i = pdf.index[m][0]
        buf = pdf.loc[i, "docids"]
        pdf.loc[i, "docids"] = buf[: max(1, len(buf) - 1)]
        return pdf

    _mutate_blocks(root, truncate_docids)
    st = check_segment_index(SegmentIndex(root, spark))
    assert st.checks["decode_docids"] >= 1


def test_v2_detects_manifest_stats_drift(spark, v2_root, tmp_path):
    """SegmentSearcher scores with the manifest's doc_count/sum_ttf,
    not stats/: a drifted manifest copy is flagged on its own."""
    root = _copy(v2_root, tmp_path, "v2_manifest")
    path = os.path.join(root, "manifest.json")
    with open(path) as f:
        man = json.load(f)
    man["sum_ttf"] += 1
    with open(path, "w") as f:
        json.dump(man, f)
    st = check_segment_index(SegmentIndex(root, spark), decode=False)
    assert st.failed() == {"manifest_sum_ttf": 1}


def test_v2_detects_missing_listed_segment(spark, v2_root, tmp_path):
    """The manifest lists a segment whose block directory is gone: no
    block file and no summary rows for a listed id."""
    root = _copy(v2_root, tmp_path, "v2_segments")
    assert SegmentIndex(root, spark).manifest()["segments"] == [0, 1, 2, 3]
    shutil.rmtree(os.path.join(root, "blocks", "segment=1"))
    st = check_segment_index(SegmentIndex(root, spark), decode=False)
    assert st.checks["manifest_segments"] == 2
    assert not st.clean
