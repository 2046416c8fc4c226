"""CheckIndex analogue: whole-index invariant validation.

Reference: ``lucene/core/src/java/org/apache/lucene/index/
CheckIndex.java`` — ``checkIndex`` walks every segment validating live
docs, field infos, norms, terms+postings (recorded ``docFreq`` /
``totalTermFreq`` vs actually-enumerated counts, docID order, position
order, CheckIndex.java:496-734 and the postings check around :1915),
stored fields and doc values. ``-exorcise`` is out of scope (we never
drop data; a dirty index is a build bug).

Spark-first shape: every invariant is ONE distributed aggregate — a
conditional-sum pass, a groupBy reconciliation join, or (for the
compressed codec) a ``mapInPandas`` decode pass over block rows — and
the driver collects only per-check violation COUNTS. Nothing here
materializes postings on the driver, so the checker runs at the same
scale as the index build itself.

Two entry points, one per index layout:

* :func:`check_index` — the v1 term-bucketed tables
  (``builder.py::build_index``): docs/dict/stats reconciliation,
  postings key uniqueness, position-array discipline, bucket routing,
  SmallFloat norm encoding, and (given the source corpus) the per-row
  content-sha256 invariant from BASELINE's input contract.
* :func:`check_segment_index` — the v2 compressed segment index
  (``segments.py::build_segment_index``): the manifest's segment list,
  docmap/summary/dict and manifest-count reconciliation,
  block-structure discipline
  (ordinals contiguous, non-last blocks exactly BLOCK_SIZE, docid
  ranges disjoint and ascending across a term's blocks), and a full
  decode pass re-deriving every block's metadata from its encoded
  buffers.
"""
from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..util.smallfloat import int_to_byte4
from . import codec
from .builder import IndexTables, term_bucket_expr
from .segments import SegmentIndex

_EMPTY_SHA = ("e3b0c44298fc1c149afbf4c8996fb9"
              "2427ae41e4649b934ca495991b7852b855")


@dataclass
class CheckStatus:
    """Per-check violation counts (0 = invariant holds), plus
    human-readable notes for context (CheckIndex.Status role)."""

    checks: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)

    @property
    def clean(self) -> bool:
        return all(v == 0 for v in self.checks.values())

    def failed(self) -> dict:
        return {k: v for k, v in self.checks.items() if v != 0}

    def __repr__(self) -> str:
        state = "CLEAN" if self.clean else f"DIRTY {self.failed()}"
        return f"CheckStatus({state}, {len(self.checks)} checks)"


def _bool(cond) -> int:
    return 0 if cond else 1


# ---------------------------------------------------------------------------
# v1: term-bucketed tables
# ---------------------------------------------------------------------------

def check_index(tables: IndexTables, corpus: DataFrame | None = None,
                ) -> CheckStatus:
    """Validate a v1 index. ``corpus`` (the source DataFrame with the
    input_hint schema) enables the per-row sha256 invariant check."""
    st = CheckStatus()
    docs = tables.docs()
    postings = tables.postings()
    dict_df = tables.dict()
    manifest = tables.manifest()

    # --- docs: docid space (CheckIndex liveDocs/maxDoc role) ------------
    d = docs.agg(
        F.count("*").alias("n"),
        F.countDistinct("docid").alias("nd"),
        F.min("docid").alias("lo"),
        F.max("docid").alias("hi"),
    ).collect()[0]
    n_docs = int(d["n"])
    st.checks["docs_docid_unique"] = n_docs - int(d["nd"])
    # contiguity over DISTINCT ids: [0, nd) exactly (a duplicate is
    # flagged above and must not mask the hole it opens)
    st.checks["docs_docid_contiguous"] = _bool(
        n_docs == 0 or (int(d["lo"]) == 0
                        and int(d["hi"]) == int(d["nd"]) - 1))
    st.notes["maxDoc"] = n_docs

    # --- norms: norm byte == SmallFloat.intToByte4(dl) ------------------
    # (BM25Similarity.java:116-126). Distinct (dl, norm) pairs are
    # bounded by the number of distinct doc lengths — tiny vs corpus.
    pairs = docs.select("dl", "norm").distinct().collect()
    st.checks["docs_norm_encoding"] = sum(
        1 for r in pairs if int(r["norm"]) != int_to_byte4(int(r["dl"])))
    fd = tables.field_docs()
    if fd is not None:
        fpairs = fd.select("dl", "norm").distinct().collect()
        st.checks["field_docs_norm_encoding"] = sum(
            1 for r in fpairs if int(r["norm"]) != int_to_byte4(int(r["dl"])))

    # --- postings row discipline (one conditional-sum pass) -------------
    # CheckIndex postings check: positions in order, freq consistent.
    p = postings.agg(
        F.sum(F.when(F.col("tf") < 1, 1).otherwise(0)).alias("bad_tf"),
        F.sum(F.when(
            F.col("positions").isNotNull()
            & (F.size("positions") != F.col("tf")), 1).otherwise(0)
        ).alias("bad_len"),
        F.sum(F.when(
            F.col("positions").isNotNull()
            & (F.col("positions") != F.array_sort("positions")), 1)
            .otherwise(0)).alias("bad_order"),
        F.sum(F.when(
            F.col("positions").isNotNull()
            & F.exists("positions", lambda x: x < 0), 1).otherwise(0)
        ).alias("bad_neg"),
        F.sum(F.when(
            F.col("bucket") != term_bucket_expr(
                F.col("term"), int(manifest["n_buckets"])), 1).otherwise(0)
        ).alias("bad_bucket"),
    ).collect()[0]
    st.checks["postings_tf_positive"] = int(p["bad_tf"] or 0)
    st.checks["postings_positions_len"] = int(p["bad_len"] or 0)
    st.checks["postings_positions_sorted"] = int(p["bad_order"] or 0)
    st.checks["postings_positions_nonneg"] = int(p["bad_neg"] or 0)
    st.checks["postings_bucket_routing"] = int(p["bad_bucket"] or 0)

    # --- postings key uniqueness + orphan docids -------------------------
    st.checks["postings_key_unique"] = (
        postings.groupBy("field", "term", "docid").count()
        .where(F.col("count") > 1).count())
    st.checks["postings_docids_exist"] = (
        postings.select("docid").distinct()
        .join(docs.select("docid"), "docid", "left_anti").count())

    # --- dict reconciliation: recorded df/ttf vs actual ------------------
    # (CheckIndex: "term stats vs actual" — docFreq from enumeration
    # must equal the recorded docFreq, same for totalTermFreq)
    actual = postings.groupBy("field", "term").agg(
        F.count("*").alias("df2"), F.sum("tf").alias("ttf2"))
    st.checks["dict_df_ttf"] = (
        dict_df.join(actual, ["field", "term"], "full_outer")
        .where(F.col("df").isNull() | F.col("df2").isNull()
               | (F.col("df") != F.col("df2"))
               | (F.col("ttf") != F.col("ttf2"))).count())

    # --- collection stats reconciliation ---------------------------------
    stats = tables.stats()
    bad_stats = 0
    if fd is not None:
        actual_fs = {
            r["field"]: (int(r["dc"]), int(r["st"] or 0))
            for r in fd.groupBy("field").agg(
                F.count("*").alias("dc"), F.sum("dl").alias("st")).collect()}
        for f_, s in stats.items():
            got = actual_fs.get(f_, (0, 0))
            if (int(s["doc_count"]), int(s["sum_ttf"])) != got:
                bad_stats += 1
    else:
        s = stats.get("content", next(iter(stats.values())))
        tot = docs.agg(F.sum("dl").alias("s")).collect()[0]
        if int(s["sum_ttf"]) != int(tot["s"] or 0):
            bad_stats += 1
        # docs with no sha-field summary get a synthesized dl=0 row;
        # doc_count may legitimately sit below n_docs by that many
        n_empty = docs.where((F.col("dl") == 0)
                             & (F.col("content_sha256") == _EMPTY_SHA)
                             ).count()
        if not (n_docs - n_empty <= int(s["doc_count"]) <= n_docs):
            bad_stats += 1
    st.checks["stats_consistent"] = bad_stats

    # --- per-row sha256 invariant vs the source corpus -------------------
    if corpus is not None:
        src = corpus.select(
            "repo", "path", "commit",
            F.sha2(F.coalesce(F.col("content"), F.lit("")), 256)
            .alias("sha_src"))
        st.checks["sha256_invariant"] = (
            src.join(docs.select("repo", "path", "commit",
                                 F.col("content_sha256").alias("sha_idx")),
                     ["repo", "path", "commit"], "full_outer")
            .where(F.col("sha_src").isNull() | F.col("sha_idx").isNull()
                   | (F.col("sha_src") != F.col("sha_idx"))).count())
    return st


# ---------------------------------------------------------------------------
# v2: compressed segment index
# ---------------------------------------------------------------------------

_DECODE_CHECKS = ("bad_docids", "bad_tfs", "bad_norms", "bad_positions")
_DECODE_REPORT = ", ".join(f"{c} long" for c in _DECODE_CHECKS)


def _decode_check(batches):
    """mapInPandas pass: re-derive every block's metadata from its
    encoded buffers (the CheckIndex 'checks every byte' discipline,
    CheckIndex.java:507)."""
    bad = dict.fromkeys(_DECODE_CHECKS, 0)
    for pdf in batches:
        for row in pdf.itertuples(index=False):
            n = int(row.n)
            # docids: count, strict ascent, first/last metadata
            try:
                docids = codec.decode_docids(int(row.first_docid),
                                             row.docids, n)
                if (len(docids) != n or docids[0] != row.first_docid
                        or docids[-1] != row.last_docid
                        or (n > 1 and (np.diff(docids) <= 0).any())):
                    bad["bad_docids"] += 1
            except Exception:
                bad["bad_docids"] += 1
                continue
            # tfs: count, >= 1, sum == sum_tf
            try:
                tfs = codec.decode_seq(row.tfs, n).astype(np.int64)
                if (len(tfs) != n or (tfs < 1).any()
                        or int(tfs.sum()) != int(row.sum_tf)):
                    bad["bad_tfs"] += 1
            except Exception:
                bad["bad_tfs"] += 1
                continue
            # norms: raw uint8 stream, one byte per posting
            norms = np.frombuffer(row.norms, dtype=np.uint8)
            if len(norms) != n:
                bad["bad_norms"] += 1
            # positions: per-doc ascent + non-negative, total == sum_tf
            try:
                poss = codec.decode_positions(row.positions, tfs)
                ok = len(poss) == n and all(
                    (p >= 0).all() and (np.diff(p) > 0).all()
                    for p in poss)
                if not ok:
                    bad["bad_positions"] += 1
            except Exception:
                bad["bad_positions"] += 1
    yield pd.DataFrame([bad])


def check_segment_index(idx: SegmentIndex, decode: bool = True,
                        ) -> CheckStatus:
    """Validate a v2 compressed segment index. ``decode=False`` skips
    the full block-decode pass (metadata/reconciliation checks only)."""
    st = CheckStatus()
    manifest = idx.manifest()
    B = int(manifest.get("block_size", codec.BLOCK_SIZE))
    docmap = idx.docmap()
    docs = idx.docs()
    blocks = idx.blocks()
    dict_df = idx.dict()

    # --- docmap: docid space ---------------------------------------------
    d = docmap.agg(
        F.count("*").alias("n"), F.countDistinct("docid").alias("nd"),
        F.min("docid").alias("lo"), F.max("docid").alias("hi"),
    ).collect()[0]
    n_docs = int(d["n"])
    st.checks["docmap_docid_unique"] = n_docs - int(d["nd"])
    # no hole below maxDoc: stricter than the docid contract (unique,
    # below next_docid; segments.py), so it fails, by design, on every
    # index whose compaction dropped a deleted doc
    st.checks["docmap_docid_contiguous"] = _bool(
        n_docs == 0 or (int(d["lo"]) == 0
                        and int(d["hi"]) == int(d["nd"]) - 1))
    st.notes["maxDoc"] = n_docs
    # the docid contract: next_docid above every docid (a compaction
    # that drops the highest ones leaves it higher)
    next_docid = int(d["hi"]) + 1 if n_docs else 0
    if "next_docid" in manifest:
        st.checks["manifest_next_docid"] = _bool(
            int(manifest["next_docid"]) >= next_docid)

    # --- the commit's segment list: each listed id has a block file and
    # summary rows, and is below the id counter
    listed = set(manifest["segments"])
    summarized = {r[0] for r in
                  idx.summaries().select("segment").distinct().collect()}
    st.checks["manifest_segments"] = (
        len(listed - set(idx.segment_files())) + len(listed ^ summarized)
        + sum(s >= int(manifest["next_segment"]) for s in listed))

    # --- docs (summaries) vs docmap ---------------------------------------
    st.checks["docs_count"] = abs(docs.count() - n_docs)
    st.checks["docs_keys_match_docmap"] = (
        docs.select("docid", "repo", "path", "commit")
        .join(docmap.select("docid", "repo", "path", "commit")
              .withColumnRenamed("repo", "r2")
              .withColumnRenamed("path", "p2")
              .withColumnRenamed("commit", "c2"), "docid", "full_outer")
        .where(F.col("repo").isNull() | F.col("r2").isNull()
               | (F.col("repo") != F.col("r2"))
               | (F.col("path") != F.col("p2"))
               | (F.col("commit") != F.col("c2"))).count())

    # --- norms on summaries ------------------------------------------------
    pairs = docs.select("dl", "norm").distinct().collect()
    st.checks["docs_norm_encoding"] = sum(
        1 for r in pairs if int(r["norm"]) != int_to_byte4(int(r["dl"])))

    # --- dict reconciliation: df = Σ n, ttf = Σ sum_tf over block rows -----
    actual = blocks.groupBy("term").agg(
        F.sum("n").alias("df2"), F.sum("sum_tf").alias("ttf2"))
    st.checks["dict_df_ttf"] = (
        dict_df.join(actual, "term", "full_outer")
        .where(F.col("df").isNull() | F.col("df2").isNull()
               | (F.col("df") != F.col("df2"))
               | (F.col("ttf") != F.col("ttf2"))).count())

    # --- collection stats: the manifest's, which SegmentSearcher scores with
    sum_dl = int(docs.agg(F.sum("dl")).collect()[0][0] or 0)
    st.checks["manifest_doc_count"] = _bool(
        int(manifest["doc_count"]) == n_docs)
    st.checks["manifest_sum_ttf"] = _bool(int(manifest["sum_ttf"]) == sum_dl)

    # --- per-field collection stats (multi-field codec) ---------------------
    # manifest field_stats must equal the kind=2 per-(doc, field) rows'
    # aggregates (doc_count = rows, sum_ttf = Σ dl) — the FieldInfos
    # reconciliation for the per-field delegation
    fstats = manifest.get("field_stats")
    if fstats:
        k2 = (idx.block_rows()
              .where(F.col("kind") == 2)
              .groupBy("term")
              .agg(F.count("*").alias("dc"), F.sum("n").alias("st")))
        got = {r["term"]: (int(r["dc"]), int(r["st"] or 0))
               for r in k2.collect()}
        bad = 0
        for f, v in fstats.items():
            if f == "content":
                continue  # content stats are the flat doc_count/sum_ttf
            if got.get(f) != (int(v["doc_count"]), int(v["sum_ttf"])):
                bad += 1
        st.checks["field_stats"] = bad

    # --- block structure per (segment, term) ---------------------------------
    # ordinals 0..max contiguous; every non-last block holds exactly
    # BLOCK_SIZE postings (Lucene50PostingsFormat BLOCK_SIZE=128);
    # docid ranges ascend across consecutive blocks (skip-list order)
    per_term = blocks.groupBy("segment", "term").agg(
        F.count("*").alias("nb"), F.max("block_ord").alias("mx"),
        F.countDistinct("block_ord").alias("ndo"))
    st.checks["block_ordinals_contiguous"] = per_term.where(
        (F.col("mx") != F.col("nb") - 1) | (F.col("ndo") != F.col("nb"))
    ).count()
    st.checks["block_full_size"] = (
        blocks.join(per_term.select("segment", "term", "mx"),
                    ["segment", "term"])
        .where((F.col("block_ord") < F.col("mx")) & (F.col("n") != B))
        .count())
    nxt = blocks.select("segment", "term",
                        (F.col("block_ord") - 1).alias("block_ord"),
                        F.col("first_docid").alias("next_first"))
    st.checks["block_docid_ranges_ascend"] = (
        blocks.select("segment", "term", "block_ord", "last_docid",
                      "first_docid")
        .join(nxt, ["segment", "term", "block_ord"])
        .where((F.col("next_first") <= F.col("last_docid"))
               | (F.col("last_docid") < F.col("first_docid"))).count())

    # --- tombstones within the docid space -----------------------------------
    deletes = idx.deletes()
    if deletes is not None:
        st.checks["deletes_in_range"] = deletes.where(
            (F.col("docid") < 0) | (F.col("docid") >= next_docid)).count()

    # --- full decode pass ------------------------------------------------------
    if decode:
        rep = (blocks.select("n", "first_docid", "last_docid", "sum_tf",
                             "docids", "tfs", "norms", "positions")
               .mapInPandas(_decode_check, schema=_DECODE_REPORT)
               .agg(*[F.sum(c).alias(c) for c in _DECODE_CHECKS])
               .collect()[0])
        for c in _DECODE_CHECKS:
            st.checks[f"decode_{c[4:]}"] = int(rep[c] or 0)
    return st
