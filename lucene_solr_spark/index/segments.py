"""Segment-based compressed index build (codec v2) — resumable, with
per-chunk checkpoints, lineage and metrics tables.

Layout model = Lucene's segment model (index/SegmentInfos.java): a
*segment* owns a contiguous docID range and holds ALL terms' postings
for its docs, sorted by (term, docid) — the shape per-segment BM25
top-k needs (each Spark task scores one leaf, SURVEY §3.1). This complements
the v1 term-bucketed `postings/` layout (builder.py), which serves
dictionary-side access (prefix/fuzzy expansion, analytics joins);
Lucene similarly keeps postings + docvalues as different orderings of
the same data.

Build plan (shuffle inventory — content moves exactly twice, never
through Parquet twice):
  stage 0  deterministic docid = rank of PK via ONE range-exchange
           (assign_docids); result (corpus + docid + segment) pinned
           MEMORY_AND_DISK for the whole build. Only a SLIM docmap
           (keys + docid + segment — the lineage record) is written;
           on resume the same with_ids is recomputed, identical
           because ranks are input-determined, not layout-determined.
  stage 1  blocks/   per chunk of segments: filter the pinned frame,
           ONE exchange keyed by segment (only that chunk's content
           moves), applyInPandas → tokenize, aggregate,
           delta+varbyte/FOR encode 128-doc posting blocks
           (codec.py). Each chunk commit appends a checkpoint row; a
           killed build resumes by skipping completed chunks (partial
           segment dirs of an uncheckpointed chunk are removed first).
  stage 2  docs/ dict/ stats/ + the manifest's collection stats —
           _derive_tables, the one derive step every index write
           (build, streaming flush, compaction, split, addIndexes)
           ends in: docs/ is a select over the kind=1 summary rows
           (they carry the doc metadata, so no join), dict =
           blocks.groupBy(term).agg (map-side partial agg; hot terms
           reduce to one row per segment before the exchange, so no
           salting needed here), stats/ and per-field stats = one
           aggregate over the kind=1/kind=2 rows.

At 10^12-file scale: docs_per_segment is the DWPT RAM-budget knob
(IndexWriterConfig.java:93 — 16 MB buffer ≙ segment sized to executor
memory); chunks bound the blast radius of a failure (the
TieredMergePolicy "tier" analogue); docmap gives exactly-once docids
across retries because ranks are input-determined, not layout-
determined.

Reference: write path index/DefaultIndexingChain.java:385-441, flush
FreqProxTermsWriter.java, codec Lucene50PostingsWriter.java:223-241,
merge SegmentMerger.java:96-177, commit SegmentInfos/IndexCommit.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..analysis import ENGLISH_STOP_WORDS
from ..analysis.jvm import (
    PY_CONTENT_COL,
    analyzed_deferred,
    finalize_analyzed,
)
from . import codec
from .builder import PK, assign_docids

BLOCKS_SCHEMA = (
    "segment int, kind int, term string, block_ord int, n int, "
    "first_docid long, last_docid long, sum_tf long, "
    "docids binary, tfs binary, norms binary, positions binary, "
    # doc metadata, populated on kind=1 summary rows only (null on
    # block rows — RLE'd away by parquet): lets the docs table derive
    # straight from summaries with NO join back to the docmap
    "repo string, path string, commit string, lang string"
)

CHECKPOINT_SCHEMA = (
    "stage string, chunk int, segment_lo int, segment_hi int, "
    "docid_lo long, docid_hi long, n_docs long, n_blocks long, "
    "wall_sec double, docs_per_sec double"
)


#: separator between field name and term in qualified postings keys.
#: Lucene's term dictionary is keyed by (field, text) (index/Term.java);
#: the v2 codec renders that as one string column — the default field
#: "content" stores the bare term (bit-compatible with single-field
#: indexes), any other field stores "<field>\x1f<term>" (\x1f cannot
#: appear in a token: the tokenizer's word grammar excludes controls).
FIELD_SEP = "\x1f"


def _invert_segment_field(toks_col, docids_doc: np.ndarray,
                          stop_arr, seg: int, prefix: str):
    """Vectorized inversion of ONE field's token arrays over one
    segment: numpy StopFilter (position = raw token index → gaps
    preserved), factorize, ONE stable sort → posting runs → encoded
    128-blocks. Returns ``(dls, norms_doc, blocks_pdf_or_None)``; block
    terms carry ``prefix`` ("" for the content field)."""
    from ..util.smallfloat import int_to_byte4_np

    ndocs = len(docids_doc)
    raw_lens = np.fromiter((len(t) for t in toks_col), dtype=np.int64,
                           count=ndocs)
    total_raw = int(raw_lens.sum())

    if total_raw:
        flat_raw = np.concatenate(
            [np.asarray(t, dtype=object) for t in toks_col])
        doc_of_tok = np.repeat(np.arange(ndocs, dtype=np.int32), raw_lens)
        starts = np.zeros(ndocs, dtype=np.int64)
        np.cumsum(raw_lens[:-1], out=starts[1:])
        pos_raw = (np.arange(total_raw, dtype=np.int64)
                   - starts[doc_of_tok]).astype(np.int32)
        codes_all, uniq = pd.factorize(flat_raw, sort=True)
        codes_all = np.asarray(codes_all).astype(np.int32, copy=False)
        uniq = np.asarray(uniq, dtype=object)
        if stop_arr is not None and len(uniq):
            keep = ~np.isin(uniq, stop_arr)[codes_all]
            codes = codes_all[keep]
            tok_didx = doc_of_tok[keep]
            flat_pos = pos_raw[keep]
        else:
            codes, tok_didx, flat_pos = codes_all, doc_of_tok, pos_raw
        dls = np.bincount(tok_didx, minlength=ndocs).astype(np.int64)
    else:
        dls = np.zeros(ndocs, dtype=np.int64)
    norms_doc = int_to_byte4_np(dls).astype(np.int16)

    total = int(dls.sum())
    if total == 0:
        return dls, norms_doc, None

    # --- invert: ONE stable sort by term code ----------------------
    # tokens are already in (doc, position) order → stable sort by
    # term code yields the (term, docid, position) stream
    order = np.argsort(codes, kind="stable")
    codes_s = codes[order]
    didx_s = tok_didx[order]
    pos_s = flat_pos[order]
    doc_s = docids_doc[didx_s]

    # posting boundaries: (term, doc) runs in token space
    new_post = np.empty(total, dtype=bool)
    new_post[0] = True
    new_post[1:] = (codes_s[1:] != codes_s[:-1]) | (didx_s[1:] != didx_s[:-1])
    post_starts = np.flatnonzero(new_post)
    nposts = len(post_starts)
    post_ends = np.append(post_starts[1:], total)
    tf = post_ends - post_starts
    post_code = codes_s[post_starts]
    post_doc = doc_s[post_starts]
    post_norm = norms_doc[didx_s[post_starts]]

    # position deltas (first of each posting absolute)
    pdelta = pos_s.copy()
    pdelta[1:] = pos_s[1:] - pos_s[:-1]
    pdelta[post_starts] = pos_s[post_starts]

    # --- block structure (posting space) ---------------------------
    B = codec.BLOCK_SIZE
    new_term = np.empty(nposts, dtype=bool)
    new_term[0] = True
    new_term[1:] = post_code[1:] != post_code[:-1]
    term_id = np.cumsum(new_term) - 1
    term_first = np.flatnonzero(new_term)
    rank_in_term = np.arange(nposts) - term_first[term_id]
    block_ord = rank_in_term // B
    new_block = new_term.copy()
    new_block[1:] |= block_ord[1:] != block_ord[:-1]
    blk_starts = np.flatnonzero(new_block)
    blk_ends = np.append(blk_starts[1:], nposts)
    blk_n = blk_ends - blk_starts
    blk_sumtf = np.add.reduceat(tf, blk_starts)

    # docid deltas (first of each block = 0, relative to first_docid)
    ddelta = post_doc.copy()
    ddelta[1:] = post_doc[1:] - post_doc[:-1]
    ddelta[blk_starts] = 0

    # --- grouped varbyte streams ----------------------------------
    docid_bufs = codec.grouped_varbyte(ddelta.astype(np.uint64), blk_starts)
    tf_bufs = codec.grouped_varbyte(tf.astype(np.uint64), blk_starts)
    # token-space boundaries of each block (postings are contiguous)
    tok_blk_starts = post_starts[blk_starts]
    pos_bufs = codec.grouped_varbyte(pdelta.astype(np.uint64), tok_blk_starts)
    norm_stream = post_norm.astype(np.uint8).tobytes()
    mv = memoryview(norm_stream)
    norm_bufs = [bytes(mv[s:e]) for s, e in zip(blk_starts, blk_ends)]

    # FOR/all-equal re-encode for full 128-blocks (Lucene parity;
    # a small minority of blocks — hot terms only)
    full = np.flatnonzero(blk_n == B)
    for bi in full:
        s, e = blk_starts[bi], blk_ends[bi]
        docid_bufs[bi] = codec.encode_seq(ddelta[s:e].astype(np.uint64))
        tf_bufs[bi] = codec.encode_seq(tf[s:e].astype(np.uint64))

    terms_out = uniq[post_code[blk_starts]]
    if prefix:
        terms_out = np.array([prefix + t for t in terms_out], dtype=object)
    blocks = pd.DataFrame({
        "segment": seg, "kind": 0,
        "term": terms_out,
        "block_ord": block_ord[blk_starts],
        "n": blk_n,
        "first_docid": post_doc[blk_starts],
        "last_docid": post_doc[blk_ends - 1],
        "sum_tf": blk_sumtf,
        "docids": docid_bufs, "tfs": tf_bufs, "norms": norm_bufs,
        "positions": pos_bufs,
        "repo": None, "path": None, "commit": None, "lang": None,
    })
    return dls, norms_doc, blocks


def _segment_builder(docs_per_segment: int,
                     stop_words: frozenset[str] = frozenset(),
                     extra_fields: tuple[str, ...] = ()):
    """applyInPandas fn: all (pre-tokenized) docs of ONE segment →
    encoded block rows (kind=0) + one summary row per doc (kind=1:
    term=sha256, n=dl, norms=[normbyte]).

    ``extra_fields`` adds per-field postings beyond "content"
    (Lucene70Codec.java:144-166 per-field delegation): each extra
    field's token arrays ride in ``tokens__<field>`` columns, its
    postings land under qualified terms ``<field>\\x1f<term>`` with
    that field's own norms, and one kind=2 row per (doc with the
    field) carries the per-field dl/norm (term = field name) — the
    per-field norms/docvalues + collection-stats record.

    Input rows carry ``tokens``/``content_sha256`` from
    :func:`..analysis.jvm.analyzed_columns` — tokenization happened
    JVM-side before the segment exchange, so this worker is pure
    vectorized numpy: the StopFilter is one isin mask over the
    factorized vocabulary (position = raw token index, so stopword
    gaps are preserved and BM25 dl counts survivors only —
    FilteringTokenFilter.java:47-57), then ONE stable sort produces
    the (term, docid, position) stream; posting/block boundaries, tfs,
    docid/position deltas and the varbyte streams are all whole-segment
    numpy passes (grouped_varbyte slices one encoded stream into
    per-block buffers). Per-block Python touches only full
    128-blocks (FOR bit-packing, a small minority).
    """
    stop_arr = np.asarray(sorted(stop_words), dtype=object) if stop_words else None

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("docid")
        seg = int(pdf["segment"].iloc[0])
        docids_doc = pdf["docid"].to_numpy(dtype=np.int64)
        ndocs = len(pdf)
        shas = pdf["content_sha256"].tolist()

        dls, norms_doc, blocks = _invert_segment_field(
            pdf["tokens"].to_numpy(), docids_doc, stop_arr, seg, "")

        summary = pd.DataFrame({
            "segment": seg, "kind": 1, "term": shas, "block_ord": 0,
            "n": dls, "first_docid": docids_doc, "last_docid": docids_doc,
            "sum_tf": dls, "docids": b"", "tfs": b"",
            "norms": [bytes([b]) for b in norms_doc],
            "positions": b"",
            "repo": pdf["repo"].to_numpy(),
            "path": pdf["path"].to_numpy(),
            "commit": pdf["commit"].to_numpy(),
            "lang": pdf["lang"].to_numpy(),
        })
        frames = [summary]
        if blocks is not None:
            frames.append(blocks)

        for f in extra_fields:
            nullcol = f"null_{f}"
            null_mask = (pdf[nullcol].to_numpy(dtype=bool)
                         if nullcol in pdf.columns
                         else np.zeros(ndocs, dtype=bool))
            fdls, fnorms, fblocks = _invert_segment_field(
                pdf[f"tokens__{f}"].to_numpy(), docids_doc, stop_arr,
                seg, f + FIELD_SEP)
            present = ~null_mask
            # kind=2: per-(doc, field) dl/norm — field absent (NULL) docs
            # get no row, mirroring v1's dl=-1 exclusion
            # (builder.py _invert_field; FieldInfos semantics)
            frames.append(pd.DataFrame({
                "segment": seg, "kind": 2, "term": f, "block_ord": 0,
                "n": fdls[present],
                "first_docid": docids_doc[present],
                "last_docid": docids_doc[present],
                "sum_tf": fdls[present], "docids": b"", "tfs": b"",
                "norms": [bytes([b]) for b in fnorms[present]],
                "positions": b"",
                "repo": None, "path": None, "commit": None, "lang": None,
            }))
            if fblocks is not None:
                frames.append(fblocks)

        if len(frames) == 1:
            return summary
        return pd.concat(frames, ignore_index=True)

    return build


@dataclass
class SegmentIndex:
    root: str
    spark: SparkSession

    @property
    def blocks_path(self):
        return os.path.join(self.root, "blocks")

    @property
    def docmap_path(self):
        return os.path.join(self.root, "docmap")

    def block_rows(self) -> DataFrame:
        """Every ``blocks/`` row, all kinds, read with the pinned
        BLOCKS_SCHEMA: older files' extra columns are never read, and
        ``segment`` comes from the directories, whatever file Spark
        would sample for an inferred schema."""
        return self.spark.read.schema(BLOCKS_SCHEMA).parquet(self.blocks_path)

    def blocks(self) -> DataFrame:
        return self.block_rows().where(F.col("kind") == 0)

    def summaries(self) -> DataFrame:
        return self.block_rows().where(F.col("kind") == 1)

    def segment_files(self) -> dict[int, list[str]]:
        """{segment: [parquet paths]} — ``blocks/segment=N/*.parquet``."""
        out: dict[int, list[str]] = {}
        for f in sorted(glob.glob(os.path.join(
                os.path.abspath(self.blocks_path), "segment=*", "*.parquet"))):
            seg = os.path.basename(os.path.dirname(f))[len("segment="):]
            out.setdefault(int(seg), []).append(f)
        return out

    def docmap(self) -> DataFrame:
        return self.spark.read.parquet(self.docmap_path)

    def docs(self) -> DataFrame:
        df = self.spark.read.parquet(os.path.join(self.root, "docs"))
        # streaming indexes partition docs by ingest batch (idempotent
        # delta appends, streaming/incremental.py); batch builds don't
        return df.drop("batch")

    def dict(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, "dict"))

    def stats(self) -> dict:
        return self.spark.read.parquet(os.path.join(self.root, "stats")).collect()[0].asDict()

    def checkpoints(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, "checkpoints"))

    @property
    def deletes_path(self):
        return os.path.join(self.root, "deletes")

    def deletes(self) -> DataFrame | None:
        """Tombstoned docids (the .liv live-docs bitset role,
        Lucene50LiveDocsFormat.java:38-48) — None when nothing is
        deleted. Applied as an anti-join/mask at query time and
        physically dropped at compaction."""
        if not os.path.exists(self.deletes_path):
            return None
        return self.spark.read.parquet(self.deletes_path).select("docid").distinct()

    def deleted_docids(self) -> "np.ndarray":
        d = self.deletes()
        if d is None:
            return np.zeros(0, dtype=np.int64)
        return np.array(sorted(r["docid"] for r in d.collect()), dtype=np.int64)

    def manifest(self) -> dict:
        with open(os.path.join(self.root, "manifest.json")) as f:
            return json.load(f)


def _swap(stage: str, final: str) -> None:
    """Replace directory ``final`` by ``stage`` — a name swap, so files
    a commit point hardlinks are never rewritten in place."""
    if os.path.exists(final):
        shutil.rmtree(final)
    os.rename(stage, final)


def _move_in(stage: str, table_root: str, token=None) -> None:
    """Move a staged Spark output into ``table_root`` so that a re-run
    replaces what an earlier attempt left: partition dirs (``k=v``)
    replace their namesakes; with a ``token``, flat part files are
    renamed under a fixed-width tag of it (fixed width: no tag is a
    prefix of another's) after every file carrying that tag is
    removed."""
    os.makedirs(table_root, exist_ok=True)
    tag = None
    if token is not None:
        tag = "t" + hashlib.sha1(str(token).encode()).hexdigest()[:16] + "-"
        for name in os.listdir(table_root):
            if name.startswith(tag):
                os.remove(os.path.join(table_root, name))
    for name in os.listdir(stage):
        src = os.path.join(stage, name)
        if "=" in name:
            _swap(src, os.path.join(table_root, name))
        elif tag and name.endswith(".parquet"):
            os.rename(src, os.path.join(table_root, tag + name))
    shutil.rmtree(stage)


def _commit_manifest(root: str, manifest: dict) -> None:
    """Write ``manifest.json`` through a temp name (the commit record;
    replacing the name keeps a hardlinked commit point's copy)."""
    tmp = os.path.join(root, "manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, os.path.join(root, "manifest.json"))


def _derive_tables(idx: SegmentIndex, manifest: dict, token=None,
                  segments=None) -> dict:
    """The one derive step: ``docs/``, ``dict/``, ``stats/`` and the
    manifest's ``doc_count``/``sum_ttf``/``field_stats`` follow from
    ``blocks/`` — Lucene recomputing SegmentInfos/FieldInfos on flush,
    merge and addIndexes. Every index write ends here.

    Full form (``token=None``): recompute all of them from every block
    row — the build, each split part, the compaction refresh.

    Delta form: apply only ``segments``' rows on top of the committed
    counts in ``manifest``, keyed by ``token`` (a streaming batch id,
    an addIndexes fold token). The token's docs files replace whatever
    an earlier attempt under it left, and ``dict/`` records the token
    it last merged, so a re-run after a crash before the manifest
    commit never merges a token twice. A ``docs/`` still in the older
    ``batch=<id>`` partition layout gets the full form (rewritten
    flat).

    Collection stats are per field: content from the kind=1 rows,
    every extra field from its kind=2 per-(doc, field) rows —
    doc_count = docs with the field, sum_ttf = Σ dl
    (BM25Similarity.java:79). ``field_stats`` is kept when the
    manifest lists ``fields``. Returns ``manifest`` updated; the
    caller commits it (:func:`_commit_manifest`)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = idx.root
    docs_root = os.path.join(root, "docs")
    dict_root = os.path.join(root, "dict")
    delta = token is not None and not (
        os.path.isdir(docs_root)
        and any(n.startswith("batch=") for n in os.listdir(docs_root)))
    rows = idx.block_rows()
    if delta:
        rows = rows.where(F.col("segment").isin([int(s) for s in segments]))
    kind = F.col("kind")

    # docs: a select over the summary rows, which carry the doc metadata
    stage = os.path.join(root, "docs.tmp")
    rows.where(kind == 1).select(
        F.col("first_docid").alias("docid"), *PK, "lang", "segment",
        F.col("n").alias("dl"),
        F.conv(F.hex(F.col("norms")), 16, 10).cast("int").alias("norm"),
        F.col("term").alias("content_sha256"),
    ).write.mode("overwrite").parquet(stage)
    if delta:
        _move_in(stage, docs_root, token)
    else:
        _swap(stage, docs_root)

    # dict: df = Σ n, ttf = Σ sum_tf per term over the block rows
    marker = os.path.join(dict_root, "_delta_token")
    merged = None
    if delta and os.path.exists(marker):
        with open(marker) as f:
            merged = f.read()
    if merged != str(token):
        post = rows.where(kind == 0).select("term", "n", "sum_tf")
        if delta and os.path.isdir(dict_root):
            # the committed dict joins as pre-aggregated rows
            post = post.unionByName(idx.dict().select(
                "term", F.col("df").alias("n"), F.col("ttf").alias("sum_tf")))
        stage = os.path.join(root, "dict.tmp")
        post.groupBy("term").agg(
            F.sum("n").alias("df"), F.sum("sum_tf").alias("ttf")
        ).write.mode("overwrite").parquet(stage)
        if delta:
            with open(os.path.join(stage, "_delta_token"), "w") as f:
                f.write(str(token))
        _swap(stage, dict_root)

    # collection stats: one aggregate over the kind=1/kind=2 rows
    prev = manifest if delta else {}
    acc = {f: [int(v["doc_count"]), int(v["sum_ttf"])]
           for f, v in (prev.get("field_stats") or {}).items()}
    acc["content"] = [int(prev.get("doc_count", 0)),
                      int(prev.get("sum_ttf", 0))]
    field = F.when(kind == 1, F.lit("content")).otherwise(F.col("term"))
    for r in (rows.where(kind > 0).groupBy(field.alias("field"))
              .agg(F.count("*").alias("dc"), F.sum("n").alias("st"))
              .collect()):
        a = acc.setdefault(r["field"], [0, 0])
        a[0] += int(r["dc"])
        a[1] += int(r["st"] or 0)
    doc_count, sum_ttf = acc["content"]
    stage = os.path.join(root, "stats.tmp")
    if os.path.exists(stage):
        shutil.rmtree(stage)
    os.makedirs(stage)
    pq.write_table(
        pa.table({"doc_count": pa.array([doc_count], pa.int64()),
                  "sum_ttf": pa.array([sum_ttf], pa.int64())}),
        os.path.join(stage, "part-0.parquet"))
    _swap(stage, os.path.join(root, "stats"))
    manifest.update(doc_count=doc_count, sum_ttf=sum_ttf)
    if manifest.get("fields"):
        manifest["field_stats"] = {
            f: {"doc_count": dc, "sum_ttf": st} for f, (dc, st) in acc.items()}
    return manifest


#: table dirs a commit point pins (analyzed_spill/checkpoints are
#: build-scoped lineage, not part of the readable commit)
_SNAPSHOT_DIRS = ("blocks", "docmap", "docs", "dict", "stats", "deletes",
                  "field_postings", "field_dict", "field_docs",
                  "field_stats")


def create_snapshot(idx: SegmentIndex, note: str = "") -> int:
    """Commit point (SnapshotDeletionPolicy.snapshot() +
    IndexCommit role, index/SnapshotDeletionPolicy.java:54-90): pin the
    index's current files under ``commits/gen-N`` as HARDLINKS — parquet
    files are write-once, and every mutation in this engine (batch
    ingest, tombstones, compaction) replaces *names* (rename/rmtree),
    never file contents, so a pinned inode keeps serving the old commit
    while the live tree moves on — exactly Lucene's "snapshotted files
    are not deleted by merges" contract. The snapshot dir is itself a
    valid index root: time travel = open it (DirectoryReader.open(
    IndexCommit) role). In production this seam is Iceberg
    snapshot-id time travel; the hardlink forest is the plain-parquet
    rendering. Cost: one directory entry per file, zero data copy."""
    gens = [s["gen"] for s in list_snapshots(idx.root)]
    gen = (max(gens) + 1) if gens else 1
    dst_root = os.path.join(idx.root, "commits", f"gen-{gen}")
    tmp_root = dst_root + ".tmp"
    if os.path.exists(tmp_root):
        shutil.rmtree(tmp_root)
    os.makedirs(tmp_root)
    for sub in _SNAPSHOT_DIRS:
        src = os.path.join(idx.root, sub)
        if not os.path.exists(src):
            continue
        for dirpath, _dirs, files in os.walk(src):
            rel = os.path.relpath(dirpath, idx.root)
            os.makedirs(os.path.join(tmp_root, rel), exist_ok=True)
            for fn in files:
                os.link(os.path.join(dirpath, fn),
                        os.path.join(tmp_root, rel, fn))
    shutil.copy2(os.path.join(idx.root, "manifest.json"),
                 os.path.join(tmp_root, "manifest.json"))
    with open(os.path.join(tmp_root, "snapshot.json"), "w") as f:
        json.dump({"gen": gen, "ts": time.time(), "note": note}, f)
    os.rename(tmp_root, dst_root)  # atomic commit of the commit point
    return gen


def list_snapshots(root: str) -> list[dict]:
    """Retained commit points, oldest first (IndexDeletionPolicy's
    onCommit list role)."""
    d = os.path.join(root, "commits")
    if not os.path.exists(d):
        return []
    out = []
    for name in os.listdir(d):
        meta = os.path.join(d, name, "snapshot.json")
        if name.startswith("gen-") and os.path.exists(meta):
            with open(meta) as f:
                out.append(json.load(f))
    return sorted(out, key=lambda s: s["gen"])


def open_snapshot(root: str, spark: SparkSession, gen: int) -> SegmentIndex:
    """DirectoryReader.open(IndexCommit): a reader over the index as of
    commit point ``gen`` — unaffected by later ingest, deletes, or
    compaction."""
    p = os.path.join(root, "commits", f"gen-{gen}")
    if not os.path.exists(os.path.join(p, "snapshot.json")):
        raise FileNotFoundError(f"no commit point gen-{gen} under {root}")
    return SegmentIndex(p, spark)


def release_snapshot(root: str, gen: int) -> None:
    """SnapshotDeletionPolicy.release(): drop the pin; inodes whose
    last name this was are freed by the filesystem."""
    p = os.path.join(root, "commits", f"gen-{gen}")
    if os.path.exists(p):
        shutil.rmtree(p)


def keep_last_n_snapshots(root: str, n: int) -> list[int]:
    """Deletion policy (KeepOnlyLastCommitDeletionPolicy generalized):
    retain the newest ``n`` commit points, release the rest. Returns
    the released gens."""
    snaps = list_snapshots(root)
    drop = snaps[:-n] if n > 0 else snaps
    for s in drop:
        release_snapshot(root, s["gen"])
    return [s["gen"] for s in drop]


def add_indexes(dst_root: str, src_root: str,
                spark: SparkSession) -> dict:
    """IndexWriter.addIndexes(Directory...) (index/IndexWriter.java:
    2848-2931): fold a separately-built index into ``dst`` by COPYING
    its segments with renumbered docids/segment ids — no posting
    re-encode, exactly the reference's "efficient which transfers the
    segments as-is" contract (:2861). The codec makes the shift free:
    block payloads are docid DELTAS relative to ``first_docid``
    (_segment_builder), so adding the destination's doc_count touches
    only the first_docid/last_docid header columns.

    This is the 100-TB build topology: shard the corpus, build every
    shard's index in parallel (separate jobs, zero coordination), then
    addIndexes them — each fold is one columnar rewrite of the shard's
    blocks plus the delta form of :func:`_derive_tables`, never a
    global re-sort.

    Both indexes must share the analyzer config and field list (same
    contract as Lucene); collection stats, per-field ones included,
    add up. Tombstones carry over shifted. Returns the new manifest.
    Crash mid-fold: rerun with the same src. Every output of the fold
    is keyed by a token of (src, the destination's committed
    doc_count) and replaced as a whole, and the dict records the token
    it merged, so the re-run leaves exactly what one fold leaves (the
    production seam is one Iceberg append commit).

    Reopen contract: searchers opened BEFORE the fold keep serving the
    pre-fold view through their persisted scans (Lucene's stale-reader
    semantics); open a NEW searcher after `spark.catalog.clearCache()`
    (or a fresh session) to see the folded index — Spark's plan cache
    keys on the parquet path, so an old persist would otherwise be
    reused."""
    dst = SegmentIndex(dst_root, spark)
    src_idx = SegmentIndex(src_root, spark)
    man_d, man_s = dst.manifest(), src_idx.manifest()
    for k in ("stop_words", "max_token_length", "block_size", "fields"):
        if man_d.get(k) != man_s.get(k):
            raise ValueError(f"addIndexes config mismatch on {k!r}: "
                             f"{man_d.get(k)} vs {man_s.get(k)}")
    D = int(man_d["doc_count"])
    S = int(man_d["n_segments"])
    token = f"addidx-{os.path.basename(os.path.normpath(src_root))}-{D}"

    # -- blocks: shift headers, new segment ids; stage then move ------
    shifted = (src_idx.block_rows()
               .withColumn("segment", (F.col("segment") + S).cast("int"))
               .withColumn("first_docid", F.col("first_docid") + D)
               .withColumn("last_docid", F.col("last_docid") + D))
    stage = os.path.join(dst_root, f"{token}.blocks.tmp")
    shifted.write.mode("overwrite").partitionBy("segment").parquet(stage)
    _move_in(stage, dst.blocks_path)

    # -- docmap (lineage): match the destination's layout -------------
    sm = (src_idx.docmap()
          .withColumn("docid", F.col("docid") + D)
          .withColumn("segment", (F.col("segment") + S).cast("int")))
    stage = os.path.join(dst_root, f"{token}.docmap.tmp")
    writer = sm.write.mode("overwrite")
    if any(n.startswith("segment=") for n in os.listdir(dst.docmap_path)):
        writer = writer.partitionBy("segment")
    writer.parquet(stage)
    _move_in(stage, dst.docmap_path, token)

    # -- deletes: shifted tombstones ----------------------------------
    sdel = src_idx.deletes()
    if sdel is not None:
        ids = [r["docid"] + D for r in sdel.collect()]
        # replace this fold's tombstone file on retry
        fold_del = os.path.join(dst_root, "deletes", f"{token}.parquet")
        if os.path.exists(fold_del):
            os.remove(fold_del)
        if ids:
            import pyarrow as pa
            import pyarrow.parquet as pq

            os.makedirs(os.path.join(dst_root, "deletes"), exist_ok=True)
            pq.write_table(
                pa.table({"docid": pa.array(sorted(ids), pa.int64())}),
                fold_del)

    # -- docs/dict/stats delta + manifest (the commit) -----------------
    man_d.update(n_segments=S + int(man_s["n_segments"]),
                 updated_wall=round(time.time(), 3))
    _derive_tables(dst, man_d, token=token,
                  segments=[s + S for s in src_idx.segment_files()])
    _commit_manifest(dst_root, man_d)
    return man_d


def split_index(src_root: str, out_roots: list[str],
                spark: SparkSession) -> list[dict]:
    """SPLITSHARD / MultiPassIndexSplitter role (misc/IndexSplitter
    .java — "copy segments as-is into separate indexes";
    solr SplitShardCmd): partition the index into ``len(out_roots)``
    independent indexes at SEGMENT boundaries. Segments hold
    contiguous docid ranges by construction (docid // docs_per_segment
    — build_segment_index:664), so each part's docids renumber to a
    dense 0..n-1 by subtracting the part's base — the same header-only
    columnar rewrite as :func:`add_indexes`, no posting re-encode.

    Per-part docs/dict/stats are RECOMPUTED from the part's blocks by
    the full form of :func:`_derive_tables` (a standalone index owns its
    own global term statistics — a split-then-search gives each shard
    its local BM25 stats, exactly like independent Lucene indexes;
    distributed-search stat merging is the shard-merge path in
    search/wand.py). Tombstones land in the part owning the docid.
    Inverse of add_indexes: ``add_indexes(split(A)...)`` reproduces
    A's results."""
    src_idx = SegmentIndex(src_root, spark)
    man = src_idx.manifest()
    n_parts = len(out_roots)
    # segment -> (first_docid, n_docs) from summaries; split contiguous
    # segment runs into parts balanced by doc count
    seg_rows = (src_idx.summaries().groupBy("segment")
                .agg(F.min("first_docid").alias("lo"),
                     F.count("*").alias("n"))
                .orderBy("segment").collect())
    total = sum(r["n"] for r in seg_rows)
    bounds, acc, part = [[] for _ in range(n_parts)], 0, 0
    for r in seg_rows:
        if (part < n_parts - 1 and bounds[part]
                and acc >= (part + 1) * total / n_parts):
            part += 1
        bounds[part].append(r)
        acc += r["n"]
    deletes = set(src_idx.deleted_docids().tolist())
    outs = []
    for out_root, segs in zip(out_roots, bounds):
        if not segs:
            raise ValueError("more parts than segments")
        seg_ids = [int(r["segment"]) for r in segs]
        base = int(min(r["lo"] for r in segs))
        seg_off = min(seg_ids)
        n_docs = int(sum(r["n"] for r in segs))
        os.makedirs(out_root, exist_ok=True)
        pred = F.col("segment").isin(seg_ids)
        blocks = (src_idx.block_rows().where(pred)
                  .withColumn("segment",
                              (F.col("segment") - seg_off).cast("int"))
                  .withColumn("first_docid", F.col("first_docid") - base)
                  .withColumn("last_docid", F.col("last_docid") - base))
        blocks.write.mode("overwrite").partitionBy("segment").parquet(
            os.path.join(out_root, "blocks"))
        (src_idx.docmap().where(pred)
         .withColumn("docid", F.col("docid") - base)
         .withColumn("segment", (F.col("segment") - seg_off).cast("int"))
         .write.mode("overwrite").parquet(os.path.join(out_root, "docmap")))
        lo_d, hi_d = base, base + n_docs
        part_dels = sorted(d - base for d in deletes if lo_d <= d < hi_d)
        if part_dels:
            append_deletes(out_root, part_dels)
        pman = dict(man)
        pman.pop("last_batch_id", None)
        pman.update(n_segments=len(seg_ids),
                    split_from=os.path.basename(os.path.normpath(src_root)),
                    updated_wall=round(time.time(), 3))
        _derive_tables(SegmentIndex(out_root, spark), pman)
        _commit_manifest(out_root, pman)
        outs.append(pman)
    return outs


def append_deletes(root: str, docids) -> int:
    """Append tombstone docids (driver-side pyarrow write — tombstone
    batches are small relative to the index; compaction empties them)."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = sorted({int(d) for d in docids})
    if not ids:
        return 0
    d = os.path.join(root, "deletes")
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.table({"docid": pa.array(ids, pa.int64())}),
                   os.path.join(d, f"part-{uuid.uuid4().hex}.parquet"))
    return len(ids)


def _append_checkpoint(spark: SparkSession, root: str, row: tuple):
    """One checkpoint row, written driver-side with pyarrow (a Spark
    job per tiny bookkeeping write adds fixed per-stage cost that
    dominates small builds at high core counts). Layout-compatible
    with spark.read.parquet over the directory."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    names, types = [], []
    for fld in CHECKPOINT_SCHEMA.split(","):
        n, t = fld.strip().split()
        names.append(n)
        types.append({"string": pa.string(), "int": pa.int32(),
                      "long": pa.int64(), "double": pa.float64()}[t])
    table = pa.table(
        {n: pa.array([v], type=t) for n, t, v in zip(names, types, row)})
    d = os.path.join(root, "checkpoints")
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, f"part-{uuid.uuid4().hex}.parquet"))


def _done_chunks(spark: SparkSession, root: str) -> set[int]:
    path = os.path.join(root, "checkpoints")
    if not os.path.exists(path):
        return set()
    rows = spark.read.parquet(path).where(F.col("stage") == "blocks").collect()
    return {int(r["chunk"]) for r in rows}


def build_segment_index(
    corpus: DataFrame,
    out_root: str,
    stop_words: frozenset[str] | None = ENGLISH_STOP_WORDS,
    max_token_length: int = 255,
    docs_per_segment: int = 4096,
    segments_per_chunk: int = 8,
    resume: bool = False,
    fail_after_chunk: int | None = None,
    max_concurrent_chunks: int | None = None,
    fields: tuple[str, ...] = ("content",),
) -> SegmentIndex:
    """Build (or resume) the compressed segment index.

    ``fields`` lists the analyzed text columns ("content" must be one
    of them — it carries the sha256 invariant). Extra fields get their
    own postings/norms under qualified terms (FIELD_SEP) and per-field
    collection stats in the manifest — the Lucene per-field codec
    delegation (codecs/lucene70/Lucene70Codec.java:144-166), which is
    what lets edismax / per-field similarity run on this compressed
    path.

    ``fail_after_chunk`` injects a crash after N chunk commits — used by
    the kill-and-resume test (BASELINE.md resumability row).

    ``max_concurrent_chunks`` (default env LSS_CONCURRENT_CHUNKS or 2)
    overlaps chunk jobs from driver threads — the ConcurrentMergeScheduler
    role (index/ConcurrentMergeScheduler.java:57-63: flushes/merges run
    on background threads, not the indexing thread). Spark's scheduler
    backfills a later chunk's tasks into slots the earlier chunk's
    straggler tail leaves idle, so the per-chunk barrier no longer
    multiplies the Poisson tail by the number of chunks. Each chunk
    commits atomically: blocks land in a chunk-private tmp dir, segment
    dirs move into place, then the checkpoint row is written — a crash
    between move and checkpoint is cleaned by the resume path exactly
    like the sequential build."""
    spark = corpus.sparkSession
    t0 = time.time()
    stop_words = stop_words or frozenset()
    if "content" not in fields:
        raise ValueError("fields must include 'content' (sha invariant)")
    extra_fields = tuple(f for f in fields if f != "content")
    os.makedirs(out_root, exist_ok=True)
    idx = SegmentIndex(out_root, spark)
    if not resume:
        # a fresh rebuild must drop prior blocks AND checkpoints: stale
        # 'blocks' checkpoint rows would otherwise mark chunks done
        # whose segment data was just deleted, silently truncating a
        # later resume of this build
        for sub in ("blocks", "checkpoints"):
            p = os.path.join(out_root, sub)
            if os.path.exists(p):
                shutil.rmtree(p)

    # ---- stage 0: docids + JVM analysis, spilled to Parquet -----------
    # The corpus content is read ONCE and never pinned: docids attach
    # via the range exchange, tokenization runs JVM-side on top
    # (analysis/jvm.py), and the ANALYZED frame (slim token arrays) is
    # SPILLED TO PARQUET and re-read, not JVM-cached: building the
    # in-memory columnar cache of array<string> columns at high task
    # concurrency is GC-bound (round-3 measurement, 400k docs at 32
    # threads: cached-analyze 91 s / blocks 79 s vs parquet-spill 88 s
    # / 37 s), and at the 100-TB target the token stream never fits
    # executor memory anyway — disk spill with column pruning IS the
    # scale design. The spill is build-scoped (removed after derived
    # tables commit); the slim docmap (keys + docid + segment, the
    # lineage record) projects straight from it. On resume the same
    # frame is recomputed — ranks are input-determined, so the
    # docid/segment assignment is identical.
    base = assign_docids(corpus)
    parent = getattr(base, "_lss_persisted_parent", None)
    with_ids = base.withColumn(
        "segment", (F.col("docid") / docs_per_segment).cast("int"))
    # extra fields: copy the source column first — metadata columns
    # (path etc.) must survive into the docmap/summaries, and
    # analyzed_deferred drops its content column
    for f in extra_fields:
        with_ids = (with_ids
                    .withColumn(f"null_{f}", F.col(f).isNull())
                    .withColumn(f"_lss_src_{f}", F.col(f)))
    # DEFERRED analyze: one Project, ONE regexp_extract_all per row
    # (subexpression elimination); rows needing the Python analyzer
    # carry NULL tokens + retained content and are finalized per chunk
    # AFTER the spill, so every filter below is a plain parquet
    # pushdown, never a regex re-derivation (analyzed_columns' union
    # shape ran the tokenize 3x per row over 2 corpus scans).
    analyzed_plan = analyzed_deferred(
        with_ids, max_token_length=max_token_length)
    for f in extra_fields:
        analyzed_plan = analyzed_deferred(
            analyzed_plan, max_token_length=max_token_length,
            content_col=f"_lss_src_{f}", tokens_col=f"tokens__{f}",
            with_sha=False, py_content_col=f"_lss_py_{f}")
    spill_path = os.path.join(out_root, "analyzed_spill")
    if not (resume and os.path.exists(os.path.join(spill_path, "_SUCCESS"))):
        analyzed_plan.write.mode("overwrite").parquet(spill_path)
    spill = spark.read.parquet(spill_path)
    n_docs_total = spill.count()  # footer-only count, no scan
    if parent is not None:
        parent.unpersist()
    if not (resume and os.path.exists(os.path.join(idx.docmap_path, "_SUCCESS"))):
        docmap_drop = ["tokens", "content_sha256", PY_CONTENT_COL]
        for f in extra_fields:
            docmap_drop += [f"tokens__{f}", f"_lss_py_{f}", f"null_{f}"]
        spill.drop(*docmap_drop).write.mode(
            "overwrite").parquet(idx.docmap_path)
        _append_checkpoint(spark, out_root,
                           ("docmap", -1, 0, 0, 0, 0, 0, 0,
                            round(time.time() - t0, 3), 0.0))

    n_segments = int(np.ceil(n_docs_total / docs_per_segment)) or 1
    n_chunks = int(np.ceil(n_segments / segments_per_chunk))

    # ---- stage 1: per-chunk block build (resumable, overlapped) -------
    done = _done_chunks(spark, out_root) if resume else set()
    builder = _segment_builder(docs_per_segment, stop_words, extra_fields)
    if max_concurrent_chunks is None:
        max_concurrent_chunks = int(
            os.environ.get("LSS_CONCURRENT_CHUNKS", "2"))
    # the crash-injection path commits in deterministic order
    workers = 1 if fail_after_chunk is not None else max(
        1, max_concurrent_chunks)
    os.makedirs(idx.blocks_path, exist_ok=True)
    pending = [c for c in range(n_chunks) if c not in done]
    for chunk in pending:
        seg_lo = chunk * segments_per_chunk
        seg_hi = min(seg_lo + segments_per_chunk, n_segments)
        # clean partial output of an uncheckpointed chunk (resume
        # safety: a crash between segment-dir moves and the checkpoint
        # row leaves moved dirs behind) and stale chunk tmp dirs
        for seg in range(seg_lo, seg_hi):
            part = os.path.join(idx.blocks_path, f"segment={seg}")
            if os.path.exists(part):
                shutil.rmtree(part)
        tmp = os.path.join(out_root, f"blocks.chunk-{chunk}.tmp")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)

    def run_chunk(chunk: int) -> None:
        seg_lo = chunk * segments_per_chunk
        seg_hi = min(seg_lo + segments_per_chunk, n_segments)
        lo_doc = seg_lo * docs_per_segment
        hi_doc = seg_hi * docs_per_segment
        tc = time.time()
        # ONE exchange of (only) this chunk's content, keyed by segment;
        # the segment-range filter lands on the parquet scan, and the
        # (rare) Python-analyzer rows finalize inside the chunk only
        part_df = finalize_analyzed(
            spill.where((F.col("segment") >= seg_lo)
                        & (F.col("segment") < seg_hi)),
            max_token_length=max_token_length)
        for f in extra_fields:
            part_df = finalize_analyzed(
                part_df, max_token_length=max_token_length,
                content_col=f"_lss_src_{f}", tokens_col=f"tokens__{f}",
                with_sha=False, py_content_col=f"_lss_py_{f}")
            part_df = part_df.drop(f"_lss_src_{f}")
        # segment-granular exchange: with shuffle.partitions = cores,
        # ~200 segments hash into a few reduce partitions whose skewed
        # max (Poisson tail) sets the stage wall and WORSENS with width;
        # one reduce unit per segment keeps task granularity constant at
        # every cluster size. Catalyst recognizes the HashPartitioning
        # and inserts no second exchange for the groupBy.
        n_parts = max(seg_hi - seg_lo, 1)
        out = (part_df.repartition(n_parts, "segment")
               .groupBy("segment").applyInPandas(builder, BLOCKS_SCHEMA))
        # chunk-private staging dir -> atomic per-segment renames: no
        # two concurrent chunk jobs ever touch the same committer
        # staging area or segment dir (segment ranges are disjoint)
        tmp = os.path.join(out_root, f"blocks.chunk-{chunk}.tmp")
        out.write.mode("overwrite").partitionBy("segment").parquet(tmp)
        _move_in(tmp, idx.blocks_path)
        wall = time.time() - tc
        chunk_docs = min(hi_doc, n_docs_total) - lo_doc
        _append_checkpoint(
            spark, out_root,
            ("blocks", chunk, seg_lo, seg_hi, lo_doc, hi_doc,
             int(chunk_docs), 0, round(wall, 3),
             round(chunk_docs / wall, 1) if wall > 0 else 0.0),
        )

    if workers == 1 or len(pending) <= 1:
        built = 0
        for chunk in pending:
            run_chunk(chunk)
            built += 1
            if fail_after_chunk is not None and built >= fail_after_chunk:
                # keep the spill: a resume reuses it (input-determined)
                raise RuntimeError(f"injected failure after chunk {chunk}")
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=workers) as pool:
            list(pool.map(run_chunk, pending))

    # ---- stage 2: derived tables + manifest -----------------------------
    manifest = {
        "format_version": 2,
        "docs_per_segment": docs_per_segment,
        "n_segments": n_segments,
        "n_chunks": n_chunks,
        "block_size": codec.BLOCK_SIZE,
        "stop_words": sorted(stop_words),
        "max_token_length": max_token_length,
    }
    if extra_fields:
        manifest["fields"] = list(fields)
    _derive_tables(idx, manifest)
    manifest["build_wall_sec"] = round(time.time() - t0, 3)
    _commit_manifest(out_root, manifest)
    shutil.rmtree(spill_path, ignore_errors=True)  # build-scoped spill
    return idx


def pk_split_index(src_root: str, out_pass: str, out_fail: str,
                   spark: SparkSession, predicate) -> tuple[dict, dict]:
    """PKIndexSplitter (misc/index/PKIndexSplitter.java): partition an
    existing index into two by a FILTER — docs matching ``predicate``
    (a Column over the docs/stored-fields surface) serve from
    ``out_pass``, the rest from ``out_fail``. Exactly like the
    reference — which copies segments through addIndexes under
    complementary liveDocs masks (:88-110, DocumentFilteredLeafReader)
    — nothing is re-analyzed or re-encoded: each output is a
    hardlink copy of the source tree with the COMPLEMENT tombstoned.
    Term statistics stay the source's until compaction, which is the
    reference behavior too (df/ttf include masked docs until merge);
    ``compact_segments`` later drops the masked docs physically and
    refreshes stats.

    The two tombstone sets are written with Spark (one docs-table
    scan each, no driver materialization), so the split is a pure
    metadata operation at any index size — the 100-TB variant of the
    reference's per-segment bitset build."""
    src = SegmentIndex(src_root, spark)
    docs = src.docs()
    for out_root in (out_pass, out_fail):
        if os.path.exists(out_root) and os.listdir(out_root):
            raise ValueError(f"output root {out_root} is not empty")
        for dirpath, _dirnames, filenames in os.walk(src_root):
            rel = os.path.relpath(dirpath, src_root)
            dst_dir = os.path.join(out_root, rel) if rel != "." else out_root
            os.makedirs(dst_dir, exist_ok=True)
            for fn in filenames:
                os.link(os.path.join(dirpath, fn), os.path.join(dst_dir, fn))
    # complementary tombstones, one scan each (the existing deletes
    # were hardlinked over and stay in force on both sides)
    for out_root, pred in ((out_pass, ~predicate), (out_fail, predicate)):
        (docs.where(pred).select(F.col("docid").cast("long"))
         .write.mode("append").parquet(os.path.join(out_root, "deletes")))
    outs = []
    for out_root, tag in ((out_pass, "pass"), (out_fail, "fail")):
        man_path = os.path.join(out_root, "manifest.json")
        with open(man_path) as f:
            man = json.load(f)
        man.update(pk_split_from=os.path.basename(os.path.normpath(src_root)),
                   pk_split_side=tag, updated_wall=round(time.time(), 3))
        # the hardlinked manifest's name is replaced, never its content
        _commit_manifest(out_root, man)
        outs.append(man)
    return tuple(outs)
