"""Segment-based compressed index build (codec v2) — resumable, with
per-segment checkpoints, lineage and metrics tables.

Layout model = Lucene's segment model (index/SegmentInfos.java): a
*segment* owns a contiguous docID range and holds ALL terms' postings
for its docs, sorted by (term, docid) — the shape per-segment BM25
top-k needs (each Spark task scores one leaf, SURVEY §3.1). This complements
the v1 term-bucketed `postings/` layout (builder.py), which serves
dictionary-side access (prefix/fuzzy expansion, analytics joins);
Lucene similarly keeps postings + docvalues as different orderings of
the same data.

Build plan (content crosses one exchange, the docid range exchange):
  stage 0  deterministic docid = rank of PK via ONE range-exchange
           (assign_docids); JVM analysis on top, SPILLED to Parquet
           partitioned by segment (never cached). The slim docmap
           (keys + docid + segment — the lineage record) projects from
           the spill; on resume the spill is reused or recomputed
           identically, because ranks are input-determined, not
           layout-determined.
  stage 1  blocks/   _write_segments, the one segment writer (Lucene's
           per-DWPT flush): one task per segment reads its slice of
           the spill, finishes the rare Python-analyzer rows, inverts
           each field with the inverter v1 shares (builder.invert_tokens),
           encodes 128-doc posting blocks (delta+varbyte/FOR, codec.py)
           and writes its one file. Each task appends its checkpoint row
           after its rename; a killed build resumes by skipping
           checkpointed segments (the others' files are replaced).
  stage 2  dict/ + the manifest's collection stats — _derive_tables,
           the one derive step every index write (build, streaming
           flush, compaction, split, addIndexes) ends in: it applies
           the write's segment diff (the added segments' rows minus the
           removed ones') to the commit it starts from. dict = one
           groupBy(term).agg over those block rows and the committed
           dictionary (map-side partial agg; hot terms reduce to one
           row per segment before the exchange, so no salting needed
           here); collection stats = one aggregate over the
           kind=1/kind=2 rows.

The segment files are the index: per-document data is never copied
out of them. ``docs()`` is a select over the live segments' kind=1
summary rows (they carry the doc metadata, so no join) and ``stats()``
reads the manifest. An older index's ``docs/`` and ``stats/``
directories are ignored.

Commits (SegmentInfos): ``manifest.json`` lists the live ``segments``,
the id counter ``next_segment`` and the ``dict/<name>``; every write
adds segments and a dictionary under fresh names, and only
:func:`_commit_manifest` changes the live set and deletes files.

Docid contract: docids are unique and below the manifest's
``next_docid``. Compaction drops deleted docs without renumbering, so it
leaves holes by design and CheckIndex's ``docmap_docid_contiguous``
fails on every index whose compaction dropped a deleted doc.

At 10^12-file scale: docs_per_segment is the DWPT RAM-budget knob
(IndexWriterConfig.java:93 — 16 MB buffer ≙ segment sized to executor
memory) and the blast radius of a failure (one segment's task); docmap
gives exactly-once docids across retries because ranks are
input-determined, not layout-determined.

Reference: write path index/DefaultIndexingChain.java:385-441, flush
FreqProxTermsWriter.java, codec Lucene50PostingsWriter.java:223-241,
merge SegmentMerger.java:96-177, commit SegmentInfos/IndexCommit.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..analysis import ENGLISH_STOP_WORDS
from ..analysis.jvm import PY_CONTENT_COL, analyzed_deferred, finish_python_rows
from . import codec
from .builder import PK, assign_docids, invert_tokens

BLOCKS_SCHEMA = (
    "segment int, kind int, term string, block_ord int, n int, "
    "first_docid long, last_docid long, sum_tf long, "
    "docids binary, tfs binary, norms binary, positions binary, "
    # doc metadata, populated on kind=1 summary rows only (null on
    # block rows — RLE'd away by parquet): lets the docs surface derive
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
                          stop_arr, prefix: str):
    """ONE field's token arrays over one segment → encoded 128-blocks:
    the shared inverter (builder.invert_tokens) gives the posting runs,
    this encodes them. Returns ``(dls, norms_doc, blocks_pdf_or_None)``;
    block terms carry ``prefix`` ("" for the content field)."""
    from ..util.smallfloat import int_to_byte4_np

    dls, inv = invert_tokens(toks_col, stop_arr)
    norms_doc = int_to_byte4_np(dls).astype(np.int16)
    if inv is None:
        return dls, norms_doc, None
    uniq, codes_s, didx_s, pos_s, post_starts = inv
    nposts = len(post_starts)
    tf = np.diff(post_starts, append=codes_s.size)
    post_code = codes_s[post_starts]
    post_didx = didx_s[post_starts]
    post_doc = docids_doc[post_didx]
    post_norm = norms_doc[post_didx]

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
        "kind": 0,
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


def _segment_builder(stop_words: frozenset[str] = frozenset(),
                     extra_fields: tuple[str, ...] = ()):
    """All (pre-tokenized) docs of ONE segment → its encoded block rows
    (kind=0) + one summary row per doc (kind=1: term=sha256, n=dl,
    norms=[normbyte]), in the file layout (no ``segment`` column: the
    segment's directory carries it).

    ``extra_fields`` adds per-field postings beyond "content"
    (Lucene70Codec.java:144-166 per-field delegation): each extra
    field's token arrays ride in ``tokens__<field>`` columns, its
    postings land under qualified terms ``<field>\\x1f<term>`` with
    that field's own norms, and one kind=2 row per (doc with the
    field) carries the per-field dl/norm (term = field name) — the
    per-field norms/docvalues + collection-stats record.

    Input rows carry ``tokens``/``content_sha256`` from the analyzed
    spill (:func:`_analyzed_segment`) — tokenization happened JVM-side
    before the spill, so this worker is pure vectorized numpy: the
    shared inverter (builder.invert_tokens) gives the (term, docid,
    position) stream, then block boundaries, tfs, docid/position deltas
    and the varbyte streams are whole-segment numpy passes
    (grouped_varbyte slices one encoded stream into per-block buffers).
    Per-block Python touches only full 128-blocks (FOR bit-packing, a
    small minority).
    """
    stop_arr = np.asarray(sorted(stop_words), dtype=object) if stop_words else None

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("docid")
        docids_doc = pdf["docid"].to_numpy(dtype=np.int64)
        ndocs = len(pdf)
        shas = pdf["content_sha256"].tolist()

        dls, norms_doc, blocks = _invert_segment_field(
            pdf["tokens"].to_numpy(), docids_doc, stop_arr, "")

        summary = pd.DataFrame({
            "kind": 1, "term": shas, "block_ord": 0,
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
                f + FIELD_SEP)
            present = ~null_mask
            # kind=2: per-(doc, field) dl/norm — field absent (NULL) docs
            # get no row, mirroring v1's dl=-1 exclusion
            # (builder.py _make_segment_fn; FieldInfos semantics)
            frames.append(pd.DataFrame({
                "kind": 2, "term": f, "block_ord": 0,
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


#: a segment's one block file (a retried write replaces it)
_BLOCK_FILE = "part-0.parquet"

#: Parquet writer properties of every block file: one row group per
#: file; columns near-unique per row are PLAIN (a dictionary only adds
#: bytes there, and parquet-mr falls back the same way).
_BLOCK_WRITE = {
    "compression": "snappy", "row_group_size": 1 << 20,
    "dictionary_pagesize_limit": 256 << 10,
    "use_dictionary": [c for c in (f.split()[0]
                                   for f in BLOCKS_SCHEMA.split(","))
                       if c not in ("segment", "term", "path", "commit")],
}


def _arrow_schema(ddl: str, drop=()):
    """pyarrow schema of a Spark DDL string of atomic types."""
    import pyarrow as pa

    types = {"string": pa.string(), "int": pa.int32(), "long": pa.int64(),
             "double": pa.float64(), "binary": pa.binary()}
    return pa.schema([(n, types[t]) for n, t in
                      (f.split() for f in ddl.split(",")) if n not in drop])


def _write_segments(spark: SparkSession, blocks_dir: str, jobs, produce,
                    checkpoint_root: str | None = None) -> None:
    """The one block writer (build, flush, compaction, addIndexes,
    split) — Lucene's per-DWPT flush of write-once segment files. Each
    ``(segment, arg)`` job is one task of ``spark.range(n,
    numPartitions=n).mapInPandas`` (no exchange) writing
    ``produce(arg)``'s Arrow table (None for no rows) with pyarrow:
    BLOCKS_SCHEMA minus the directory's ``segment``, a hidden temp
    file renamed over ``segment=<s>/part-0.parquet``. With
    ``checkpoint_root`` the task then appends its ``blocks``
    checkpoint row (the build's resume record)."""
    os.makedirs(blocks_dir, exist_ok=True)
    if not jobs:
        return
    schema = _arrow_schema(BLOCKS_SCHEMA, drop=("segment",))

    def task(batches):
        import pyarrow.parquet as pq

        for b in batches:
            for i in b["id"].tolist():
                seg, arg = jobs[i]
                t0 = time.time()
                rows = produce(arg)
                if rows is None:
                    continue
                rows = rows.select(schema.names).cast(schema)
                seg_dir = os.path.join(blocks_dir, f"segment={seg}")
                os.makedirs(seg_dir, exist_ok=True)
                tmp = os.path.join(seg_dir, f".{uuid.uuid4().hex}.tmp")
                pq.write_table(rows, tmp, **_BLOCK_WRITE)
                os.replace(tmp, os.path.join(seg_dir, _BLOCK_FILE))
                if checkpoint_root is not None:
                    kind = rows["kind"].to_numpy()
                    docs = rows["first_docid"].to_numpy()[kind == 1]
                    wall = time.time() - t0
                    _append_checkpoint(checkpoint_root, (
                        "blocks", seg, seg, seg + 1,
                        int(docs.min(initial=0)), int(docs.max(initial=-1)) + 1,
                        docs.size, int((kind == 0).sum()), round(wall, 3),
                        round(docs.size / wall, 1) if wall > 0 else 0.0))
                yield pd.DataFrame({"segment": [seg]})

    with job_description(spark, f"write {len(jobs)} segment files"):
        spark.range(len(jobs), numPartitions=len(jobs)).mapInPandas(
            task, "segment int").collect()


@contextlib.contextmanager
def job_description(spark, text: str):
    """Name the Spark jobs this thread starts inside the block
    (``setJobDescription``), then restore the previous description."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def _analyzed_segment(spill_dir: str, stop_words: frozenset[str],
                      max_token_length: int,
                      extra_fields: tuple[str, ...] = ()):
    """Build-from-analyzed ``produce`` for :func:`_write_segments` (arg:
    the segment id): read the segment's slice of an analyzed spill,
    finish the rows the JVM analyzer deferred, encode with
    :func:`_segment_builder`."""
    build = _segment_builder(stop_words, extra_fields)
    passes = [("tokens", PY_CONTENT_COL, True)] + [
        (f"tokens__{f}", f"_lss_py_{f}", False) for f in extra_fields]
    cols = ["docid", *PK, "lang", "content_sha256",
            *[c for t, py, _ in passes for c in (t, py)],
            *[f"null_{f}" for f in extra_fields]]

    def produce(seg: int):
        import pyarrow as pa
        import pyarrow.parquet as pq

        files = sorted(glob.glob(os.path.join(
            spill_dir, f"segment={seg}", "*.parquet")))
        if not files:
            return None
        pdf = pa.concat_tables(
            [pq.read_table(f, columns=cols) for f in files]).to_pandas()
        return pa.Table.from_pandas(
            build(finish_python_rows(pdf, passes, max_token_length)),
            preserve_index=False)

    return produce


def _flush_segments(df: DataFrame, root: str, stop_words: frozenset[str],
                    max_token_length: int) -> list[int]:
    """Flush and compaction: analyze ``df`` (docid, fresh segment id,
    doc columns, content), spill it by segment, write every segment
    through :func:`_write_segments` and its ``docmap/segment=<s>``
    partition (content kept for compaction); returns their ids."""
    work = os.path.join(root, "flush.tmp")
    spill = os.path.join(work, "spill")
    analyzed_deferred(df, max_token_length=max_token_length).write.mode(
        "overwrite").partitionBy("segment").parquet(spill)
    segs = sorted(int(d[len("segment="):]) for d in os.listdir(spill)
                  if d.startswith("segment="))
    _write_segments(df.sparkSession, os.path.join(root, "blocks"),
                    [(s, s) for s in segs],
                    _analyzed_segment(spill, stop_words, max_token_length))
    df.repartition(F.col("segment")).write.mode("overwrite").partitionBy(
        "segment").parquet(os.path.join(work, "docmap"))
    _move_in(os.path.join(work, "docmap"), os.path.join(root, "docmap"))
    shutil.rmtree(work)
    return segs


def _shifted_segment(arg):
    """Copy-with-shift ``produce`` (arg: ``(files, shift)``): the pinned
    columns of a segment's rows, docid headers shifted — payloads are
    deltas, so nothing is re-encoded."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    files, shift = arg
    names = _arrow_schema(BLOCKS_SCHEMA, drop=("segment",)).names
    t = pa.concat_tables([pq.read_table(f, columns=names) for f in files])
    for c in ("first_docid", "last_docid"):
        t = t.set_column(t.schema.get_field_index(c), c,
                         pc.add(t[c], shift))
    return t


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
        return self._block_rows(self.manifest()["segments"])

    def _block_rows(self, segments) -> DataFrame:
        """The ``blocks/`` rows of ``segments``, all kinds, read with the
        pinned BLOCKS_SCHEMA: older files' extra columns are never read,
        and ``segment`` comes from the directories, whatever file Spark
        would sample for an inferred schema."""
        return (self.spark.read.schema(BLOCKS_SCHEMA).parquet(self.blocks_path)
                .where(F.col("segment").isin([int(s) for s in segments])))

    def blocks(self) -> DataFrame:
        return self.block_rows().where(F.col("kind") == 0)

    def summaries(self) -> DataFrame:
        return self.block_rows().where(F.col("kind") == 1)

    def segment_files(self) -> dict[int, list[str]]:
        """{segment: [parquet paths]} of the manifest's live segments:
        each listed ``blocks/segment=<s>/`` directory's files."""
        blocks = os.path.abspath(self.blocks_path)
        out: dict[int, list[str]] = {}
        for s in self.manifest()["segments"]:
            files = sorted(glob.glob(os.path.join(
                blocks, f"segment={s}", "*.parquet")))
            if files:
                out[s] = files
        return out

    def docmap(self) -> DataFrame:
        return self.spark.read.parquet(self.docmap_path).where(
            F.col("segment").isin(self.manifest()["segments"]))

    def docs(self) -> DataFrame:
        return summary_docs(self.block_rows())

    def dict(self) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(self.root, "dict", self.manifest()["dict"]))

    def stats(self) -> dict:
        m = self.manifest()
        return {"doc_count": int(m["doc_count"]), "sum_ttf": int(m["sum_ttf"])}

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
        if not glob.glob(os.path.join(self.deletes_path, "*.parquet")):
            return None
        return self.spark.read.parquet(self.deletes_path).select("docid").distinct()

    def deleted_docids(self) -> "np.ndarray":
        d = self.deletes()
        if d is None:
            return np.zeros(0, dtype=np.int64)
        return np.array(sorted(r["docid"] for r in d.collect()), dtype=np.int64)

    def manifest(self) -> dict:
        return _read_manifest(self.root)


def summary_docs(rows: DataFrame) -> DataFrame:
    """The docs surface of block rows (docid, repo/path/commit, lang,
    segment, dl, norm, content_sha256): a select over their kind=1
    summary rows, which carry the doc metadata."""
    return rows.where(F.col("kind") == 1).select(
        F.col("first_docid").alias("docid"), *PK, "lang", "segment",
        F.col("n").alias("dl"),
        F.conv(F.hex(F.col("norms")), 16, 10).cast("int").alias("norm"),
        F.col("term").alias("content_sha256"))


def _read_manifest(root: str) -> dict:
    """The one manifest read. A manifest written before segment ids were
    kept gets its live list from the ``blocks/segment=*`` directories,
    ``next_segment`` above them and ``dict`` "" (the flat ``dict/``);
    its next commit records all three."""
    with open(os.path.join(root, "manifest.json")) as f:
        m = json.load(f)
    if "segments" not in m:
        _list_segments(m, [d.rsplit("=", 1)[1] for d in glob.glob(
            os.path.join(root, "blocks", "segment=*"))])
        m.setdefault("dict", "")
    return m


def _list_segments(manifest: dict, segments) -> None:
    """Set the manifest's live segment list and ``n_segments`` (its
    length); ``next_segment`` stays above every id ever listed."""
    segs = sorted({int(s) for s in segments})
    manifest.update(segments=segs, n_segments=len(segs), next_segment=max(
        [int(manifest.get("next_segment", 0))] + [s + 1 for s in segs]))


def _move_in(stage: str, table_root: str, token=None) -> None:
    """Move a staged Spark output into ``table_root`` so that a re-run
    replaces what an earlier attempt left: partition dirs (``k=v``)
    replace their namesakes by a name swap (files a commit point
    hardlinks are never rewritten in place); with a ``token``, flat
    part files are renamed under a fixed-width tag of it (fixed width:
    no tag is a prefix of another's) after every file carrying that tag
    is removed."""
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
            final = os.path.join(table_root, name)
            if os.path.exists(final):
                shutil.rmtree(final)
            os.rename(src, final)
        elif tag and name.endswith(".parquet"):
            os.rename(src, os.path.join(table_root, tag + name))
    shutil.rmtree(stage)


def _commit_manifest(root: str, manifest: dict) -> None:
    """The commit: write ``manifest.json`` through a temp name (replacing
    the name keeps a hardlinked commit point's copy), then delete each
    segment's ``blocks/``/``docmap/`` directory and each dictionary that
    neither this commit nor the one it replaced lists (IndexFileDeleter
    keeping two commits), which also clears crashed writes' leftovers."""
    path = os.path.join(root, "manifest.json")
    prev = _read_manifest(root) if os.path.exists(path) else {}
    with open(path + ".tmp", "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(path + ".tmp", path)
    segs = {*prev.get("segments", ()), *manifest["segments"]}
    for table in ("blocks", "docmap"):
        for d in glob.glob(os.path.join(root, table, "segment=*")):
            if int(os.path.basename(d)[len("segment="):]) not in segs:
                shutil.rmtree(d)
    dicts = {prev.get("dict"), manifest.get("dict")}
    dict_root = os.path.join(root, "dict")
    for name in os.listdir(dict_root) if os.path.isdir(dict_root) else ():
        p = os.path.join(dict_root, name)
        if os.path.isdir(p) and name not in dicts:
            shutil.rmtree(p)
        elif not os.path.isdir(p) and "" not in dicts:
            os.remove(p)  # the flat dict/ of an older manifest


def _derive_tables(idx: SegmentIndex, manifest: dict, added,
                   removed=()) -> dict:
    """The one derive step: ``dict/`` and the manifest's
    ``doc_count``/``sum_ttf``/``field_stats``/``next_docid`` follow
    from the block rows — Lucene recomputing SegmentInfos/FieldInfos on
    flush, merge and addIndexes. Every index write ends here, with
    ``manifest`` holding the commit the write starts from (empty for a
    build or a split part) and listing the segments it commits.

    It applies the write's segment diff: the rows of the ``added``
    segments count in and those of the ``removed`` ones count out, in
    one aggregate over both sets' rows (with the committed dictionary's
    rows for ``dict/``); terms whose df reaches 0 drop out. A re-run
    after a crash before the manifest commit starts from the same
    committed manifest, so nothing counts twice. The dictionary goes to
    a fresh ``dict/<name>``.

    Collection stats are per field: content from the kind=1 rows,
    every extra field from its kind=2 per-(doc, field) rows —
    doc_count = docs with the field, sum_ttf = Σ dl
    (BM25Similarity.java:79). ``field_stats`` is kept when the
    manifest lists ``fields``. ``next_docid`` = max(the committed one,
    the highest added docid + 1) is where the next flush or fold
    numbers from: it never goes down, so a docid that compaction
    dropped is never handed out again. Returns ``manifest`` updated;
    the caller commits it (:func:`_commit_manifest`)."""
    removed = [int(s) for s in removed]
    rows = idx._block_rows([*added, *removed])
    kind = F.col("kind")
    sign = F.when(F.col("segment").isin(removed), -1).otherwise(1)

    # dict: df = Σ n, ttf = Σ sum_tf per term over the signed block
    # rows; the committed dict joins as pre-aggregated rows
    post = rows.where(kind == 0).select(
        "term", (F.col("n") * sign).alias("n"),
        (F.col("sum_tf") * sign).alias("sum_tf"))
    if manifest.get("dict") is not None:
        post = post.unionByName(idx.spark.read.parquet(
            os.path.join(idx.root, "dict", manifest["dict"])).select(
            "term", F.col("df").alias("n"), F.col("ttf").alias("sum_tf")))
    name = uuid.uuid4().hex
    post.groupBy("term").agg(
        F.sum("n").alias("df"), F.sum("sum_tf").alias("ttf")
    ).where(F.col("df") > 0).write.parquet(
        os.path.join(idx.root, "dict", name))
    manifest["dict"] = name

    # collection stats: one signed aggregate over the kind=1/kind=2 rows
    acc = {f: [int(v["doc_count"]), int(v["sum_ttf"])]
           for f, v in (manifest.get("field_stats") or {}).items()}
    acc["content"] = [int(manifest.get("doc_count", 0)),
                      int(manifest.get("sum_ttf", 0))]
    next_docid = int(manifest.get("next_docid", 0))
    field = F.when(kind == 1, F.lit("content")).otherwise(F.col("term"))
    for r in (rows.where(kind > 0).groupBy(field.alias("field"))
              .agg(F.sum(sign).alias("dc"),
                   F.sum(F.col("n") * sign).alias("st"),
                   F.max(F.when(sign > 0, F.col("first_docid"))).alias("hi"))
              .collect()):
        a = acc.setdefault(r["field"], [0, 0])
        a[0] += int(r["dc"])
        a[1] += int(r["st"] or 0)
        if r["field"] == "content" and r["hi"] is not None:
            next_docid = max(next_docid, int(r["hi"]) + 1)
    doc_count, sum_ttf = acc["content"]
    manifest.update(doc_count=doc_count, sum_ttf=sum_ttf,
                    next_docid=next_docid)
    if manifest.get("fields"):
        manifest["field_stats"] = {
            f: {"doc_count": dc, "sum_ttf": st} for f, (dc, st) in acc.items()}
    return manifest


def _next_docid(idx: SegmentIndex, manifest: dict) -> int:
    """The manifest's ``next_docid``; a manifest written before it was
    kept gets the docmap's max docid + 1 (one read), so the write's
    derive step starts from it."""
    if "next_docid" not in manifest:
        hi = (idx.docmap().agg(F.max("docid")).collect()[0][0]
              if os.path.exists(idx.docmap_path) else None)
        manifest["next_docid"] = 0 if hi is None else int(hi) + 1
    return int(manifest["next_docid"])


#: table dirs a commit point pins (analyzed_spill/checkpoints are
#: build-scoped lineage, not part of the readable commit)
_SNAPSHOT_DIRS = ("blocks", "docmap", "dict", "deletes")


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
    (_segment_builder), so adding the destination's ``next_docid``
    touches only the first_docid/last_docid header columns.

    This is the 100-TB build topology: shard the corpus, build every
    shard's index in parallel (separate jobs, zero coordination), then
    addIndexes them — each fold is one copy task per source segment
    (:func:`_write_segments`) plus :func:`_derive_tables` over the
    copied segments, never a global re-sort.

    Both indexes must share the analyzer config and field list (same
    contract as Lucene); collection stats, per-field ones included,
    add up. Tombstones carry over shifted. Returns the new manifest.
    Crash mid-fold: rerun with the same src. The source's segments take
    fresh ids from the destination's ``next_segment``, the docmap and
    tombstone files are keyed by a token of (src, the destination's
    committed ``next_docid``) and replaced as a whole, and the
    dictionary merges into the committed one under a fresh name, so the
    re-run leaves exactly what one fold leaves (the production seam is
    one Iceberg append commit).

    Reopen contract: open a NEW searcher to see the fold. A searcher
    opened before it keeps the pre-fold view (Lucene's stale-reader
    semantics): the fold adds segments and a dictionary under fresh
    names and removes none the previous commit lists."""
    dst = SegmentIndex(dst_root, spark)
    src_idx = SegmentIndex(src_root, spark)
    man_d, man_s = dst.manifest(), src_idx.manifest()
    for k in ("stop_words", "max_token_length", "block_size", "fields"):
        if man_d.get(k) != man_s.get(k):
            raise ValueError(f"addIndexes config mismatch on {k!r}: "
                             f"{man_d.get(k)} vs {man_s.get(k)}")
    D = _next_docid(dst, man_d)
    S = int(man_d["next_segment"])
    token = f"addidx-{os.path.basename(os.path.normpath(src_root))}-{D}"

    # -- blocks: one copy task per source segment, headers shifted -----
    jobs = [(s + S, (files, D))
            for s, files in sorted(src_idx.segment_files().items())]
    _write_segments(spark, dst.blocks_path, jobs, _shifted_segment)
    new = [s for s, _ in jobs]

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

    # -- deletes: shifted tombstones, the fold's file replaced on retry --
    _write_deletes(dst_root, (src_idx.deleted_docids() + D).tolist(),
                   f"{token}.parquet")

    # -- dict + manifest counts (the commit) ---------------------------
    _list_segments(man_d, man_d["segments"] + new)
    man_d["updated_wall"] = round(time.time(), 3)
    _derive_tables(dst, man_d, new)
    _commit_manifest(dst_root, man_d)
    return man_d


def split_index(src_root: str, out_roots: list[str],
                spark: SparkSession) -> list[dict]:
    """SPLITSHARD / MultiPassIndexSplitter role (misc/IndexSplitter
    .java — "copy segments as-is into separate indexes";
    solr SplitShardCmd): partition the index into ``len(out_roots)``
    independent indexes at SEGMENT boundaries. Each part's docids
    shift down by the part's base (its smallest docid) — the same
    copy-with-shift task per segment as :func:`add_indexes`, no posting
    re-encode; a never-compacted index gives dense 0..n-1 parts.

    Each part's dict and collection stats are RECOMPUTED from its
    blocks by :func:`_derive_tables` from an empty commit (a standalone
    index owns its own global term statistics — a split-then-search
    gives each shard its local BM25 stats, exactly like independent
    Lucene indexes; distributed-search stat merging is the shard-merge
    path in search/sharded.py). Each tombstone goes to the part whose
    segments hold its doc (the docmap's segment column): a compaction
    leaves docid holes and interleaves merged segments' docid ranges,
    so no docid range can route them.
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
    deletes = src_idx.deletes()
    del_segs = [] if deletes is None else [
        (int(r["docid"]), int(r["segment"])) for r in src_idx.docmap()
        .join(deletes, "docid", "left_semi").select("docid", "segment")
        .collect()]
    files = src_idx.segment_files()
    outs = []
    for out_root, segs in zip(out_roots, bounds):
        if not segs:
            raise ValueError("more parts than segments")
        seg_ids = [int(r["segment"]) for r in segs]
        base = int(min(r["lo"] for r in segs))
        seg_off = min(seg_ids)
        os.makedirs(out_root, exist_ok=True)
        pred = F.col("segment").isin(seg_ids)
        blocks_dir = os.path.join(out_root, "blocks")
        shutil.rmtree(blocks_dir, ignore_errors=True)
        _write_segments(spark, blocks_dir,
                        [(s - seg_off, (files[s], -base)) for s in seg_ids],
                        _shifted_segment)
        (src_idx.docmap().where(pred)
         .withColumn("docid", F.col("docid") - base)
         .withColumn("segment", (F.col("segment") - seg_off).cast("int"))
         .write.mode("overwrite").parquet(os.path.join(out_root, "docmap")))
        part_dels = sorted(d - base for d, s in del_segs if s in seg_ids)
        if part_dels:
            append_deletes(out_root, part_dels)
        # the source's config over an empty commit
        pman = {k: v for k, v in man.items() if k not in (
            "doc_count", "sum_ttf", "field_stats", "next_docid", "dict",
            "last_batch_id")}
        _list_segments(pman, [s - seg_off for s in seg_ids])
        pman.update(split_from=os.path.basename(os.path.normpath(src_root)),
                    updated_wall=round(time.time(), 3))
        _derive_tables(SegmentIndex(out_root, spark), pman,
                       pman["segments"])
        _commit_manifest(out_root, pman)
        outs.append(pman)
    return outs


def append_deletes(root: str, docids) -> int:
    """Append tombstone docids (driver-side pyarrow write — tombstone
    batches are small relative to the index; compaction empties them)."""
    return _write_deletes(root, docids, f"part-{uuid.uuid4().hex}.parquet")


def _replace_deletes(root: str, docids) -> None:
    """Replace the tombstone set by ``docids``: the new file is written
    before the old ones go, so no reader sees a deleted doc come back."""
    d = os.path.join(root, "deletes")
    old = [os.path.join(d, n) for n in os.listdir(d)]
    append_deletes(root, docids)
    for p in old:
        os.remove(p)


def _write_deletes(root: str, docids, name: str) -> int:
    """Tombstone docids as ``deletes/<name>``, replacing what an earlier
    write under that name left (a retried addIndexes fold)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = sorted({int(d) for d in docids})
    path = os.path.join(root, "deletes", name)
    if os.path.exists(path):
        os.remove(path)
    if not ids:
        return 0
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"docid": pa.array(ids, pa.int64())}), path)
    return len(ids)


def _append_checkpoint(root: str, row: tuple):
    """One checkpoint row (CHECKPOINT_SCHEMA), written with pyarrow
    through a hidden temp name — by the driver, or by the writer task
    that just finished a segment. Layout-compatible with
    spark.read.parquet over the directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = _arrow_schema(CHECKPOINT_SCHEMA)
    table = pa.table({f.name: pa.array([v], type=f.type)
                      for f, v in zip(schema, row)})
    d = os.path.join(root, "checkpoints")
    os.makedirs(d, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    pq.write_table(table, os.path.join(d, f".{name}.tmp"))
    os.replace(os.path.join(d, f".{name}.tmp"), os.path.join(d, name))


def build_segment_index(
    corpus: DataFrame,
    out_root: str,
    stop_words: frozenset[str] | None = ENGLISH_STOP_WORDS,
    max_token_length: int = 255,
    docs_per_segment: int = 4096,
    resume: bool = False,
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

    ``resume=True`` continues a killed build: the spill and docmap are
    reused when complete, segments with a ``blocks`` checkpoint row
    are kept, every other segment is rebuilt."""
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
        # 'blocks' checkpoint rows would otherwise mark segments done
        # whose data was just deleted, silently truncating a later
        # resume of this build
        for sub in ("blocks", "checkpoints", "dict"):
            p = os.path.join(out_root, sub)
            if os.path.exists(p):
                shutil.rmtree(p)

    # ---- stage 0: docids + JVM analysis, spilled to Parquet -----------
    # The corpus content is read ONCE: docids attach via the range
    # exchange, tokenization runs JVM-side on top (analysis/jvm.py), and
    # the analyzed frame is SPILLED TO PARQUET by segment, never cached
    # (a JVM cache of array<string> columns is GC-bound at high task
    # concurrency, and at 100 TB the token stream never fits executor
    # memory). The spill is build-scoped; the docmap projects from it.
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
    # DEFERRED analyze (ONE regexp_extract_all per row): rows needing
    # the Python analyzer keep their content, and their segment's
    # writer task finishes them
    analyzed_plan = analyzed_deferred(
        with_ids, max_token_length=max_token_length)
    for f in extra_fields:
        analyzed_plan = analyzed_deferred(
            analyzed_plan, max_token_length=max_token_length,
            content_col=f"_lss_src_{f}", tokens_col=f"tokens__{f}",
            with_sha=False, py_content_col=f"_lss_py_{f}")
    spill_path = os.path.join(out_root, "analyzed_spill")
    if not (resume and os.path.exists(os.path.join(spill_path, "_SUCCESS"))):
        analyzed_plan.write.mode("overwrite").partitionBy(
            "segment").parquet(spill_path)
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
        _append_checkpoint(out_root,
                           ("docmap", -1, 0, 0, 0, 0, 0, 0,
                            round(time.time() - t0, 3), 0.0))

    n_segments = -(-n_docs_total // docs_per_segment)

    # ---- stage 1: one writer task per segment not yet checkpointed ----
    done: set[int] = set()
    if resume and os.path.exists(os.path.join(out_root, "checkpoints")):
        done = {int(r["chunk"]) for r in idx.checkpoints()
                .where(F.col("stage") == "blocks").collect()}
    pending = [s for s in range(n_segments) if s not in done]
    _write_segments(
        spark, idx.blocks_path, [(s, s) for s in pending],
        _analyzed_segment(spill_path, stop_words, max_token_length,
                          extra_fields),
        checkpoint_root=out_root)

    # ---- stage 2: dictionary + manifest ---------------------------------
    manifest = {
        "format_version": 2,
        "docs_per_segment": docs_per_segment,
        "block_size": codec.BLOCK_SIZE,
        "stop_words": sorted(stop_words),
        "max_token_length": max_token_length,
    }
    if extra_fields:
        manifest["fields"] = list(fields)
    _list_segments(manifest, range(n_segments))
    _derive_tables(idx, manifest, manifest["segments"])
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

    The two tombstone sets are written with Spark (one summary-row
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
        man = _read_manifest(out_root)
        man.update(pk_split_from=os.path.basename(os.path.normpath(src_root)),
                   pk_split_side=tag, updated_wall=round(time.time(), 3))
        # the hardlinked manifest's name is replaced, never its content
        _commit_manifest(out_root, man)
        outs.append(man)
    return tuple(outs)
