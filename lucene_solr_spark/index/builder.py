"""Distributed inverted-index build (the write path).

Spark-first reimplementation of Lucene's indexing chain
(index/DefaultIndexingChain.java:385-441, DWPT model
index/DocumentsWriterPerThread.java:230): each input partition plays
the role of a DocumentsWriterPerThread — it tokenizes its documents
and emits fully-aggregated per-(doc,term) posting rows *locally*
(a document lives in exactly one partition, so posting aggregation
needs NO shuffle). Tokenization runs exactly once per document; the
same pass emits one per-doc summary row (dl, norm, sha256) so the
docs table costs no second tokenize.

Shuffle inventory — the whole point at 100 TB:
  1. repartitionByRange by primary key for deterministic global docID
     assignment (Lucene: per-segment sequential IDs; here: global rank
     over (repo,path,commit) — NOT monotonically_increasing_id, which
     is partition-layout dependent, and NOT a global Window, which
     collapses to one partition);
  2. the "segment merge" — one exchange of posting rows into the
     term-bucket layout (SegmentMerger.java:96-177 played by a single
     repartition), salted by docID block so one hot term spreads over
     many tasks/files (skew handling);
  3. a slim docid-keyed join (ndocs rows) assembling the docs table;
  4. tiny aggregations: term dictionary (term → df, ttf — the
     BlockTreeTermsWriter stats role, BlockTreeTermsWriter.java:223-239)
     with map-side partial agg, and one-row collection stats.

Output layout (Parquet here; Iceberg in production — partition columns
become the partition spec, manifest.json becomes snapshot metadata):

  docs/      (docid, repo, path, commit, lang, dl, norm, content_sha256)
  postings/  bucket=NN/ (term, docid, tf, positions, norm) sorted by (term, docid)
  dict/      (term, df, ttf, bucket)
  stats/     single row (doc_count, sum_ttf)
  manifest.json  build config + invariants

Inversion is one kernel for both formats: :func:`invert_tokens`
(StopFilter, factorize, one stable sort → posting runs) feeds this
builder's posting rows and the compressed builder's blocks
(segments.py), as Lucene's indexing chain inverts once for every codec.

Norm bytes are denormalized into posting rows: BM25 scoring needs
(tf, norm) per hit (BM25Similarity.java:223-226), and colocating them
removes a docs-join from every query — 1 logical byte per row.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..analysis import ENGLISH_STOP_WORDS
from ..analysis.jvm import analyzed_deferred, finish_python_rows

PK = ["repo", "path", "commit"]

# kind=0: posting row. kind=1: per-(doc, field) summary (term carries
# sha256 hex on the sha field, tf carries dl, positions null).
SEGMENT_SCHEMA = (
    "field string, term string, docid long, tf int, positions array<int>, "
    "norm int, kind int"
)


def num_term_buckets(default: int = 32) -> int:
    return int(os.environ.get("LSS_TERM_BUCKETS", default))


def term_bucket_expr(col, n_buckets: int):
    """Deterministic term → bucket; crc32 here == zlib.crc32 on the
    query side (verified in tests)."""
    return F.pmod(F.crc32(col.cast("string")), F.lit(n_buckets)).cast("int")


def assign_docids(corpus: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Deterministic global docIDs: rank of (repo,path,commit) in total
    key order.

    Scale path: range-partition by key, sort within partitions, collect
    only the per-partition COUNTS (P longs) to the driver, assign
    docid = cumulative_offset[pid] + local_index via mapInPandas. The
    rank is independent of the sampled range boundaries, so the
    assignment is deterministic for a given input set. Caller is
    responsible for persisting the result if reused.
    """
    spark = corpus.sparkSession
    if num_partitions is None:
        num_partitions = max(spark.sparkContext.defaultParallelism, 1)

    # Entirely JVM-side: the local row index comes from decomposing
    # monotonically_increasing_id (pid * 2^33 + index-in-partition —
    # deterministic here because the partitioning AND the within-
    # partition order are pinned by repartitionByRange + a total
    # per-partition sort on the unique PK). A Python attach stage here
    # would chain a second Python runner into every downstream
    # pandas-UDF task — worker-pool churn that collapsed build scaling
    # at high core counts (round-2 diagnosis).
    sorted_df = (
        corpus.repartitionByRange(num_partitions, *PK)
        .sortWithinPartitions(*PK)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.spark_partition_id())
    )
    sorted_df.persist(StorageLevel.MEMORY_AND_DISK)
    counts = {r["_pid"]: r["cnt"] for r in
              sorted_df.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets: list[tuple[int, int]] = []
    acc = 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")

    result = (
        sorted_df.join(F.broadcast(off_df), "_pid")
        .withColumn(
            "docid",
            F.col("_off")
            + (F.col("_mid") - F.col("_pid").cast("long") * F.lit(1 << 33)),
        )
        .drop("_pid", "_mid", "_off")
    )
    # note: sorted_df stays persisted until result is consumed; caller
    # unpersists via IndexTables lifecycle (build_index handles it).
    result._lss_persisted_parent = sorted_df  # type: ignore[attr-defined]
    return result


def invert_tokens(toks_col, stop_arr):
    """The one inversion kernel of both index formats (Lucene inverts
    once for every codec: DefaultIndexingChain → FreqProxTermsWriter):
    ONE field's gap-shaped token arrays over a doc batch → posting runs.

    numpy StopFilter (position = raw token index, so stopword gaps are
    preserved and dl counts survivors only — FilteringTokenFilter.java:
    47-57) over ``pd.factorize(sort=True)``'s vocabulary, then ONE stable
    sort by term code: tokens arrive in (doc, position) order, so it
    yields the (term, doc, position) stream.

    Returns ``(dls, inv)``: dls = surviving tokens per doc (int64); inv
    is None when no token survives, else ``(uniq, codes, didx, pos,
    starts)`` — the sorted stream's term codes into ``uniq``, doc
    indexes and positions (int32), and the first token of each (term,
    doc) posting run. v1 (:func:`_make_segment_fn`) and v2
    (``segments._invert_segment_field``) encode the runs their own way."""
    ndocs = len(toks_col)
    raw_lens = np.fromiter((len(t) for t in toks_col), dtype=np.int64,
                           count=ndocs)
    total_raw = int(raw_lens.sum())
    if not total_raw:
        return np.zeros(ndocs, dtype=np.int64), None
    flat_raw = np.concatenate([np.asarray(t, dtype=object) for t in toks_col])
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
        codes, tok_didx, flat_pos = (codes_all[keep], doc_of_tok[keep],
                                     pos_raw[keep])
    else:
        codes, tok_didx, flat_pos = codes_all, doc_of_tok, pos_raw
    dls = np.bincount(tok_didx, minlength=ndocs).astype(np.int64)
    if not codes.size:
        return dls, None
    order = np.argsort(codes, kind="stable")
    codes_s = codes[order]
    didx_s = tok_didx[order]
    new_post = np.empty(codes_s.size, dtype=bool)
    new_post[0] = True
    new_post[1:] = (codes_s[1:] != codes_s[:-1]) | (didx_s[1:] != didx_s[:-1])
    return dls, (uniq, codes_s, didx_s, flat_pos[order],
                 np.flatnonzero(new_post))


def _make_segment_fn(stop_words: frozenset[str] = frozenset(),
                     fields: tuple[str, ...] = ("content",),
                     sha_field: str = "content",
                     max_token_length: int = 255):
    """Per-partition DWPT: pre-tokenized doc batch → aggregated posting
    rows (field, term, docid, tf, positions, norm) plus one summary
    row per (doc, present field) carrying dl/norm (sha256 rides the
    ``sha_field`` summary).

    Input rows carry ``tokens_<field>``/``content_sha256`` from
    :func:`..analysis.jvm.analyzed_deferred` (tokenization is
    JVM-side; the rare rows it defers are finished here by
    :func:`..analysis.jvm.finish_python_rows`); the rest of this worker
    is pure vectorized numpy per field: the shared inverter
    (:func:`invert_tokens`) plus v1's own null rule (dl −1) and
    per-posting position lists."""
    stop_arr = np.asarray(sorted(stop_words), dtype=object) if stop_words else None
    passes = [(f"tokens_{f}", f"_lss_py_{f}", f == sha_field) for f in fields]

    def build_segment(batches):
        from ..util.smallfloat import int_to_byte4_np

        for pdf in batches:
            pdf = finish_python_rows(pdf, passes, max_token_length)
            docids = pdf["docid"].to_numpy(dtype=np.int64)
            ndocs = len(pdf)
            shas = pdf["content_sha256"].to_numpy()
            frames = []
            for f in fields:
                toks_col = pdf[f"tokens_{f}"].to_numpy()
                nullcol = f"null_{f}"
                null_mask = (pdf[nullcol].to_numpy(dtype=bool)
                             if nullcol in pdf.columns
                             else np.zeros(ndocs, dtype=bool))
                dls, inv = invert_tokens(toks_col, stop_arr)
                # field absent (null): dl −1 — no norm, excluded from
                # field stats (FieldInfos semantics, FieldInfo.java:31-71)
                dls[null_mask] = -1
                present = dls >= 0
                norms_doc = int_to_byte4_np(np.maximum(dls, 0)).astype(np.int64)
                summary = pd.DataFrame({
                    "field": f,
                    "term": shas[present] if f == sha_field else None,
                    "docid": docids[present],
                    "tf": dls[present],
                    "positions": None,
                    "norm": norms_doc[present],
                    "kind": 1,
                })
                frames.append(summary)
                if inv is not None:
                    uniq, codes, didx, pos, starts = inv
                    post_didx = didx[starts]
                    frames.append(pd.DataFrame({
                        "field": f,
                        "term": uniq[codes[starts]],
                        "docid": docids[post_didx],
                        "tf": np.diff(starts, append=codes.size),
                        "positions": np.split(pos, starts[1:]),
                        "norm": norms_doc[post_didx],
                        "kind": 0,
                    }))
            yield pd.concat(frames, ignore_index=True)

    return build_segment


@dataclass
class IndexTables:
    root: str
    spark: SparkSession

    @property
    def postings_path(self):
        return os.path.join(self.root, "postings")

    @property
    def docs_path(self):
        return os.path.join(self.root, "docs")

    @property
    def dict_path(self):
        return os.path.join(self.root, "dict")

    @property
    def stats_path(self):
        return os.path.join(self.root, "stats")

    @property
    def manifest_path(self):
        return os.path.join(self.root, "manifest.json")

    def postings(self) -> DataFrame:
        return self.spark.read.parquet(self.postings_path)

    def docs(self) -> DataFrame:
        return self.spark.read.parquet(self.docs_path)

    def dict(self) -> DataFrame:
        return self.spark.read.parquet(self.dict_path)

    def field_docs(self) -> DataFrame | None:
        """(field, docid, dl, norm) for every present (doc, field) —
        the per-field norms table; None on single-field indexes (the
        docs table covers the content field)."""
        p = os.path.join(self.root, "field_docs")
        return self.spark.read.parquet(p) if os.path.exists(p) else None

    def stats(self) -> dict:
        """{field: {doc_count, sum_ttf}} (collection statistics per
        field, BlockTreeTermsWriter.java:223-239 role)."""
        rows = self.spark.read.parquet(self.stats_path).collect()
        if rows and "field" in rows[0].asDict():
            return {r["field"]: {"doc_count": int(r["doc_count"]),
                                 "sum_ttf": int(r["sum_ttf"] or 0)}
                    for r in rows}
        r = rows[0].asDict()
        return {"content": {"doc_count": int(r["doc_count"]),
                            "sum_ttf": int(r["sum_ttf"] or 0)}}

    def manifest(self) -> dict:
        with open(self.manifest_path) as f:
            return json.load(f)


def _analyzer_tokens_udf(analyzer):
    """Custom-analyzer front end for the build path: ``analyze(text)``
    → a gap-shaped ``array<string>`` where array index = Lucene
    position and removed tokens (stop gaps) leave ``""`` holes — the
    exact contract :func:`invert_tokens` consumes (position = raw
    index, ``""`` stop-filtered). Analyzers that STACK tokens at one
    position (synonym/WDGF graphs) can't be flattened to this layout
    and are rejected."""
    from pyspark.sql.types import ArrayType, StringType

    @F.pandas_udf(ArrayType(StringType()))
    def analyze_col(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            terms, positions = analyzer.analyze(t)
            if not terms:
                out.append([])
                continue
            arr = [""] * (positions[-1] + 1)
            prev = -1
            for w, p in zip(terms, positions):
                if p <= prev:
                    raise ValueError(
                        "custom analyzers with stacked positions are not "
                        "supported on the array-position build path")
                arr[p] = w
                prev = p
            out.append(arr)
        return pd.Series(out)

    return analyze_col


def build_index(
    corpus: DataFrame,
    out_root: str,
    stop_words: frozenset[str] | None = ENGLISH_STOP_WORDS,
    max_token_length: int = 255,
    n_buckets: int | None = None,
    build_partitions: int | None = None,
    fields: tuple[str, ...] = ("content",),
    analyzer=None,
) -> IndexTables:
    """Full index build. See module docstring for the plan & shuffles.

    ``fields`` lists the analyzed text columns; each becomes a
    per-field postings/dict/stats dimension (FieldInfos role,
    index/FieldInfo.java:31-71). The first field containing "content"
    (or fields[0]) carries the per-row sha256 invariant.

    ``analyzer`` swaps the whole analysis chain (the §2.12 custom
    Analyzer extension point, analysis/Analyzer.java role): any object
    with ``analyze(text) -> (terms, positions)`` — StandardAnalyzer,
    CustomAnalyzer chains, CJKAnalyzer — runs as one Arrow-batched UDF
    per field instead of the default JVM-expression tokenizer; the
    analyzer is responsible for its own stopword handling (position
    gaps survive into phrase positions). A dict ``{field: analyzer}``
    assigns per-field chains (the Solr schema fieldType model —
    PerFieldAnalyzerWrapper.java role); fields absent from the dict
    use StandardAnalyzer(stop_words). Default ``None`` keeps the fast
    JVM path + ``stop_words``.
    """
    spark = corpus.sparkSession
    t0 = time.time()
    if n_buckets is None:
        n_buckets = num_term_buckets()
    stop_words = stop_words or frozenset()
    sha_field = "content" if "content" in fields else fields[0]
    os.makedirs(out_root, exist_ok=True)

    base = assign_docids(corpus, build_partitions)
    parent = getattr(base, "_lss_persisted_parent", None)
    if analyzer is not None:
        # pluggable-analyzer path: gap-shaped tokens from the analyzer,
        # sha256 stays a JVM expression (per-row invariant)
        from ..analysis import StandardAnalyzer

        if isinstance(analyzer, dict):
            default_an = StandardAnalyzer(stop_words=stop_words,
                                          max_token_length=max_token_length)
            per_field = {f: analyzer.get(f, default_an) for f in fields}
        else:
            per_field = {f: analyzer for f in fields}
        analyzed = base
        udfs = {id(a): _analyzer_tokens_udf(a) for a in per_field.values()}
        for f in fields:
            analyzed = analyzed.withColumn(f"null_{f}", F.col(f).isNull())
            analyzed = analyzed.withColumn(
                f"tokens_{f}", udfs[id(per_field[f])](F.col(f)))
        analyzed = analyzed.withColumn(
            "content_sha256",
            F.sha2(F.coalesce(F.col(sha_field), F.lit("")), 256))
        segment_stops: frozenset[str] = frozenset({""})
    else:
        # deferred analyze per field (ONE regex eval per row per field;
        # see analysis/jvm.py); the segment fn finishes the (rare)
        # Python-analyzer rows
        analyzed = base
        for f in fields:
            analyzed = analyzed.withColumn(f"null_{f}", F.col(f).isNull())
            analyzed = analyzed_deferred(
                analyzed, max_token_length=max_token_length, content_col=f,
                tokens_col=f"tokens_{f}", with_sha=(f == sha_field),
                py_content_col=f"_lss_py_{f}")
        segment_stops = stop_words

    analyzed.persist(StorageLevel.MEMORY_AND_DISK)
    segments = analyzed.mapInPandas(
        _make_segment_fn(segment_stops, fields, sha_field, max_token_length),
        schema=SEGMENT_SCHEMA)
    segments.persist(StorageLevel.MEMORY_AND_DISK)

    # --- postings: merge to term-bucket layout --------------------------
    merged = (
        segments.where(F.col("kind") == 0)
        .drop("kind")
        .withColumn("bucket", term_bucket_expr(F.col("term"), n_buckets))
        .withColumn("_salt", F.pmod(F.col("docid"), F.lit(8)).cast("int"))
        .repartition(F.col("bucket"), F.col("_salt"))
        .drop("_salt")
        .sortWithinPartitions("term", "field", "docid")
    )
    merged.write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(out_root, "postings")
    )

    # --- docs table (sha-field summaries ⋈ slim metadata) ---------------
    summaries = segments.where(F.col("kind") == 1)
    doc_rows = (
        summaries.where(F.col("field") == sha_field)
        .select(F.col("docid"), F.col("tf").alias("dl"), F.col("norm"),
                F.col("term").alias("content_sha256"))
    )
    # LEFT join from the full metadata frame: a doc whose sha field is
    # absent/NULL has no sha-field summary row, but it is still a live
    # doc (indexed under its other fields) — MatchAllDocsQuery matches
    # every doc regardless of field presence, so it gets a docs row
    # with dl=0/norm=0 and the sha256 of the empty string
    _EMPTY_SHA = ("e3b0c44298fc1c149afbf4c8996fb9"
                  "2427ae41e4649b934ca495991b7852b855")
    meta = analyzed.select("docid", *PK, "lang")
    docs = meta.join(doc_rows, "docid", "left").select(
        "docid", *PK, "lang",
        F.coalesce(F.col("dl"), F.lit(0)).alias("dl"),
        F.coalesce(F.col("norm"), F.lit(0)).alias("norm"),
        F.coalesce(F.col("content_sha256"), F.lit(_EMPTY_SHA))
        .alias("content_sha256"),
    )
    docs.write.mode("overwrite").parquet(os.path.join(out_root, "docs"))

    # --- per-field doc table (norms/docvalues role; FieldExists) --------
    if len(fields) > 1:
        summaries.select("field", "docid", F.col("tf").alias("dl"),
                         "norm").write.mode("overwrite").partitionBy(
            "field").parquet(os.path.join(out_root, "field_docs"))

    tables = IndexTables(out_root, spark)

    # --- dictionary + collection stats ----------------------------------
    postings = tables.postings()
    dict_df = postings.groupBy("field", "term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("ttf"),
        F.first("bucket").alias("bucket"),
    )
    dict_df.write.mode("overwrite").parquet(os.path.join(out_root, "dict"))

    # per-field collection stats: docCount = docs WITH the field,
    # sumTotalTermFreq = Σ dl over those docs (BM25Similarity.java:79)
    field_stats = {
        r["field"]: {"doc_count": int(r["doc_count"]),
                     "sum_ttf": int(r["sum_ttf"] or 0)}
        for r in summaries.groupBy("field").agg(
            F.count("*").alias("doc_count"),
            F.sum("tf").alias("sum_ttf")).collect()
    }
    cs = field_stats.get(sha_field, {"doc_count": 0, "sum_ttf": 0})
    spark.createDataFrame(
        [(f, s["doc_count"], s["sum_ttf"]) for f, s in sorted(field_stats.items())],
        "field string, doc_count long, sum_ttf long",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(out_root, "stats"))

    manifest = {
        "format_version": 1,
        "fields": list(fields),
        "sha_field": sha_field,
        "doc_count": cs["doc_count"],
        "sum_ttf": cs["sum_ttf"],
        "field_stats": field_stats,
        "n_buckets": n_buckets,
        "stop_words": sorted(stop_words),
        "max_token_length": max_token_length,
        "build_wall_sec": round(time.time() - t0, 3),
    }
    with open(os.path.join(out_root, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)

    segments.unpersist()
    analyzed.unpersist()
    if parent is not None:
        parent.unpersist()
    return tables
