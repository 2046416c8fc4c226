"""Near-real-time incremental indexing (Structured Streaming).

Reference model: Lucene NRT — new documents accumulate in DWPTs, a
soft-commit flushes them as new *segments* that become searchable on
reopen, and background tiered merges fold small segments together
(search/SearcherManager.java, index/ConcurrentMergeScheduler.java,
index/TieredMergePolicy.java:97-101; Solr's transaction-log topic pull
solr/core/.../update/UpdateLog.java, io/stream/TopicStream.java).

Spark-first rendering:
  * `readStream` over the corpus source; every micro-batch is one
    "flush": `foreachBatch` assigns the batch contiguous docids
    starting at the manifest's `next_docid` (arrival order — exactly
    Lucene's sequential docID assignment) and writes its new segments
    through the SAME segment writer as the batch build
    (index/segments.py `_write_segments`, one task per segment).
  * the checkpointLocation is the transaction log: restart resumes
    the stream exactly-once, so no docid is assigned twice.
  * `compact_segments` is the TieredMergePolicy analogue: the docs of
    segments smaller than `docs_per_segment/2` are flushed again as
    full segments under fresh ids (a SegmentMerger.java:96-177 merge —
    docids are global, so merging is a re-bucket + re-encode with NO
    remapping), and the manifest commit swaps them for the segments
    they replace.
  * searchers (`SegmentSearcher`) see each commit atomically on
    re-open — the Iceberg-snapshot role: every write adds segment
    files under fresh ids and changes the live set only in the
    manifest commit, so a searcher opened before it keeps its view.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..analysis import ENGLISH_STOP_WORDS
from ..index import codec
from ..index.builder import PK
from ..index.segments import (
    SegmentIndex,
    _commit_manifest,
    _derive_tables,
    _flush_segments,
    _list_segments,
    _next_docid,
    _read_manifest,
    _replace_deletes,
    append_deletes,
)


class IncrementalIndexer:
    """foreachBatch sink maintaining a SegmentIndex under `root`."""

    def __init__(self, root: str,
                 stop_words: frozenset[str] | None = ENGLISH_STOP_WORDS,
                 max_token_length: int = 255,
                 docs_per_segment: int = 4096):
        self.root = root
        self.stop_words = stop_words or frozenset()
        self.max_token_length = max_token_length
        self.docs_per_segment = docs_per_segment
        os.makedirs(root, exist_ok=True)

    # -- state ----------------------------------------------------------
    def _load_state(self) -> dict:
        if os.path.exists(os.path.join(self.root, "manifest.json")):
            return _read_manifest(self.root)
        return {"format_version": 2, "doc_count": 0, "sum_ttf": 0,
                "next_docid": 0, "segments": [], "next_segment": 0,
                "n_segments": 0, "docs_per_segment": self.docs_per_segment,
                "block_size": codec.BLOCK_SIZE,
                "stop_words": sorted(self.stop_words),
                "max_token_length": self.max_token_length,
                "streaming": True}

    # -- the flush (one micro-batch = one soft commit) -------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """One micro-batch = one segment flush. Idempotent under
        foreachBatch's at-least-once contract: already-committed batch
        ids (recorded in the manifest at refresh time) are skipped. Its
        docids (from ``next_docid``) and segment ids (from
        ``next_segment``) are the batch's alone, so the segment writer
        puts its files straight into ``blocks/`` under fixed names: a
        retried batch replaces them instead of appending rows. The
        commit, :func:`..index.segments._derive_tables` over the new
        segments (O(batch + vocabulary)) plus the manifest write, adds to
        the committed manifest the batch was numbered from, and records
        ``last_batch_id`` in the same atomic write: a retried
        half-applied batch never counts twice. Tombstoned docs keep
        counting until compaction (Lucene docCount-vs-liveDocs)."""
        spark = batch_df.sparkSession
        state = self._load_state()
        if batch_id <= int(state.get("last_batch_id", -1)):
            return  # retry of a committed batch (at-least-once replay)
        base_docid = _next_docid(SegmentIndex(self.root, spark), state)
        base_segment = int(state["next_segment"])
        dps = int(state["docs_per_segment"])

        rows = batch_df.select(*PK, "lang", "content")
        n = rows.count()
        if n == 0:
            return
        # deterministic within-batch docids: rank by PK (arrival batch
        # defines the coarse order, PK the fine order — Lucene assigns
        # by arrival too). Batches are small (one flush): a single-
        # partition sort is the DWPT's in-memory sort, but we keep it
        # distributed via range partitioning.
        from ..index.builder import assign_docids

        base = assign_docids(rows)
        # capture the persisted parent NOW: DataFrame transformations do
        # not propagate Python attributes, so reading it off with_ids
        # later would leak one cached corpus copy per micro-batch
        parent = getattr(base, "_lss_persisted_parent", None)
        with_ids = base.withColumn(
            "docid", F.col("docid") + F.lit(base_docid))
        with_ids = with_ids.withColumn(
            "segment",
            (F.col("docid") / dps).cast("int") + F.lit(
                # new segments never share ids with existing ones
                base_segment - base_docid // dps),
        )
        new = _flush_segments(with_ids, self.root, self.stop_words,
                              self.max_token_length)
        _list_segments(state, state["segments"] + new)
        state.update(last_batch_id=int(batch_id),
                     updated_wall=round(time.time(), 3))
        _derive_tables(SegmentIndex(self.root, spark), state, new)
        _commit_manifest(self.root, state)
        if parent is not None:
            parent.unpersist()

    # -- updates / deletes ----------------------------------------------
    def delete_by_key(self, spark, keys_df: DataFrame,
                      key_cols: tuple[str, ...] = ("repo", "path")) -> int:
        """Tombstone every indexed doc whose key matches a row of
        ``keys_df`` (delete-by-term, index/DocumentsWriter.java:476-494
        semantics): resolve docids from the docmap, append to the
        tombstone table. Deleted docs stop matching immediately
        (liveDocs anti-join/mask in both searchers); their postings are
        physically dropped at the next compaction. Only committed
        segments resolve: the docmap lists the manifest's."""
        idx = SegmentIndex(self.root, spark)
        if not os.path.exists(idx.docmap_path):
            return 0
        hits = (idx.docmap()
                .join(keys_df.select(*key_cols).distinct(),
                      list(key_cols), "left_semi")
                .select("docid").collect())
        return append_deletes(self.root, [r["docid"] for r in hits])

    def delete_by_query(self, spark, predicate: str) -> int:
        """deleteByQuery over the stored-fields surface (Solr
        delete-by-query / DocExpirationUpdateProcessorFactory.java's
        periodic ``deleteByQuery(ttl_field:[* TO NOW])`` sweep): every
        live doc whose docs-table row satisfies ``predicate`` (a SQL
        boolean expression over docid/repo/path/commit/lang/dl) is
        tombstoned. One filtered scan; postings drop at compaction."""
        idx = SegmentIndex(self.root, spark)
        if not os.path.exists(os.path.join(self.root, "manifest.json")):
            return 0
        hits = idx.docs().where(F.expr(predicate)).select("docid")
        dels = idx.deletes()
        if dels is not None:
            hits = hits.join(dels, "docid", "left_anti")
        return append_deletes(self.root,
                              [r["docid"] for r in hits.collect()])

    def add_batch_dedup(self, batch_df: DataFrame, batch_id: int,
                        key_cols: tuple[str, ...] = ("repo", "path"),
                        ) -> None:
        """SignatureUpdateProcessorFactory (exact signature dedup at
        index time, solr/core/.../processor/
        SignatureUpdateProcessorFactory.java + MD5Signature): drop
        incoming docs whose content signature already exists in the
        index, and collapse in-batch duplicates to one row (first by
        ``key_cols`` — deterministic, the overwriteDupes=false "leave
        the existing doc" mode). Signature = sha256(content), the
        docs table's per-row invariant column, so the against-index
        check is ONE anti-join on an indexed column — the index-time
        rendering of the pipeline's exact-dedup op."""
        from pyspark.sql.window import Window

        sig = F.sha2(F.col("content"), 256)
        rows = batch_df.withColumn("_sig", sig)
        w = Window.partitionBy("_sig").orderBy(*key_cols)
        rows = (rows.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1).drop("_rn"))
        if os.path.exists(os.path.join(self.root, "manifest.json")):
            idx = SegmentIndex(self.root, batch_df.sparkSession)
            existing = idx.docs().select(
                F.col("content_sha256").alias("_sig"))
            dels = idx.deletes()
            if dels is not None:
                existing = (idx.docs().join(dels, "docid", "left_anti")
                            .select(F.col("content_sha256").alias("_sig")))
            rows = rows.join(existing, "_sig", "left_anti")
        self.process_batch(rows.drop("_sig"), batch_id)

    def upsert_batch(self, batch_df: DataFrame, batch_id: int,
                     key_cols: tuple[str, ...] = ("repo", "path")) -> None:
        """updateDocument = delete-by-term + add
        (index/DocumentsWriter.java:476-494; Solr NRT re-ingest / the
        `MERGE INTO` role keyed on ``key_cols``): tombstone any older
        version of each incoming doc, then flush the batch as new
        segments with fresh docids. Idempotent like process_batch —
        a committed batch_id is skipped entirely, and a retry of a
        half-applied batch (crash after its segment and docmap files
        were written, before the manifest commit) never tombstones the
        batch's own rows: tombstones resolve through the docmap of the
        committed segments only."""
        state = self._load_state()
        if batch_id <= int(state.get("last_batch_id", -1)):
            return
        self.delete_by_key(batch_df.sparkSession, batch_df, key_cols)
        self.process_batch(batch_df, batch_id)

    def atomic_update(self, spark, ops_df: DataFrame, batch_id: int,
                      ops: dict[str, str],
                      key_cols: tuple[str, ...] = ("repo", "path"),
                      ) -> int:
        """Solr atomic updates: partial-document field operations
        merged against the LATEST stored version, then re-ingested as
        an update (AtomicUpdateDocumentMerger.merge,
        solr/core/src/java/org/apache/solr/update/processor/
        AtomicUpdateDocumentMerger.java:91-130 — op dispatch
        set/add/remove/inc at :100-116, doSet/doAdd/doInc/doRemove at
        :315-399; like Solr, requires the fields to be stored — here
        the docmap is the stored-fields table).

        ``ops_df`` carries ``key_cols`` plus one operand column per
        updated field; ``ops`` maps field → one of:

        * ``set`` — replace with the operand (doSet),
        * ``inc`` — numeric increment (doInc),
        * ``add`` — append to an array field (doAdd),
        * ``remove`` — drop matching values from an array field
          (doRemove).

        Keys not currently live are skipped (counted in the return) —
        an atomic op against a missing doc has nothing to merge.
        Returns the number of docs updated. The merge is one broadcast
        point-lookup join (realtime_get) + a per-field Catalyst
        projection; the re-ingest is the ordinary upsert path
        (tombstone + new segment), so concurrency/idempotence
        guarantees are inherited from upsert_batch."""
        # fetch everything the re-ingest needs: the full PK (docmap
        # keys can be a subset of it, e.g. repo+path vs repo+path+
        # commit), the stored fields, and every op target
        current = self.realtime_get(
            spark, ops_df, key_cols,
            fields=tuple(dict.fromkeys(
                [*(c for c in PK if c not in key_cols),
                 "lang", "content", *ops])))
        operands = ops_df.select(
            *key_cols, *[F.col(f).alias(f"_op_{f}") for f in ops])
        base = current.drop("docid").join(operands, list(key_cols))
        base.persist()
        n_hit = base.count()
        merged = base
        for f, op in ops.items():
            cur, new = F.col(f), F.col(f"_op_{f}")
            if op == "set":
                val = new
            elif op == "inc":
                val = (F.coalesce(cur.cast("double"), F.lit(0.0))
                       + new.cast("double"))
            elif op == "add":
                val = F.concat(F.coalesce(cur, F.array()),
                               F.array(new))
            elif op == "remove":
                val = F.array_remove(F.coalesce(cur, F.array()), new)
            else:
                raise ValueError(f"unknown atomic op {op!r} for {f!r}")
            merged = merged.withColumn(f, val)
        merged = merged.drop(*[f"_op_{f}" for f in ops])
        try:
            if n_hit:
                self.upsert_batch(merged, batch_id, key_cols)
        finally:
            base.unpersist()
        # Solr raises on atomic ops against missing docs (no base to
        # merge); callers see the miss as n_hit < len(requested keys)
        return n_hit

    def realtime_get(self, spark, keys_df: DataFrame,
                     key_cols: tuple[str, ...] = ("repo", "path"),
                     fields: tuple[str, ...] = ("lang", "content"),
                     ) -> DataFrame:
        """RealTimeGetComponent (solr/core/src/java/org/apache/solr/
        handler/component/RealTimeGetComponent.java role): fetch the
        LATEST version of each requested key, reflecting every applied
        update — upserts and deletes included — without waiting for a
        compaction ('commit'). Resolution order mirrors the
        reference's ulog-then-index lookup: the docmap holds every
        ingested version (newer versions have higher docids, Lucene
        arrival order), tombstoned docids are masked, and the max
        surviving docid per key wins. Returns (key_cols..., docid,
        fields...); keys never indexed or fully deleted yield no row.

        Plan: keys are a point-lookup set — broadcast semi-join into
        the docmap scan; the per-key max is a window over the matched
        rows only."""
        idx = SegmentIndex(self.root, spark)
        if not os.path.exists(idx.docmap_path):
            return spark.createDataFrame(
                [], ", ".join(f"{c} string" for c in key_cols)
                + ", docid long")
        dm = idx.docmap()
        sel = [*key_cols, "docid"] + [f for f in fields
                                      if f in dm.columns]
        hits = dm.select(*sel).join(
            F.broadcast(keys_df.select(*key_cols).distinct()),
            list(key_cols), "left_semi")
        dels = idx.deletes()
        if dels is not None:
            hits = hits.join(dels, "docid", "left_anti")
        w = Window.partitionBy(*key_cols).orderBy(F.desc("docid"))
        return (hits.withColumn("_r", F.row_number().over(w))
                .where(F.col("_r") == 1).drop("_r"))

    # -- stream wiring ---------------------------------------------------
    def start(self, stream_df: DataFrame, checkpoint: str, trigger: dict | None = None):
        """Attach to a streaming DataFrame of corpus rows. `trigger`
        e.g. {"availableNow": True} for drain-and-stop, or
        {"processingTime": "30 seconds"} for continuous NRT."""
        w = stream_df.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint)
        if trigger:
            w = w.trigger(**trigger)
        return w.start()


def tiered_merge_plan(seg_sizes: dict[int, int],
                      segs_per_tier: int = 10,
                      max_merged_docs: int | None = None,
                      floor_docs: int = 1) -> list[list[int]]:
    """TieredMergePolicy.findMerges (index/TieredMergePolicy.java) over
    segment DOC counts (our size unit; Lucene's is bytes).

    Faithful shape: (1) the allowed segment budget comes from the tier
    geometry — segsPerTier segments per level, level size growing by
    the merge factor (== segsPerTier; TieredMergePolicy.java:386-403
    allowedSegCount loop, floored at `floor_docs` like floorSegmentMB);
    (2) while over budget, candidate merges are windows of up to
    segsPerTier consecutive segments in size-descending order, capped
    at `max_merged_docs` (maxMergedSegmentMB role), scored by
    skew * totAfterMerge^0.05 (java:519-547 score()) and the
    LOWEST-scoring window merges first (smaller + more uniform wins).

    Returns groups of segment ids to merge (possibly several)."""
    import math

    if not seg_sizes:
        return []
    sizes = sorted(seg_sizes.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(n for _, n in sizes)
    # allowed segment budget from tier geometry
    allowed, remaining, level = 0, total, max(floor_docs, 1)
    while True:
        count_at_level = remaining / level
        if count_at_level < segs_per_tier:
            allowed += math.ceil(count_at_level)
            break
        allowed += segs_per_tier
        remaining -= segs_per_tier * level
        level *= segs_per_tier
    plan: list[list[int]] = []
    pool = sizes
    while len(pool) > max(allowed, 1):
        best, best_score = None, None
        for lo in range(len(pool)):
            group, tot = [], 0
            for seg, n in pool[lo:lo + segs_per_tier]:
                if max_merged_docs and tot + n > max_merged_docs and group:
                    break
                group.append((seg, n))
                tot += n
            if len(group) < 2:
                continue
            skew = group[0][1] / tot  # windows are size-desc: [0] is max
            score = skew * (tot ** 0.05)
            if best_score is None or score < best_score:
                best, best_score = group, score
        if best is None:
            break
        merged_ids = [s for s, _ in best]
        plan.append(sorted(merged_ids))
        chosen = set(merged_ids)
        pool = [(s, n) for s, n in pool if s not in chosen]
        # the merged result occupies one slot in the budget accounting
        pool.append((-len(plan), sum(n for _, n in best)))
        pool.sort(key=lambda kv: (-kv[1], kv[0]))
    # drop placeholder ids (negative) from any later group — they are
    # results of this very plan, not real segments
    return [[s for s in g if s >= 0] for g in plan if any(s >= 0 for s in g)]


def compact_segments(idx: SegmentIndex, min_fill: float = 0.5,
                     apply_deletes: bool = True,
                     policy: str = "min_fill",
                     segs_per_tier: int = 10) -> int:
    """Tiered-merge analogue: re-encode underfull segments into full
    ones (TieredMergePolicy.java:97-101 role). docids are global, so a
    merge packs the merged docs by docid into the fewest segments and
    re-encodes them through the flush step under fresh segment ids — no
    docID remapping (SegmentMerger.java:96-177 remaps only because
    Lucene docids are per-segment) — then
    :func:`..index.segments._derive_tables` applies the diff (the new
    segments' rows in, the replaced ones' out; no other segment is
    read) and the commit lists the new segments in place of the
    replaced ones, which stay on disk through the next commit: a
    searcher opened before keeps its view, a killed compaction changes
    nothing, no Bloom filter of a retired id covers a fresh one.
    Tombstoned docs in the merged segments are dropped (deletes applied
    at merge, FreqProxTermsWriter applyDeletes role), their tombstones
    retired after the commit and their docids never handed out again
    (``next_docid``). Returns the segment count after compaction."""
    m = idx.manifest()
    dps = int(m["docs_per_segment"])
    seg_sizes = {
        int(r["segment"]): int(r["n"])
        for r in idx.summaries().groupBy("segment").agg(
            F.count("*").alias("n")).collect()
    }
    deletes = idx.deletes() if apply_deletes else None
    if policy == "tiered":
        # budget + skew-scored windows (TieredMergePolicy.findMerges);
        # all planned groups rewrite together — the docid//dps re-key
        # merges adjacent ranges, so one rewrite realizes every group
        plan = tiered_merge_plan(seg_sizes, segs_per_tier=segs_per_tier,
                                 max_merged_docs=dps,
                                 floor_docs=max(dps // 50, 1))
        small = sorted({s for g in plan for s in g})
    else:
        small = sorted(s for s, n in seg_sizes.items() if n < dps * min_fill)
    docmap = idx.docmap()
    if deletes is not None:
        # segments holding tombstoned docs must be rewritten too
        del_segs = sorted(
            int(r["segment"]) for r in docmap
            .join(deletes, "docid", "left_semi")
            .select("segment").distinct().collect())
        small = sorted(set(small) | set(del_segs))
    if not small or (len(small) == 1 and deletes is None):
        return len(seg_sizes)

    if "content" not in docmap.columns:
        raise ValueError(
            "compaction needs document content: this index's docmap is "
            "slim (batch build) — re-run build_segment_index with a "
            "larger docs_per_segment instead, or compact from the "
            "source corpus table")
    merged_src = docmap.where(F.col("segment").isin(small))
    applied_del_ids: list[int] = []
    if deletes is not None:
        applied_del_ids = [
            int(r["docid"]) for r in
            merged_src.join(deletes, "docid", "left_semi")
            .select("docid").collect()]
        merged_src = merged_src.join(deletes, "docid", "left_anti")
    # re-key: pack the merged docs into the FEWEST segments, under
    # fresh ids. The global row_number window is safe here: only
    # underfull segments flow through it (bounded rows), not the whole
    # index.
    rank = F.row_number().over(Window.orderBy("docid")) - 1
    w_ids = merged_src.withColumn(
        "segment", (rank / dps).cast("int") + F.lit(int(m["next_segment"])))
    new = _flush_segments(w_ids, idx.root, frozenset(m["stop_words"]),
                          int(m["max_token_length"]))
    _list_segments(m, [s for s in m["segments"] if s not in small] + new)
    m["updated_wall"] = round(time.time(), 3)
    # the refresh: dict + manifest counts move by the segment diff
    # (Lucene: merged segments lose deletions and docCount drops to
    # numDocs); an older manifest's next_docid is read first
    _next_docid(idx, m)
    _derive_tables(idx, m, new, small)
    _commit_manifest(idx.root, m)
    if applied_del_ids:
        _replace_deletes(idx.root, sorted(
            set(idx.deleted_docids().tolist()) - set(applied_del_ids)))
    return m["n_segments"]
