"""Per-segment term Bloom filters — segment skipping for rare terms.

Reference: ``lucene/codecs/src/java/org/apache/lucene/codecs/bloom/
BloomFilteringPostingsFormat.java`` — a per-segment/per-field bitset
over the terms (``FuzzySet.java``: hash each term, set k positions)
answering "this segment definitely does NOT contain the term" before
the term dictionary is touched; the javadoc pitches it for
primary-key-style lookups where most segments miss.

Spark mapping: the compressed index's block table is PARTITIONED by
segment, so "don't touch the segment" becomes a driver-side partition
filter — ``candidate_segments`` turns the query's term sets into
``segment IN (...)`` and Spark never lists, opens, or schedules the
excluded partitions. At 10^12 files a rare term lives in a handful of
segments; the bloom turns a scan of every segment partition's footers
into a scan of those few. False positives only ADD segments (they
scan and yield nothing), so results are A/B identical with blooms on
or off — the same contract the reference format has.

Hashing: murmur3 x64 128 (the same public-domain implementation the
MinHash filter uses — FuzzySet also hashes with murmur) with
Kirsch-Mitzenmacher double hashing for the k probe positions —
identical Python arithmetic at build and query time, no JVM/Python
hash-parity trap.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

from ..analysis.minhash import murmur3_x64_128

#: default bitset size per segment (2^17 bits = 16 KiB) and probe count
BLOOM_M = 1 << 17
BLOOM_K = 4


def _positions(term: str, m: int, k: int) -> list[int]:
    h1, h2 = murmur3_x64_128(term.encode("utf-8"))
    return [(h1 + i * h2) % m for i in range(k)]


def build_segment_blooms(index, m: int = BLOOM_M, k: int = BLOOM_K) -> int:
    """One distinct-(segment, term) pass over the block table →
    ``<root>/blooms`` parquet of (segment, bits, m, k). Returns the
    number of segments covered. Build cost is one aggregation per
    segment partition; at 100 TB this rides the index build's own
    segment pass."""
    import pandas as pd

    spark = index.spark
    terms = index.blocks().select("segment", "term").distinct()

    def mk(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # applyInPandas delivers the WHOLE segment group in one call —
        # a streamed/batched variant could emit partial bitsets whose
        # union is correct but whose individual rows are not, and a
        # partial bloom produces FALSE NEGATIVES (wrong pruning)
        bits = np.zeros(m // 8, dtype=np.uint8)
        for t in pdf["term"]:
            for p in _positions(t, m, k):
                bits[p >> 3] |= 1 << (p & 7)
        return pd.DataFrame({
            "segment": [int(pdf["segment"].iloc[0])],
            "bits": [bits.tobytes()],
            "m": [m], "k": [k],
        })

    out = terms.groupBy("segment").applyInPandas(
        mk, "segment int, bits binary, m int, k int")
    path = os.path.join(index.root, "blooms")
    out.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).count()


class SegmentBlooms:
    """Driver-side view of the bloom table (one 16 KiB bitset per
    segment — 10^5 segments is ~1.6 GiB, so at extreme scale shard
    this by segment range; the test-scale loader keeps it simple)."""

    def __init__(self, rows):
        self.filters: dict[int, tuple[np.ndarray, int, int]] = {}
        for r in rows:
            seg = int(r["segment"])
            bits = np.frombuffer(r["bits"], dtype=np.uint8)
            prev = self.filters.get(seg)
            if prev is not None:
                # defensive union: duplicate rows for a segment can
                # only be partial views — OR never false-negatives
                bits = prev[0] | bits
            self.filters[seg] = (bits, int(r["m"]), int(r["k"]))

    @classmethod
    def load(cls, index) -> "SegmentBlooms | None":
        path = os.path.join(index.root, "blooms")
        if not os.path.exists(path):
            return None
        return cls(pq.read_table(path, use_threads=False).to_pylist())

    def maybe_contains(self, segment: int, term: str) -> bool:
        f = self.filters.get(segment)
        if f is None:
            return True  # uncovered segment: never exclude
        bits, m, k = f
        for p in _positions(term, m, k):
            if not (bits[p >> 3] >> (p & 7)) & 1:
                return False
        return True

    def excluded_segments(
        self,
        must_terms: set[str] | frozenset[str],
        should_terms: set[str] | frozenset[str],
    ) -> list[int]:
        """Segments that CANNOT match: some ``must_terms`` member
        definitely absent, or (when a should set is given and no must
        set pins the candidates further) every should term definitely
        absent. Expressed as an exclusion so segments WITHOUT a bloom
        (e.g. ingested after the bloom build) are never pruned —
        uncovered means unknowable, like a segment the reference wrote
        under a non-bloom codec."""
        if not must_terms and not should_terms:
            return []
        out = []
        for seg in self.filters:
            if must_terms:
                # SHOULD clauses beside a MUST only add score — they
                # must not prune (minimum_should_match is handled by
                # the caller passing those terms as must-like)
                if any(not self.maybe_contains(seg, t)
                       for t in must_terms):
                    out.append(seg)
            elif not any(self.maybe_contains(seg, t)
                         for t in should_terms):
                out.append(seg)
        return out
