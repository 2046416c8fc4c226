"""Lucene-faithful sloppy-phrase matching.

Reimplements the semantics of SloppyPhraseMatcher
(lucene/core/src/java/org/apache/lucene/search/SloppyPhraseMatcher.java:
119-152 nextMatch, :115-117 sloppyWeight, :216-225 advancePP) and the
scorer's freq accumulation (search/PhraseScorer.java:68-77: float freq
+= 1/(1+matchLength) per match, float32 adds in traversal order), for
phrases whose terms are pairwise distinct (no repeats — the rptGroups
machinery of SloppyPhraseMatcher.java:230-330 is out of scope; Lucene
itself documents order-dependent quirks for repeats in the class
javadoc).

The matcher is a greedy priority-queue traversal over per-term
position lists adjusted by query offset (position - offset), with the
PhraseQueue tie-break (position, then offset, then ord —
search/PhraseQueue.java:30-43):

  * pop the minimum PhrasePosition; matchLength = end - pp.position
    (end = largest adjusted position seen);
  * advance it through its positions while <= the next-smallest,
    shrinking matchLength;
  * when it overtakes, one match is recorded iff matchLength <= slop
    (weight 1f/(1f+matchLength)); repeat until a list exhausts (the
    final window also counts if within slop).

A document matches the sloppy phrase iff the traversal records >= 1
match (PhraseScorer.twoPhaseIterator().matches() calls nextMatch once).

``_phrase_freqs`` is the one phrase-frequency kernel of both engines
(the relational verifier in executor.py and the compressed evaluator in
wand.py): exact alignment counts vectorized over a batch of docs, and
this matcher per doc for slop > 0.
"""

from __future__ import annotations

import heapq

import numpy as np


def sloppy_freq(pos_lists, offsets, slop: int) -> float:
    """float32 sloppy phrase freq for ONE document.

    pos_lists: per query-slot sorted raw position arrays (the term's
    positions in the doc); offsets: query positions per slot (stopword
    gaps allowed). Returns 0.0 when the traversal finds no match
    (doc does not match). Terms must be distinct across slots.
    """
    k = len(pos_lists)
    adj = [np.asarray(p, dtype=np.int64) - int(o) for p, o in zip(pos_lists, offsets)]
    if k == 1:
        return float(np.float32(len(adj[0])))  # degenerate: every position matches
    idx = [0] * k
    # heap entries: (position, offset, ord) — PhraseQueue comparator
    heap = [(int(adj[i][0]), int(offsets[i]), i) for i in range(k)]
    heapq.heapify(heap)
    end = max(e[0] for e in heap)

    one = np.float32(1.0)
    freq = np.float32(0.0)
    matched_any = False
    positioned = True
    while positioned:
        pos, off, i = heapq.heappop(heap)
        match_len = end - pos
        next_pos = heap[0][0]
        while True:
            # advancePP
            idx[i] += 1
            if idx[i] >= len(adj[i]):
                positioned = False
                if match_len <= slop:
                    freq = np.float32(freq + one / np.float32(1 + match_len))
                    matched_any = True
                break
            pos = int(adj[i][idx[i]])
            if pos > end:
                end = pos
            if pos > next_pos:
                heapq.heappush(heap, (pos, int(offsets[i]), i))
                if match_len <= slop:
                    freq = np.float32(freq + one / np.float32(1 + match_len))
                    matched_any = True
                    break  # nextMatch returned true; re-enter from the pq
                pos, off, i = heapq.heappop(heap)
                next_pos = heap[0][0]
                match_len = end - pos
            else:
                ml2 = end - pos
                if ml2 < match_len:
                    match_len = ml2
    return float(freq) if matched_any else 0.0


def _phrase_freqs(pos_lists: list[list[np.ndarray]], offs, slop: int) -> np.ndarray:
    """Phrase frequency per candidate doc. ``pos_lists[i][d]`` = term
    i's positions in doc d (docs aligned across terms; int arrays).

    slop=0 — ExactPhraseMatcher (ExactPhraseMatcher.java:93-126):
    freq = #alignments, vectorized across all docs at once: positions
    are offset-adjusted, flattened with a per-doc stride, and ONE
    intersect1d per term narrows the alignment set.

    slop>0 — SloppyPhraseMatcher (SloppyPhraseMatcher.java:119-152):
    float freq = Σ 1/(1+matchLength), sequential per doc."""
    nd = len(pos_lists[0])
    if slop > 0:
        freqs = np.empty(nd, dtype=np.float64)
        for d in range(nd):
            freqs[d] = sloppy_freq([pos_lists[i][d]
                                    for i in range(len(pos_lists))],
                                   tuple(offs), slop)
        return freqs
    max_off = max(offs)
    flats, lens = [], []
    maxpos = 0
    for pl in pos_lists:
        ln = np.fromiter((a.size for a in pl), dtype=np.int64, count=nd)
        fl = (np.concatenate(pl) if int(ln.sum())
              else np.empty(0, dtype=np.int64))
        if fl.size:
            maxpos = max(maxpos, int(fl.max()))
        flats.append(fl)
        lens.append(ln)
    stride = maxpos + max_off + 2
    cand = None
    for i in range(len(pos_lists)):
        base = np.repeat(np.arange(nd, dtype=np.int64), lens[i]) * stride
        adj = flats[i] - offs[i] + max_off + base
        cand = adj if cand is None else np.intersect1d(
            cand, adj, assume_unique=True)
        if cand.size == 0:
            break
    if cand is None or cand.size == 0:
        return np.zeros(nd, dtype=np.float64)
    return np.bincount(cand // stride, minlength=nd).astype(np.float64)
