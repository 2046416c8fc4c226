"""Phrases on the compressed (codec v2) path: exact + sloppy
PhraseQuery, standalone and as MUST/SHOULD/FILTER/MUST_NOT clauses of a
BooleanQuery, compiled by SegmentSearcher._compile_general and evaluated
by the per-segment leaf (segment_eval_topk) — identity vs a naive
exhaustive evaluator over a synthetic codec-v2 segment (no Spark).

Scoring parity target: the same float32 discipline as the uncompressed
engine's _phrase_verify_fn (weight from summed member idfs,
BM25Similarity.java:172-181; freq per ExactPhraseMatcher.java:93-126 /
SloppyPhraseMatcher.java:119-152)."""

import numpy as np
import pandas as pd
import pytest

from lucene_solr_spark.index import codec
from lucene_solr_spark.search import bm25
from lucene_solr_spark.search.queries import (
    BooleanQuery,
    PhraseQuery,
    TermQuery,
)
from lucene_solr_spark.search.sloppy import sloppy_freq
from lucene_solr_spark.search.wand import (
    SegmentSearcher,
    _phrase_freqs,
    segment_eval_topk,
)
from lucene_solr_spark.util.smallfloat import int_to_byte4

RNG = np.random.default_rng(7)
VOCAB = ["alpha", "beta", "gamma", "delta", "eps"]
N_DOCS = 400  # > BLOCK_SIZE so hot terms span multiple blocks


def _make_docs():
    """Deterministic synthetic docs as token lists; 'alpha beta' occurs
    as a bigram in many docs, with gaps/absences mixed in."""
    docs = []
    for d in range(N_DOCS):
        n = int(RNG.integers(3, 30))
        toks = list(RNG.choice(VOCAB, size=n,
                               p=[0.35, 0.3, 0.2, 0.1, 0.05]))
        docs.append(toks)
    return docs


def _encode_segment(docs, segment=0):
    """Token lists → codec-v2 block rows (pandas), one segment —
    the same wire format index/segments.py emits."""
    post = {}  # term -> {docid: [positions]}
    for d, toks in enumerate(docs):
        for p, t in enumerate(toks):
            post.setdefault(t, {}).setdefault(d, []).append(p)
    norm_byte = {d: int_to_byte4(len(toks)) for d, toks in enumerate(docs)}
    rows = []
    B = codec.BLOCK_SIZE
    for term, by_doc in post.items():
        docids = np.array(sorted(by_doc), dtype=np.int64)
        for ord_, s in enumerate(range(0, docids.size, B)):
            blk = docids[s:s + B]
            tfs = np.array([len(by_doc[d]) for d in blk], dtype=np.int64)
            norms = np.array([norm_byte[d] for d in blk], dtype=np.uint8)
            ddelta = np.diff(blk, prepend=blk[0]).astype(np.uint64)
            ddelta[0] = 0
            rows.append({
                "segment": segment, "term": term, "block_ord": ord_,
                "n": blk.size,
                "first_docid": int(blk[0]), "last_docid": int(blk[-1]),
                "docids": codec.encode_seq(ddelta),
                "tfs": codec.encode_seq(tfs.astype(np.uint64)),
                "norms": norms.tobytes(),
                "positions": codec.encode_positions(
                    [np.array(by_doc[d], dtype=np.int64) for d in blk]),
            })
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def seg():
    docs = _make_docs()
    blocks = _encode_segment(docs)
    doc_count = len(docs)
    sum_ttf = sum(len(t) for t in docs)
    scorer = bm25.BM25Scorer(doc_count, sum_ttf)
    df = {t: sum(1 for d in docs if t in d) for t in VOCAB}
    return docs, blocks, scorer, df


def _phrase_weight(scorer, df, terms, boost=1.0):
    idfs = [scorer.idf(df[t]) for t in terms]
    return float(scorer.weight_from_idf_sum(
        np.float32(np.sum(np.asarray(idfs, dtype=np.float64))), boost))


def _naive(docs, scorer, df, term_weights=(), phrase_specs=(),
           must=(), filters=(), excludes=(), need=0, k=10):
    """Exhaustive per-doc evaluation with the engine's float32
    discipline; phrase freq via raw position matching."""
    out_d, out_s = [], []
    for d, toks in enumerate(docs):
        pos = {}
        for p, t in enumerate(toks):
            pos.setdefault(t, []).append(p)
        parts = []
        n_should = 0
        ok = True
        for t, w in term_weights:
            tf = len(pos.get(t, ()))
            if tf:
                parts.append(bm25.score_terms(
                    np.array([tf]), np.array([int_to_byte4(len(toks))]),
                    np.float32(w), scorer.cache)[0])
                if t not in must:
                    n_should += 1
            elif t in must:
                ok = False
        for terms_p, offs, slop, w, occ in phrase_specs:
            pls = [np.array(pos.get(t, []), dtype=np.int64)
                   for t in terms_p]
            if any(a.size == 0 for a in pls):
                freq = 0.0
            elif slop == 0:
                freq = 0.0
                base = pls[0] - offs[0]
                for start in base:
                    if all((start + offs[i]) in set(pls[i].tolist())
                           for i in range(len(terms_p))):
                        freq += 1
            else:
                freq = float(sloppy_freq(pls, tuple(offs), slop))
            matched = freq > 0
            if occ == "MUST_NOT":
                if matched:
                    ok = False
                continue
            if matched and occ in ("MUST", "SHOULD"):
                parts.append(bm25.score_terms(
                    np.array([freq]), np.array([int_to_byte4(len(toks))]),
                    np.float32(w), scorer.cache)[0])
                if occ == "SHOULD":
                    n_should += 1
            if occ in ("MUST", "FILTER") and not matched:
                ok = False
        for t in filters:
            if not pos.get(t):
                ok = False
        for t in excludes:
            if pos.get(t):
                ok = False
        if not ok or (need and n_should < need) or not parts:
            continue
        score = np.float32(np.sum(np.asarray(parts, dtype=np.float64)))
        out_d.append(d)
        out_s.append(score)
    order = sorted(range(len(out_d)),
                   key=lambda i: (-float(out_s[i]), out_d[i]))[:k]
    return ([out_d[i] for i in order],
            [np.float32(out_s[i]) for i in order])


def _compile(scorer, df, q):
    """The driver's compile step over the synthetic segment's stats."""
    searcher = SegmentSearcher.__new__(SegmentSearcher)
    searcher.scorers = {"content": scorer}
    return searcher._compile_general(q, 1.0, df)


def _run(seg, *queries, k=10):
    """Compile ``queries`` and evaluate them as ONE batch through the
    per-segment leaf; (docids, float32 scores) per query."""
    docs, blocks, scorer, df = seg
    trees = [_compile(scorer, df, q) for q in queries]
    out = segment_eval_topk(blocks, trees, scorer.cache, k)
    res = []
    for qi in range(len(trees)):
        rows = out[out["qidx"] == qi]
        res.append((rows["docid"].tolist(),
                    [np.float32(x) for x in rows["score"]]))
    return res


PHRASE = ("alpha", "beta")


def _cases(seg):
    """(name, query, naive-reference kwargs) for every phrase shape."""
    docs, blocks, scorer, df = seg
    w = _phrase_weight(scorer, df, PHRASE)
    gap = ("alpha", "gamma")
    gamma = [("gamma", float(scorer.weight(df["gamma"])))]
    delta = [("delta", float(scorer.weight(df["delta"])))]
    return [
        ("exact", PhraseQuery(PHRASE),
         dict(phrase_specs=[(PHRASE, (0, 1), 0, w, "MUST")])),
        ("sloppy", PhraseQuery(PHRASE, slop=2, boost=1.3),
         dict(phrase_specs=[(PHRASE, (0, 1), 2,
                             _phrase_weight(scorer, df, PHRASE, boost=1.3),
                             "MUST")])),
        # stopword hole: "alpha _ gamma" = positions (0, 2)
        ("gap", PhraseQuery(gap, positions=(0, 2)),
         dict(phrase_specs=[(gap, (0, 2), 0,
                             _phrase_weight(scorer, df, gap), "MUST")])),
        ("must_phrase_should_term",
         BooleanQuery.of(must=[PhraseQuery(PHRASE)],
                         should=[TermQuery("gamma")]),
         dict(term_weights=gamma,
              phrase_specs=[(PHRASE, (0, 1), 0, w, "MUST")])),
        ("should_msm2",
         BooleanQuery.of(should=[TermQuery("delta"), PhraseQuery(PHRASE)],
                         minimum_should_match=2),
         dict(term_weights=delta,
              phrase_specs=[(PHRASE, (0, 1), 0, w, "SHOULD")], need=2)),
        ("filter",
         BooleanQuery.of(must=[TermQuery("gamma")],
                         filter=[PhraseQuery(PHRASE)]),
         dict(term_weights=gamma, must={"gamma"},
              phrase_specs=[(PHRASE, (0, 1), 0, None, "FILTER")])),
        ("must_not",
         BooleanQuery.of(must=[TermQuery("gamma")],
                         must_not=[PhraseQuery(("beta", "alpha"))]),
         dict(term_weights=gamma, must={"gamma"},
              phrase_specs=[(("beta", "alpha"), (0, 1), 0, None,
                             "MUST_NOT")])),
    ]


def _check(seg, name):
    docs, blocks, scorer, df = seg
    (case,) = [c for c in _cases(seg) if c[0] == name]
    _name, q, ref = case
    (got,) = _run(seg, q)
    assert got == _naive(docs, scorer, df, **ref), name
    assert got[0], f"{name}: no hits — the case checks nothing"


def test_exact_phrase_standalone(seg):
    _check(seg, "exact")


def test_sloppy_phrase_standalone(seg):
    _check(seg, "sloppy")


def test_phrase_with_position_gap(seg):
    _check(seg, "gap")


def test_phrase_must_plus_term_should(seg):
    _check(seg, "must_phrase_should_term")


def test_phrase_should_msm(seg):
    """Two SHOULD clauses (term + phrase), minimum_should_match=2."""
    _check(seg, "should_msm2")


def test_phrase_filter_and_mustnot(seg):
    _check(seg, "filter")
    _check(seg, "must_not")


def test_phrase_cases_batched(seg):
    """All seven cases in ONE leaf call (shared decodes across the
    batch) give the same results as the naive reference."""
    docs, blocks, scorer, df = seg
    cases = _cases(seg)
    got = _run(seg, *(q for _n, q, _r in cases))
    for (name, _q, ref), g in zip(cases, got):
        assert g == _naive(docs, scorer, df, **ref), name


def test_phrase_freqs_matches_naive_exact():
    pos_lists = [
        [np.array([1, 5, 9]), np.array([0]), np.array([], dtype=np.int64)],
        [np.array([2, 10]), np.array([4]), np.array([3])],
    ]
    freqs = _phrase_freqs(pos_lists, (0, 1), 0)
    assert freqs.tolist() == [2.0, 0.0, 0.0]
