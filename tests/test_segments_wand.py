"""Codec-v2 segment index + compiled-tree search: rank/score identity
vs the pure-Python oracle (SURVEY §4.2 oracle) for solo, batched and
driver-local evaluation on both sides of the serving budget, the
single-query plan shape, and kill-and-resume resumability
(BASELINE.md resumability row)."""

import numpy as np
import pytest

from lucene_solr_spark.analysis import ENGLISH_STOP_WORDS, StandardAnalyzer
from lucene_solr_spark.corpus import corpus_df, corpus_pandas
from lucene_solr_spark.index.segments import SegmentIndex, build_segment_index
from lucene_solr_spark.oracle import OracleIndex
from lucene_solr_spark.search.queries import BooleanQuery, TermQuery, TopDoc
from lucene_solr_spark.search.wand import SegmentSearcher

N_DOCS = 240


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("segidx"))
    corpus = corpus_df(spark, N_DOCS, partitions=5)
    idx = build_segment_index(
        corpus, root, stop_words=ENGLISH_STOP_WORDS,
        docs_per_segment=48,
    )
    searcher = SegmentSearcher(idx, cache=True)
    pdf = corpus_pandas(N_DOCS).sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    oracle = OracleIndex(analyzer=StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS))
    oracle.add_all(pdf["content"])
    return idx, searcher, oracle, pdf


def _terms_by_df(oracle, n=6):
    by_df = sorted((t for _f, t in oracle.postings), key=lambda t: (oracle.doc_freq(t), t))
    step = max(len(by_df) // n, 1)
    return [by_df[i] for i in range(0, len(by_df), step)][:n] + [by_df[-1]]


def _hits(rows):
    return [(d.docid, np.float32(d.score)) for d in rows]


def _search(searcher, q, k):
    """``searcher.search`` on both sides of the serving budget: at the
    default budget (driver-local for this module's small queries) and
    with ``LOCAL_CACHE_BYTES`` at 0 (the distributed leaf). Asserts the
    two agree and returns the driver-local hits."""
    local = searcher.search(q, k)
    default = SegmentSearcher.LOCAL_CACHE_BYTES
    SegmentSearcher.LOCAL_CACHE_BYTES = 0
    try:
        dist = searcher.search(q, k)
    finally:
        SegmentSearcher.LOCAL_CACHE_BYTES = default
    assert _hits(dist) == _hits(local), q
    return local


def test_stats_and_sha(built):
    idx, searcher, oracle, pdf = built
    assert searcher.doc_count == oracle.doc_count == len(pdf)
    assert searcher.sum_ttf == oracle.sum_ttf
    # per-row content sha256 invariant
    import hashlib

    docs = idx.docs().orderBy("docid").collect()
    for row, (_, src) in zip(docs, pdf.iterrows()):
        assert row["content_sha256"] == hashlib.sha256(
            src["content"].encode()).hexdigest()
        assert (row["repo"], row["path"], row["commit"]) == (
            src["repo"], src["path"], src["commit"])


def test_block_keys_unique(built):
    """(segment, term, block_ord) must be unique — a segment split
    across build tasks would emit colliding partial blocks."""
    idx, _, _, _ = built
    from pyspark.sql import functions as F

    dups = (idx.blocks().groupBy("segment", "term", "block_ord")
            .agg(F.count("*").alias("c")).where(F.col("c") > 1).count())
    assert dups == 0


def test_dict_matches_oracle(built):
    idx, _, oracle, _ = built
    rows = {r["term"]: (r["df"], r["ttf"]) for r in idx.dict().collect()}
    assert set(rows) == {t for _f, t in oracle.postings}
    for t, (df, ttf) in rows.items():
        assert df == oracle.doc_freq(t), t
        assert ttf == oracle.total_term_freq(t), t


def test_term_topk_identical_to_oracle(built):
    _, searcher, oracle, _ = built
    for t in _terms_by_df(oracle):
        exp = oracle.search(TermQuery(t), 10)
        got = _search(searcher, TermQuery(t), 10)
        assert [(d.docid, np.float32(d.score)) for d in got] == [
            (d.docid, np.float32(d.score)) for d in exp], t


def test_disjunction_topk_identical_to_oracle(built):
    _, searcher, oracle, _ = built
    terms = _terms_by_df(oracle, 4)
    q = BooleanQuery.of(should=[TermQuery(t) for t in terms[:4]])
    exp = oracle.search(q, 15)
    got = _search(searcher, q, 15)
    assert [(d.docid, np.float32(d.score)) for d in got] == [
        (d.docid, np.float32(d.score)) for d in exp]


def test_k_sweep_identical_to_oracle(built):
    _, searcher, oracle, _ = built
    terms = _terms_by_df(oracle, 5)
    q = BooleanQuery.of(should=[TermQuery(t) for t in terms[:5]])
    for k in (1, 3, 10, 50):
        a = _search(searcher, q, k)
        b = oracle.search(q, k)
        assert [(d.docid, np.float32(d.score)) for d in a] == [
            (d.docid, np.float32(d.score)) for d in b], k


def test_single_query_plan_has_no_window(built):
    """search_df merges with ONE orderBy.limit(k); k=None returns every
    hit. The batch leaf plan that search_many (and search beyond the
    serving budget) collect has no Window and no Exchange anywhere (the
    merge runs in the driver).
    Both run the leaf as MapInPandas with no Exchange below it and no
    Spark-side parquet scan: each task reads its own segment's files."""
    import re

    _, searcher, oracle, _ = built
    terms = _terms_by_df(oracle, 4)
    q = BooleanQuery.of(should=[TermQuery(t) for t in terms[:4]])

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def below(text, node):
        """Plan lines of ``node``'s subtree (deeper-indented lines
        after it, up to its next sibling or ancestor)."""
        lines = text.splitlines()
        depth = [re.match(r"[\s:+\-]*", ln).end() for ln in lines]
        i = next(i for i, ln in enumerate(lines) if node in ln)
        sub = []
        for ln, d in zip(lines[i + 1:], depth[i + 1:]):
            if d <= depth[i]:
                break
            sub.append(ln)
        return sub

    single = plan(searcher.search_df(q, 10))
    batch = plan(searcher._plan(searcher._compile([q])[0], 10))
    assert "Window" not in single
    assert "Window" not in batch and "Exchange" not in batch, batch
    for text in (single, batch):
        assert "MapInPandas" in text, text
        under = below(text, "MapInPandas")
        assert not any("Exchange" in ln for ln in under), text
        assert "FileScan" not in text, text
    every = searcher.search_df(q, None).collect()
    assert len(every) == len(oracle.search(q, N_DOCS))


def test_search_many_is_one_job_without_shuffle(built, spark):
    """A batch over a multi-segment index runs ONE Spark job of one
    stage — the leaf rows come back as Arrow and merge in the driver,
    so no stage writes shuffle bytes (read from the status store)."""
    _, searcher, oracle, _ = built
    assert len(searcher.seg_files) > 1
    terms = _terms_by_df(oracle, 6)
    batch = {f"q{i}": BooleanQuery.of(should=[TermQuery(t),
                                              TermQuery(terms[-1])])
             for i, t in enumerate(terms)}
    sc = spark.sparkContext
    sc.setJobGroup("search_many_one_job", "search_many")
    try:
        got = searcher.search_many(batch, 10)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("search_many_one_job")
    assert len(jobs) == 1, jobs
    stages = sc.statusTracker().getJobInfo(jobs[0]).stageIds
    assert len(stages) == 1, stages
    store = sc._jsc.sc().statusStore()
    assert store.lastStageAttempt(stages[0]).shuffleWriteBytes() == 0
    for qid, q in batch.items():
        assert [(d.docid, np.float32(d.score)) for d in got[qid]] == [
            (d.docid, np.float32(d.score)) for d in oracle.search(q, 10)]


def test_tie_group_across_segments_and_shards(spark, tmp_path_factory):
    """Identical docs straddle segment boundaries (and the shard
    boundary of a 2-way split), so the tie group at rank k spans
    segments: search (on both sides of the serving budget),
    search_many, search_local and a 2-shard ShardedSearcher all keep
    TopDocs.merge's docid-asc tie order."""
    from lucene_solr_spark.index.segments import split_index
    from lucene_solr_spark.search.sharded import ShardedSearcher

    pdf = (corpus_pandas(96).sort_values(["repo", "path", "commit"])
           .reset_index(drop=True))
    for lo, hi in ((20, 28), (44, 52)):  # across docids 24 and 48
        pdf.loc[lo:hi - 1, "content"] = "zztiezz twin words"
    pdf.loc[60:61, "content"] = "zztiezz zztiezz twin"
    root = str(tmp_path_factory.mktemp("tie_idx"))
    build_segment_index(spark.createDataFrame(pdf), root,
                        stop_words=ENGLISH_STOP_WORDS, docs_per_segment=24)
    searcher = SegmentSearcher(SegmentIndex(root, spark), cache=True)
    parts = [str(tmp_path_factory.mktemp(f"tie_part{i}")) for i in range(2)]
    split_index(root, parts, spark)
    sharded = ShardedSearcher(parts, spark, stats="exact", cache=True)
    oracle = OracleIndex(
        analyzer=StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS))
    oracle.add_all(pdf["content"])
    queries = {"tie": TermQuery("zztiezz"),
               "or": BooleanQuery.of(should=[TermQuery("zztiezz"),
                                             TermQuery("twin")])}

    def hits(r):
        return [(d.docid, np.float32(d.score)) for d in r]

    for k in (3, 8, 12, 16):
        many = searcher.search_many(queries, k)
        smany = sharded.search_many(queries, k)
        for qid, q in queries.items():
            exp = hits(oracle.search(q, k))
            assert len({sc for _d, sc in exp}) < len(exp), (qid, k)
            assert hits(_search(searcher, q, k)) == exp, (qid, k)
            assert hits(many[qid]) == exp, (qid, k)
            assert hits(searcher.search_local(q, k)) == exp, (qid, k)
            assert hits(_search(sharded, q, k)) == exp, (qid, k)
            assert hits(smany[qid]) == exp, (qid, k)


def test_search_many_identical_to_solo(built):
    """Batched search (one job, shared decodes) must be rank/score-
    identical to per-query search for every query in the batch."""
    _, searcher, oracle, _ = built
    terms = _terms_by_df(oracle, 6)
    batch = {
        "t0": TermQuery(terms[0]),
        "t_hi": TermQuery(terms[-1]),
        "dis2": BooleanQuery.of(should=[TermQuery(terms[1]),
                                        TermQuery(terms[-1])]),
        "dis4": BooleanQuery.of(should=[TermQuery(t) for t in terms[:4]]),
        "msm2": BooleanQuery.of(should=[TermQuery(t) for t in terms[:4]],
                                minimum_should_match=2),
        "boost": BooleanQuery.of(should=[TermQuery(terms[2], boost=2.5),
                                         TermQuery(terms[-1])]),
        "absent": TermQuery("zz_not_a_term"),
    }
    got = searcher.search_many(batch, 12)
    for qid, q in batch.items():
        exp = _search(searcher, q, 12)
        assert [(d.docid, np.float32(d.score)) for d in got[qid]] == [
            (d.docid, np.float32(d.score)) for d in exp], qid
        if qid != "absent":
            oexp = oracle.search(q, 12)
            assert [(d.docid, np.float32(d.score)) for d in got[qid]] == [
                (d.docid, np.float32(d.score)) for d in oexp], qid


def test_msm_disjunction(built):
    _, searcher, oracle, _ = built
    terms = _terms_by_df(oracle, 4)
    q = BooleanQuery.of(should=[TermQuery(t) for t in terms[:4]],
                        minimum_should_match=2)
    exp = oracle.search(q, 10)
    got = _search(searcher, q, 10)
    assert [(d.docid, np.float32(d.score)) for d in got] == [
        (d.docid, np.float32(d.score)) for d in exp]


def test_kill_and_resume_identical(spark, tmp_path_factory, built,
                                   monkeypatch):
    """A writer task that fails mid-job kills the build; the resumed
    build keeps the checkpointed segments, rebuilds the rest, and ends
    with the same blocks and exactly one checkpoint row per segment."""
    import os
    import shutil

    from lucene_solr_spark.index import segments

    idx_full, _, _, _ = built
    root = str(tmp_path_factory.mktemp("segidx_resume"))
    corpus = corpus_df(spark, N_DOCS, partitions=5)
    n_seg = N_DOCS // 48
    last = os.path.join(root, "blocks", f"segment={n_seg - 1}")
    write_segments = segments._write_segments

    def plant_then_write(*args, **kw):
        # a non-empty directory at the last segment's final file name:
        # that task's rename fails, and the job with it
        os.makedirs(os.path.join(last, segments._BLOCK_FILE, "x"))
        return write_segments(*args, **kw)

    monkeypatch.setattr(segments, "_write_segments", plant_then_write)
    with pytest.raises(Exception, match="IsADirectoryError"):
        build_segment_index(
            corpus, root, stop_words=ENGLISH_STOP_WORDS,
            docs_per_segment=48,
        )
    monkeypatch.undo()
    cps = SegmentIndex(root, spark).checkpoints().where(
        "stage = 'blocks'").collect()
    assert n_seg - 1 not in {r["chunk"] for r in cps}
    shutil.rmtree(last)
    idx2 = build_segment_index(
        corpus, root, stop_words=ENGLISH_STOP_WORDS,
        docs_per_segment=48, resume=True,
    )
    cols = ["segment", "kind", "term", "block_ord", "n", "first_docid",
            "last_docid", "sum_tf", "docids", "tfs", "norms", "positions"]
    a = sorted(map(tuple, idx_full.spark.read.parquet(idx_full.blocks_path)
                   .select(cols).collect()))
    b = sorted(map(tuple, idx2.spark.read.parquet(idx2.blocks_path)
                   .select(cols).collect()))
    assert a == b
    # checkpoints recorded lineage + metrics for every segment exactly once
    cps = idx2.checkpoints().where("stage = 'blocks'").collect()
    assert sorted(r["chunk"] for r in cps) == list(range(n_seg))
    assert all(r["docs_per_sec"] > 0 for r in cps)


def test_boolean_mixes_identical_to_oracle(built):
    """MUST/FILTER/MUST_NOT on the compressed path
    (Boolean2ScorerSupplier.java:93-164 role): rank/score identity vs
    the pure-Python oracle."""
    _, searcher, oracle, _ = built
    t = _terms_by_df(oracle, 6)
    cases = {
        "must2": BooleanQuery.of(must=[TermQuery(t[-1]), TermQuery(t[-2])]),
        "must_should": BooleanQuery.of(
            must=[TermQuery(t[-1])],
            should=[TermQuery(t[1]), TermQuery(t[2])]),
        "must_not": BooleanQuery.of(
            should=[TermQuery(t[-1]), TermQuery(t[2])],
            must_not=[TermQuery(t[1])]),
        "must_and_not": BooleanQuery.of(
            must=[TermQuery(t[-1])], must_not=[TermQuery(t[0])]),
        "filter_should": BooleanQuery.of(
            should=[TermQuery(t[2]), TermQuery(t[3])],
            filter=[TermQuery(t[-1])]),
        "filter_only": BooleanQuery.of(filter=[TermQuery(t[-2])]),
        "must_msm": BooleanQuery.of(
            must=[TermQuery(t[-1])],
            should=[TermQuery(ti) for ti in t[:3]],
            minimum_should_match=2),
        "boosted_mix": BooleanQuery.of(
            must=[TermQuery(t[-1], boost=1.5)],
            should=[TermQuery(t[2], boost=0.5)],
            must_not=[TermQuery(t[0])]),
        "must_absent": BooleanQuery.of(must=[TermQuery("zz_not_a_term")],
                                       should=[TermQuery(t[-1])]),
        "not_absent": BooleanQuery.of(
            must=[TermQuery(t[-1])],
            must_not=[TermQuery("zz_not_a_term")]),
    }
    for name, q in cases.items():
        exp = oracle.search(q, 12)
        got = _search(searcher, q, 12)
        assert [(d.docid, np.float32(d.score)) for d in got] == [
            (d.docid, np.float32(d.score)) for d in exp], name


def test_boolean_mixes_batched_identical(built):
    """The batched (search_many) path must agree with solo search for
    boolean mixes too — shared decode caches across queries."""
    _, searcher, oracle, _ = built
    t = _terms_by_df(oracle, 6)
    batch = {
        "conj": BooleanQuery.of(must=[TermQuery(t[-1]), TermQuery(t[-2])]),
        "mixed": BooleanQuery.of(
            must=[TermQuery(t[-1])],
            should=[TermQuery(t[1]), TermQuery(t[2])],
            must_not=[TermQuery(t[0])]),
        "filt": BooleanQuery.of(
            should=[TermQuery(t[2])], filter=[TermQuery(t[-1])]),
        "plain": BooleanQuery.of(should=[TermQuery(t[1]), TermQuery(t[-1])]),
    }
    got = searcher.search_many(batch, 12)
    for qid, q in batch.items():
        exp = _search(searcher, q, 12)
        assert [(d.docid, np.float32(d.score)) for d in got[qid]] == [
            (d.docid, np.float32(d.score)) for d in exp], qid
        oexp = oracle.search(q, 12)
        assert [(d.docid, np.float32(d.score)) for d in got[qid]] == [
            (d.docid, np.float32(d.score)) for d in oexp], qid


def test_segment_dict_cache_guard(built, monkeypatch):
    """A vocabulary larger than DICT_CACHE_MAX must not be pulled to
    the driver: the searcher leaves _df_map unset and falls back to
    the pushed-down dictionary scan (VERDICT r2 wrong #4)."""
    idx, cached_searcher, oracle, _ = built
    monkeypatch.setattr(SegmentSearcher, "DICT_CACHE_MAX", 1)
    s = SegmentSearcher(idx, cache=True)
    assert s._df_map is None
    t = _terms_by_df(oracle, 2)[-1]
    exp = oracle.search(TermQuery(t), 5)
    got = _search(s, TermQuery(t), 5)  # dictionary-scan _stats path
    assert [(d.docid, np.float32(d.score)) for d in got] == [
        (d.docid, np.float32(d.score)) for d in exp]


def _bigram(pdf):
    """(terms, positions) of an analyzed adjacent pair from doc 0 —
    absolute positions are fine (phrase alignment is relative)."""
    an = StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS)
    toks, poss = an.analyze(pdf["content"].iloc[0])
    for i in range(len(toks) - 1):
        if toks[i] != toks[i + 1]:
            return (toks[i], toks[i + 1]), (poss[i], poss[i + 1])
    raise AssertionError("no distinct adjacent pair in doc 0")


def test_phrase_identical_to_oracle(built):
    """Exact + sloppy phrases on the compressed path (standalone and
    inside boolean mixes): rank/score identity vs the pure-Python
    oracle."""
    from lucene_solr_spark.search.queries import PhraseQuery

    _, searcher, oracle, pdf = built
    (a, b), (pa, pb) = _bigram(pdf)
    t = _terms_by_df(oracle, 6)
    cases = {
        "exact": PhraseQuery((a, b), positions=(pa, pb)),
        "boosted": PhraseQuery((a, b), positions=(pa, pb), boost=1.7),
        "sloppy1": PhraseQuery((a, b), positions=(pa, pb), slop=1),
        "sloppy3": PhraseQuery((b, a), slop=3),
        "swapped_exact": PhraseQuery((b, a)),
        "phrase_must_term_should": BooleanQuery.of(
            must=[PhraseQuery((a, b), positions=(pa, pb))],
            should=[TermQuery(t[2])]),
        "phrase_should_msm": BooleanQuery.of(
            should=[PhraseQuery((a, b), positions=(pa, pb)),
                    TermQuery(t[-1])],
            minimum_should_match=2),
        "phrase_filter": BooleanQuery.of(
            should=[TermQuery(t[-1])],
            filter=[PhraseQuery((a, b), positions=(pa, pb))]),
        "phrase_must_not": BooleanQuery.of(
            must=[TermQuery(t[-1])],
            must_not=[PhraseQuery((a, b), positions=(pa, pb))]),
        "phrase_absent_member": PhraseQuery((a, "zz_not_a_term")),
    }
    for name, q in cases.items():
        exp = oracle.search(q, 12)
        got = _search(searcher, q, 12)
        assert [(d.docid, np.float32(d.score)) for d in got] == [
            (d.docid, np.float32(d.score)) for d in exp], name


def test_phrase_batched_identical(built):
    """Phrases mixed with terms in ONE search_many batch — shared
    decode caches must not cross-contaminate phrase matching."""
    from lucene_solr_spark.search.queries import PhraseQuery

    _, searcher, oracle, pdf = built
    (a, b), (pa, pb) = _bigram(pdf)
    t = _terms_by_df(oracle, 6)
    batch = {
        "ph": PhraseQuery((a, b), positions=(pa, pb)),
        "term": TermQuery(t[-1]),
        "mix": BooleanQuery.of(
            must=[PhraseQuery((a, b), positions=(pa, pb))],
            should=[TermQuery(t[1])]),
        "sloppy": PhraseQuery((b, a), slop=2),
    }
    got = searcher.search_many(batch, 12)
    for qid, q in batch.items():
        exp = _search(searcher, q, 12)
        assert [(d.docid, np.float32(d.score)) for d in got[qid]] == [
            (d.docid, np.float32(d.score)) for d in exp], qid
        oexp = oracle.search(q, 12)
        assert [(d.docid, np.float32(d.score)) for d in got[qid]] == [
            (d.docid, np.float32(d.score)) for d in oexp], qid


def test_batch_identical_to_solo_and_oracle(built):
    """A 20-query batch of mixed shapes (term, disjunction, MUST +
    MUST_NOT, MUST + SHOULD phrase) is rank/score-identical to solo
    search and to the oracle: batching shares decodes, never changes
    semantics."""
    from lucene_solr_spark.search.queries import PhraseQuery

    idx, searcher, oracle, pdf = built
    terms = _terms_by_df(oracle, 8)
    qs = {}
    for i in range(20):
        a, b = terms[i % len(terms)], terms[(i * 3 + 1) % len(terms)]
        if i % 4 == 0:
            qs[f"q{i}"] = TermQuery(a)
        elif i % 4 == 1:
            qs[f"q{i}"] = BooleanQuery.of(should=[TermQuery(a),
                                                  TermQuery(b)])
        elif i % 4 == 2:
            qs[f"q{i}"] = BooleanQuery.of(must=[TermQuery(a)],
                                          must_not=[TermQuery(b)])
        else:
            qs[f"q{i}"] = BooleanQuery.of(
                must=[TermQuery(a)],
                should=[PhraseQuery((b, a)), TermQuery(b)])
    batched = searcher.search_many(qs, 10)
    for qid, q in qs.items():
        got = [(d.docid, np.float32(d.score)) for d in batched[qid]]
        solo = _search(searcher, q, 10)
        assert got == [(d.docid, np.float32(d.score)) for d in solo], qid
        exp = oracle.search(q, 10)
        assert got == [(d.docid, np.float32(d.score)) for d in exp], qid


def test_multi_phrase_on_v2(built):
    """MultiPhraseQuery (slot alternatives) via the compiled-tree
    evaluator over the compressed codec: identity vs the oracle,
    exact and sloppy."""
    from lucene_solr_spark.search.queries import MultiPhraseQuery

    idx, searcher, oracle, pdf = built
    # find a real adjacent pair from the corpus to guarantee matches
    toks = pdf["content"].iloc[0].lower().split()
    pairs = [(toks[i], toks[i + 1]) for i in range(len(toks) - 1)
             if toks[i].isalpha() and toks[i + 1].isalpha()]
    a, b = pairs[0]
    c = pairs[1][1]
    for q in (
        MultiPhraseQuery(((a,), (b, c))),
        MultiPhraseQuery(((a, "zzzznope"), (b,))),
        MultiPhraseQuery(((a,), (b,)), slop=2),
        MultiPhraseQuery(((a, c), (b, a)), slop=1, boost=1.5),
    ):
        got = _search(searcher, q, 10)
        exp = oracle.search(q, 10)
        assert [(d.docid, np.float32(d.score)) for d in got] == [
            (d.docid, np.float32(d.score)) for d in exp], q


def test_multiterm_rewrite_on_v2(built):
    """Prefix/Wildcard/Fuzzy/TermRange/TermInSet rewrite against the
    v2 dictionary and evaluate on the compressed path — identity vs
    the oracle in both constant-score and scoring-boolean modes."""
    from lucene_solr_spark.search.queries import (
        FuzzyQuery,
        PrefixQuery,
        TermInSetQuery,
        TermRangeQuery,
        WildcardQuery,
    )

    idx, searcher, oracle, pdf = built
    terms = _terms_by_df(oracle, 6)
    t = max(terms, key=len)
    queries = [
        PrefixQuery(t[:3]),
        PrefixQuery(t[:3], rewrite="scoring_boolean"),
        WildcardQuery(t[:2] + "*"),
        FuzzyQuery(t, max_edits=1, rewrite="scoring_boolean"),
        TermRangeQuery(t[:1], t[:1] + "zzzz"),
        TermInSetQuery(tuple(terms[:4])),
        BooleanQuery.of(must=[TermQuery(terms[-1])],
                        should=[PrefixQuery(t[:3])]),
    ]
    for q in queries:
        got = _search(searcher, q, 10)
        exp = oracle.search(q, 10)
        assert [(d.docid, np.float32(d.score)) for d in got] == [
            (d.docid, np.float32(d.score)) for d in exp], q
    # batched
    qs = {f"q{i}": q for i, q in enumerate(queries[:4])}
    batched = searcher.search_many(qs, 10)
    for qid, q in qs.items():
        exp = oracle.search(q, 10)
        assert [(d.docid, np.float32(d.score)) for d in batched[qid]] == [
            (d.docid, np.float32(d.score)) for d in exp], qid


def test_spans_and_intervals_on_v2(built):
    """Span and interval queries via the compiled-tree evaluator over
    the compressed codec — identity vs the oracle (SpanScorer freq =
    sum 1/(1+width), idf-sum weight), incl. a multiterm span wrapper
    expanded against the v2 dictionary."""
    from lucene_solr_spark.search.intervals import (
        IntervalQuery,
        IOrdered,
        ITerm,
    )
    from lucene_solr_spark.search.queries import PrefixQuery
    from lucene_solr_spark.search.spans import (
        SpanFirstQuery,
        SpanMultiTermWrapper,
        SpanNearQuery,
        SpanOrQuery,
        SpanTermQuery,
    )

    idx, searcher, oracle, pdf = built
    toks = pdf["content"].iloc[0].lower().split()
    pairs = [(toks[i], toks[i + 1]) for i in range(len(toks) - 1)
             if toks[i].isalpha() and toks[i + 1].isalpha()]
    a, b = pairs[0]
    queries = [
        SpanNearQuery((SpanTermQuery(a), SpanTermQuery(b)),
                      slop=0, in_order=True),
        SpanNearQuery((SpanTermQuery(b), SpanTermQuery(a)),
                      slop=3, in_order=False),
        SpanOrQuery((SpanTermQuery(a), SpanTermQuery(b))),
        SpanFirstQuery(SpanTermQuery(a), end=20),
        SpanNearQuery((SpanMultiTermWrapper(PrefixQuery(a[:3])),
                       SpanTermQuery(b)), slop=1, in_order=True),
        IntervalQuery(IOrdered((ITerm(a), ITerm(b)))),
    ]
    for q in queries:
        got = _search(searcher, q, 10)
        exp = oracle.search(q, 10)
        assert [(d.docid, np.float32(d.score)) for d in got] == [
            (d.docid, np.float32(d.score)) for d in exp], q


def test_common_terms_and_blooms_general(built):
    """CommonTermsQuery rewrites against v2 stats (df-cutoff split)
    — oracle identity; exercised alongside the bloom-pruned general
    path (build_segment_blooms + a span query)."""
    from lucene_solr_spark.index.bloom import build_segment_blooms
    from lucene_solr_spark.search.queries import CommonTermsQuery
    from lucene_solr_spark.search.spans import SpanNearQuery, SpanTermQuery
    from lucene_solr_spark.search.wand import SegmentSearcher

    idx, searcher, oracle, pdf = built
    terms = _terms_by_df(oracle, 8)
    q = CommonTermsQuery(tuple(terms[:3]) + (terms[-1],),
                         max_term_frequency=0.3)
    got = _search(searcher, q, 10)
    exp = oracle.search(q, 10)
    assert [(d.docid, np.float32(d.score)) for d in got] == [
        (d.docid, np.float32(d.score)) for d in exp]

    # blooms + general path: build per-segment blooms, re-open, and
    # check a span query and a dismax still match the oracle exactly
    build_segment_blooms(idx)
    sb = SegmentSearcher(idx, cache=True)
    assert sb.blooms is not None
    toks = pdf["content"].iloc[0].lower().split()
    pairs = [(toks[i], toks[i + 1]) for i in range(len(toks) - 1)
             if toks[i].isalpha() and toks[i + 1].isalpha()]
    a, b = pairs[0]
    sq = SpanNearQuery((SpanTermQuery(a), SpanTermQuery(b)),
                       slop=1, in_order=True)
    got = _search(sb, sq, 10)
    exp = oracle.search(sq, 10)
    assert [(d.docid, np.float32(d.score)) for d in got] == [
        (d.docid, np.float32(d.score)) for d in exp]


def test_term_automaton_on_v2(built):
    """TermAutomatonQuery via the compiled-tree evaluator: DFA
    acceptance counting over per-segment position events — oracle
    identity (phrase-shaped and ANY-gap automatons)."""
    from lucene_solr_spark.search.term_automaton import TermAutomatonQuery

    idx, searcher, oracle, pdf = built
    toks = pdf["content"].iloc[0].lower().split()
    pairs = [(toks[i], toks[i + 1]) for i in range(len(toks) - 1)
             if toks[i].isalpha() and toks[i + 1].isalpha()]
    a, b = pairs[0]
    triples = [(toks[i], toks[i + 2]) for i in range(len(toks) - 2)
               if toks[i].isalpha() and toks[i + 2].isalpha()]
    c, d = triples[0]

    def phrase_q(*terms):
        q = TermAutomatonQuery()
        states = [q.create_state() for _ in range(len(terms) + 1)]
        for i, t in enumerate(terms):
            q.add_transition(states[i], states[i + 1], t)
        q.set_accept(states[-1], True)
        return q.finish()

    def gap_q(x, y):
        q = TermAutomatonQuery()
        s = [q.create_state() for _ in range(4)]
        q.add_transition(s[0], s[1], x)
        q.add_any_transition(s[1], s[2])
        q.add_transition(s[2], s[3], y)
        q.set_accept(s[3], True)
        return q.finish()

    for q in (phrase_q(a, b), phrase_q(a), gap_q(c, d)):
        got = _search(searcher, q, 10)
        exp = oracle.search(q, 10)
        assert [(dd.docid, np.float32(dd.score)) for dd in got] == [
            (dd.docid, np.float32(dd.score)) for dd in exp], q


def test_search_local_serving_path(built):
    """Driver-local serving evaluation: identical results to the
    distributed path across the full algebra, and no Spark job either
    hot (cached term set) or cold (a fresh searcher's first term,
    boolean and phrase queries read the segment files directly)."""
    from lucene_solr_spark.search.queries import PhraseQuery, PrefixQuery

    idx, searcher, oracle, pdf = built
    terms = _terms_by_df(oracle, 6)
    toks = pdf["content"].iloc[0].lower().split()
    pairs = [(toks[i], toks[i + 1]) for i in range(len(toks) - 1)
             if toks[i].isalpha() and toks[i + 1].isalpha()]
    a, b = pairs[0]
    queries = [
        TermQuery(terms[-1]),
        BooleanQuery.of(must=[TermQuery(a)],
                        should=[TermQuery(terms[-1])],
                        must_not=[TermQuery(terms[0])]),
        PhraseQuery((a, b)),
        PrefixQuery(terms[-1][:3], rewrite="scoring_boolean"),
    ]
    for q in queries:
        got = searcher.search_local(q, 10)
        exp = oracle.search(q, 10)
        assert [(d.docid, np.float32(d.score)) for d in got] == [
            (d.docid, np.float32(d.score)) for d in exp], q
    # hot repeat: no further Spark jobs for the cached term set
    import time

    spark = searcher.index.spark
    mark = _newest_job(spark)
    t0 = time.time()
    for _ in range(20):
        searcher.search_local(queries[0], 10)
    hot = (time.time() - t0) / 20
    assert _newest_job(spark) == mark, "hot serving eval ran a Spark job"
    assert hot < 0.05, f"hot serving eval took {hot:.3f}s"
    # cold: a fresh searcher fills its cache from the segment files,
    # still without a Spark job
    fresh = SegmentSearcher(SegmentIndex(idx.root, spark), cache=True)
    for q in queries[:3]:
        mark = _newest_job(spark)
        got = fresh.search_local(q, 10)
        assert _newest_job(spark) == mark, f"cold serving eval ran a job: {q}"
        exp = oracle.search(q, 10)
        assert [(d.docid, np.float32(d.score)) for d in got] == [
            (d.docid, np.float32(d.score)) for d in exp], q


def _newest_job(spark) -> int:
    """Id of the newest Spark job so far (-1 when none), once the
    listener bus has delivered every job event."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)  # newest first
    return int(jobs.apply(0).jobId()) if jobs.size() else -1


def _newest_job_description(spark) -> str | None:
    """The newest Spark job's description, read from the status store."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    desc = jsc.statusStore().jobsList(None).apply(0).description()
    return desc.get() if desc.isDefined() else None


def test_search_routes_by_serving_budget(built, monkeypatch):
    """search serves a query in the driver when its postings (Σ df ×
    POSTING_BYTES) fit LOCAL_CACHE_BYTES — no Spark job, cold or hot —
    and runs the distributed leaf, exactly one job, when they do not;
    the hits are the oracle's either way."""
    from lucene_solr_spark.search.queries import PhraseQuery

    idx, _shared, oracle, pdf = built
    spark = idx.spark
    (a, b), (pa, pb) = _bigram(pdf)
    terms = _terms_by_df(oracle, 6)
    queries = [
        TermQuery(terms[-1]),
        BooleanQuery.of(should=[TermQuery(t) for t in terms[:4]]),
        PhraseQuery((a, b), positions=(pa, pb)),
    ]
    want = [_hits(oracle.search(q, 10)) for q in queries]
    searcher = SegmentSearcher(SegmentIndex(idx.root, spark), cache=True)
    for rep in ("cold", "hot"):
        for q, exp in zip(queries, want):
            mark = _newest_job(spark)
            assert _hits(searcher.search(q, 10)) == exp, (rep, q)
            assert _newest_job(spark) == mark, f"{rep} search ran a job: {q}"
    # the rule's edge: a budget of exactly the disjunction's decoded
    # postings serves it locally, one byte less sends it to the leaf
    need = SegmentSearcher.POSTING_BYTES * sum(
        searcher._df_map[t] for t in set(terms[:4]))
    for budget, jobs in ((need, 0), (need - 1, 1)):
        monkeypatch.setattr(SegmentSearcher, "LOCAL_CACHE_BYTES", budget)
        mark = _newest_job(spark)
        assert _hits(searcher.search(queries[1], 10)) == want[1], budget
        assert _newest_job(spark) - mark == jobs, budget
    monkeypatch.setattr(SegmentSearcher, "LOCAL_CACHE_BYTES", 0)
    for q, exp in zip(queries, want):
        mark = _newest_job(spark)
        assert _hits(searcher.search(q, 10)) == exp, q
        assert _newest_job(spark) - mark == 1, q


def test_sharded_search_routes_by_serving_budget(built, spark,
                                                 tmp_path_factory,
                                                 monkeypatch):
    """ShardedSearcher.search (exact stats) applies the rule per shard,
    sized by the shard's OWN df: no job at the default budget, one job
    per shard at budget 0, one job when only the smaller shard's
    postings fit — and the oracle's hits every time."""
    from lucene_solr_spark.index.segments import split_index
    from lucene_solr_spark.search.sharded import ShardedSearcher

    idx, _shared, oracle, _pdf = built
    parts = [str(tmp_path_factory.mktemp(f"route_part{i}"))
             for i in range(2)]
    split_index(idx.root, parts, spark)
    sharded = ShardedSearcher(parts, spark, stats="exact", cache=True)
    terms = _terms_by_df(oracle, 6)
    q = BooleanQuery.of(should=[TermQuery(t) for t in terms[-3:]])
    exp = _hits(oracle.search(q, 10))
    needs = [SegmentSearcher.POSTING_BYTES
             * sum(s._stats(set(terms[-3:])).values())
             for s in sharded.shards]
    assert needs[0] != needs[1], needs
    for budget, jobs in ((SegmentSearcher.LOCAL_CACHE_BYTES, 0),
                         (min(needs), 1), (0, 2)):
        monkeypatch.setattr(SegmentSearcher, "LOCAL_CACHE_BYTES", budget)
        mark = _newest_job(spark)
        assert _hits(sharded.search(q, 10)) == exp, budget
        assert _newest_job(spark) - mark == jobs, budget


def test_set_scorer_drops_caches_of_the_old_scorer(built):
    """set_scorer drops the cached plans (weights compiled with the old
    scorer) and the serving cache (unit scores from the old norm
    cache): afterwards search_many, search and search_local return
    what a searcher opened with the new scorer returns."""
    from lucene_solr_spark.search import bm25

    idx, _shared, oracle, _pdf = built
    terms = _terms_by_df(oracle, 6)
    q = BooleanQuery.of(should=[TermQuery(t) for t in terms[-3:]])

    def fresh():
        return SegmentSearcher(SegmentIndex(idx.root, idx.spark), cache=True)

    searcher = fresh()
    searcher.search_many({"q": q}, 10)
    searcher.search_local(q, 10)
    scorer = bm25.BM25Scorer(3 * searcher.doc_count, 7 * searcher.sum_ttf)
    searcher.set_scorer(scorer)
    ref = fresh()
    ref.set_scorer(scorer)
    want = _hits(ref.search_many({"q": q}, 10)["q"])
    assert want != _hits(oracle.search(q, 10))
    assert _hits(searcher.search_many({"q": q}, 10)["q"]) == want
    assert _hits(searcher.search_local(q, 10)) == want
    assert _hits(_search(searcher, q, 10)) == want


def test_job_descriptions_name_the_call(built, monkeypatch):
    """Each call that starts a Spark job describes it as the call and
    its query count (read back from the status store), then restores
    the caller's description."""
    idx, _shared, oracle, _pdf = built
    spark = idx.spark
    sc = spark.sparkContext
    terms = _terms_by_df(oracle, 4)
    # uncached: search_df's compile looks the terms up with a job
    searcher = SegmentSearcher(SegmentIndex(idx.root, spark), cache=False)
    monkeypatch.setattr(SegmentSearcher, "LOCAL_CACHE_BYTES", 0)
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("caller")
    try:
        searcher.search(TermQuery(terms[-1]), 10)
        assert _newest_job_description(spark) == "search: 1 query"
        searcher.search_many({f"q{i}": TermQuery(t)
                              for i, t in enumerate(terms[:3])}, 10)
        assert _newest_job_description(spark) == "search_many: 3 queries"
        searcher.search_df(TermQuery(terms[0]), 10)
        assert _newest_job_description(spark) == "search_df: 1 query"
        searcher.search_after(TermQuery(terms[-1]), TopDoc(0, 1e9), 5)
        assert _newest_job_description(spark) == "search_after: 1 query"
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def test_search_local_cache_bounded_lru(built):
    """Serving-mode block cache is a bytes-capped LRU: a stream of
    distinct-term queries must keep resident bytes under the cap,
    evict cold terms, and return identical results under eviction
    (evict-and-refetch, decode memos dropped with the term)."""
    from lucene_solr_spark.search.wand import SegmentSearcher

    idx, _shared, oracle, pdf = built
    searcher = SegmentSearcher(SegmentIndex(idx.root, idx.spark),
                               cache=True)
    vocab = sorted({t for _f, t in oracle.postings})
    probe = vocab[:40]
    # size the cap to a handful of terms so the stream must evict
    searcher._local_tbs({probe[0]})
    one_sz = searcher._local_cache_bytes
    assert one_sz > 0
    searcher.LOCAL_CACHE_BYTES = max(one_sz * 5, 1)
    cold = [(t, [(d.docid, np.float32(d.score))
                 for d in searcher.search_local(TermQuery(t), 10)])
            for t in probe]
    assert searcher._local_cache_bytes <= searcher.LOCAL_CACHE_BYTES
    assert len(searcher._local_cache) < len(probe), "nothing evicted"
    # the earliest terms are evicted; re-query gives identical results
    for t, want in (cold[:5] + cold[-5:]):
        got = [(d.docid, np.float32(d.score))
               for d in searcher.search_local(TermQuery(t), 10)]
        assert got == want, t
        exp = [(d.docid, np.float32(d.score))
               for d in oracle.search(TermQuery(t), 10)]
        assert got == exp, t
    # accounting stays consistent after the churn
    assert searcher._local_cache_bytes == sum(
        sz for sz, _m in searcher._local_cache.values())


def test_batch_plan_cache_identity_and_bound(built):
    """Compiled-plan cache (queryResultCache role): a re-submitted
    identical batch returns rank/score-identical results through the
    cached plan; distinct batches evict LRU past the bound; the
    sharded stats-override path never caches."""
    idx, _shared, oracle, pdf = built
    from lucene_solr_spark.search.wand import SegmentSearcher

    searcher = SegmentSearcher(SegmentIndex(idx.root, idx.spark),
                               cache=True)
    terms = _terms_by_df(oracle, 8)
    batch = {f"q{i}": TermQuery(terms[i % len(terms)])
             for i in range(18)}
    r1 = searcher.search_many(batch, 10)
    assert len(searcher._batch_plan_cache) == 1
    r2 = searcher.search_many(batch, 10)  # cache hit
    for qid in batch:
        assert [(d.docid, np.float32(d.score)) for d in r2[qid]] == [
            (d.docid, np.float32(d.score)) for d in r1[qid]], qid
        exp = oracle.search(batch[qid], 10)
        assert [(d.docid, np.float32(d.score)) for d in r2[qid]] == [
            (d.docid, np.float32(d.score)) for d in exp], qid
    # stats override bypasses the cache
    qt = {f"s{i}": TermQuery(terms[0]) for i in range(18)}
    searcher.search_many(qt, 5, stats={})
    assert len(searcher._batch_plan_cache) == 1
    # LRU bound at 32 distinct batches
    for i in range(40):
        searcher.search_many(
            {f"b{i}_{j}": TermQuery(terms[(i + j) % len(terms)])
             for j in range(16)}, 3)
    assert len(searcher._batch_plan_cache) <= 32


def test_highlight_over_v2(built, spark):
    """The highlighter component runs over SegmentSearcher unchanged
    (two-phase: v2 top-k, content join, snippet UDF) and produces the
    same snippets the v1 path gives for the same query."""
    from lucene_solr_spark.corpus import corpus_df
    from lucene_solr_spark.search import components as C

    idx, searcher, oracle, pdf = built
    terms = _terms_by_df(oracle, 6)
    corpus = corpus_df(spark, N_DOCS, partitions=5)
    q = TermQuery(terms[-1])
    rows = C.highlight(searcher, q, k=5, corpus=corpus).collect()
    assert rows, "no snippets"
    assert any("<b>" in r["snippet"] for r in rows)
    exp = {d.docid for d in oracle.search(q, 5)}
    assert {r["docid"] for r in rows} == exp


def test_collapse_and_rescore_over_v2(built):
    """collapse_topk and rescore components over SegmentSearcher
    (all-hits k=None mode on the compressed path): identical to the
    same components over the v1 IndexSearcher fixture corpus."""
    from lucene_solr_spark.search import components as C
    from lucene_solr_spark.search.queries import PhraseQuery

    idx, searcher, oracle, pdf = built
    terms = _terms_by_df(oracle, 6)
    q = BooleanQuery.of(should=[TermQuery(terms[-1]),
                                TermQuery(terms[-2])])
    rows = C.collapse_topk(searcher, q, "repo", k_groups=4,
                           docs_per_group=2).collect()
    assert rows and all(r["rank_in_group"] <= 2 for r in rows)
    # every returned docid's score matches the oracle's
    exp = {d.docid: np.float32(d.score) for d in oracle.search(q, 200)}
    for r in rows:
        assert np.float32(r["score"]) == exp[r["docid"]]

    rs = C.rescore(searcher, q, TermQuery(terms[0]), rescore_n=50,
                   k=10, first_weight=1.0, second_weight=2.0).collect()
    assert rs
    exp2 = {d.docid: d.score for d in oracle.search(TermQuery(terms[0]), 200)}
    for r in rs[:3]:
        want = exp[r["docid"]] + np.float32(2.0) * np.float32(
            exp2.get(r["docid"], 0.0))
        assert abs(np.float32(r["score"]) - np.float32(want)) < 2e-3


def test_term_vector_and_mlt_over_v2(built, spark):
    """term_vector reads one doc's (term, tf) pairs from its own
    segment partition; MoreLikeThis over SegmentSearcher builds the
    same query the oracle's analyzer implies."""
    from collections import Counter

    from lucene_solr_spark.analysis import StandardAnalyzer
    from lucene_solr_spark.search import components as C

    idx, searcher, oracle, pdf = built
    an = StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS)
    docid = 7
    terms, _pos = an.analyze(pdf["content"].iloc[docid])
    want = sorted(Counter(terms).items())
    got = searcher.term_vector(docid)
    assert got == want

    q = C.more_like_this(searcher, docid, max_query_terms=15)
    assert q.clauses, "MLT built an empty query"
    got_hits = _search(searcher, q, 10)
    exp_hits = oracle.search(q, 10)
    assert [(d.docid, np.float32(d.score)) for d in got_hits] == [
        (d.docid, np.float32(d.score)) for d in exp_hits]
    # facet_on_results over v2 (all-hits semi-join + groupBy)
    fc = C.facet_on_results(searcher, q, "lang").collect()
    assert fc and sum(r["count"] for r in fc) == oracle.count(q)


def test_suggest_spellcheck_terms_over_v2(built):
    """Dictionary components (suggest / spellcheck / terms_enum) work
    over the v2 dict through the _field_dict adapter, matching the
    oracle's vocabulary."""
    from lucene_solr_spark.search import components as C

    idx, searcher, oracle, pdf = built
    vocab = sorted({t for _f, t in oracle.postings})
    pfx = vocab[len(vocab) // 2][:2]
    got = C.suggest(searcher, pfx, 10).collect()
    want = sorted(
        ((oracle.doc_freq(t), t) for t in vocab if t.startswith(pfx)),
        key=lambda x: (-x[0], x[1]))[:10]
    assert [(r["term"], r["weight"]) for r in got] == [
        (t, df) for df, t in want]

    word = max(vocab, key=len)
    sc = C.spellcheck(searcher, word[:-1] + "x", n=5)
    assert sc, "no spellcheck candidates"

    te = C.terms_enum(searcher, prefix=pfx, limit=5).collect()
    assert te and all(r["term"].startswith(pfx) for r in te)


def test_paging_elevation_expand_diversified_over_v2(built):
    """cursor_page / elevate_topk / expand_topk / diversified_topk run
    over SegmentSearcher unchanged (search_df + docs surface)."""
    from lucene_solr_spark.search import components as C

    idx, searcher, oracle, pdf = built
    terms = _terms_by_df(oracle, 6)
    q = BooleanQuery.of(should=[TermQuery(terms[-1]),
                                TermQuery(terms[-2])])
    exp = [d.docid for d in oracle.search(q, 40)]

    # deep paging: pages concatenate to the oracle ranking
    seen, cursor = [], "*"
    for _ in range(6):
        rows, nxt = C.cursor_page(searcher, q, k=5, cursor_mark=cursor)
        if not rows or nxt == cursor:
            break
        seen.extend(d.docid for d in rows)
        cursor = nxt
    assert seen == exp[:len(seen)] and len(seen) >= 10

    ele = C.elevate_topk(searcher, q, elevated=[exp[3], 99999], k=8,
                         excluded=[exp[0]]).collect()
    ids = [r["docid"] for r in ele]
    assert ids[:2] == [exp[3], 99999]
    assert exp[0] not in ids

    grp = C.expand_topk(searcher, q, "repo", k_groups=3,
                        expand_rows=2).collect()
    assert grp and all(r["expand_rank"] <= 2 for r in grp)

    div = C.diversified_topk(searcher, q, "repo", k=6,
                             max_per_key=1).collect()
    keys = [r["repo"] for r in div]
    assert len(keys) == len(set(keys))
