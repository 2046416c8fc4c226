"""ShardedSearcher: ExactStatsCache bit-identity over split shards,
LocalStatsCache divergence (SURVEY §3.2 distributed search)."""

import numpy as np
import pytest

from lucene_solr_spark.analysis import ENGLISH_STOP_WORDS, StandardAnalyzer
from lucene_solr_spark.corpus import corpus_pandas
from lucene_solr_spark.index.segments import build_segment_index, split_index
from lucene_solr_spark.oracle import OracleIndex
from lucene_solr_spark.search.queries import BooleanQuery, PhraseQuery, TermQuery
from lucene_solr_spark.search.sharded import ShardedSearcher

N_DOCS = 180


@pytest.fixture(scope="module")
def sharded(spark, tmp_path_factory):
    pdf = (corpus_pandas(N_DOCS)
           .sort_values(["repo", "path", "commit"]).reset_index(drop=True))
    src = str(tmp_path_factory.mktemp("shard_src"))
    build_segment_index(spark.createDataFrame(pdf), src,
                        stop_words=ENGLISH_STOP_WORDS, docs_per_segment=24)
    roots = [str(tmp_path_factory.mktemp(f"shard_{i}")) for i in range(3)]
    split_index(src, roots, spark)
    oracle = OracleIndex(
        analyzer=StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS))
    oracle.add_all(pdf["content"])
    return roots, oracle, spark


def _probes(oracle):
    by_df = sorted((t for _f, t in oracle.postings),
                   key=lambda t: (oracle.doc_freq(t), t))
    return by_df


def test_exact_stats_bit_identical(sharded):
    roots, oracle, spark = sharded
    s = ShardedSearcher(roots, spark, stats="exact", cache=True)
    assert s.doc_count == oracle.doc_count
    by_df = _probes(oracle)
    queries = [
        TermQuery(by_df[-1]),
        TermQuery(by_df[len(by_df) // 2]),
        BooleanQuery.of(should=[TermQuery(by_df[-1]),
                                TermQuery(by_df[-3])],
                        must_not=[TermQuery(by_df[0])]),
        BooleanQuery.of(must=[TermQuery(by_df[-2])],
                        should=[TermQuery(by_df[len(by_df) // 3])]),
    ]
    for q in queries:
        exp = oracle.search(q, 15)
        got = s.search(q, 15)
        assert [(d.docid, np.float32(d.score)) for d in got] == [
            (d.docid, np.float32(d.score)) for d in exp], q


def test_local_stats_diverges_in_scores(sharded):
    roots, oracle, spark = sharded
    s_local = ShardedSearcher(roots, spark, stats="local")
    by_df = _probes(oracle)
    q = TermQuery(by_df[len(by_df) // 2])
    exp = {d.docid: np.float32(d.score) for d in oracle.search(q, 10**6)}
    got = {d.docid: np.float32(d.score)
           for d in s_local.search(q, len(exp) + 10)}
    # membership is stats-independent...
    assert set(got) == set(exp)
    # ...but per-shard idf/avgdl make at least one score differ
    assert any(got[d] != exp[d] for d in got)


def test_unknown_stats_mode(sharded):
    roots, _oracle, spark = sharded
    with pytest.raises(ValueError):
        ShardedSearcher(roots, spark, stats="fuzzy")


def test_batched_scatter_gather_exact(sharded):
    """search_many over shards: one batched job per shard (the
    tree-batch leaf for >=16 queries), global stats round, TopDocs
    merge — bit-identical to the monolithic oracle per query."""
    from lucene_solr_spark.search.sharded import ShardedSearcher

    roots, oracle, spark = sharded
    s = ShardedSearcher(roots, spark, stats="exact", cache=True)
    by_df = _probes(oracle)
    qs = {}
    for i in range(20):
        a = by_df[(7 * i) % len(by_df)]
        b = by_df[-(1 + i % 9)]
        qs[f"q{i}"] = (TermQuery(b) if i % 3 == 0 else
                       BooleanQuery.of(should=[TermQuery(a), TermQuery(b)]))
    got = s.search_many(qs, 12)
    for qid, q in qs.items():
        exp = oracle.search(q, 12)
        assert [(d.docid, np.float32(d.score)) for d in got[qid]] == [
            (d.docid, np.float32(d.score)) for d in exp], qid


@pytest.fixture(scope="module")
def sharded_mf(spark, tmp_path_factory):
    """Multi-FIELD sharded fixture: per-field v2 postings split into 3
    shards (regression: exact-stats used to key global dfs by BARE
    term while the searcher keys by field-qualified term, so fielded
    MUST clauses silently got df=0)."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.corpus import corpus_df

    src = str(tmp_path_factory.mktemp("shard_mf_src"))
    corpus = corpus_df(spark, N_DOCS, partitions=4).withColumn(
        "title",
        F.concat_ws(" ", F.col("lang"), F.lit("file"), F.lit("of"),
                    F.element_at(F.split(F.element_at(
                        F.split(F.col("path"), "/"), -1), "\\."), 1)))
    build_segment_index(corpus, src, stop_words=ENGLISH_STOP_WORDS,
                        docs_per_segment=24,
                        fields=("content", "title"))
    roots = [str(tmp_path_factory.mktemp(f"shard_mf_{i}"))
             for i in range(3)]
    split_index(src, roots, spark)
    pdf = (corpus_pandas(N_DOCS)
           .sort_values(["repo", "path", "commit"]).reset_index(drop=True))
    oracle = OracleIndex(
        analyzer=StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS))
    for _, r in pdf.iterrows():
        title = "%s file of %s" % (
            r["lang"], r["path"].split("/")[-1].split(".")[0])
        oracle.add({"content": r["content"], "title": title})
    return roots, oracle, spark


def test_exact_stats_multifield_fielded_queries(sharded_mf):
    roots, oracle, spark = sharded_mf
    s = ShardedSearcher(roots, spark, stats="exact", cache=True)
    by_df = _probes(oracle)
    queries = [
        TermQuery("file", field="title"),
        BooleanQuery.of(must=[TermQuery("python", field="title")],
                        should=[TermQuery(by_df[-1])]),
        BooleanQuery.of(should=[TermQuery("java", field="title"),
                                TermQuery(by_df[-2])]),
    ]
    for q in queries:
        exp = oracle.search(q, 15)
        got = s.search(q, 15)
        assert [(d.docid, np.float32(d.score)) for d in got] == [
            (d.docid, np.float32(d.score)) for d in exp], q
        assert got, f"no hits for {q} — fielded stats dropped"


def test_exact_stats_multifield_batched(sharded_mf):
    roots, oracle, spark = sharded_mf
    s = ShardedSearcher(roots, spark, stats="exact", cache=True)
    by_df = _probes(oracle)
    qs = {}
    for i in range(18):
        qs[f"q{i}"] = BooleanQuery.of(
            must=[TermQuery(["python", "java", "go"][i % 3], field="title")],
            should=[TermQuery(by_df[-(1 + i % 7)])])
    got = s.search_many(qs, 10)
    for qid, q in qs.items():
        exp = oracle.search(q, 10)
        assert [(d.docid, np.float32(d.score)) for d in got[qid]] == [
            (d.docid, np.float32(d.score)) for d in exp], qid


def test_search_many_does_not_mutate_df_map(sharded):
    """The exact-stats batch path must not clobber the shard
    searcher's cached dictionary (_df_map) — it is shared state and
    the multi-term rewrite vocabulary."""
    roots, oracle, spark = sharded
    s = ShardedSearcher(roots, spark, stats="exact", cache=True)
    saved = [dict(sh._df_map) if sh._df_map is not None else None
             for sh in s.shards]
    by_df = _probes(oracle)
    qs = {f"q{i}": TermQuery(by_df[-(1 + i % 5)]) for i in range(20)}
    s.search_many(qs, 5)
    for sh, before in zip(s.shards, saved):
        after = dict(sh._df_map) if sh._df_map is not None else None
        assert after == before


def test_exact_stats_multiterm_expansion(sharded):
    """Multi-term queries on the sharded exact-stats path: the stats
    round unions each shard's own rewrite expansion (per-shard
    dictionaries can expand differently), so global dfs cover every
    expanded term and results stay bit-identical to the monolithic
    oracle."""
    from lucene_solr_spark.search.queries import PrefixQuery

    roots, oracle, spark = sharded
    s = ShardedSearcher(roots, spark, stats="exact", cache=True)
    by_df = _probes(oracle)
    prefixes = sorted({t[:3] for t in by_df[-20:] if len(t) > 3})[:4]
    for p in prefixes:
        for rw in ("constant_score", "scoring_boolean"):
            q = PrefixQuery(p, rewrite=rw)
            exp = oracle.search(q, 12)
            got = s.search(q, 12)
            assert [(d.docid, np.float32(d.score)) for d in got] == [
                (d.docid, np.float32(d.score)) for d in exp], (p, rw)
    # mixed batch: prefix + fielded terms through search_many
    qs = {f"p{i}": PrefixQuery(prefixes[i % len(prefixes)],
                               rewrite="scoring_boolean")
          for i in range(8)}
    qs.update({f"t{i}": TermQuery(by_df[-(1 + i)]) for i in range(10)})
    got_b = s.search_many(qs, 8)
    for qid, q in qs.items():
        exp = oracle.search(q, 8)
        assert [(d.docid, np.float32(d.score)) for d in got_b[qid]] == [
            (d.docid, np.float32(d.score)) for d in exp], qid
