"""JVM-side analyzer (analysis/jvm.py) must be byte-identical to the
Python tokenizer on every row — ASCII rows via Spark builtins,
non-ASCII / overlong rows via the mapInPandas fallback. The StopFilter
runs downstream in the builders (numpy isin); its end-to-end behavior
is pinned by the rank-identity suite vs the oracle engine."""

import hashlib

import numpy as np
import pytest

from lucene_solr_spark.analysis.jvm import analyzed_columns
from lucene_solr_spark.analysis.tokenizer import (
    ENGLISH_STOP_WORDS,
    StandardAnalyzer,
    standard_tokenize,
)

CASES = [
    "the fast key order sort table scan merge",
    "foo.bar can't 3.14 foo_bar a-b (x){y};z",
    "Foo:Bar A_B_C __init__ x,y 1,000 3.14.15 obj.method().call",
    "don't it's O'Neil 'quoted' mixed123abc 9to5",
    "",
    "   ",
    "UPPER lower MiXeD THE THE the",
    "tab\tsep\nnewline\rcr",
    "trailing_ _leading __both__ _",
    "a.b.c.d e'f'g h:i:j k,l,m n;o;p",
    "num 1.2,3 4;5 6'7 8_9 digits007x 007",
    "x" * 300,  # overlong token → python fallback (255-chop)
    "café résumé ascii",  # non-ASCII → python fallback
    "日本語 text",
]


def test_jvm_matches_python_tokenizer(spark):
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(CASES)], "id int, content string")
    rows = analyzed_columns(df).orderBy("id").collect()
    assert len(rows) == len(CASES)
    for r in rows:
        text = CASES[r["id"]]
        exp = [t.lower() for t in standard_tokenize(text)]
        assert list(r["tokens"]) == exp, f"tokens diverge on {text!r}"
        assert r["content_sha256"] == hashlib.sha256(
            text.encode("utf-8")).hexdigest()


def test_jvm_matches_python_on_corpus(spark):
    from lucene_solr_spark.corpus import corpus_df

    df = corpus_df(spark, 200, partitions=4)
    rows = analyzed_columns(df).select("content", "tokens").collect()
    assert len(rows) == 200
    for r in rows:
        exp = [t.lower() for t in standard_tokenize(r["content"])]
        assert list(r["tokens"]) == exp


def test_numpy_stop_filter_matches_analyzer():
    """The builders' vectorized stop filter over the raw token stream
    must reproduce StandardAnalyzer.analyze (terms + gap positions)."""
    analyzer = StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS)
    stop_arr = np.asarray(sorted(ENGLISH_STOP_WORDS), dtype=object)
    for text in CASES:
        raw = np.asarray([t.lower() for t in standard_tokenize(text)],
                         dtype=object)
        if raw.size:
            keep = ~np.isin(raw, stop_arr)
            terms = list(raw[keep])
            positions = list(np.flatnonzero(keep))
        else:
            terms, positions = [], []
        exp_t, exp_p = analyzer.analyze(text)
        assert terms == exp_t
        assert positions == exp_p


@pytest.mark.parametrize("n", [0, 1])
def test_empty_and_single_doc(spark, n):
    df = spark.createDataFrame(
        [(i, "alpha beta") for i in range(n)], "id int, content string")
    rows = analyzed_columns(df).collect()
    assert len(rows) == n


def test_deferred_finalize_matches_analyzed_columns(spark, tmp_path):
    """analyzed_deferred + parquet barrier + finish_python_rows (the
    builds' path) must be row-identical to analyzed_columns (minus the
    content column) on the mixed-case corpus, including the
    Python-fallback rows; the deferred plan must be ONE scan with no
    Union (the 3x-regex union shape is exactly what it removes)."""
    from lucene_solr_spark.analysis.jvm import (
        PY_CONTENT_COL,
        analyzed_deferred,
        finish_python_rows,
    )

    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(CASES)] + [(len(CASES), None)],
        "id int, content string")

    plan = analyzed_deferred(df)._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    assert plan.count("Scan") == 1
    # the whole point: ONE regex evaluation per row (CollapseProject
    # must NOT inline the _lss_raw alias into its several consumers)
    assert plan.count("regexp_extract_all") == 1

    spill = str(tmp_path / "spill")
    analyzed_deferred(df).write.parquet(spill)
    fin = finish_python_rows(spark.read.parquet(spill).toPandas(),
                             [("tokens", PY_CONTENT_COL, True)])
    got = {r["id"]: r for r in fin.to_dict("records")}
    exp = {r["id"]: r for r in analyzed_columns(df).drop("content").collect()}
    assert set(got) == set(exp)
    for i in exp:
        assert list(got[i]["tokens"]) == list(exp[i]["tokens"]), i
        assert got[i]["content_sha256"] == exp[i]["content_sha256"], i
        assert PY_CONTENT_COL not in got[i]
