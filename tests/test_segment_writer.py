"""The segment writer (``index/segments.py`` ``_write_segments``): one
Spark task per segment builds or copies that segment and writes its one
file. Pins the build's task shape, the rows the JVM analyzer defers to
the Python analyzer (non-ASCII text, 256+ char tokens) through the
writer on both the build and the flush + compaction path, and docid
numbering across compaction holes."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.analysis import ENGLISH_STOP_WORDS, StandardAnalyzer
from lucene_solr_spark.corpus import corpus_df, corpus_pandas
from lucene_solr_spark.index import check_segment_index
from lucene_solr_spark.index.segments import (
    FIELD_SEP,
    SegmentIndex,
    append_deletes,
    build_segment_index,
)
from lucene_solr_spark.oracle import OracleIndex
from lucene_solr_spark.search.queries import (
    BooleanQuery,
    PhraseQuery,
    TermQuery,
)
from lucene_solr_spark.search.wand import SegmentSearcher
from lucene_solr_spark.streaming import IncrementalIndexer, compact_segments


def _hits(rows):
    return [(d.docid, np.float32(d.score)) for d in rows]


def _jobs_since(sc, mark):
    """[(description, [(tasks, shuffle_read_bytes)])] of the jobs newer
    than ``mark``, from the application status store. Skipped stages
    are left out, and so are stages the store no longer holds: past
    ``spark.ui.retainedStages`` it evicts by completion time, skipped
    stages (no completion time) first, so a long session loses the
    skipped stages of jobs this recent."""
    from py4j.protocol import Py4JJavaError

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = store.jobsList(None)  # newest first
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if int(j.jobId()) <= mark:
            break
        desc = j.description()
        sids = j.stageIds()
        stages = []
        for k in range(sids.size()):
            try:
                s = store.lastStageAttempt(int(sids.apply(k)))
            except Py4JJavaError as e:
                if "NoSuchElementException" not in str(e.java_exception):
                    raise
                continue
            if s.status().toString() != "SKIPPED":
                stages.append((int(s.numTasks()),
                               int(s.shuffleReadBytes())))
        out.append((desc.get() if desc.isDefined() else "", stages))
    return out


def test_build_writes_one_task_per_segment(spark, tmp_path):
    """A 7-segment build runs its blocks stage as ONE job of 7 tasks
    with no shuffle read — no exchange, no segment sharing a task —
    and each task records its own checkpoint row."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    mark = int(jobs.apply(0).jobId()) if jobs.size() else -1
    idx = build_segment_index(corpus_df(spark, 210, partitions=3),
                              str(tmp_path / "idx"),
                              stop_words=ENGLISH_STOP_WORDS,
                              docs_per_segment=32)
    assert idx.manifest()["n_segments"] == 7
    writer = [stages for desc, stages in _jobs_since(sc, mark)
              if desc == "write 7 segment files"]
    assert writer == [[(7, 0)]]
    cps = idx.checkpoints().where(F.col("stage") == "blocks").collect()
    assert sorted((r["chunk"], r["segment_lo"], r["segment_hi"])
                  for r in cps) == [(s, s, s + 1) for s in range(7)]
    assert sum(r["n_docs"] for r in cps) == 210
    assert sorted(idx.segment_files()) == list(range(7))
    assert all(len(f) == 1 for f in idx.segment_files().values())


# ---------------------------------------------------------------------------
# rows the JVM analyzer defers to the Python analyzer

N_PY = 60
DPS = 16
LONG_TOKEN = "z" * 300   # over the 255-char StandardAnalyzer chop


@pytest.fixture(scope="module")
def py_corpus():
    pdf = (corpus_pandas(N_PY)
           .sort_values(["repo", "path", "commit"]).reset_index(drop=True))
    pdf["title"] = [f"{lang} file of {p.split('/')[-1].split('.')[0]}"
                    for lang, p in zip(pdf["lang"], pdf["path"])]
    for i in (3, 17, 40):   # non-ASCII: full Unicode word breaks
        pdf.loc[i, "content"] += " Café naïve résumé café"
        pdf.loc[i, "title"] = "Café Crème " + pdf.loc[i, "title"]
    pdf.loc[25, "content"] += f" {LONG_TOKEN} tail"
    return pdf


def _block_rows(idx):
    """Content-field block rows (kind=0 unqualified terms) and the
    kind=1 doc rows, as sortable tuples; ``segment`` as its rank in the
    manifest's segment list (a compaction writes under fresh ids)."""
    rank = {s: i for i, s in enumerate(idx.manifest()["segments"])}
    rows = (idx.block_rows()
            .where((F.col("kind") == 1)
                   | ((F.col("kind") == 0)
                      & ~F.col("term").contains(FIELD_SEP)))
            .drop("repo", "path", "commit", "lang").collect())
    return sorted(tuple(rank[v] if c == "segment"
                        else bytes(v) if isinstance(v, (bytes, bytearray))
                        else v for c, v in r.asDict().items())
                  for r in rows)


def _queries(oracle):
    long_terms = [t for f, t in oracle.postings
                  if f == "content" and len(t) > 200]
    assert long_terms
    return {
        "cafe": TermQuery("café"),
        "resume": TermQuery("résumé"),
        "long": TermQuery(long_terms[0]),
        "phrase": PhraseQuery(("naïve", "résumé")),
        "mix": BooleanQuery.of(should=[TermQuery("café"),
                                       TermQuery("return")]),
    }


def test_python_analyzer_rows_through_writer(spark, tmp_path, py_corpus):
    pdf = py_corpus
    full = build_segment_index(
        spark.createDataFrame(pdf), str(tmp_path / "full"),
        stop_words=ENGLISH_STOP_WORDS, docs_per_segment=DPS,
        fields=("content", "title"))
    # the same docs as two flushes (segment-aligned) + a compaction
    indexer = IncrementalIndexer(str(tmp_path / "nrt"),
                                 stop_words=ENGLISH_STOP_WORDS,
                                 docs_per_segment=DPS)
    cols = ["repo", "path", "commit", "lang", "content"]
    indexer.process_batch(spark.createDataFrame(pdf.iloc[:2 * DPS][cols]), 0)
    indexer.process_batch(spark.createDataFrame(pdf.iloc[2 * DPS:][cols]), 1)
    compact_segments(SegmentIndex(indexer.root, spark), min_fill=2.0)
    nrt = SegmentIndex(indexer.root, spark)

    analyzer = StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS)
    multi = OracleIndex(analyzer=analyzer)
    for _, r in pdf.iterrows():
        multi.add({"content": r["content"], "title": r["title"]})
    single = OracleIndex(analyzer=analyzer)
    single.add_all(pdf["content"])

    shas = [hashlib.sha256(c.encode("utf-8")).hexdigest()
            for c in pdf["content"]]
    for idx in (full, nrt):
        st = check_segment_index(idx)
        assert st.clean, st.failed()
        docs = idx.docs().orderBy("docid").collect()
        assert [r["content_sha256"] for r in docs] == shas
    # encoded content postings and doc rows are the same bytes
    assert _block_rows(full) == _block_rows(nrt)

    fs, ns = SegmentSearcher(full), SegmentSearcher(nrt)
    for name, q in _queries(single).items():
        exp = _hits(single.search(q, 10))
        assert exp, name
        assert _hits(fs.search(q, 10)) == _hits(multi.search(q, 10)) == exp, name
        assert _hits(ns.search(q, 10)) == exp, name
        assert _hits(ns.search_local(q, 10)) == exp, name
    for q in (TermQuery("café", field="title"),
              TermQuery("crème", field="title"),
              PhraseQuery(("café", "crème"), field="title")):
        exp = _hits(multi.search(q, 10))
        assert len(exp) == 3, q
        assert _hits(fs.search(q, 10)) == exp, q


# ---------------------------------------------------------------------------
# docid numbering across compaction


def test_flush_after_compaction_never_reuses_docids(spark, tmp_path):
    """Compaction drops deleted docs without renumbering, so the docid
    space keeps holes and doc_count falls below the surviving max
    docid; the next flush must number from ``next_docid``."""
    pdf = (corpus_pandas(99)
           .sort_values(["repo", "path", "commit"]).reset_index(drop=True))
    cols = ["repo", "path", "commit", "lang", "content"]
    root = str(tmp_path / "idx")
    indexer = IncrementalIndexer(root, stop_words=ENGLISH_STOP_WORDS,
                                 docs_per_segment=24)
    indexer.process_batch(spark.createDataFrame(pdf.iloc[:48][cols]), 0)
    indexer.process_batch(spark.createDataFrame(pdf.iloc[48:96][cols]), 1)
    append_deletes(root, [3, 10])
    compact_segments(SegmentIndex(root, spark), min_fill=2.0)
    assert SegmentIndex(root, spark).manifest()["doc_count"] == 94
    indexer.process_batch(spark.createDataFrame(pdf.iloc[96:][cols]), 2)

    idx = SegmentIndex(root, spark)
    ids = [r["docid"] for r in idx.docmap().select("docid").collect()]
    assert len(ids) == len(set(ids)) == 97
    assert sorted(ids)[-3:] == [96, 97, 98]
    assert idx.manifest()["next_docid"] == 99
    assert idx.docs().count() == idx.docs().select("docid").distinct().count() == 97
    st = check_segment_index(idx, decode=False)
    assert st.checks["manifest_next_docid"] == 0
    assert st.failed() == {"docmap_docid_contiguous": 1}


def test_compacting_away_the_highest_docid_keeps_next_docid(spark, tmp_path):
    """``next_docid`` never goes down: a compaction that drops the
    highest docid leaves it in place, so the next flush does not hand
    that docid to a new doc."""
    pdf = (corpus_pandas(49)
           .sort_values(["repo", "path", "commit"]).reset_index(drop=True))
    cols = ["repo", "path", "commit", "lang", "content"]
    root = str(tmp_path / "idx")
    indexer = IncrementalIndexer(root, stop_words=ENGLISH_STOP_WORDS,
                                 docs_per_segment=24)
    indexer.process_batch(spark.createDataFrame(pdf.iloc[:48][cols]), 0)
    append_deletes(root, [47])
    compact_segments(SegmentIndex(root, spark), min_fill=2.0)
    m = SegmentIndex(root, spark).manifest()
    assert (m["doc_count"], m["next_docid"]) == (47, 48)
    indexer.process_batch(spark.createDataFrame(pdf.iloc[48:][cols]), 1)

    idx = SegmentIndex(root, spark)
    got = idx.docmap().where(F.col("path") == pdf.iloc[48]["path"]).collect()
    assert [r["docid"] for r in got] == [48]
    ids = sorted(r["docid"] for r in idx.docmap().select("docid").collect())
    assert ids == [*range(47), 48]
    assert idx.manifest()["next_docid"] == 49
    st = check_segment_index(idx, decode=False)
    assert st.checks["manifest_next_docid"] == 0
    assert st.failed() == {"docmap_docid_contiguous": 1}
