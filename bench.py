"""Benchmark harness (driver-run per round; also used locally).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the CPUs
this process may run on) with a $LSS_DRIVER_MEM driver heap (default:
half of MemAvailable) and prints ONE JSON line: {"metric", "value"
(total sec), "unit", "queries" (per-query sec), "sf", "cpus",
"driver_memory", plus extras: index-build docs/sec and closed-loop
BM25 QPS for the flagship engine}.

Flagship numbers (BASELINE.md protocol): the inverted-index build over
the deterministic synthetic source-code corpus (corpus.py) and a
closed-loop BM25 query set over the built index — the two metrics the
north rule grades (docs/sec, QPS). Scaling runs live in
scripts/bench_scaling.py (paired local[N] vs local[4N] within the
host's delivered-core capacity → BENCH_SCALING.json / BASELINE.md).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# 120k (was 40k): the round-3 build spills the analyzed frame to
# parquet (the 100-TB design — the token stream never fits executor
# memory), which adds fixed write/read+commit costs that dominate tiny
# corpora and amortize at scale: measured v2 docs/s on this host =
# 680 at 40k, 2166 at 120k, 3890-5072 at 400k (BENCH_SCALING*.json).
# 120k keeps the bench under ~3 min while reporting steady-state rate.
N_BUILD_DOCS = int(os.environ.get("LSS_BENCH_DOCS", "120000"))
N_QUERIES = int(os.environ.get("LSS_BENCH_QUERIES", "40"))
#: timed runs per build row; the row reports their median, the raw
#: runs ride along as ``<row>_reps``
BUILD_REPS = 3


def host_cpus() -> int:
    """$SPARK_GRAFT_CPUS, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def driver_mem() -> str:
    """$LSS_DRIVER_MEM, else half of MemAvailable (at least 1 GiB): the
    other half stays free for the Python workers, which hold decoded
    postings and Arrow batches outside the JVM heap."""
    env = os.environ.get("LSS_DRIVER_MEM")
    if env:
        return env
    avail_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    return f"{max(1024, avail_kb // 1024 // 2)}m"


def make_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("lss-bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        # warm daemon: workers fork with pandas/pyarrow/numpy already
        # imported (COW) — no cold-import storms on pool churn
        .config("spark.python.daemon.module", "lucene_solr_spark.warm_daemon")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem())
        # throughput collector for a batch workload: measured 38% less
        # total task CPU than G1 on the index build (G1 write barriers
        # tax the mutators; pauses are irrelevant to batch jobs) — on a
        # real cluster this is spark.executor.extraJavaOptions
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        # task-side commit: v1's driver-serial rename of ~200 segment
        # partition dirs is a fixed serial fraction that grows with
        # corpus size (measured -17s at 16 threads / 400k docs); on
        # object stores use a manifest committer instead
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def bench_queries(spark, sf_dir: str) -> dict[str, float]:
    """Representative relational + fulltext suite entries."""
    from lucene_solr_spark.relational import QUERIES

    names = [
        "ft_bm25_scores", "ft_significant_terms", "text_quality",
        "doc_fingerprint", "facet_counts_q1", "join_rollup_revenue",
        "left_outer_counts", "grouped_topk", "time_series",
        "stats_stream", "range_query_pushdown", "ann_cosine_knn",
        "dedup_minhash_lsh", "dedup_simhash", "lang_id_heuristic",
        "token_counts", "graph_traversal", "cluster_kmeans",
        "suggest_freetext", "interval_facets", "facet_heatmap",
        "sessionize", "gopher_repetition", "source_quota_sample",
        "decontaminate_ngram", "ip_point_queries", "bbox_overlap_topk",
        "dedup_canonical", "sampled_facets", "lm_quality_score",
    ]
    out = {}
    for name in names:
        t0 = time.time()
        df = QUERIES[name](spark, sf_dir)
        df.collect()
        out[name] = round(time.time() - t0, 3)
    return out


def bench_sorted_index(spark, sf_dir: str) -> dict[str, float]:
    """Index sort + early termination (index/sorted.py): sorted top-25
    via the metadata-pruned segment walk vs the same answer by
    exhaustive scan + global top-k, over a synthesized 5M-row table.

    Honest read of the numbers: on an IDLE single box the exhaustive
    scan parallelizes across all cores while the pruned walk touches
    one small segment with little intra-job parallelism, so the full
    scan can win on wall clock here. The pruning win is aggregate WORK
    — ``sorted_rows_read_frac`` is the exact fraction of rows read
    (from the manifest), and that fraction is what a shared
    1000-executor cluster pays at 100 TB: a top-25 over a sorted
    100 TB table reads ~3 TB instead of 100 TB regardless of this
    box's crossover."""
    import shutil as _sh

    from pyspark.sql import functions as F

    from lucene_solr_spark.index.sorted import (
        SortedIndex, build_sorted_index, sorted_topk)

    root = tempfile.mkdtemp(prefix="lss_bench_sortidx_")
    out: dict[str, float] = {}
    try:
        n = 5_000_000
        rows = spark.range(n).select(
            F.col("id").alias("doc_id"),
            (F.col("id") * 7919 % 1_000_000).alias("size"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        secs = []
        for _ in range(BUILD_REPS):
            t0 = time.time()
            build_sorted_index(rows, root, "size", num_segments=32)
            secs.append(time.time() - t0)
        out["sorted_index_build"] = round(statistics.median(secs), 3)
        out["sorted_index_build_reps"] = [round(s, 3) for s in secs]
        idx = SortedIndex(root, spark)
        flt = F.col("payload").startswith("a")   # ~1/16 of rows
        t0 = time.time()
        df, stats = sorted_topk(idx, 25, filter_expr=flt)
        df.collect()
        out["sorted_topk_early"] = round(time.time() - t0, 3)
        t0 = time.time()
        (idx._full().drop("seg").where(flt)
         .orderBy("size", "doc_id").limit(25).collect())
        out["sorted_topk_fullscan"] = round(time.time() - t0, 3)
        out["sorted_segments_scanned"] = stats["segments_scanned"]
        segs = {s["seg"]: s["count"] for s in idx.manifest["segments"]}
        walked = sorted(segs)[: stats["segments_scanned"]]
        out["sorted_rows_read_frac"] = round(
            sum(segs[s] for s in walked) / n, 4)
    finally:
        _sh.rmtree(root, ignore_errors=True)
    return out


def bench_engine(spark) -> tuple[dict[str, float], dict[str, float]]:
    """Flagship: index build docs/sec + closed-loop BM25 QPS."""
    from lucene_solr_spark.corpus import corpus_df
    from lucene_solr_spark.index import build_index
    from lucene_solr_spark.index.segments import build_segment_index
    from lucene_solr_spark.search.queries import BooleanQuery, TermQuery
    from lucene_solr_spark.search.executor import IndexSearcher
    from lucene_solr_spark.search.wand import SegmentSearcher

    root = tempfile.mkdtemp(prefix="lss_bench_idx_")
    root2 = tempfile.mkdtemp(prefix="lss_bench_idx2_")
    timings: dict[str, float] = {}
    extras: dict[str, float] = {}
    try:
        corpus = corpus_df(spark, N_BUILD_DOCS)
        corpus.persist().count()  # corpus generation outside timed region
        t0 = time.time()
        tables = build_index(corpus, root)
        build_sec = time.time() - t0
        timings["index_build"] = round(build_sec, 3)
        extras["build_docs_per_sec"] = round(N_BUILD_DOCS / build_sec, 1)

        # codec v2: compressed segment build (the flagship write path);
        # FIXED docs_per_segment — segment count scales with the
        # corpus, segment size (= per-task memory) never does
        secs = []
        for _ in range(BUILD_REPS):
            t0 = time.time()
            segidx = build_segment_index(corpus, root2,
                                         docs_per_segment=2048)
            secs.append(time.time() - t0)
        v2_sec = statistics.median(secs)
        timings["index_build_v2"] = round(v2_sec, 3)
        extras["index_build_v2_reps"] = [round(s, 3) for s in secs]
        extras["build_v2_docs_per_sec"] = round(N_BUILD_DOCS / v2_sec, 1)

        wand = SegmentSearcher(segidx)
        wq = BooleanQuery.of(should=[TermQuery("int"), TermQuery("return"),
                                     TermQuery("class")])
        # a hot routed call: search serves the query in the driver
        # when its postings fit the serving budget (no Spark job),
        # else it runs the distributed leaf
        wand.search(wq, 10)  # warm
        t0 = time.time()
        wand.search(wq, 10)
        timings["wand_topk"] = round(time.time() - t0, 3)

        searcher = IndexSearcher(tables, cache=True)
        # query set drawn from the dictionary across the df spectrum
        # (FIXTURES F8): 40% single, 30% OR, 20% AND, 10% OR3
        dict_rows = (
            searcher.dict.orderBy("df").collect()
        )
        terms = [r["term"] for r in dict_rows]
        lo = terms[: len(terms) // 3]
        mid = terms[len(terms) // 3: 2 * len(terms) // 3]
        hi = terms[2 * len(terms) // 3:]
        qs = []
        for i in range(N_QUERIES):
            a = mid[(37 * i) % len(mid)]
            b = hi[(53 * i) % len(hi)]
            c = lo[(71 * i) % len(lo)]
            if i % 10 < 4:
                qs.append(TermQuery(b))
            elif i % 10 < 7:
                qs.append(BooleanQuery.of(should=[TermQuery(a), TermQuery(b)]))
            elif i % 10 < 9:
                qs.append(BooleanQuery.of(must=[TermQuery(a), TermQuery(b)]))
            else:
                qs.append(BooleanQuery.of(should=[TermQuery(a), TermQuery(b), TermQuery(c)]))
        searcher.search(qs[0], 10)  # warm
        # closed-loop: one Spark job per query (latency-bound)
        n_loop = min(10, len(qs))
        t0 = time.time()
        for q in qs[:n_loop]:
            searcher.search(q, 10)
        qsec = time.time() - t0
        timings["bm25_closed_loop"] = round(qsec, 3)
        extras["bm25_closed_loop_qps"] = round(n_loop / qsec, 2)
        # ---- drift-controlled interleaved QPS protocol (round 5) ----
        # Every throughput regime below is measured LSS_BENCH_QPS_REPS
        # times in ROUND-ROBIN order inside one session window and
        # reported as the MEDIAN (raw reps ride along): a host-load
        # window now hits every regime alike instead of whichever row
        # it landed on — the same drift-cancellation idea as the
        # simultaneous scaling protocol, applied to the headline rows
        # (round-4 VERDICT wrong #3: 974->638 phantom regressions).
        batch = {f"q{i}": q for i, q in enumerate(qs)}
        # crossover regime (VERDICT r2 perf #4): at small batches the
        # per-job overhead dominates the compressed path; the LARGE
        # batch shows where decode-once-per-term batching pays
        big = {}
        for i in range(512):
            a = mid[(37 * i) % len(mid)]
            b = hi[(53 * i) % len(hi)]
            big[f"b{i}"] = (TermQuery(b) if i % 3 == 0 else
                            BooleanQuery.of(should=[TermQuery(a),
                                                    TermQuery(b)]))

        def serving_loop():
            # SERVING mode: driver-local evaluation over the hot block
            # cache (search_local) — pure in-driver numpy once warm
            for q in qs:
                wand.search_local(q, 10)

        def wand_cold(qset):
            # bypass the plan cache (queryResultCache role): a cached
            # identical batch skips rewrite, compile and Catalyst
            # planning, which would measure the cache, not the full call
            if hasattr(wand, "_batch_plan_cache"):
                wand._batch_plan_cache.clear()
            wand.search_many(qset, 10)

        regimes = [
            # (timing key, extras qps key, workload, queries/run)
            ("bm25_batch", "bm25_batch_qps",
             lambda: searcher.search_many(batch, 10), N_QUERIES),
            ("wand_batch", "wand_batch_qps",
             lambda: wand_cold(batch), N_QUERIES),
            ("bm25_batch512", "bm25_batch512_qps",
             lambda: searcher.search_many(big, 10), 512),
            ("wand_batch512", "wand_batch512_qps",
             lambda: wand_cold(big), 512),
            # the CACHED regime, labeled as such: repeated identical
            # batch served through the compiled-plan cache (the leaf
            # still runs) — the Solr queryResultCache serving pattern
            ("wand_batch512_cached", "wand_batch512_cached_qps",
             lambda: wand.search_many(big, 10), 512),
            ("wand_local_loop", "wand_local_qps", serving_loop,
             N_QUERIES),
        ]
        for _tk, _ek, fn, _n in regimes:  # warm: plans, caches, blocks
            fn()
        n_reps = int(os.environ.get("LSS_BENCH_QPS_REPS", "3"))
        rep_secs: dict[str, list[float]] = {tk: [] for tk, *_ in regimes}
        for _ in range(n_reps):
            for tk, _ek, fn, _n in regimes:
                t0 = time.time()
                fn()
                rep_secs[tk].append(time.time() - t0)
        for tk, ek, _fn, n in regimes:
            med = statistics.median(rep_secs[tk])
            timings[tk] = round(med, 3)
            extras[ek] = round(n / med, 2)
            extras[ek + "_reps"] = [round(n / s, 1)
                                    for s in rep_secs[tk]]
        extras["qps_protocol"] = (
            f"median of {n_reps} interleaved round-robin reps per "
            "regime in one session window")
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root2, ignore_errors=True)
    return timings, extras


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = host_cpus()
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else 0.0

    spark = make_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    queries = bench_queries(spark, sf_dir)
    sorted_stats = bench_sorted_index(spark, sf_dir)
    queries["sorted_index_build"] = sorted_stats.pop("sorted_index_build")
    queries["sorted_topk_early"] = sorted_stats.pop("sorted_topk_early")
    etimings, extras = bench_engine(spark)
    queries.update(etimings)
    extras.update(sorted_stats)

    total = round(sum(queries.values()), 3)
    result = {
        "metric": "headline suite wall time (relational+fulltext queries, index build, BM25 top-k)",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "cpus": cpus,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "build_docs": N_BUILD_DOCS,
        "n_bm25_queries": N_QUERIES,
        **extras,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
