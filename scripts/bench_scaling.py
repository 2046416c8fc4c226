#!/usr/bin/env python3
"""Scaling-efficiency benchmark: same job, same input, local[N] vs
local[4N] — the sandbox rendering of the north rule's "N vs 4N
executors, throughput scaling efficiency >= 0.8" (BASELINE.json;
two-cluster-size protocol per driver instruction).

Each parallelism level runs in its OWN subprocess (fresh JVM — Spark
can't change master in-process), measuring:
  * index-build throughput (docs/sec), codec v2 segment build
  * batched BM25 query throughput (queries/sec): compiled-tree search
    over the v2 compressed index, whole batch in ONE job (the north-star
    query path), in-child median of 5 runs after 2 warmups

Prints one JSON object and appends a row to BENCH_SCALING.json.

Default pair is local[4] vs local[16], the "N vs 4N cores" rendering.

Usage:  python scripts/bench_scaling.py [--docs 60000] [--queries 2048]
        [--low 4] [--high 16] [--runs 1]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def child(cpus: int, docs: int, queries: int) -> None:
    """Runs in a subprocess: build + query at one parallelism level.

    No allocator-retention env (it fed THP/khugepaged churn); the
    warm-daemon config keeps the python worker pool healthy across
    builds, so one untimed warmup + a measured steady-state build per
    fresh JVM is honest; run-to-run host noise is handled by
    interleaved repeats + medians in the parent."""
    from pyspark.sql import SparkSession

    # All bench temp data (index roots, shuffle spill) lives on tmpfs
    # when /dev/shm is available: on a real N -> 4N cluster the
    # aggregate LOCAL-DISK bandwidth scales with executor count, but
    # this box has ONE virtual disk shared by every rung width — a
    # fixed-bandwidth resource that taxes the wide rung and measures a
    # host artifact, not the plan. tmpfs models per-executor local
    # storage (both rungs get it, so the comparison stays fair).
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tmp_base = tempfile.mkdtemp(prefix=f"lss_bench_{cpus}_", dir=shm)

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"lss-scaling-{cpus}")
        .config("spark.local.dir", os.path.join(tmp_base, "spark-local"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        # warm daemon: pandas/pyarrow/numpy imported before forking, so
        # worker-pool churn costs pages (COW), not cold imports — the
        # fork+import storm was the round-1 scaling collapse
        .config("spark.python.daemon.module", "lucene_solr_spark.warm_daemon")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("LSS_DRIVER_MEM", "24g"))
        # ParallelGC: 38% less task CPU than G1 on the build (bench.py)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        # task-side commit (see bench.py make_spark)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", "false")
    )
    for kv in os.environ.get("LSS_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            spark = spark.config(k.strip(), v.strip())
    spark = spark.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from lucene_solr_spark.corpus import corpus_df
    from lucene_solr_spark.index import build_index
    from lucene_solr_spark.index.segments import build_segment_index
    from lucene_solr_spark.search.queries import BooleanQuery, TermQuery

    import atexit
    import shutil

    # crash-safe: a dying child must not leak tmpfs (RAM-backed) dirs
    atexit.register(shutil.rmtree, tmp_base, ignore_errors=True)

    out = {"cpus": cpus, "docs": docs, "tmpfs": bool(shm)}
    corpus = corpus_df(spark, docs, partitions=cpus * 2)
    corpus.persist().count()  # materialize input OUTSIDE the timed region

    # level-INDEPENDENT segment layout: both parallelism levels must
    # query the identical index, and the build must produce the same
    # physical output at both levels for the throughput comparison to
    # be apples-to-apples. FIXED docs_per_segment (not corpus/64):
    # per-task memory in the segment builder scales with segment size,
    # so segment count must grow with the corpus, never segment size —
    # the Lucene analogy is the 16 MB IndexWriter RAM budget flushing
    # fixed-size segments regardless of corpus size.
    dps = 2048
    # WARM-UP build (untimed): first-build costs are one-off JVM/JIT/
    # worker-pool warmup that a long-lived executor pays once per
    # process lifetime; with the warm daemon successive builds are
    # steady-state (no cross-build degradation — verified by the
    # triple-build diagnostic).
    warm_root = tempfile.mkdtemp(prefix=f"lss_warm_{cpus}_", dir=tmp_base)
    warm_corpus = corpus.where("pmod(crc32(path), 4) = 0")  # quarter-size
    build_segment_index(warm_corpus, warm_root, docs_per_segment=dps)
    shutil.rmtree(warm_root, ignore_errors=True)

    root = tempfile.mkdtemp(prefix=f"lss_scale_{cpus}_", dir=tmp_base)
    t0 = time.time()
    seg_idx = build_segment_index(corpus, root, docs_per_segment=dps)
    build_sec = time.time() - t0
    out["build_sec"] = round(build_sec, 2)
    out["build_docs_per_sec"] = round(docs / build_sec, 1)

    # v1 term-bucketed index build (quarter-size corpus): kept as a
    # secondary build-scaling metric — round 1 saw NEGATIVE v1 scaling
    # (8->32 cores got slower); this row evidences the fix holds
    root1 = tempfile.mkdtemp(prefix=f"lss_scale1_{cpus}_", dir=tmp_base)
    q_corpus = corpus.where("pmod(crc32(path), 4) = 1")
    n_q = q_corpus.count()
    t0 = time.time()
    tables = build_index(q_corpus, root1)
    out["build_v1_sec"] = round(time.time() - t0, 2)
    out["v1_docs"] = int(n_q)

    # -- query scaling metric: batched BM25 top-k over the v2
    # compressed index just built (the north-star query path).
    # One job evaluates the whole batch; leaf tasks are
    # (segment-bucket x batch) pure-numpy decode/score work. 128
    # output partitions at BOTH levels keep per-task segment counts
    # balanced (level-independent task shapes).
    from pyspark.sql import functions as F

    from lucene_solr_spark.search.wand import SegmentSearcher

    spark.conf.set("spark.sql.shuffle.partitions", "128")
    seg_searcher = SegmentSearcher(seg_idx, cache=True)
    hi_rows = seg_searcher.dict.orderBy(F.desc("df"), "term").limit(512).collect()
    # low-df partner terms: at large corpus sizes the fixed synthetic
    # vocabulary saturates (every term's df grows with docs), so an
    # absolute df band can be EMPTY — take the rarest 512 terms
    # instead, excluding the hi set, which exists at every size
    mid_rows = (seg_searcher.dict.where(F.col("df") >= 2)
                .orderBy(F.asc("df"), "term").limit(512).collect())
    hi = [r["term"] for r in hi_rows]
    hi_set = set(hi)
    mid = [r["term"] for r in mid_rows if r["term"] not in hi_set] or hi
    qs = {}
    for i in range(queries):
        a, b = mid[(37 * i) % len(mid)], hi[(53 * i) % len(hi)]
        qs[f"q{i}"] = (TermQuery(b) if i % 3 == 0 or a == b
                       else BooleanQuery.of(should=[TermQuery(a), TermQuery(b)]))
    for _ in range(2):  # steady-state: worker pools + arenas + caches warm
        seg_searcher.search_many(qs, 10)
    qsecs = []
    for _ in range(5):
        t0 = time.time()
        seg_searcher.search_many(qs, 10)
        qsecs.append(time.time() - t0)
    qsec = statistics.median(qsecs)
    out["query_sec"] = round(qsec, 2)
    out["query_qps"] = round(queries / qsec, 2)
    out["query_runs"] = [round(x, 2) for x in qsecs]
    spark.conf.set("spark.sql.shuffle.partitions", str(cpus))

    import shutil

    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(root1, ignore_errors=True)
    print("CHILD_RESULT " + json.dumps(out))
    spark.stop()
    shutil.rmtree(tmp_base, ignore_errors=True)


def run_level(cpus: int, docs: int, queries: int, runs: int) -> dict:
    """One parallelism level in a fresh subprocess JVM.

    Faithful "N executors vs 4N executors" rendering on one box
    (driver instruction: "N and 4N cores"): the child is PINNED to
    exactly ``cpus`` CPUs with taskset — an unpinned local[8] is NOT
    an 8-CPU cluster, its GC/shuffle threads and Python workers
    borrow the other 24 cores — and gets per-core-proportional
    memory (a 4N cluster has 4N x the RAM of one executor)."""
    results = []
    # per-core-proportional heap (a 4N cluster has 4N x the RAM), sized
    # so the LOW level never heap-OOMs on the blocks exchange (measured
    # at 1.5 GB/core); the 8 GB floor can only bias the LOW level
    # faster, i.e. it is conservative for the efficiency claim
    mem_gb = max(int(cpus * 2.5), 8)
    for _ in range(runs):
        env = dict(os.environ)
        env["LSS_DRIVER_MEM"] = f"{mem_gb}g"
        cmd = [sys.executable, os.path.abspath(__file__), "--child",
               "--cpus", str(cpus), "--docs", str(docs),
               "--queries", str(queries)]
        n_host = os.cpu_count() or cpus
        if cpus < n_host:
            cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
        p = subprocess.run(
            cmd, env=env,
            capture_output=True, text=True, cwd=REPO, timeout=3600,
        )
        line = [ln for ln in p.stdout.splitlines() if ln.startswith("CHILD_RESULT ")]
        if not line:
            sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
            raise RuntimeError(f"child at local[{cpus}] produced no result")
        results.append(json.loads(line[-1][len("CHILD_RESULT "):]))
    med = {k: (statistics.median(r[k] for r in results)
               if isinstance(results[0][k], (int, float)) else results[0][k])
           for k in results[0]}
    return med


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=int(os.environ.get("LSS_SCALE_DOCS", "60000")))
    ap.add_argument("--queries", type=int, default=2048)
    ap.add_argument("--low", type=int, default=4)
    ap.add_argument("--high", type=int, default=16)
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--alternate", action="store_true",
                    help="alternate rung order across pairs (drift-"
                         "bias cancellation; see comment at the loop)")
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_SCALING.json"),
                    help="result JSON path (ladder pairs write elsewhere "
                         "so the primary gate pair isn't clobbered)")
    ap.add_argument("--child", action="store_true")
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()

    if args.child:
        child(args.cpus, args.docs, args.queries)
        return 0

    # PAIRED protocol: this host's delivered throughput drifts 2-4x
    # over tens of minutes (shared VM; measured: the same 8-proc
    # pure-CPU probe swings 60-81 Mops/s, and one 400k-doc 8-core
    # build ran FASTER than the best-ever 32-core build an hour
    # later). A low/high pair runs back-to-back (minutes apart), the
    # efficiency is computed WITHIN each pair, and the median of the
    # pair efficiencies is reported — between-pair drift cancels,
    # within-pair drift is bounded by the pair's short wall time.
    lo_rs, hi_rs, pair_eff_b, pair_eff_q = [], [], [], []
    ratio = args.high / args.low
    for i in range(args.runs):
        # alternate rung ORDER across pairs (lo→hi, hi→lo, …): if the
        # host's delivered throughput drifts monotonically over a
        # pair's ~20-min wall, a fixed order biases every pair's
        # efficiency the same way (degrading host + hi-rung-last =
        # efficiency biased DOWN); alternating makes the bias cancel
        # in the median instead of accumulating
        if args.alternate and i % 2 == 1:
            hi = run_level(args.high, args.docs, args.queries, 1)
            lo = run_level(args.low, args.docs, args.queries, 1)
        else:
            lo = run_level(args.low, args.docs, args.queries, 1)
            hi = run_level(args.high, args.docs, args.queries, 1)
        lo_rs.append(lo)
        hi_rs.append(hi)
        pair_eff_b.append(
            (hi["build_docs_per_sec"] / lo["build_docs_per_sec"]) / ratio)
        pair_eff_q.append((hi["query_qps"] / lo["query_qps"]) / ratio)
    med = lambda rs: {k: (statistics.median(r[k] for r in rs)
                          if isinstance(rs[0][k], (int, float)) else rs[0][k])
                      for k in rs[0]}
    lo, hi = med(lo_rs), med(hi_rs)

    result = {
        "protocol": f"local[{args.low}] vs local[{args.high}], same input "
                    f"({args.docs} docs), fresh JVM per level, "
                    f"{args.runs} back-to-back pair(s)"
                    + (", alternating rung order" if args.alternate else "")
                    + ", median of within-pair efficiencies "
                    "(shared-host drift cancellation)",
        "low": lo, "high": hi,
        "core_ratio": ratio,
        "pair_efficiencies_build": [round(x, 3) for x in pair_eff_b],
        "pair_efficiencies_query": [round(x, 3) for x in pair_eff_q],
        "scaling_efficiency_build": round(statistics.median(pair_eff_b), 3),
        "scaling_efficiency_query": round(statistics.median(pair_eff_q), 3),
        "target": 0.8,
    }
    print(json.dumps(result, indent=1))
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
