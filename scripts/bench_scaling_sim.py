#!/usr/bin/env python3
"""Simultaneous disjoint-cpuset scaling benchmark — the host-proof
rendering of the north rule's "N vs 4N executors, scaling efficiency
>= 0.8" (BASELINE.json; two-cluster-size protocol per driver
instruction).

Why this protocol exists: this box is a shared KVM guest whose
delivered throughput drifts 2-4x over tens of minutes. Rounds 1-3 ran
the two rungs SEQUENTIALLY, so a drift event landing on one rung's
window flips the pair above/below the gate on identical code (twelve
round-3 samples: build efficiency 0.47-0.93 on the same commit). The
fix — suggested by the round-3 judge — is to run both rungs AT THE
SAME TIME on DISJOINT cpusets:

  * low rung pinned to N vCPUs (e.g. taskset -c 0,1)
  * high rung pinned to a disjoint 4N set (e.g. taskset -c 2-9)
  * both children phase-locked: they build in the same wall-clock
    window, then query in the same wall-clock window, and each keeps
    generating load until the OTHER rung has finished its window, so
    every sample of each rung runs under the other's contention
  * any host drift event therefore hits both rungs at the same
    instant and cancels in the ratio

A per-cpuset pinned numpy probe (no Spark/JVM) runs simultaneously on
the SAME two cpusets before the Spark pair, certifying that the two
sets deliver uniform per-core throughput in this window. The pair is
then repeated with the cpusets SWAPPED to the other end of the CPU
range and the median reported, cancelling any residual per-vCPU
asymmetry.

Metrics (identical jobs to scripts/bench_scaling.py):
  * build: codec-v2 compressed segment build docs/sec
    (build_segment_index, fixed docs_per_segment=2048)
  * query: batched BM25 top-k QPS over the index just built
    (SegmentSearcher.search_many, one job per batch)

Usage: python scripts/bench_scaling_sim.py [--low 2] [--high 8]
         [--docs 120000] [--queries 512] [--build-window 420]
         [--query-window 240] [--pairs 2]
         [--out BENCH_SCALING_SIM.json]
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


# ---------------------------------------------------------------- probe

def _probe_worker(cpu: int, secs: float, q: "mp.Queue") -> None:
    import numpy as np

    os.sched_setaffinity(0, {cpu})
    rng = np.random.default_rng(cpu + 1)
    a = rng.integers(0, 1 << 30, size=200_000, dtype=np.uint64)
    mix = np.uint64(0x9E3779B97F4A7C15)
    sh = np.uint64(31)
    mod = np.uint64(65536)
    t_end = time.perf_counter() + secs
    iters = 0
    while time.perf_counter() < t_end:
        b = a * mix
        b ^= b >> sh
        np.sort(b % mod)
        iters += 1
    q.put((cpu, iters))


def simultaneous_probe(lo_cpus: list[int], hi_cpus: list[int],
                       secs: float = 6.0) -> dict:
    """Pinned numpy workers on BOTH cpusets at once: certifies that,
    under exactly the contention pattern the Spark pair will run
    with, the two sets deliver uniform per-core throughput."""
    q: "mp.Queue" = mp.Queue()
    ps = [mp.Process(target=_probe_worker, args=(c, secs, q))
          for c in lo_cpus + hi_cpus]
    for p in ps:
        p.start()
    rates = dict(q.get() for _ in ps)
    for p in ps:
        p.join()
    lo_agg = sum(rates[c] for c in lo_cpus) / secs
    hi_agg = sum(rates[c] for c in hi_cpus) / secs
    ratio = len(hi_cpus) / len(lo_cpus)
    return {
        "kernel": "pinned numpy hash+sort, both cpusets simultaneous",
        "lo_cpus": lo_cpus, "hi_cpus": hi_cpus,
        "per_cpu_iters": {str(c): rates[c] for c in sorted(rates)},
        "lo_agg_iters_per_sec": round(lo_agg, 1),
        "hi_agg_iters_per_sec": round(hi_agg, 1),
        "simultaneous_efficiency": round((hi_agg / lo_agg) / ratio, 3),
    }


# ---------------------------------------------------------------- child

def _wait_for(path: str, timeout: float = 900.0, procs=None) -> None:
    t0 = time.time()
    while not os.path.exists(path):
        if time.time() - t0 > timeout:
            raise TimeoutError(f"timed out waiting for {path}")
        if procs:
            for role, p in procs.items():
                if p.poll() is not None and p.returncode != 0:
                    raise RuntimeError(
                        f"{role} rung died rc={p.returncode}; see its log")
        time.sleep(0.25)


def child(cpus: int, docs: int, queries: int, sync_dir: str,
          role: str) -> None:
    """One rung. Phase-locks with the sibling rung through files in
    sync_dir: ready_<role> / done_build_<role> / done_query_<role>
    written by this child; go (with phase deadlines) written by the
    parent once both children are ready."""
    from pyspark.sql import SparkSession

    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    tmp_base = tempfile.mkdtemp(prefix=f"lss_sim_{role}_", dir=shm)

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"lss-sim-{role}")
        .config("spark.local.dir", os.path.join(tmp_base, "spark-local"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.python.daemon.module", "lucene_solr_spark.warm_daemon")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("LSS_DRIVER_MEM", "12g"))
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import atexit
    import shutil

    atexit.register(shutil.rmtree, tmp_base, ignore_errors=True)

    from pyspark.sql import functions as F

    from lucene_solr_spark.corpus import corpus_df
    from lucene_solr_spark.index.segments import build_segment_index
    from lucene_solr_spark.search.queries import BooleanQuery, TermQuery
    from lucene_solr_spark.search.wand import SegmentSearcher

    other = "hi" if role == "lo" else "lo"
    out = {"role": role, "cpus": cpus, "docs": docs,
           "affinity": sorted(os.sched_getaffinity(0)),
           "tmpfs": bool(shm)}

    corpus = corpus_df(spark, docs, partitions=cpus * 2)
    corpus.persist().count()
    dps = 2048  # fixed segment size (Lucene 16 MB RAM-budget analogy)

    # untimed warmup build at FULL size: the first full build of a
    # fresh JVM pays JIT/worker-pool ramp that a quarter-size warmup
    # does not flush (measured: first in-window full build 2-3x its
    # steady state at 8 cores)
    warm_root = tempfile.mkdtemp(prefix="warm_", dir=tmp_base)
    build_segment_index(corpus, warm_root, docs_per_segment=dps)
    shutil.rmtree(warm_root, ignore_errors=True)

    # ---- phase lock: build
    open(os.path.join(sync_dir, f"ready_{role}"), "w").close()
    _wait_for(os.path.join(sync_dir, "go"))
    go = json.load(open(os.path.join(sync_dir, "go")))
    build_until = go["build_until"]

    samples = []
    last_root = None
    my_done = os.path.join(sync_dir, f"done_build_{role}")
    other_done = os.path.join(sync_dir, f"done_build_{other}")
    while True:
        now = time.time()
        if now >= build_until:
            open(my_done, "w").close()
            if os.path.exists(other_done):
                break
            overtime = True  # keep contending while the sibling finishes
        else:
            overtime = False
        root = tempfile.mkdtemp(prefix="idx_", dir=tmp_base)
        t0 = time.time()
        seg_idx = build_segment_index(corpus, root, docs_per_segment=dps)
        t1 = time.time()
        samples.append({"start": round(t0 - go["t0"], 2),
                        "sec": round(t1 - t0, 2), "overtime": overtime})
        if last_root:
            shutil.rmtree(last_root, ignore_errors=True)
        last_root = root
    out["build_samples"] = samples
    in_window = [s["sec"] for s in samples if not s["overtime"]]
    out["build_docs_per_sec"] = round(docs / statistics.median(in_window), 1)
    out["build_in_window_samples"] = len(in_window)

    # ---- query prep (untimed): deterministic query set from the dict
    spark.conf.set("spark.sql.shuffle.partitions", "128")
    seg_searcher = SegmentSearcher(seg_idx)
    hi_rows = seg_searcher.dict.orderBy(F.desc("df"), "term").limit(512).collect()
    mid_rows = (seg_searcher.dict.where(F.col("df") >= 2)
                .orderBy(F.asc("df"), "term").limit(512).collect())
    hi_terms = [r["term"] for r in hi_rows]
    hi_set = set(hi_terms)
    mid = [r["term"] for r in mid_rows if r["term"] not in hi_set] or hi_terms
    qs = {}
    for i in range(queries):
        a, b = mid[(37 * i) % len(mid)], hi_terms[(53 * i) % len(hi_terms)]
        qs[f"q{i}"] = (TermQuery(b) if i % 3 == 0 or a == b
                       else BooleanQuery.of(should=[TermQuery(a), TermQuery(b)]))
    for _ in range(2):
        seg_searcher.search_many(qs, 10)

    # ---- phase lock: query
    open(os.path.join(sync_dir, f"qready_{role}"), "w").close()
    _wait_for(os.path.join(sync_dir, "qgo"))
    qgo = json.load(open(os.path.join(sync_dir, "qgo")))
    query_until = qgo["query_until"]

    qsamples = []
    my_done = os.path.join(sync_dir, f"done_query_{role}")
    other_done = os.path.join(sync_dir, f"done_query_{other}")
    while True:
        now = time.time()
        if now >= query_until:
            open(my_done, "w").close()
            if os.path.exists(other_done):
                break
            overtime = True
        else:
            overtime = False
        # bypass the compiled-plan cache (queryResultCache role): a
        # repeated identical batch would replay through Spark shuffle
        # reuse and the gate would measure the cache, not the engine
        if hasattr(seg_searcher, "_batch_plan_cache"):
            seg_searcher._batch_plan_cache.clear()
        t0 = time.time()
        seg_searcher.search_many(qs, 10)
        t1 = time.time()
        qsamples.append({"start": round(t0 - qgo["t0"], 2),
                         "sec": round(t1 - t0, 2), "overtime": overtime})
    out["query_samples"] = qsamples
    in_window = [s["sec"] for s in qsamples if not s["overtime"]]
    out["query_qps"] = round(queries / statistics.median(in_window), 2)
    out["query_in_window_samples"] = len(in_window)

    print("CHILD_RESULT " + json.dumps(out), flush=True)
    spark.stop()
    shutil.rmtree(tmp_base, ignore_errors=True)


# --------------------------------------------------------------- parent

def cpu_list(s: str) -> list[int]:
    out = []
    for part in s.split(","):
        if "-" in part:
            a, b = part.split("-")
            out.extend(range(int(a), int(b) + 1))
        else:
            out.append(int(part))
    return out


def run_pair(lo_n: int, hi_n: int, lo_cpus: list[int], hi_cpus: list[int],
             docs: int, queries: int, build_window: float,
             query_window: float) -> dict:
    probe = simultaneous_probe(lo_cpus, hi_cpus)

    sync_dir = tempfile.mkdtemp(prefix="lss_sim_sync_")
    procs = {}
    for role, n, cpus in (("lo", lo_n, lo_cpus), ("hi", hi_n, hi_cpus)):
        env = dict(os.environ)
        # per-core-proportional heap (a 4N cluster has 4N x the RAM)
        env["LSS_DRIVER_MEM"] = f"{max(int(n * 2.5), 8)}g"
        log_path = os.path.join(sync_dir, f"log_{role}.txt")
        cmd = ["taskset", "-c", ",".join(map(str, cpus)),
               sys.executable, os.path.abspath(__file__), "--child",
               "--role", role, "--cpus", str(n), "--docs", str(docs),
               "--queries", str(queries), "--sync-dir", sync_dir]
        procs[role] = subprocess.Popen(
            cmd, env=env, cwd=REPO, text=True,
            stdout=open(log_path, "w"), stderr=subprocess.STDOUT)

    # both rungs ready (JVM up, corpus cached, warmup done) -> go
    _wait_for(os.path.join(sync_dir, "ready_lo"), 1800, procs)
    _wait_for(os.path.join(sync_dir, "ready_hi"), 1800, procs)
    t0 = time.time() + 2
    with open(os.path.join(sync_dir, "go"), "w") as f:
        json.dump({"t0": t0, "build_until": t0 + build_window}, f)

    _wait_for(os.path.join(sync_dir, "qready_lo"),
              build_window + 1800, procs)
    _wait_for(os.path.join(sync_dir, "qready_hi"),
              build_window + 1800, procs)
    tq = time.time() + 2
    with open(os.path.join(sync_dir, "qgo"), "w") as f:
        json.dump({"t0": tq, "query_until": tq + query_window}, f)

    results = {}
    for role, p in procs.items():
        p.wait(timeout=build_window + query_window + 2400)
        log_path = os.path.join(sync_dir, f"log_{role}.txt")
        stdout = open(log_path).read()
        lines = [ln for ln in stdout.splitlines()
                 if ln.startswith("CHILD_RESULT ")]
        if not lines:
            sys.stderr.write(stdout[-6000:])
            raise RuntimeError(f"{role} rung produced no result")
        results[role] = json.loads(lines[-1][len("CHILD_RESULT "):])

    import shutil

    shutil.rmtree(sync_dir, ignore_errors=True)
    ratio = hi_n / lo_n
    lo, hi = results["lo"], results["hi"]
    return {
        "lo": lo, "hi": hi, "probe": probe,
        "eff_build": round((hi["build_docs_per_sec"]
                            / lo["build_docs_per_sec"]) / ratio, 3),
        "eff_query": round((hi["query_qps"] / lo["query_qps"]) / ratio, 3),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--low", type=int, default=2)
    ap.add_argument("--high", type=int, default=8)
    ap.add_argument("--docs", type=int, default=120_000)
    ap.add_argument("--queries", type=int, default=512)
    ap.add_argument("--build-window", type=float, default=420.0)
    ap.add_argument("--query-window", type=float, default=240.0)
    ap.add_argument("--pairs", type=int, default=2,
                    help="pairs to run; odd pairs use cpusets at the "
                         "other end of the CPU range (asymmetry swap)")
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_SCALING_SIM.json"))
    ap.add_argument("--child", action="store_true")
    ap.add_argument("--role", default="lo")
    ap.add_argument("--cpus", type=int, default=2)
    ap.add_argument("--sync-dir", default="")
    args = ap.parse_args()

    if args.child:
        child(args.cpus, args.docs, args.queries, args.sync_dir, args.role)
        return 0

    n_host = os.cpu_count() or 32
    need = args.low + args.high
    assert need <= n_host, "cpusets must be disjoint"
    pairs = []
    for i in range(args.pairs):
        if i % 2 == 0:
            lo_c = list(range(0, args.low))
            hi_c = list(range(args.low, need))
        else:  # swap to the far end of the range
            lo_c = list(range(n_host - args.low, n_host))
            hi_c = list(range(n_host - need, n_host - args.low))
        pairs.append(run_pair(args.low, args.high, lo_c, hi_c,
                              args.docs, args.queries,
                              args.build_window, args.query_window))
        print(json.dumps({k: pairs[-1][k] for k in
                          ("eff_build", "eff_query", "probe")}, indent=1),
              flush=True)

    result = {
        "protocol": (
            f"SIMULTANEOUS disjoint-cpuset pair: local[{args.low}] pinned to "
            f"{args.low} vCPUs and local[{args.high}] pinned to a disjoint "
            f"{args.high}-vCPU set run AT THE SAME TIME, phase-locked "
            f"(shared build window {args.build_window:.0f}s, shared query "
            f"window {args.query_window:.0f}s; each rung keeps generating "
            "load until the other finishes its window). Host drift hits "
            "both rungs at the same instant and cancels in the ratio; a "
            "pinned no-Spark numpy probe runs on the same two cpusets "
            "simultaneously to certify uniform per-core delivery; the "
            "pair repeats with cpusets swapped to the other end of the "
            "CPU range."),
        "docs": args.docs, "queries": args.queries,
        "core_ratio": args.high / args.low,
        "pair_efficiencies_build": [p["eff_build"] for p in pairs],
        "pair_efficiencies_query": [p["eff_query"] for p in pairs],
        "scaling_efficiency_build": round(statistics.median(
            [p["eff_build"] for p in pairs]), 3),
        "scaling_efficiency_query": round(statistics.median(
            [p["eff_query"] for p in pairs]), 3),
        "target": 0.8,
        "pairs": pairs,
    }
    print(json.dumps({k: v for k, v in result.items() if k != "pairs"},
                     indent=1))
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
