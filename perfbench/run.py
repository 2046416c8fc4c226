"""Host-sized benchmark for the BM25 engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Workloads (one closed-loop client on ``local[nproc]``):

* ``batch`` — new 1024-query batches through ``SegmentSearcher.search_many``.
* ``query`` — single queries through ``SegmentSearcher.search`` (one
  Spark job per query, the windowed WAND traversal).

Set-up, timed as ``setup_s``: a seeded ``corpus_df`` corpus, a small
warm-up index build, the main ``build_segment_index`` with library
defaults, ``build_segment_blooms``, ``SegmentSearcher(idx, cache=True)``
and an untimed warm-up of the workload's call. Correctness checks run
outside every timed region: an oracle preflight on the warm-up index,
``check_segment_index`` plus a per-row content sha256 comparison on the
main index, and a cross-check of the workload's results between the
WAND path (``search``) and the exhaustive tree (``search_local``).

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (spans around every public call, Spark counters per span, and
kernel/serving probes). The last stdout line is the result object; the
line before it is a record of the host, phases and checks. The layer →
end-to-end metric map is in ``perfbench/LAYERS.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import sys
import time
from pathlib import Path


ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.measure import (SparkCounters, Tracer,  # noqa: E402
                               peak_rss_mb, quantile, self_times, tail)
from perfbench.querygen import (SHAPES, QueryStream, bloom_sets,  # noqa: E402
                                rank_terms, to_query)

WORKLOADS = ("batch", "query")
N_DOCS = 8_000       # main corpus (2 segments at the default 4096 docs)
N_SMALL = 200        # warm-up / oracle-preflight corpus
PREFLIGHT_BATCH = 32  # preflight batch size (>= the batch-tree threshold)
BATCH = 1024         # queries per search_many call
K = 10
WARMUP_QUERIES = 3   # untimed single queries before the query loop
WARMUP_BATCHES = 1   # untimed batches before the batch loop
BATCH_SAMPLE = 2     # queries per batch cross-checked against search_local
WAND_SAMPLE = 2      # batch-sampled queries also cross-checked against search
SERVE_WARMUP = 50    # traced serving probe: untimed warm-up stream
SERVE_PROBE = 100    # traced serving probe: classified queries
KERNEL_QUERIES = 64  # traced kernel probe: terms of this many queries
KERNEL_REPS = 5


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_record(seed: int) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_available_mb": mem_kb // 1024,
        "spark": pyspark.__version__, "python": platform.python_version(),
        "numpy": numpy.__version__, "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__, "seed": seed,
    }


def make_spark(host: dict, work: Path):
    """local[nproc], shuffle partitions = nproc, driver heap a quarter
    of MemAvailable within [1, 4] GiB; all scratch under ``work``."""
    from pyspark.sql import SparkSession

    heap_mb = max(1024, min(4096, host["mem_available_mb"] // 4))
    host["driver_heap_mb"] = heap_mb
    n = host["nproc"]
    tmp = work / "tmp"
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.python.daemon.module", "lucene_solr_spark.warm_daemon")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def hits(rows) -> list[tuple[int, float]]:
    """(docid, float32 score) pairs — the identity the checks compare."""
    import numpy as np

    return [(int(d.docid), float(np.float32(d.score))) for d in rows]


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (hidden checksum files and
    markers excluded)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Bench:
    def __init__(self, spark, args, work: Path):
        self.spark = spark
        self.sc = spark.sparkContext
        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.tracer = Tracer(self.sc) if self.trace else None
        self.counters = SparkCounters(self.sc) if self.trace else None
        self.phases: dict[str, float] = {}
        self.rss: dict[str, float] = {}  # driver VmHWM after each phase
        self.checks: dict[str, int] = {}
        self.layers: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.specs_seen: list[tuple] = []  # every generated query spec

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def phase(self, name: str):
        """Time a phase; under --trace 1 also record it as a span."""
        cm = (self.tracer.span(name) if self.trace
              else contextlib.nullcontext())
        t0 = time.perf_counter()
        with cm:
            yield
        self.phases[name] = self.phases.get(name, 0.0) + (
            time.perf_counter() - t0)
        self.rss[name] = peak_rss_mb()

    def check(self, name: str, bad: int, attempts: int = 1) -> None:
        self.checks[name] = self.checks.get(name, 0) + int(bad)
        self.attempted += attempts
        self.failed += int(bad)
        if bad:
            print(f"perfbench: check {name} failed ({bad})", file=sys.stderr)

    # -- set-up -------------------------------------------------------------
    def setup(self) -> None:
        import pyarrow.parquet as pq

        from lucene_solr_spark.corpus import corpus_df
        from lucene_solr_spark.index.bloom import build_segment_blooms
        from lucene_solr_spark.index.segments import build_segment_index
        from lucene_solr_spark.search.wand import SegmentSearcher

        seed = self.args.seed
        t0 = time.perf_counter()
        with self.phase("setup"):
            with self.phase("corpus"):
                self.corpus = corpus_df(self.spark, N_DOCS, seed=seed).persist()
                self.corpus.count()
            with self.phase("warmup_build"):
                # takes the session's cold start off the main build and
                # is the oracle preflight's index
                self.small_idx = build_segment_index(
                    corpus_df(self.spark, N_SMALL, seed=seed),
                    str(self.work / "small"))
            mark = self.counters.watermark() if self.trace else None
            with self.phase("build"):
                self.idx = build_segment_index(self.corpus,
                                               str(self.work / "index"))
                self.build_end = time.time()  # wall clock, as file mtimes
            if self.trace:
                self.build_counters = self.counters.since(mark)
            self.index_bytes = dir_bytes(self.idx.root)
            with self.phase("blooms"):
                build_segment_blooms(self.idx)
            with self.phase("open"):
                self.searcher = SegmentSearcher(self.idx, cache=True)
            with self.phase("dictionary"):
                # read from the written files: the benchmark's own fetch
                # stays off the engine's Spark jobs and driver memory
                d = pq.read_table(os.path.join(self.idx.root, "dict"),
                                  columns=["term", "df"]).to_pydict()
                self.term_df = dict(zip(d["term"], d["df"]))
                self.ranked = rank_terms(self.term_df)
                self.stream = QueryStream(self.ranked, seed)
            with self.phase("warmup"):
                if self.args.workload == "batch":
                    for _ in range(WARMUP_BATCHES):
                        self.searcher.search_many(self.new_batch(), K)
                else:
                    for _ in range(WARMUP_QUERIES):
                        self.searcher.search(self.new_query()[1], K)
        self.setup_s = time.perf_counter() - t0

    def new_batch(self) -> dict:
        specs = self.stream.take(BATCH)
        self.specs_seen.extend(specs)
        return {f"q{i}": to_query(s) for i, s in enumerate(specs)}

    def new_query(self):
        spec = self.stream.spec()
        self.specs_seen.append(spec)
        return spec, to_query(spec)

    # -- correctness ------------------------------------------------------
    def verify_index(self) -> None:
        """Oracle preflight on the warm-up index, CheckIndex and the
        per-row content sha256 on the main index."""
        from pyspark.sql import functions as F

        from lucene_solr_spark.analysis import (ENGLISH_STOP_WORDS,
                                                StandardAnalyzer)
        from lucene_solr_spark.corpus import corpus_pandas
        from lucene_solr_spark.index.builder import PK
        from lucene_solr_spark.index.check import check_segment_index
        from lucene_solr_spark.oracle.engine import OracleIndex
        from lucene_solr_spark.search.wand import SegmentSearcher

        with self.phase("oracle_preflight"):
            pdf = corpus_pandas(N_SMALL, self.args.seed).sort_values(
                PK).reset_index(drop=True)
            oracle = OracleIndex(
                analyzer=StandardAnalyzer(stop_words=ENGLISH_STOP_WORDS))
            oracle.add_all(pdf["content"])
            odf = {t: oracle.doc_freq(t) for _f, t in oracle.postings}
            qs = QueryStream(rank_terms(odf), self.args.seed + 7)
            specs = [qs.spec(s) for s in SHAPES]
            if self.args.workload == "batch":
                specs += qs.take(PREFLIGHT_BATCH - len(specs))
            small = SegmentSearcher(self.small_idx)
            queries = {f"p{i}": to_query(s) for i, s in enumerate(specs)}
            if self.args.workload == "batch":
                got = small.search_many(queries, K)
            else:
                got = {qid: small.search(q, K) for qid, q in queries.items()}
            bad = sum(hits(got[qid]) != hits(oracle.search(q, K))
                      for qid, q in queries.items())
            self.check("oracle_preflight", bad, len(queries))
        if self.trace:
            # CheckIndex costs most of a timed loop, so it runs with the
            # traced run only; its block decode pass is left out (decoded
            # values are covered by the oracle preflight and cross-check)
            with self.phase("check_index"):
                status = check_segment_index(self.idx, decode=False)
                self.check("check_index", len(status.failed()))
        with self.phase("content_check"):
            src = self.corpus.select(
                *PK, F.sha2("content", 256).alias("src_sha"))
            bad_sha = (self.idx.docs().select(*PK, "content_sha256")
                       .join(src, PK, "full_outer")
                       .where(F.col("src_sha").isNull()
                              | F.col("content_sha256").isNull()
                              | (F.col("src_sha") != F.col("content_sha256")))
                       .count())
            self.check("content_sha256", bad_sha)
            self.content_bytes = int(self.corpus.agg(
                F.sum(F.octet_length("content"))).collect()[0][0])

    # -- timed loop -------------------------------------------------------
    def loop(self) -> None:
        import numpy as np

        self.calls: list[tuple[float, int, bool]] = []  # (s, queries, traced)
        self.call_counters: list[dict] = []
        self.plan_ms: list[float] = []
        self.exec_ms: list[float] = []
        self.samples: list[tuple] = []  # (query, result, call index)
        pick = np.random.default_rng(self.args.seed + 1)
        batch = self.args.workload == "batch"
        deadline = time.perf_counter() + self.args.seconds
        op = 0
        while True:
            # under --trace 1 every other call runs inside spans, so the
            # tracing overhead is read from calls in the same conditions
            traced = self.trace and op % 2 == 1
            if batch:
                qs = self.new_batch()
                qids = list(qs)
                res, dt = self.call_batch(qs, op, traced)
                for j in pick.choice(len(qids), BATCH_SAMPLE, replace=False):
                    self.samples.append((qs[qids[j]], res[qids[j]], op))
            else:
                _spec, q = self.new_query()
                qs = {"q": q}
                res, dt = self.call_query(q, op, traced)
                self.samples.append((q, res, op))
            self.calls.append((dt, len(qs), traced))
            op += 1
            # a traced run needs both a traced and an untraced call
            if time.perf_counter() >= deadline and (op >= 2 or not self.trace):
                break

    def _traced_call(self, op: int, plan, collect):
        mark = self.counters.watermark()
        with self.tracer.span("call", op) as s:
            with self.tracer.span("plan", op) as sp:
                df = plan()
            with self.tracer.span("exec", op) as se:
                rows = df.collect()
            res = collect(rows)
        c = self.counters.since(mark)
        c["wall_s"] = s.duration
        self.call_counters.append(c)
        self.plan_ms.append(sp.duration * 1e3)
        self.exec_ms.append(se.duration * 1e3)
        return res, s.duration

    def call_batch(self, qs: dict, op: int, traced: bool):
        from lucene_solr_spark.search.queries import TopDoc

        if not traced:
            t0 = time.perf_counter()
            res = self.searcher.search_many(qs, K)
            return res, time.perf_counter() - t0

        def collect(rows):
            out = {qid: [] for qid in qs}
            for r in sorted(rows, key=lambda r: (r["qid"], r["rn"])):
                out[r["qid"]].append(TopDoc(r["docid"], r["score"]))
            return out

        return self._traced_call(
            op, lambda: self.searcher.search_many_df(qs, K), collect)

    def call_query(self, q, op: int, traced: bool):
        from lucene_solr_spark.search.queries import TopDoc

        if not traced:
            t0 = time.perf_counter()
            res = self.searcher.search(q, K)
            return res, time.perf_counter() - t0
        return self._traced_call(
            op, lambda: self.searcher.search_df(q, K),
            lambda rows: [TopDoc(r["docid"], r["score"]) for r in rows])

    def cross_check(self) -> None:
        """Workload results vs the exhaustive tree (search_local); batch
        samples also vs the WAND path (search). A call with any wrong
        sampled result is one failed operation."""
        with self.phase("cross_check"):
            bad_ops = set()
            for i, (q, res, op) in enumerate(self.samples):
                ok = hits(res) == hits(self.searcher.search_local(q, K))
                if ok and self.args.workload == "batch" and i < WAND_SAMPLE:
                    ok = hits(res) == hits(self.searcher.search(q, K))
                if not ok:
                    bad_ops.add(op)
            self.check("cross_check", len(bad_ops), len(self.calls))

    # -- traced-only layer probes -----------------------------------------
    def index_layers(self) -> None:
        import pyarrow.parquet as pq

        rows = []
        for p in sorted((Path(self.idx.root) / "checkpoints").glob("*.parquet")):
            rows.append((os.path.getmtime(p), pq.read_table(p).to_pylist()[0]))
        docmap = [(m, r) for m, r in rows if r["stage"] == "docmap"]
        blocks = [(m, r) for m, r in rows if r["stage"] == "blocks"]
        blocks_end = max(m for m, _ in blocks)
        L = self.layers
        L["index.build_docs_per_s"] = N_DOCS / self.phases["build"]
        L["index.analyze_spill_s"] = docmap[0][1]["wall_sec"]
        L["index.blocks_s"] = blocks_end - docmap[0][0]
        L["index.blocks_chunk_max_s"] = max(r["wall_sec"] for _, r in blocks)
        L["index.derived_s"] = self.build_end - blocks_end
        m = self.idx.manifest()
        L["index.segments"] = m["n_segments"]
        L["index.block_rows"] = self.idx.blocks().count()
        L["index.terms"] = len(self.term_df)
        L["index.bytes"] = self.index_bytes
        L["index.bloom_s"] = self.phases["blooms"]
        blooms = self.searcher.blooms
        specs = self.specs_seen[:4096]
        pruned = sum(len(blooms.excluded_segments(*bloom_sets(s)))
                     for s in specs)
        L["index.bloom_pruned_share"] = pruned / (m["n_segments"] * len(specs))

    def kernel_layers(self) -> None:
        """Decode/score kernels on this run's real block rows (fetched
        untimed), median of KERNEL_REPS timed passes."""
        import numpy as np

        from lucene_solr_spark.index import codec
        from lucene_solr_spark.search import bm25
        from lucene_solr_spark.search.executor import _str_in

        terms = sorted({t for _s, ts in self.specs_seen[:KERNEL_QUERIES]
                        for t in ts})
        pdf = (self.idx.blocks().where(_str_in("term", terms))
               .select("n", "docids", "tfs", "norms").toPandas())
        ns = pdf["n"].to_numpy(dtype=np.int64)
        dbufs, tbufs = pdf["docids"].tolist(), pdf["tfs"].tolist()
        norms = np.frombuffer(b"".join(pdf["norms"]), dtype=np.uint8) \
            .astype(np.int64)
        postings = int(ns.sum())
        cache = self.searcher.scorer.cache
        dec, sco = [], []
        for _ in range(KERNEL_REPS):
            t0 = time.perf_counter()
            codec.bulk_decode_seqs(dbufs, ns)
            tfs = codec.bulk_decode_seqs(tbufs, ns).astype(np.int64)
            t1 = time.perf_counter()
            bm25.score_terms(tfs, norms, np.float32(1.0), cache)
            t2 = time.perf_counter()
            dec.append(t1 - t0)
            sco.append(t2 - t1)
        self.layers["codec.decode_postings_per_s"] = (
            postings / statistics.median(dec))
        self.layers["bm25.score_postings_per_s"] = (
            postings / statistics.median(sco))

    def serve_layers(self) -> None:
        """Driver-local serving (search_local) after a warm-up stream: a
        query that launched no Spark job is a cache hit."""
        qs = QueryStream(self.ranked, self.args.seed + 2)
        with self.phase("serve_warmup"):
            for _ in range(SERVE_WARMUP):
                self.searcher.search_local(to_query(qs.spec()), K)
        hit, miss = [], []
        for _ in range(SERVE_PROBE):
            q = to_query(qs.spec())
            mark = self.counters.watermark()
            with self.tracer.span("serve") as s:
                self.searcher.search_local(q, K)
            launched = self.counters.watermark() > mark
            (miss if launched else hit).append(s.duration * 1e3)
        L = self.layers
        L["search.serve_hit_ms"] = statistics.median(hit) if hit else 0.0
        L["search.serve_miss_ms"] = statistics.median(miss) if miss else 0.0
        L["search.serve_miss_share"] = len(miss) / SERVE_PROBE

    def spark_layers(self, nproc: int, jvm_pid: int) -> None:
        L = self.layers
        cc = self.call_counters
        n = len(cc)
        for key in ("jobs", "stages", "tasks", "input_bytes",
                    "shuffle_write_bytes", "shuffle_read_bytes",
                    "executor_cpu_s", "executor_run_s"):
            L[f"spark.{key}"] = sum(c[key] for c in cc) / n
        L["spark.failed_tasks"] = sum(c["failed_tasks"] for c in cc)
        L["spark.core_busy_share"] = (
            sum(c["executor_run_s"] for c in cc)
            / (sum(c["wall_s"] for c in cc) * nproc))
        L["spark.task_skew"] = statistics.median(c["task_skew"] for c in cc)
        bc = self.build_counters
        L["spark.build_shuffle_write_bytes"] = bc["shuffle_write_bytes"]
        L["spark.build_executor_cpu_s"] = bc["executor_cpu_s"]
        L["spark.build_core_busy_share"] = bc["executor_run_s"] / (
            self.phases["build"] * nproc)
        L["spark.build_task_skew"] = bc["task_skew"]
        L["spark.jvm_peak_rss_mb"] = peak_rss_mb(jvm_pid)

    def trace_layers(self) -> None:
        L = self.layers
        L["search.open_s"] = self.phases["open"]
        L["search.plan_ms"] = statistics.median(self.plan_ms)
        L["search.exec_ms"] = statistics.median(self.exec_ms)
        L["trace.setup_s"] = self.setup_s
        L["trace.qps"] = self.qps(traced=True)
        L["trace.call_p50_ms"] = self.call_p50_ms(traced=True)
        L["trace.call_overhead_ms"] = (
            L["trace.call_p50_ms"] - self.call_p50_ms(traced=False))
        spans = self.tracer.spans
        st = self_times(spans)
        L["trace.call_self_ms"] = statistics.median(
            st[s.id] for s in spans if s.name == "call") * 1e3
        L["trace.setup_self_s"] = next(
            st[s.id] for s in spans if s.name == "setup")

    # -- results ----------------------------------------------------------
    def lat(self, traced: bool = False) -> list[float]:
        return [dt for dt, _n, t in self.calls if t == traced]

    def qps(self, traced: bool = False) -> float:
        mine = [(dt, n) for dt, n, t in self.calls if t == traced]
        return sum(n for _dt, n in mine) / sum(dt for dt, _n in mine)

    def call_p50_ms(self, traced: bool = False) -> float:
        return quantile(self.lat(traced), 0.5) * 1e3

    def end_to_end(self) -> dict:
        return {
            "setup_s": self.setup_s,
            "index_bytes_per_content_byte": (
                self.index_bytes / self.content_bytes),
            "qps": self.qps(),
            "call_p50_ms": self.call_p50_ms(),
            "driver_peak_rss_mb": peak_rss_mb(),
        }


def load_metric_units(trace: bool) -> dict[str, str]:
    """Name → unit of the metrics this run must report."""
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import lucene_solr_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    units = load_metric_units(bool(args.trace))
    host = host_record(args.seed)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    from pyspark import SparkContext

    proc = None
    spark = None
    try:
        t0 = time.perf_counter()
        spark = make_spark(host, work)
        proc = getattr(SparkContext._gateway, "proc", None)
        session_s = time.perf_counter() - t0
        bench = Bench(spark, args, work)
        bench.setup()
        bench.loop()
        bench.cross_check()
        bench.verify_index()
        if bench.trace:
            jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle
                          .current().pid())
            bench.index_layers()
            bench.kernel_layers()
            bench.serve_layers()
            bench.spark_layers(host["nproc"], jvm_pid)
            bench.trace_layers()
            metrics = dict(bench.layers)
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            with open(out_dir / f"trace-{args.workload}-seed{args.seed}.json",
                      "w") as f:
                json.dump({"spans": bench.tracer.to_json(),
                           "calls": bench.call_counters,
                           "build": bench.build_counters}, f)
        else:
            metrics = bench.end_to_end()
        missing = set(metrics) ^ set(units)
        if missing:
            raise RuntimeError(f"metric set differs from BENCHMARK.json: "
                               f"{sorted(missing)}")
        t = tail(bench.lat())
        record = {
            "workload": args.workload, "seconds": args.seconds,
            "trace": args.trace, "host": host,
            "session_s": session_s, "phases": bench.phases,
            "calls": len(bench.calls),
            "queries": sum(n for _dt, n, _t in bench.calls),
            "call_tail": [t[0], t[1] * 1e3] if t else None,
            "call_ms": [x * 1e3 for x in bench.lat()],
            "traced_call_ms": [x * 1e3 for x in bench.lat(True)],
            "checks": bench.checks, "driver_rss_mb": bench.rss,
        }
        result = {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in sorted(metrics.items())},
        }
    finally:
        if spark is not None:
            spark.stop()
        if proc is not None:
            # the gateway JVM exits on EOF of its stdin
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
