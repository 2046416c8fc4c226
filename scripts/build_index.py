#!/usr/bin/env python3
"""spark-submit entry point for the index build (north-rule launch mode).

Cluster usage (package shipped to executors with --py-files):

    cd /root/repo && zip -qr /tmp/lss.zip lucene_solr_spark
    spark-submit --py-files /tmp/lss.zip scripts/build_index.py \
        --input  /path/to/corpus_parquet \
        --output /path/to/index_root \
        --codec v2 --docs-per-segment 65536 --resume

Local smoke (single JVM):

    spark-submit --master 'local[8]' --py-files /tmp/lss.zip \
        scripts/build_index.py --input ... --output ... --codec v2

The input must have columns (repo, path, commit, lang, content) — the
BASELINE.json input_hint schema. `--resume` continues a killed build
from its per-segment checkpoints (see index/segments.py); metrics and
lineage land in <output>/checkpoints/.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="corpus parquet path")
    ap.add_argument("--output", required=True, help="index root")
    ap.add_argument("--codec", choices=["v1", "v2"], default="v2",
                    help="v1 = term-bucketed uncompressed postings; "
                         "v2 = doc-segmented compressed blocks (SegmentSearcher)")
    ap.add_argument("--docs-per-segment", type=int, default=65536)
    ap.add_argument("--term-buckets", type=int, default=32, help="v1 only")
    ap.add_argument("--no-stopwords", action="store_true")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--blooms", action="store_true",
                    help="v2 only: write per-segment term Bloom filters "
                         "(index/bloom.py — BloomFilteringPostingsFormat "
                         "role; searchers then skip segment partitions "
                         "that cannot match)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName(f"lss-build-{args.codec}")
        .config("spark.sql.adaptive.enabled", "true")
        # workers fork with pandas/pyarrow/numpy pre-imported (COW)
        .config("spark.python.daemon.module", "lucene_solr_spark.warm_daemon")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from lucene_solr_spark.analysis import ENGLISH_STOP_WORDS

    stop = frozenset() if args.no_stopwords else ENGLISH_STOP_WORDS
    corpus = spark.read.parquet(args.input).select(
        "repo", "path", "commit", "lang", "content"
    )
    t0 = time.time()
    if args.codec == "v2":
        from lucene_solr_spark.index.segments import build_segment_index

        idx = build_segment_index(
            corpus, args.output, stop_words=stop,
            docs_per_segment=args.docs_per_segment,
            resume=args.resume,
        )
        manifest = idx.manifest()
        if args.blooms:
            from lucene_solr_spark.index.bloom import build_segment_blooms

            build_segment_blooms(idx)
    else:
        from lucene_solr_spark.index import build_index

        tables = build_index(corpus, args.output, stop_words=stop,
                             n_buckets=args.term_buckets)
        manifest = tables.manifest()

    wall = time.time() - t0
    n = manifest["doc_count"]
    print(json.dumps({
        "codec": args.codec, "docs": n, "wall_sec": round(wall, 2),
        "docs_per_sec": round(n / wall, 1), "output": args.output,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
