"""spark-submit entry: batch BM25 top-k serving.

Usage:
  spark-submit --py-files theoremsearch_spark.zip jobs/query_topk.py \
      --index <index root from build_index> \
      [--queries <parquet/csv with query_id,query_text> | --synth-queries N_DOCS] \
      [--k 10] [--out <parquet path>] \
      [--filter lang=en --filter source=a,source=b ...] \
      [--mode and] [--not-term spam ...] [--phrase]

The batch analog of the reference's serving query
(/root/reference/streamlit_app.py:252-283): ranked top-k ids joined
back to document metadata, deterministic (score DESC, doc_id ASC).
Each --filter is a required group applied INSIDE the ranked query
(reference R3); comma-separated terms within a group are OR'd. Filter
terms must have been indexed at build time (build_index filter_terms).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import SparkSession


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--index", help="index root (contains index/ and docs/)")
    p.add_argument(
        "--gens",
        help="serve a multi-generation root (jobs/stream_index.py output) "
        "instead of --index: generations merge under global statistics, "
        "tombstoned (upserted-away) doc versions excluded with exact "
        "stat corrections",
    )
    p.add_argument("--queries", help="parquet path with (query_id, query_text)")
    p.add_argument("--synth-queries", type=int, help="use the 73-query set for a synth:N corpus")
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--out", help="write results parquet here (else show 20 rows)")
    p.add_argument(
        "--filter", action="append", default=[],
        help="required filter group: a filter term, or comma-separated OR terms",
    )
    p.add_argument(
        "--max-batch", type=int, default=0,
        help="serve in bounded chunks of this many queries (0 = one "
             "batch). Large batches degrade the WIDE side of a cluster "
             "first (per-core heap is fixed while the fan working set "
             "grows with the batch — BENCH/BASELINE.md r4); ~300 is a "
             "good bound at the reference corpus shape",
    )
    p.add_argument(
        "--mode", choices=("or", "and"), default="or",
        help="'and' = conjunctive serving: only docs containing every "
             "query term qualify (still BM25-ranked)",
    )
    p.add_argument(
        "--not-term", action="append", default=[],
        help="must-not term (repeatable): docs containing it are "
             "excluded before scoring",
    )
    p.add_argument(
        "--phrase", action="store_true",
        help="treat each query_text as an exact PHRASE: conjunctive "
             "candidates verified for token adjacency against the "
             "stored document text (single-index and --gens roots)",
    )
    args = p.parse_args(argv)

    spark = SparkSession.builder.appName("ts-query-topk").getOrCreate()
    from theoremsearch_spark.corpus import query_set
    from theoremsearch_spark.query import (
        open_index,
        serve_phrase,
        serve_topk,
        with_doc_meta,
    )

    if args.synth_queries:
        qs = query_set(args.synth_queries)[["query_id", "query_text"]]
    elif args.queries:
        qs = spark.read.parquet(args.queries).toPandas()[["query_id", "query_text"]]
    else:
        p.error("one of --queries / --synth-queries is required")

    if bool(args.index) == bool(args.gens):
        p.error("exactly one of --index / --gens is required")
    filters = [g.split(",") if "," in g else g for g in args.filter] or None

    t0 = time.monotonic()
    if args.gens:
        from theoremsearch_spark.streaming.incremental import open_root

        view = open_root(spark, args.gens)
    else:
        # auto-detect the positional sidecar (build_index --positions):
        # phrase verification then reads positions, no doc fetch
        pos_dir = f"{args.index}/index/positions"
        view = open_index(
            spark, f"{args.index}/index", f"{args.index}/docs",
            pos_dir if os.path.isdir(pos_dir) else None,
        )
    if args.phrase:
        ranked = serve_phrase(spark, view, qs, k=args.k, filters=filters)
    else:
        ranked = serve_topk(
            spark, view, qs, k=args.k, filters=filters, mode=args.mode,
            not_terms=args.not_term or None, max_batch=args.max_batch,
        )
    # ranked ids joined back to document metadata, reading only the
    # parquet files whose recorded id span holds a hit
    hits = with_doc_meta(spark, view, ranked)
    if args.out:
        hits.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
    else:
        hits.show(20, truncate=False)
        n = hits.count()
    wall = time.monotonic() - t0
    print(
        json.dumps(
            {
                "job": "query_topk",
                "queries": len(qs),
                "k": args.k,
                "result_rows": n,
                "wall_sec": round(wall, 2),
                "queries_per_sec": round(len(qs) / wall, 1),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
