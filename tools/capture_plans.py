"""Capture `.explain("formatted")` plans for the round-6 optimization
deliverables (plans/r06/<query>_{before,after}.txt).

Usage: python tools/capture_plans.py <out_dir> <suffix>
  e.g. python tools/capture_plans.py plans/r06 after
(run it from a worktree at the round-start commit for `before`).

Covers every query path the optimization round touched: the phrase /
facet pool paths, single-index and chunked BM25 serving, upsert
(multi-generation) serving, and IVF ANN serving. Fixtures come from
the driver harness (`_ensure_index` etc. over sf0.001) plus a small
synthetic ANN index, so plans are cheap to produce and deterministic.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def fmt(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> int:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    os.makedirs(out_dir, exist_ok=True)
    sf_dir = "/root/testdata/sf0.001"

    import pandas as pd

    from theoremsearch_spark.session import get_spark

    spark = get_spark("plans_r06", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    from theoremsearch_spark.operators import engine_queries as EQ

    plans: dict[str, str] = {}

    def grab(name, df):
        plans[name] = fmt(df)

    grab("bm25_topk", EQ.q_bm25_topk(spark, sf_dir))
    grab("phrase_topk", EQ.q_phrase_topk(spark, sf_dir))
    grab("phrase_topk_positional", EQ.q_phrase_topk_positional(spark, sf_dir))
    grab("phrase_topk_snippets", EQ.q_phrase_topk_snippets(spark, sf_dir))
    grab("facet_counts", EQ.q_facet_counts(spark, sf_dir))
    grab("bm25_upsert_topk", EQ.q_bm25_upsert_topk(spark, sf_dir))

    # bench-shaped chunked serving (one chunk's plan is what repeats)
    idx = EQ._ensure_index(spark, sf_dir)
    qs = pd.DataFrame(EQ.HARNESS_QUERIES, columns=["query_id", "query_text"])
    from theoremsearch_spark.query import open_index, serve_prep, topk_frames

    prep = serve_prep(spark, open_index(spark, idx), qs)
    grab("topk_chunk", topk_frames(spark, prep, qs.iloc[:2], k=10))

    # IVF ANN serving over a small persisted index
    from theoremsearch_spark.corpus import generate_vectors
    from theoremsearch_spark.functions.similarity import (
        ann_ivf_search,
        build_ann_index,
    )

    work = tempfile.mkdtemp(prefix="plans_ann_")
    generate_vectors(spark, 2000, partitions=8).write.mode("overwrite").parquet(
        f"{work}/vectors"
    )
    build_ann_index(spark.read.parquet(f"{work}/vectors"), f"{work}/ann", n_centroids=16)
    qv = (
        spark.read.parquet(f"{work}/vectors")
        .filter("vec_id < 4")
        .selectExpr("vec_id as query_id", "embedding as qvec")
        .toPandas()
    )
    grab("ann_ivf_search", ann_ivf_search(spark, f"{work}/ann", qv, k=10))

    for name, text in plans.items():
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print("wrote", path)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
