"""Headline benchmark. Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "extras": {...}}

Covers both halves of the engine:
  - engine_build / engine_topk: inverted-index build + batch BM25 over
    a synthetic corpus scaled to the sf dir (500k docs/sf unit);
  - headline relational/dedup/ANN operators over the driver tables at
    $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).

Scaling-efficiency evidence (N vs 4N cores) is produced separately by
tools/bench_scaling.py → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    n_docs = int(os.environ.get("BENCH_DOCS", str(int(500_000 * sf))))

    from theoremsearch_spark.session import get_spark

    spark = get_spark("bench", cores=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from theoremsearch_spark.build import build_index
    from theoremsearch_spark.corpus import generate_documents, query_set
    from theoremsearch_spark.query import topk
    from theoremsearch_spark.stats import prepare_docs
    from theoremsearch_spark.functions import dedup, similarity
    from theoremsearch_spark.operators import relational

    timings: dict[str, float] = {}
    extras: dict = {"n_synth_docs": n_docs, "cpus": cpus}

    def timed(name: str, fn, reps: int = 2):
        """min over reps: this sandbox VM has bursty hypervisor steal
        (measured 17-45% under load, bistable walls minutes apart —
        BENCH/BASELINE.md "steal storm"); min-of-2 estimates the
        engine's cost, not the noisy neighbor's."""
        best = None
        out = None
        for _ in range(reps):
            t0 = time.monotonic()
            out = fn()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        return out

    work = tempfile.mkdtemp(prefix="ts_bench_")
    try:
        # --- corpus synthesis (input prep — not engine throughput) -----
        def gen():
            generate_documents(spark, n_docs, partitions=cpus * 2).write.mode(
                "overwrite"
            ).parquet(f"{work}/documents")

        timed("corpus_gen", gen, reps=1)  # input synthesis, not engine time

        # --- engine: build (read documents → extract → ids → index) ----
        # lang is indexed as a filter-term posting list (reference R3)
        def build():
            from pyspark.sql import functions as F

            documents = spark.read.parquet(f"{work}/documents")
            docs_r = prepare_docs(documents, work, num_partitions=cpus * 2)
            docs_r = docs_r.withColumn(
                "filter_terms", F.array(F.concat(F.lit("lang="), F.col("lang")))
            )
            build_index(docs_r, f"{work}/index", n_buckets=cpus, resume=False,
                        salt_threshold=max(1000, n_docs // 3), n_segments=8)
            return docs_r

        timed("engine_build", build)
        extras["build_docs_per_sec"] = round(n_docs / timings["engine_build"], 1)

        # --- engine: batch query serving -------------------------------
        qs = query_set(n_docs)[["query_id", "query_text"]]

        def serve():
            hits = topk(spark, f"{work}/index", qs, k=10)
            return hits.count()

        # min-of-3: r2's driver sample (22 q/s) contradicted the pinned
        # protocol (35 q/s) on a single noisy rep; three reps bound the
        # steal-storm tail
        rows = timed("engine_topk", serve, reps=3)
        extras["topk_rows"] = rows
        extras["query_p50_est_sec"] = round(timings["engine_topk"] / len(qs), 4)
        extras["queries_per_sec"] = round(len(qs) / timings["engine_topk"], 2)

        # --- engine: bounded-batch serving with REAL latency dist ------
        # topk_batched is the production serving shape (wide-side
        # working-set bound, BENCH/BASELINE.md r4); its per-chunk walls
        # give a measured per-query latency distribution, replacing the
        # wall/Q estimate the BASELINE.md p50 target used to lean on.
        from theoremsearch_spark.query import topk_batched

        chunk_sz = 16
        chunk_walls: list[float] = []

        def serve_chunked():
            chunk_walls.clear()
            return topk_batched(
                spark, f"{work}/index", qs, k=10,
                max_batch=chunk_sz, chunk_times=chunk_walls,
            ).count()

        extras["topk_chunked_rows"] = timed("engine_topk_chunked", serve_chunked, reps=2)
        if chunk_walls:
            import numpy as np

            sizes = [
                min(chunk_sz, len(qs) - i) for i in range(0, len(qs), chunk_sz)
            ]
            per_q = np.repeat(
                [w / s for w, s in zip(chunk_walls, sizes)], sizes
            )
            extras["chunk_size"] = chunk_sz
            extras["query_p50_sec"] = round(float(np.percentile(per_q, 50)), 4)
            extras["query_p95_sec"] = round(float(np.percentile(per_q, 95)), 4)

        # --- engine: CONJUNCTIVE + PHRASE serving ----------------------
        # AND mode is rarest-first intersection with restrict-pushdown
        # decode (cheaper per query than OR — no threshold bookkeeping);
        # phrase adds file-pruned doc-text point lookups + codegen
        # adjacency verification on top of the AND pool.
        def serve_and():
            return topk(spark, f"{work}/index", qs, k=10, mode="and").count()

        extras["topk_and_rows"] = timed("engine_topk_and", serve_and, reps=3)

        from theoremsearch_spark.query import phrase_topk

        def serve_phrase():
            return phrase_topk(
                spark, f"{work}/index", f"{work}/docs", qs, k=10
            ).count()

        extras["phrase_rows"] = timed("engine_phrase", serve_phrase, reps=2)

        # positional sidecar: build cost + the no-doc-fetch phrase path
        from theoremsearch_spark.positions import build_positions

        def pos_build():
            return build_positions(
                spark.read.parquet(f"{work}/docs"), f"{work}/index"
            )["position_rows"]

        extras["position_rows"] = timed("positions_build", pos_build, reps=1)

        def serve_phrase_pos():
            return phrase_topk(
                spark, f"{work}/index", f"{work}/docs", qs, k=10,
                positions_dir=f"{work}/index/positions",
            ).count()

        extras["phrase_pos_rows"] = timed(
            "engine_phrase_positional", serve_phrase_pos, reps=2
        )

        # --- engine: FILTERED serving (R3 — predicate inside the ranked
        # query, intersected as a salted posting list; lang=en ≈ 90% of
        # docs, the worst-case heavy filter) ---------------------------
        def serve_filtered():
            hits = topk(spark, f"{work}/index", qs, k=10, filters=["lang=en"])
            return hits.count()

        extras["topk_filtered_rows"] = timed(
            "engine_topk_filtered", serve_filtered, reps=3
        )

        # --- engine: UPSERT serving (tombstone-corrected multi-gen) ---
        # gen0 reuses the index built above (symlink); gen1 re-ingests
        # 10% of urls with changed text and tombstones the stale
        # versions. Timed: serving across both generations with exact
        # stat corrections — the replace-document capability's cost.
        def setup_gens():
            from pyspark.sql import functions as F

            from theoremsearch_spark.build import build_index
            from theoremsearch_spark.streaming.incremental import (
                _tombstone_rows,
                commit_generation,
            )

            root = f"{work}/gens"
            os.makedirs(f"{root}/gen_0", exist_ok=True)
            os.symlink(f"{work}/index", f"{root}/gen_0/index")
            os.symlink(f"{work}/docs", f"{root}/gen_0/docs")
            docs0 = spark.read.parquet(f"{work}/docs")
            reingest = F.col("doc_id") % 10 == 3
            newdoc = docs0.filter(reingest).select(
                (F.col("doc_id") + n_docs).alias("doc_id"),
                F.concat(F.col("extracted_text"), F.lit(" refreshed")).alias(
                    "extracted_text"
                ),
            ).withColumn("doc_len", F.size(F.split("extracted_text", " ")))
            newdoc.write.mode("overwrite").parquet(f"{root}/gen_1/docs")
            n1 = newdoc.count()
            build_index(
                spark.read.parquet(f"{root}/gen_1/docs"),
                f"{root}/gen_1/index", n_buckets=cpus, resume=False,
                salt_threshold=max(1000, n_docs // 3), n_segments=8,
            )
            # the canonical tombstone schema/projection — terms derive
            # from the stored term_tfs, so the timed df-correction path
            # does its real work
            _tombstone_rows(docs0.filter(reingest)).write.mode(
                "overwrite"
            ).parquet(f"{root}/gen_1/tombstones")
            commit_generation(root, 0, 0, n_docs)
            commit_generation(root, 1, n_docs, n1, id_end=2 * n_docs)
            return root

        gens_root = setup_gens()  # fixture build — not timed

        def serve_upsert():
            from theoremsearch_spark.streaming.incremental import (
                topk_all_generations,
            )

            return topk_all_generations(spark, gens_root, qs, k=10).count()

        extras["topk_upsert_rows"] = timed("engine_topk_upsert", serve_upsert, reps=3)

        # --- persisted ANN index (vector half of the engine) -----------
        # clustered synthetic corpus sized to the sf unit; build =
        # quantizer train + one matmul-assign pass + cell=N/ partitioned
        # write, serving = probed-cell reads only (the posting-list
        # physics applied to vectors). Rescored serving exercises the
        # stored-metadata two-stage path (no join added).
        from theoremsearch_spark.corpus import generate_vectors
        from theoremsearch_spark.functions.similarity import (
            ann_ivf_search,
            build_ann_index,
        )

        n_vecs = n_docs

        def ann_gen():
            generate_vectors(spark, n_vecs, partitions=cpus * 2).write.mode(
                "overwrite"
            ).parquet(f"{work}/vectors")

        timed("ann_corpus_gen", ann_gen, reps=1)  # input synthesis

        def ann_build():
            return build_ann_index(
                spark.read.parquet(f"{work}/vectors"), f"{work}/ann",
                n_centroids=256,
            )

        timed("ann_build", ann_build, reps=1)
        extras["ann_vecs"] = n_vecs
        extras["ann_vecs_per_sec"] = round(n_vecs / timings["ann_build"], 1)

        qv = (
            spark.read.parquet(f"{work}/vectors")
            .filter("vec_id < 64")
            .selectExpr("vec_id as query_id", "embedding as qvec")
            .toPandas()
        )

        def ann_serve():
            return ann_ivf_search(spark, f"{work}/ann", qv, k=10).count()

        extras["ann_hits"] = timed("ann_search", ann_serve, reps=3)
        extras["ann_q_per_sec"] = round(len(qv) / timings["ann_search"], 2)

        def ann_serve_rescored():
            return ann_ivf_search(
                spark, f"{work}/ann", qv, k=10,
                rescore_col="label", rescore_weight=0.1,
            ).count()

        timed("ann_search_rescored", ann_serve_rescored, reps=2)

        # SQ8 packed-binary index: build once, measure serve + bytes
        def ann_build_sq8():
            return build_ann_index(
                spark.read.parquet(f"{work}/vectors"), f"{work}/ann8",
                n_centroids=256, quantize="sq8",
            )

        timed("ann_build_sq8", ann_build_sq8, reps=1)

        def ann_serve_sq8():
            return ann_ivf_search(spark, f"{work}/ann8", qv, k=10).count()

        timed("ann_search_sq8", ann_serve_sq8, reps=3)
        extras["ann_sq8_q_per_sec"] = round(
            len(qv) / timings["ann_search_sq8"], 2
        )

        def cells_bytes(root):
            return sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(f"{root}/cells")
                for f in fs
            )

        extras["ann_cells_bytes_f32"] = cells_bytes(f"{work}/ann")
        extras["ann_cells_bytes_sq8"] = cells_bytes(f"{work}/ann8")

        # --- headline operators over the driver tables -----------------
        heads = {
            "pricing_summary": relational.q_pricing_summary,
            "join_4way": relational.q_join_4way,
            "join_latest_per_group": relational.q_join_latest_per_group,
            "topk_two_stage": relational.q_topk_two_stage,
            "dedup_ngram_jaccard": dedup.q_dedup_ngram_jaccard,
            "dedup_minhash_lsh": dedup.q_dedup_minhash,
            "ann_brute_topk": similarity.q_ann_brute_topk,
        }
        for name, fn in heads.items():
            timed(name, lambda fn=fn: fn(spark, sf_dir).count())
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "index-build + BM25 batch top-k + headline operator suite",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "extras": extras,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
