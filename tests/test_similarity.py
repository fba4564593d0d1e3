"""ANN quality tests: LSH-bucketed (multiprobe) recall@10 vs the exact
brute-force baseline on a clustered synthetic embedding corpus — the
correctness signal for the rows-only `ann_lsh_topk` harness entry."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from theoremsearch_spark.functions.similarity import ann_lsh_topk, brute_force_topk

DIM = 16
N_CLUSTERS = 30
PER_CLUSTER = 10
N_QUERIES = 8
K = 10


@pytest.fixture(scope="module")
def emb_frames(spark):
    rng = np.random.default_rng(99)
    centers = rng.standard_normal((N_CLUSTERS, DIM))
    vecs = []
    for c in range(N_CLUSTERS):
        pts = centers[c] + 0.05 * rng.standard_normal((PER_CLUSTER, DIM))
        vecs.extend(pts)
    vecs = np.asarray(vecs, dtype=np.float32)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), False),
        ]
    )
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)], schema
    )
    qschema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("qvec", T.ArrayType(T.FloatType()), False),
        ]
    )
    queries = spark.createDataFrame(
        [
            (q, [float(x) for x in vecs[q * PER_CLUSTER]])
            for q in range(N_QUERIES)
        ],
        qschema,
    )
    emb.persist().count()
    return emb, queries


def test_brute_force_finds_cluster_mates(spark, emb_frames):
    """Sanity on the exact baseline: a query vector's top-10 are its own
    cluster (10 points at cosine ≈ 1)."""
    emb, queries = emb_frames
    got = brute_force_topk(emb, queries, k=K).toPandas()
    for q in range(N_QUERIES):
        ids = set(got.loc[got["query_id"] == q, "vec_id"].astype(int))
        cluster = set(range(q * PER_CLUSTER, (q + 1) * PER_CLUSTER))
        assert len(ids & cluster) == PER_CLUSTER


def test_ann_lsh_recall(spark, emb_frames):
    """Multiprobe LSH recall@10 vs brute force ≥ 0.8 on clustered data
    (docstring contract of functions/similarity.py)."""
    emb, queries = emb_frames
    exact = brute_force_topk(emb, queries, k=K).toPandas()
    approx = ann_lsh_topk(emb, queries, DIM, k=K).toPandas()
    recalls = []
    for q in range(N_QUERIES):
        want = set(exact.loc[exact["query_id"] == q, "vec_id"].astype(int))
        got = set(approx.loc[approx["query_id"] == q, "vec_id"].astype(int))
        recalls.append(len(want & got) / len(want))
    mean_recall = float(np.mean(recalls))
    assert mean_recall >= 0.8, f"ANN-LSH recall@10 {mean_recall} < 0.8 ({recalls})"


def test_ann_ivf_recall(spark, emb_frames):
    """IVF (stride-sampled centroids, n_probe cells) recall@10 vs brute
    force ≥ 0.8 on clustered data."""
    import pandas as pd

    from theoremsearch_spark.functions.similarity import ann_ivf_topk

    emb, queries = emb_frames
    qp = queries.toPandas().rename(columns={})
    exact = brute_force_topk(emb, queries, k=K).toPandas()
    approx = ann_ivf_topk(emb, qp, DIM, k=K).toPandas()
    recalls = []
    for q in range(N_QUERIES):
        want = set(exact.loc[exact["query_id"] == q, "vec_id"].astype(int))
        got = set(approx.loc[approx["query_id"] == q, "vec_id"].astype(int))
        recalls.append(len(want & got) / len(want))
    mean_recall = float(np.mean(recalls))
    assert mean_recall >= 0.8, f"IVF recall@10 {mean_recall} < 0.8 ({recalls})"


def test_kmeans_spherical_improves_on_stride_init():
    """The coarse quantizer is real (spherical) k-means now, not just a
    stride sample: on seeded Gaussian blobs the trained centroids give
    strictly higher mean best-cosine (lower quantization error) than
    their own stride-sample initialization, deterministically."""
    from theoremsearch_spark.functions.similarity import _kmeans_spherical

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 16))
    X = np.vstack([c + 0.15 * rng.standard_normal((50, 16)) for c in centers])
    rng.shuffle(X)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)

    stride = max(1, len(Xn) // 8)
    C0 = Xn[::stride][:8]  # the old quantizer
    C1 = _kmeans_spherical(X, 8)
    q0 = (Xn @ C0.T).max(axis=1).mean()
    q1 = (Xn @ C1.T).max(axis=1).mean()
    assert q1 > q0
    # determinism: same input → bitwise same centroids
    assert np.array_equal(C1, _kmeans_spherical(X, 8))


def test_ann_lsh_candidates_are_bucketed(spark, emb_frames):
    """The scale property: ANN scores only bucket-joined candidates —
    the scored row count is far below the full n·q cross product."""
    from theoremsearch_spark.functions.similarity import LSH_BITS, PLANES_SEED, lsh_bucket
    from pyspark.sql import functions as F

    emb, queries = emb_frames
    planes = np.random.default_rng(PLANES_SEED).standard_normal((LSH_BITS, DIM))
    bucketed = emb.withColumn("bucket", lsh_bucket("embedding", planes))
    qb = queries.withColumn("bucket", lsh_bucket("qvec", planes))
    probes = qb.select(
        "query_id",
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(LSH_BITS)],
            )
        ).alias("bucket"),
    )
    n_candidates = bucketed.join(probes, "bucket").count()
    n_total = emb.count() * queries.count()
    assert n_candidates < 0.5 * n_total


def test_ivf_assignment_plan_is_centroid_count_free(spark, emb_frames):
    """The corpus cell assignment must be the Arrow-batched matmul UDF,
    not a per-centroid codegen expression: the analyzed plan contains
    one ArrowEvalPython node and NO n_centroids-wide struct array, so
    plan size stays O(1) as the centroid count grows to the thousands a
    10^12-row corpus needs."""
    from theoremsearch_spark.functions.similarity import ann_ivf_topk

    emb, queries = emb_frames
    qp = queries.toPandas()
    plan = ann_ivf_topk(emb, qp, DIM, k=K)._jdf.queryExecution().analyzed().toString()
    assert "ArrowEvalPython" in plan or "cell_of" in plan
    # the old shape embedded one aggregate(zip_with(...)) per centroid
    assert plan.count("zip_with") + plan.count("aggregate(") < 10


def test_persisted_ivf_reads_only_probed_cells(spark, emb_frames, tmp_path):
    """build_ann_index writes cell=N partition dirs; ann_ivf_search
    must (a) read ONLY the probed cells' files (inputFiles lock — the
    10^12-row IO property) and (b) keep recall@10 >= 0.8 vs brute
    force on the clustered fixture."""
    import glob
    import os

    from theoremsearch_spark.functions.similarity import (
        N_PROBE,
        ann_ivf_search,
        build_ann_index,
    )

    emb, queries = emb_frames
    out = str(tmp_path / "ivf")
    res = build_ann_index(emb, out)
    assert res["n_vectors"] == N_CLUSTERS * PER_CLUSTER
    cell_dirs = glob.glob(f"{out}/cells/gen=0/cell=*")
    assert len(cell_dirs) > N_PROBE  # pruning is meaningful

    qp = queries.toPandas()
    hits = ann_ivf_search(spark, out, qp, k=K)
    read_cells = {
        os.path.basename(os.path.dirname(f)) for f in hits.inputFiles()
    }
    probed_max = len(qp) * N_PROBE
    assert 0 < len(read_cells) <= min(probed_max, len(cell_dirs))
    assert len(read_cells) < len(cell_dirs), "no cell pruning happened"

    got = hits.toPandas()
    exact = brute_force_topk(emb, queries, k=K).toPandas()
    recalls = []
    for q in range(N_QUERIES):
        want = set(exact.loc[exact["query_id"] == q, "vec_id"].astype(int))
        g = set(got.loc[got["query_id"] == q, "vec_id"].astype(int))
        recalls.append(len(want & g) / len(want))
    assert float(np.mean(recalls)) >= 0.8, recalls


def test_ann_ivf_search_filtered(spark, emb_frames, tmp_path):
    """Metadata-filtered vector search on the persisted IVF index
    (the reference's `WHERE filters ORDER BY embedding <#> q` shape,
    /root/reference/streamlit_app.py:275-282): `where` predicates over
    stored metadata columns (a) never leak a non-matching row, (b) are
    PUSHED into the probed-cell parquet scan (PushedFilters lock), and
    (c) keep recall ≥ 0.8 vs the exact filtered baseline. A mismatched
    add-batch schema raises instead of appending silent-null metadata."""
    from pyspark.sql import functions as F

    from theoremsearch_spark.functions.similarity import (
        add_to_ann_index,
        ann_ivf_search,
        build_ann_index,
    )

    emb, queries = emb_frames
    embL = emb.withColumn("label", (F.col("vec_id") % 2).cast("int"))
    out = str(tmp_path / "ivf_meta")
    build_ann_index(embL, out)
    qp = queries.toPandas()

    hits = ann_ivf_search(spark, out, qp, k=5, where="label = 0")
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "label" in plan.split("PushedFilters", 1)[1][:200]

    got = hits.toPandas()
    assert len(got) and (got.vec_id % 2 == 0).all(), "filter leaked odd ids"

    exact = brute_force_topk(
        embL.filter("label = 0"), queries, k=5
    ).toPandas()
    recalls = []
    for q in range(N_QUERIES):
        want = set(exact.loc[exact.query_id == q, "vec_id"].astype(int))
        g = set(got.loc[got.query_id == q, "vec_id"].astype(int))
        recalls.append(len(want & g) / len(want))
    assert float(np.mean(recalls)) >= 0.8, recalls

    # schema drift guard: an add batch missing the metadata column dies
    # loudly, never appends silent nulls
    with pytest.raises(ValueError, match="metadata columns"):
        add_to_ann_index(emb.limit(1), out)


def _upsert_batch(spark, emb):
    """The lifecycle batch: vec 0 re-embedded into cluster 7, plus a
    genuinely new id 999 planted in cluster 3."""
    from pyspark.sql import types as T

    emb_pdf = emb.toPandas()
    v_c7 = [float(x) for x in emb_pdf.loc[emb_pdf.vec_id == 75, "embedding"].iloc[0]]
    v_c3 = [float(x) for x in emb_pdf.loc[emb_pdf.vec_id == 35, "embedding"].iloc[0]]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), False),
        ]
    )
    return spark.createDataFrame([(0, v_c7), (999, v_c3)], schema)


def test_ann_add_crash_replay_self_heals(spark, emb_frames, tmp_path):
    """Torn adds are invisible and self-healing in the per-generation
    layout. Window A (crash mid-cells-write): serving equals the last
    committed state; the replay overwrites the torn gen dirs and ends
    bitwise-identical to a clean add. Window B (every gen-1 dir
    written — cells, tombstones, keyindex — but meta never committed):
    same. Interleaving: a DIFFERENT batch added after a torn attempt
    commits the same gen number, wholly overwriting the torn dirs —
    no partial rows are laundered in, and the torn batch's later retry
    lands as the next generation with correct upsert tombstones."""
    import numpy as np

    from pyspark.sql import functions as F

    from theoremsearch_spark.functions.similarity import (
        _assign_cells,
        _read_ivf_meta,
        add_to_ann_index,
        ann_ivf_search,
        build_ann_index,
        live_cells,
    )
    from theoremsearch_spark.streaming.incremental import _key_bucket

    emb, queries = emb_frames
    qp = queries.toPandas()

    def serve(out):
        return (
            ann_ivf_search(spark, out, qp, k=K)
            .toPandas()
            .sort_values(["query_id", "rnk"])
            .reset_index(drop=True)
        )

    # clean reference run
    clean = str(tmp_path / "clean")
    build_ann_index(emb, clean)
    add_to_ann_index(_upsert_batch(spark, emb), clean)
    want = serve(clean)

    batch = _upsert_batch(spark, emb)

    def torn_attempt(out, full: bool):
        """Simulate a crash mid-add at gen 1: cells partially written
        (window A) or every gen-1 dir written but meta uncommitted
        (window B)."""
        C = np.array(_read_ivf_meta(out)["centroids"], dtype=np.float64)
        part = batch if full else batch.filter("vec_id = 0")
        _assign_cells(part, C).write.mode("overwrite").partitionBy("cell").parquet(
            f"{out}/cells/gen=1"
        )
        if full:
            spark.createDataFrame(
                [(0, 0)], "vec_id long, upto_gen int"
            ).write.mode("overwrite").parquet(f"{out}/tombstones/gen=1")
            batch.select("vec_id").withColumn("vb", _key_bucket("vec_id")).write.mode(
                "overwrite"
            ).partitionBy("vb").parquet(f"{out}/keyindex/gen=1")

    for name, full in (("crashA", False), ("crashB", True)):
        out = str(tmp_path / name)
        build_ann_index(emb, out)
        pre_crash = serve(out)
        torn_attempt(out, full)
        # torn dirs are INVISIBLE: serving equals the committed state
        pd.testing.assert_frame_equal(serve(out), pre_crash)
        res = add_to_ann_index(batch, out)
        assert res == {"added": 2, "replaced": 1, "generation": 1}
        live = live_cells(spark, out)
        assert live.groupBy("vec_id").count().filter("count > 1").count() == 0
        pd.testing.assert_frame_equal(serve(out), want)

    # interleaving: torn batch b1, then a DIFFERENT batch b2 commits
    # gen 1, then b1 retries at gen 2
    out = str(tmp_path / "interleave")
    build_ann_index(emb, out)
    torn_attempt(out, True)  # b1 = _upsert_batch, torn at gen 1
    emb_pdf = emb.toPandas()
    v_c5 = [float(x) for x in emb_pdf.loc[emb_pdf.vec_id == 50, "embedding"].iloc[0]]
    b2 = spark.createDataFrame([(777, v_c5)], batch.schema)
    res2 = add_to_ann_index(b2, out)
    assert res2 == {"added": 1, "replaced": 0, "generation": 1}
    # b1's torn gen-1 rows were wholly overwritten by b2's commit
    live_ids = {
        int(r["vec_id"]) for r in live_cells(spark, out).select("vec_id").collect()
    }
    assert 999 not in live_ids, "torn batch's partial rows laundered in"
    res1 = add_to_ann_index(batch, out)
    assert res1 == {"added": 2, "replaced": 1, "generation": 2}
    live = live_cells(spark, out)
    assert live.groupBy("vec_id").count().filter("count > 1").count() == 0
    got = serve(out)
    q5 = set(got.loc[got.query_id == 5, "vec_id"].astype(int))
    q7 = set(got.loc[got.query_id == 7, "vec_id"].astype(int))
    q3 = set(got.loc[got.query_id == 3, "vec_id"].astype(int))
    assert 777 in q5 and 0 in q7 and 999 in q3


def test_stream_ann_ingest_lifecycle(spark, emb_frames, tmp_path):
    """Streaming vector ingestion: first batch bootstraps the index,
    the second layers an upsert generation (stale version excluded,
    new id served), and a redelivery of already-committed files (fresh
    checkpoint, same landing dir) is skipped via stream_batches.json —
    index bytes and serving untouched."""
    from theoremsearch_spark.functions.similarity import (
        _read_ivf_meta,
        ann_ivf_search,
    )
    from theoremsearch_spark.streaming.ann_stream import stream_ann_ingest

    emb, queries = emb_frames
    qp = queries.toPandas()
    land = tmp_path / "land"
    land.mkdir()
    idx = str(tmp_path / "annidx")
    emb.repartition(2).write.parquet(str(land / "batch0"))

    def drain(chk: str):
        stream_ann_ingest(
            spark, f"{land}/*", idx, str(tmp_path / chk), schema=emb.schema
        ).start().awaitTermination(300)

    drain("chk")
    meta = _read_ivf_meta(idx)
    assert meta["generations"] == 1
    assert meta["n_vectors"] == N_CLUSTERS * PER_CLUSTER

    _upsert_batch(spark, emb).write.parquet(str(land / "batch1"))
    drain("chk")
    meta2 = _read_ivf_meta(idx)
    assert meta2["generations"] == 2
    assert meta2["n_vectors"] == N_CLUSTERS * PER_CLUSTER + 1
    tomb = spark.read.parquet(f"{idx}/tombstones").toPandas()
    assert list(tomb.vec_id) == [0] and list(tomb.upto_gen) == [0]

    got = ann_ivf_search(spark, idx, qp, k=K).toPandas()
    assert 0 not in set(got.loc[got.query_id == 0, "vec_id"].astype(int))
    assert 0 in set(got.loc[got.query_id == 7, "vec_id"].astype(int))
    assert 999 in set(got.loc[got.query_id == 3, "vec_id"].astype(int))

    # redelivery: a fresh checkpoint re-offers every landed file in one
    # big batch 0 — all files are committed, so the drain is a no-op
    drain("chk_replay")
    assert _read_ivf_meta(idx) == meta2
    again = ann_ivf_search(spark, idx, qp, k=K).toPandas()
    pd.testing.assert_frame_equal(
        got.sort_values(["query_id", "rnk"]).reset_index(drop=True),
        again.sort_values(["query_id", "rnk"]).reset_index(drop=True),
    )

    # PARTIAL redelivery — the checkpoint-loss data-loss trap: a fresh
    # checkpoint offers committed files AND a newly landed file in the
    # same batch 0. File-keyed idempotency must ingest exactly the new
    # file (batch-id keying would skip the whole batch and lose it).
    emb_pdf = emb.toPandas()
    v = [float(x) for x in emb_pdf.loc[emb_pdf.vec_id == 45, "embedding"].iloc[0]]
    spark.createDataFrame([(1000, v)], emb.schema).write.parquet(
        str(land / "batch2")
    )
    drain("chk_replay2")
    meta3 = _read_ivf_meta(idx)
    assert meta3["generations"] == 3
    assert meta3["n_vectors"] == N_CLUSTERS * PER_CLUSTER + 2
    # no re-upserting of the redelivered old files: tombstones unchanged
    tomb = spark.read.parquet(f"{idx}/tombstones").toPandas()
    assert list(tomb.vec_id) == [0]
    got3 = ann_ivf_search(spark, idx, qp, k=K).toPandas()
    assert 1000 in set(got3.loc[got3.query_id == 4, "vec_id"].astype(int))


def test_ann_ivf_search_rescored(spark, emb_frames, tmp_path):
    """Two-stage weighted rescore on the persisted index (the
    reference's citation-weight mode): a planted high-prior cluster
    member must outrank its cosine superiors via the
    `cos + w·ln(prior)` bonus; zero-bonus priors (ln(1)=0, prior≤0)
    leave cosine order intact; result agrees with the exact
    `ann_rescored_topk` formula on the same corpus (recall ≥ 0.8)."""
    from pyspark.sql import functions as F

    from theoremsearch_spark.functions.similarity import (
        ann_ivf_search,
        ann_rescored_topk,
        build_ann_index,
    )

    emb, queries = emb_frames
    # vec 5 (a non-seed member of query 0's cluster) gets a huge prior;
    # everyone else prior=1 → ln(1)=0, pure cosine order
    embP = emb.withColumn(
        "prior",
        F.when(F.col("vec_id") == 5, F.lit(10**9)).otherwise(F.lit(1)).cast("long"),
    )
    out = str(tmp_path / "ivf_prior")
    build_ann_index(embP, out)
    qp = queries.toPandas()

    got = ann_ivf_search(spark, out, qp, k=K, rescore_col="prior").toPandas()
    g0 = got.loc[got.query_id == 0].sort_values("rnk")
    assert int(g0.iloc[0].vec_id) == 5, "high-prior member not boosted to rank 1"
    # per-query results are ordered by wscore (desc) — the re-rank happened
    for q in range(N_QUERIES):
        ws = got.loc[got.query_id == q].sort_values("rnk").wscore.to_numpy()
        assert (np.diff(ws) <= 1e-9).all()

    prior = embP.select("vec_id", "prior")
    exact = ann_rescored_topk(emb, queries, prior, k=K).toPandas()
    recalls = []
    for q in range(N_QUERIES):
        want = set(exact.loc[exact.query_id == q, "vec_id"].astype(int))
        g = set(got.loc[got.query_id == q, "vec_id"].astype(int))
        recalls.append(len(want & g) / len(want))
    assert float(np.mean(recalls)) >= 0.8, recalls
    # the planted boost agrees between served and exact paths
    e0 = exact.loc[exact.query_id == 0].sort_values("rnk")
    assert int(e0.iloc[0].vec_id) == 5


def test_ann_index_lifecycle(spark, emb_frames, tmp_path):
    """build → add(upsert) → delete → compact on the persisted IVF
    index. Locks the LSM semantics: a re-embedded id never serves its
    stale version (even from a different probed cell), only ids with a
    stored prior version are tombstoned (key-index pruning — tombstones
    are O(updated), not O(ingested)), deletes exclude and are
    idempotent, and compact preserves serving bitwise while clearing
    the tombstone set."""
    import glob

    from pyspark.sql import types as T

    from theoremsearch_spark.functions.similarity import (
        add_to_ann_index,
        ann_ivf_search,
        build_ann_index,
        compact_ann_index,
        delete_from_ann_index,
    )

    emb, queries = emb_frames
    out = str(tmp_path / "ivf")
    build_ann_index(emb, out)
    qp = queries.toPandas()

    # batch: vec 0 re-embedded into cluster 7, plus one genuinely new id
    # (999) planted in cluster 3
    emb_pdf = emb.toPandas()
    v_c7 = [float(x) for x in emb_pdf.loc[emb_pdf.vec_id == 75, "embedding"].iloc[0]]
    v_c3 = [float(x) for x in emb_pdf.loc[emb_pdf.vec_id == 35, "embedding"].iloc[0]]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), False),
        ]
    )
    batch = spark.createDataFrame([(0, v_c7), (999, v_c3)], schema)
    res = add_to_ann_index(batch, out)
    assert res == {"added": 2, "replaced": 1, "generation": 1}

    # tombstones hold ONLY the replaced id — not the new id 999
    tomb = spark.read.parquet(f"{out}/tombstones").toPandas()
    assert list(tomb.vec_id) == [0] and list(tomb.upto_gen) == [0]

    got = ann_ivf_search(spark, out, qp, k=K).toPandas()
    q0 = set(got.loc[got.query_id == 0, "vec_id"].astype(int))
    q7 = set(got.loc[got.query_id == 7, "vec_id"].astype(int))
    q3 = set(got.loc[got.query_id == 3, "vec_id"].astype(int))
    assert 0 not in q0, "stale version of re-embedded id served"
    assert 0 in q7, "fresh version not served from its new cell"
    assert 999 in q3, "appended new id not served"

    # delete cluster 7's own members; its adopted member (vec 0) stays
    res = delete_from_ann_index(spark, out, list(range(70, 80)))
    assert res == {"deleted": 10}
    assert delete_from_ann_index(spark, out, list(range(70, 80))) == {
        "deleted": 0
    }, "delete not idempotent"
    got2 = ann_ivf_search(spark, out, qp, k=K).toPandas()
    q7b = set(got2.loc[got2.query_id == 7, "vec_id"].astype(int))
    assert q7b.isdisjoint(set(range(70, 80))), "deleted ids served"
    assert 0 in q7b

    # compact: serving identical, tombstones gone, live count right
    before = got2.sort_values(["query_id", "rnk"]).reset_index(drop=True)
    res = compact_ann_index(spark, out)
    assert res["compacted"] and res["n_vectors"] == N_CLUSTERS * PER_CLUSTER + 1 - 10
    assert not glob.glob(f"{out}/tombstones/*")
    after = (
        ann_ivf_search(spark, out, qp, k=K)
        .toPandas()
        .sort_values(["query_id", "rnk"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(before, after)


def test_ann_delete_evaluates_prior_versions_once(spark, emb_frames, tmp_path):
    """A delete that finds live versions runs the prior-version plan
    (touched key buckets + visible tombstones) once: the tombstone
    write, with the count read from the written footers. So it launches
    no more jobs than one write of that plan; a count() followed by a
    write runs the plan, and its tombstone broadcast, twice. Jobs are
    counted by job-id advance."""
    from tests.test_serve_fixed_costs import jobs_launched
    from theoremsearch_spark.functions.similarity import (
        _VEC_IDS_SCHEMA,
        _live_prior_versions,
        _read_ivf_meta,
        add_to_ann_index,
        build_ann_index,
        delete_from_ann_index,
    )
    from theoremsearch_spark.query import local_frame
    from theoremsearch_spark.streaming.incremental import _listed_buckets

    emb, _ = emb_frames
    out = str(tmp_path / "ivf_del_jobs")
    build_ann_index(emb, out)
    add_to_ann_index(_upsert_batch(spark, emb), out)  # visible tombstones
    ids = [70, 71, 0]
    gen = int(_read_ivf_meta(out)["generations"])

    def plan_once():
        ids_df = local_frame(spark, _VEC_IDS_SCHEMA, pd.DataFrame({"vec_id": ids}))
        buckets = _listed_buckets(ids_df, "vec_id")
        _live_prior_versions(spark, out, ids_df, gen, buckets).write.parquet(
            str(tmp_path / "plan_once")
        )

    once = jobs_launched(spark, plan_once)
    res = {}
    n = jobs_launched(
        spark, lambda: res.update(delete_from_ann_index(spark, out, ids))
    )
    assert res == {"deleted": 3}
    assert n <= once, f"delete launched {n} jobs; one plan evaluation is {once}"


def test_ann_chunked_serving_identical(spark, emb_frames, tmp_path):
    """Bounded-batch ANN serving (the vector-side topk_batched):
    chunked results are identical to one big batch, and serve-prep
    (tombstone aggregation) runs ONCE across chunks — the job count
    follows J(c) = P + c·s, so the intercept 2·J(2) − J(4) must carry
    the prep job; per-chunk prep would collapse it to ~0."""
    from theoremsearch_spark.functions.similarity import (
        add_to_ann_index,
        ann_ivf_search_batched,
        build_ann_index,
    )

    emb, _ = emb_frames
    out = str(tmp_path / "ivf_chunk")
    build_ann_index(emb, out)
    # create tombstones so the prep stage has real work
    add_to_ann_index(_upsert_batch(spark, emb), out)

    emb_pdf = emb.toPandas().sort_values("vec_id")
    qp = pd.DataFrame(
        {
            "query_id": range(16),
            "qvec": [
                emb_pdf.loc[emb_pdf.vec_id == q * PER_CLUSTER, "embedding"].iloc[0]
                for q in range(16)
            ],
        }
    )

    sc = spark.sparkContext
    def run(tag, **kw):
        sc.setJobGroup(tag, tag)
        try:
            res = (
                ann_ivf_search_batched(spark, out, qp, k=K, **kw)
                .toPandas()
                .sort_values(["query_id", "rnk"])
                .reset_index(drop=True)
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return res, len(sc.statusTracker().getJobIdsForGroup(tag))

    full, _ = run("ann_unchunked")
    two, j2 = run("ann_2chunks", max_batch=8)
    four, j4 = run("ann_4chunks", max_batch=4)
    pd.testing.assert_frame_equal(full, two)
    pd.testing.assert_frame_equal(full, four)
    assert len(full) > 0
    intercept = 2 * j2 - j4
    assert intercept >= 1, f"tombstone prep not shared (j2={j2}, j4={j4})"

    # the tombstone set must never localize as pandas Rows: prep packs
    # it executor-side (_tombstone_mask_artifact) and broadcasts once —
    # the unchunked path equality above already proves the broadcast
    # mask and the JVM join implement the same death rule
    from pyspark.sql import DataFrame as _DF

    orig = _DF.toPandas

    def guard(self, *a, **kw):
        assert "upto_gen" not in self.columns, (
            "tombstone frame localized as pandas during chunked serving"
        )
        return orig(self, *a, **kw)

    _DF.toPandas = guard
    try:
        again, _ = run("ann_2chunks_guard", max_batch=8)
    finally:
        _DF.toPandas = orig
    pd.testing.assert_frame_equal(full, again)


def test_sq8_quantized_index(spark, emb_frames, tmp_path):
    """SQ8 storage: ~4× smaller cells, recall@K ≥ 0.9 vs the fp32
    index, and the upsert/delete lifecycle carries int8 columns
    unchanged (a re-embedded id serves its fresh version)."""
    import os

    from theoremsearch_spark.functions.similarity import (
        add_to_ann_index,
        ann_ivf_search,
        build_ann_index,
        compact_ann_index,
        live_cells,
    )

    emb, queries = emb_frames
    qp = queries.toPandas()
    f32 = str(tmp_path / "f32")
    q8 = str(tmp_path / "q8")
    build_ann_index(emb, f32)
    build_ann_index(emb, q8, quantize="sq8")

    # byte comparison on a corpus big enough that parquet per-file
    # overhead doesn't swamp the data (the fixture is 300×16)
    from theoremsearch_spark.corpus import generate_vectors

    big = generate_vectors(spark, 4000, dim=64, partitions=4)
    bf32, bq8 = str(tmp_path / "bf32"), str(tmp_path / "bq8")
    build_ann_index(big, bf32)
    build_ann_index(big, bq8, quantize="sq8")

    def nbytes(root):
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(f"{root}/cells")
            for f in fs
        )

    assert nbytes(bq8) < nbytes(bf32) / 2, (nbytes(bq8), nbytes(bf32))

    want = ann_ivf_search(spark, f32, qp, k=K).toPandas()
    got = ann_ivf_search(spark, q8, qp, k=K).toPandas()
    recalls = []
    for qid in qp["query_id"]:
        w = set(want[want.query_id == qid]["vec_id"])
        g = set(got[got.query_id == qid]["vec_id"])
        recalls.append(len(w & g) / max(len(w), 1))
    assert np.mean(recalls) >= 0.9, recalls

    # lifecycle: upsert re-embeds vec 0 into cluster 7; delete 5; compact
    add_to_ann_index(_upsert_batch(spark, emb), q8)
    from theoremsearch_spark.functions.similarity import delete_from_ann_index

    delete_from_ann_index(spark, q8, [5])
    emb_pdf = emb.toPandas()
    v75 = [float(x) for x in emb_pdf.loc[emb_pdf.vec_id == 75, "embedding"].iloc[0]]
    probe = pd.DataFrame({"query_id": [0], "qvec": [v75]})
    hits = ann_ivf_search(spark, q8, probe, k=5).toPandas()
    assert 0 in set(hits["vec_id"])  # fresh version serves from cluster 7
    assert 5 not in set(
        ann_ivf_search(spark, q8, qp, k=2000).toPandas()["vec_id"]
    )
    before = ann_ivf_search(spark, q8, qp, k=K).toPandas()
    assert compact_ann_index(spark, q8)["compacted"]
    after = ann_ivf_search(spark, q8, qp, k=K).toPandas()
    pd.testing.assert_frame_equal(
        before.sort_values(["query_id", "rnk"]).reset_index(drop=True),
        after.sort_values(["query_id", "rnk"]).reset_index(drop=True),
    )
    # live_cells exposes a dequantized embedding view (self-query path)
    assert "embedding" in live_cells(spark, q8).columns


def test_ann_tiered_compaction(spark, emb_frames, tmp_path):
    """Suffix (tiered) compaction merges only the newest N generations:
    serving stays bitwise identical, older generation dirs are
    untouched, tombstones survive to keep guarding them, and a later
    FULL compaction still collapses everything and clears tombstones."""
    import os

    from pyspark.sql import types as T

    from theoremsearch_spark.functions.similarity import (
        add_to_ann_index,
        ann_ivf_search,
        build_ann_index,
        compact_ann_index,
    )

    emb, queries = emb_frames
    qp = queries.toPandas()
    out = str(tmp_path / "tiered")
    build_ann_index(emb, out)

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), False),
        ]
    )
    emb_pdf = emb.toPandas()

    def vec(i):
        return [float(x) for x in emb_pdf.loc[emb_pdf.vec_id == i, "embedding"].iloc[0]]

    # three micro-batches: a fresh id, then two re-embeds (tombstones)
    add_to_ann_index(spark.createDataFrame([(500, vec(10))], schema), out)
    add_to_ann_index(spark.createDataFrame([(0, vec(75))], schema), out)
    add_to_ann_index(spark.createDataFrame([(500, vec(20))], schema), out)

    before = (
        ann_ivf_search(spark, out, qp, k=K)
        .toPandas().sort_values(["query_id", "rnk"]).reset_index(drop=True)
    )
    gen0_mtime = os.path.getmtime(f"{out}/cells/gen=0")

    res = compact_ann_index(spark, out, last_n=3)
    assert res["compacted"] and not res["full"]
    assert res["merged_generations"] == [1, 2, 3]
    assert os.path.getmtime(f"{out}/cells/gen=0") == gen0_mtime  # untouched
    assert not os.path.isdir(f"{out}/cells/gen=1")
    assert not os.path.isdir(f"{out}/cells/gen=2")
    assert os.path.isdir(f"{out}/cells/gen=3")  # merged span lives here
    assert os.path.isdir(f"{out}/tombstones")   # still guarding gen 0

    after = (
        ann_ivf_search(spark, out, qp, k=K)
        .toPandas().sort_values(["query_id", "rnk"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(before, after)

    # the tombstoned stale version of id 0 (gen 0) must STILL not serve
    probe = pd.DataFrame({"query_id": [0], "qvec": [vec(75)]})
    hits = ann_ivf_search(spark, out, probe, k=5).toPandas()
    assert 0 in set(hits["vec_id"])

    res2 = compact_ann_index(spark, out)
    assert res2["compacted"] and res2["full"]
    assert not os.path.isdir(f"{out}/tombstones")
    final = (
        ann_ivf_search(spark, out, qp, k=K)
        .toPandas().sort_values(["query_id", "rnk"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(before, final)


def test_ann_delete_counts_tombstones_footers_cannot_see(
    spark, emb_frames, tmp_path, monkeypatch
):
    """Where the footer walk sees no file (a root on a non-local
    filesystem), an ANN delete counts its tombstones with Spark: it
    reports the deleted ids and they stop serving, instead of a silent
    0 that removed the written tombstones and committed nothing."""
    from pyspark.sql import functions as F

    from theoremsearch_spark import positions
    from theoremsearch_spark.functions.similarity import (
        ann_ivf_search,
        build_ann_index,
        delete_from_ann_index,
        live_cells,
    )

    emb, queries = emb_frames
    out = str(tmp_path / "ivf_unseen_footers")
    build_ann_index(emb, out)
    qp = queries.toPandas()
    ids = [int(q) * PER_CLUSTER for q in qp["query_id"]]  # each query's own vector
    assert set(ids) <= set(ann_ivf_search(spark, out, qp, k=K).toPandas()["vec_id"])

    monkeypatch.setattr(positions, "_footer_row_count", lambda root: None)
    assert delete_from_ann_index(spark, out, ids) == {"deleted": len(ids)}
    assert not set(ids) & set(ann_ivf_search(spark, out, qp, k=K).toPandas()["vec_id"])
    assert live_cells(spark, out).filter(F.col("vec_id").isin(ids)).count() == 0
