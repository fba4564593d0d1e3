"""Similarity search over an embedding column (`array<float>`).

  - brute-force cosine top-k: exact baseline. The query side is tiny →
    broadcast; the corpus side streams through a codegen'd
    zip_with/aggregate dot product — no Python in the row path, no
    shuffle except the final per-query top-k (TakeOrderedAndProject
    shape via window row_number over few query groups).
  - LSH-bucketed ANN (random hyperplanes): the 100 TB path. Corpus
    vectors are hashed once into sign-pattern buckets; queries
    multiprobe their own bucket plus every bucket at Hamming distance 1
    (1 + bits probes) — candidate set is ~n·(1+bits)/2^bits per query.
    Probabilistic recall ⇒ rows-only driver check; recall@10 vs
    brute_force_topk is locked by pytest
    (tests/test_similarity.py::test_ann_lsh_recall).

Replaces the reference's pgvector `<#>` scan
(/root/reference/streamlit_app.py:275,281) with Spark-native physics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F, types as T

from theoremsearch_spark import sidecar
from theoremsearch_spark.functions.widen import widen_small_input as _widen
from theoremsearch_spark.operators.relational import t
from theoremsearch_spark.query import collect_chunks, local_frame
from theoremsearch_spark.streaming.incremental import (
    _listed_buckets,
    _touched_buckets,
    _write_keyindex,
    _write_tombstones,
)

N_QUERY_VECS = 5
LSH_BITS = 8
PLANES_SEED = 7  # planes are a pure function of (seed, dim): stable across calls


def _cosine(a: str, b: str):
    dot = F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(F.col(a), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(F.col(b), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return dot / (na * nb)


def _cosine_unitq(qunit: str, b: str):
    """Cosine against a pre-normalized query vector: dot / ||b|| — the
    query-side norm is constant per query, so it is divided out ONCE
    driver-side instead of being recomputed by codegen for every
    candidate row (IVF serving's scorer; the oracle-paired brute-force
    baselines keep the symmetric form their hashes were locked with)."""
    dot = F.aggregate(
        F.zip_with(F.col(qunit), F.col(b), lambda x, y: x * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(F.col(b), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return dot / nb


def brute_force_topk(emb: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k of `queries` (query_id, qvec) against `emb`
    (vec_id, embedding). Queries broadcast; ties → vec_id ASC."""
    joined = _widen(emb).crossJoin(F.broadcast(queries))
    scored = joined.select(
        "query_id",
        "vec_id",
        F.round(_cosine("qvec", "embedding"), 4).alias("cos"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cos", "rnk")
    )


def q_ann_brute_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = (
        emb.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    )
    return brute_force_topk(emb, queries, k=10).orderBy("query_id", "rnk")


def lsh_bucket(emb_col: str, planes: np.ndarray):
    """Sign-pattern bucket id from random hyperplanes (codegen'd)."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    F.col(emb_col),
                    F.array(*[F.lit(float(v)) for v in planes[i]]),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            > 0,
            F.lit(1 << i),
        ).otherwise(F.lit(0))
        for i in range(planes.shape[0])
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def ann_lsh_topk(emb: DataFrame, queries: DataFrame, dim: int, k: int = 10) -> DataFrame:
    """LSH-bucketed ANN with Hamming-1 multiprobe: each query probes its
    own bucket plus the LSH_BITS single-bit-flip neighbors (near misses
    on one hyperplane are the dominant recall loss). Each corpus vector
    lives in exactly one bucket, so a (query, vector) pair matches at
    most once — no dedup needed. At 10^12 rows the bucket column is a
    partition key — each probe touches one partition."""
    planes = np.random.default_rng(PLANES_SEED).standard_normal((LSH_BITS, dim))
    bucketed = _widen(emb).withColumn("bucket", lsh_bucket("embedding", planes))
    probes = F.explode(
        F.array(
            F.col("qbucket"),
            *[F.col("qbucket").bitwiseXOR(F.lit(1 << i)) for i in range(LSH_BITS)],
        )
    )
    qb = queries.withColumn("qbucket", lsh_bucket("qvec", planes)).withColumn(
        "bucket", probes
    ).drop("qbucket")
    joined = bucketed.join(F.broadcast(qb), "bucket")
    scored = joined.select(
        "query_id", "vec_id", F.round(_cosine("qvec", "embedding"), 4).alias("cos")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cos", "rnk")
    )


def q_ann_lsh_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    queries = (
        emb.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    )
    return ann_lsh_topk(emb, queries, dim, k=10).orderBy("query_id", "rnk")


N_CENTROIDS = 64
N_PROBE = 8
KMEANS_ITERS = 8
KMEANS_SAMPLE = 4096


def _kmeans_spherical(X: np.ndarray, k: int, iters: int = KMEANS_ITERS) -> np.ndarray:
    """Deterministic spherical k-means (Lloyd on unit vectors, cosine =
    dot): init = stride sample of the input (reproducible, no RNG),
    assignment = argmax dot, update = renormalized mean; an emptied
    cluster keeps its previous centroid. Returns unit centroids (k, d).

    Driver-side numpy on a bounded SAMPLE — the standard IVF recipe:
    at 10^12 rows you train the coarse quantizer on ~10⁵ sampled
    vectors (constant-size work) and broadcast the centroids; the
    corpus-wide cell assignment stays a codegen'd argmax scan."""
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    stride = max(1, len(Xn) // k)
    C = Xn[::stride][:k].copy()
    for _ in range(iters):
        assign = (Xn @ C.T).argmax(axis=1)
        newC = C.copy()
        for j in range(len(C)):
            members = Xn[assign == j]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 1e-12:
                    newC[j] = m / n
        if np.allclose(newC, C, atol=1e-9):
            break
        C = newC
    return C


_PROBE_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType()),
    T.StructField("cell", T.IntegerType()),
])
_QVEC_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType()),
    T.StructField("qvec", T.ArrayType(T.DoubleType())),
])
_VEC_IDS_SCHEMA = T.StructType([T.StructField("vec_id", T.LongType())])


def _probe_frames(spark, probe_rows, query_ids, Q: np.ndarray) -> tuple:
    """(query_id, cell) probes and (query_id, qvec) query vectors as JVM
    local relations (`query.local_frame`): no `sc.parallelize`, so no
    Python workers re-pickle the rows when the serve plan runs."""
    probes = pd.DataFrame(probe_rows, columns=["query_id", "cell"])
    qv = pd.DataFrame({"query_id": np.asarray(query_ids), "qvec": list(Q)})
    return (
        local_frame(spark, _PROBE_SCHEMA, probes),
        local_frame(spark, _QVEC_SCHEMA, qv),
    )


def ann_ivf_topk(
    emb: DataFrame, queries_pdf, dim: int, k: int = 10,
    n_centroids: int = N_CENTROIDS, n_probe: int = N_PROBE,
) -> DataFrame:
    """IVF (inverted-file) ANN: corpus vectors are assigned to their
    nearest centroid once (the coarse quantizer — spherical k-means
    trained driver-side on a bounded deterministic sample); each query
    probes its `n_probe` nearest centroids and scores only those cells —
    candidate fraction ≈ n_probe/n_centroids of the corpus. The cell
    column is a partition key at scale: one probe = one partition scan,
    same physics as the posting-list index.

    queries_pdf: pandas (query_id, qvec as list) — the query side is
    tiny and its probe lists are computed driver-side in numpy.
    """
    spark = emb.sparkSession
    _, C = _train_centroids(emb, n_centroids)
    cells = _assign_cells(_widen(emb), C)

    # query probes: numpy, driver-side
    Q = np.array(list(queries_pdf["qvec"]), dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    sims = Qn @ C.T
    probe_rows = [
        (int(qid), int(c))
        for qid, row in zip(queries_pdf["query_id"], sims)
        for c in np.argsort(-row)[:n_probe]
    ]
    probes, qv = _probe_frames(spark, probe_rows, queries_pdf["query_id"], Q)
    cand = cells.join(F.broadcast(probes.join(qv, "query_id")), "cell")
    scored_c = cand.select(
        "query_id", "vec_id", F.round(_cosine("qvec", "embedding"), 4).alias("cos")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored_c.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cos", "rnk")
    )


def q_ann_ivf_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    qp = (
        emb.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
        .toPandas()
    )
    dim = len(qp["qvec"].iloc[0])
    return ann_ivf_topk(emb, qp, dim, k=10).orderBy("query_id", "rnk")


def _train_centroids(emb: DataFrame, n_centroids: int) -> tuple[int, np.ndarray]:
    """(corpus size, unit centroids): the coarse quantizer, trained
    driver-side on a deterministic stride sample of at most
    KMEANS_SAMPLE vectors."""
    n = emb.count()
    stride = max(1, n // min(n, KMEANS_SAMPLE))
    sample = (
        emb.filter(F.col("vec_id") % stride == 0)
        .orderBy("vec_id")
        .limit(KMEANS_SAMPLE)
        .select("embedding")
        .collect()
    )
    X = np.array([r["embedding"] for r in sample], dtype=np.float64)
    return n, _kmeans_spherical(X, min(n_centroids, len(X)))


def _assign_cells(emb: DataFrame, C: np.ndarray) -> DataFrame:
    """Attach the IVF cell id: one `X @ C.T` matmul + argmax per Arrow
    batch (the minhash_sig_udf pattern). An earlier version built a
    per-centroid codegen struct array and array_max'd it — fine at 16
    centroids, but the expression tree (and codegen'd method size)
    grows LINEARLY with n_centroids, and the thousands of cells a
    10^12-row corpus needs (cells-as-partitions) would blow up plan
    size/codegen limits. The vectorized matmul is O(1) plan nodes at
    any centroid count; centroids ship once per executor as a
    broadcast. The vector's own norm is constant across cell scores,
    so argmax over dot(v, unit-centroid) IS the cosine argmax — no
    normalization needed corpus-side."""
    from pyspark.sql.functions import pandas_udf

    C_bc = emb.sparkSession.sparkContext.broadcast(C)

    @pandas_udf("int")
    def cell_of(embs: pd.Series) -> pd.Series:
        Xb = np.vstack(embs.to_numpy()).astype(np.float64)
        return pd.Series((Xb @ C_bc.value.T).argmax(axis=1).astype(np.int32))

    return emb.withColumn("cell", cell_of("embedding"))


def _sq8_quantize(df: DataFrame) -> DataFrame:
    """Scalar 8-bit quantization (SQ8): per-vector affine map of
    `embedding` onto int8 — `emb8[i] = round((v[i] - off) / scale)`,
    `off = (min+max)/2`, `scale = (max-min)/254` — stored as ONE
    PACKED BINARY value per vector plus (q_scale, q_offset). Binary is
    the load-bearing choice: parquet has no 1-byte physical type
    (tinyint arrays land as annotated INT32 — measured BIGGER on disk
    than fp32), while a BYTE_ARRAY cell is exactly dim bytes — the
    true ~4× scan-IO cut that matters at corpus scale. Applied AFTER
    cell assignment (the coarse quantizer sees full precision); a
    constant vector degenerates to scale=1, emb8=0 — dequant returns
    the constant exactly. Arrow-batched pack, no per-element
    Python."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<emb8:binary,q_scale:double,q_offset:double>")
    def pack(emb: pd.Series) -> pd.DataFrame:
        X = np.stack(emb.to_numpy()).astype(np.float64)
        mn, mx = X.min(axis=1), X.max(axis=1)
        off = (mn + mx) / 2.0
        scale = np.where(mx > mn, (mx - mn) / 254.0, 1.0)
        q = np.round((X - off[:, None]) / scale[:, None]).astype(np.int8)
        return pd.DataFrame(
            {"emb8": [r.tobytes() for r in q], "q_scale": scale, "q_offset": off}
        )

    return (
        df.withColumn("_q", pack("embedding"))
        .drop("embedding")
        .select("*", "_q.emb8", "_q.q_scale", "_q.q_offset")
        .drop("_q")
    )


def _sq8_cos(emb8: str, q_scale: str, q_offset: str, qvec: str):
    """Cosine against SQ8-packed vectors — Arrow-batched: the whole
    batch unpacks in ONE frombuffer/reshape and the dot is a vectorized
    row product. For real embedding dims this beats the per-row codegen
    fold (one BLAS-shaped op per batch vs ~2·dim expression nodes per
    row) while scanning 1/4 of the bytes."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos8(
        b: pd.Series, sc: pd.Series, off: pd.Series, qv: pd.Series
    ) -> pd.Series:
        if not len(b):
            return pd.Series([], dtype="float64")
        E = np.frombuffer(b"".join(b), dtype=np.int8).reshape(len(b), -1)
        E = E.astype(np.float64) * sc.to_numpy()[:, None] + off.to_numpy()[:, None]
        Q = np.stack(qv.to_numpy()).astype(np.float64)
        dots = np.einsum("ij,ij->i", E, Q)
        den = np.linalg.norm(E, axis=1) * np.linalg.norm(Q, axis=1)
        return pd.Series(dots / np.maximum(den, 1e-12))

    return cos8(emb8, q_scale, q_offset, qvec)


def _sq8_dequantize(df: DataFrame) -> DataFrame:
    """Reconstruct a float `embedding` column from SQ8 storage (the
    reader view for self-queries/compat); stored columns untouched."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<float>")
    def unpack(b: pd.Series, sc: pd.Series, off: pd.Series) -> pd.Series:
        if not len(b):
            return pd.Series([], dtype="object")
        E = np.frombuffer(b"".join(b), dtype=np.int8).reshape(len(b), -1)
        V = E.astype(np.float64) * sc.to_numpy()[:, None] + off.to_numpy()[:, None]
        return pd.Series([row.astype(np.float32) for row in V])

    return df.withColumn("embedding", unpack("emb8", "q_scale", "q_offset"))


# vec_id key index per generation, in the text root's key-index layout
# (streaming/incremental.py `_write_keyindex`, `vb=` bucket dirs): an
# upserting batch discovers its PRIOR versions by reading only the
# buckets its ids hash into, so tombstones stay O(actually-updated ids)
# — never O(ingested ids) — and the serve-time mask stays bounded.
# keyindex/gen=G/vb=B and tombstones/gen=G rows, partition columns
# included; readers declare them, so no footer-inference job runs
_KEYINDEX_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("vb", T.IntegerType()),
    T.StructField("gen", T.IntegerType()),
])
_TOMBSTONE_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("upto_gen", T.IntegerType()),
    T.StructField("gen", T.IntegerType()),
])


def _write_vec_keyindex(frame: DataFrame, path: str) -> None:
    """One generation's key index: the frame's vec_ids, stored as long
    (the type readers declare)."""
    ids = frame.select(F.col("vec_id").cast("long").alias("vec_id"))
    _write_keyindex(ids, "vec_id", "vb", path)


def _read_ivf_meta(out_dir: str) -> dict:
    """The index's committed `ivf_meta.json` record; an index without
    one, or of another format version, is refused (mixed layouts would
    mis-serve silently)."""
    return sidecar.require_json(f"{out_dir}/ivf_meta.json")


def _write_ivf_meta(out_dir: str, meta: dict) -> None:
    sidecar.write_json(f"{out_dir}/ivf_meta.json", meta)


def build_ann_index(
    emb: DataFrame, out_dir: str,
    n_centroids: int = N_CENTROIDS,
    quantize: str | None = None,
) -> dict:
    """Persist an IVF index: corpus vectors land in parquet partitioned
    as `cells/gen=0/cell=N/` dirs, centroids + metadata in a JSON
    sidecar. This is the ANN analog of the posting-list index — at
    10^12 rows a probe must be a PARTITION-DIRECTORY read, not a
    filter over one monolithic table: `ann_ivf_search` lists only the
    probed `cell=` dirs of committed generations, so IO per query batch
    is O(n_probe/n_centroids) of the corpus with zero footer reads
    outside the probed cells.

    Generations are DIRECTORIES (`gen=G` subtrees under cells/,
    keyindex/, tombstones/), exactly the text index's generation-store
    recipe (streaming/incremental.py): every add/delete writes only its
    own gen=G dirs and the ivf_meta.json write is the single COMMIT
    point — a torn operation's dirs are invisible to every reader (its
    gen number is >= the committed generation count) and are wholly
    overwritten by whichever retry commits that gen number, so crash
    safety is structural, not scrub-based. Single-writer per root.

    Any column of `emb` beyond (vec_id, embedding) is stored in the
    cells verbatim as FILTERABLE METADATA: `ann_ivf_search(where=...)`
    pushes predicates on those columns into the probed-cell parquet
    scan — the reference's `WHERE filters ORDER BY embedding <#> q`
    shape (/root/reference/streamlit_app.py:275-282). `add` batches
    must carry the same columns (validated).

    `quantize="sq8"` stores vectors as per-vector-scaled int8 PACKED
    BINARY (`_sq8_quantize`) instead of fp32 — a true ~4× cut of
    probed-cell scan bytes, the dominant serving cost at corpus scale;
    serving scores the packed bytes directly in one Arrow-batched
    vectorized dot per batch (`_sq8_cos`) and recall stays within the
    SQ8 envelope (pytest-locked ≥ 0.9 vs the fp32 index).
    Adds/compaction carry the packed columns unchanged; the coarse
    quantizer always trains and assigns on full precision."""
    import os
    import shutil

    if quantize not in (None, "sq8"):
        raise ValueError(f"unknown quantize={quantize!r} (supported: 'sq8')")
    n, C = _train_centroids(emb, n_centroids)

    # a rebuild starts from nothing: per-gen writes would otherwise
    # leave a previous lifecycle's higher-numbered gen dirs around
    for sub in ("cells", "keyindex", "tombstones"):
        shutil.rmtree(f"{out_dir}/{sub}", ignore_errors=True)
    for f in ("ivf_meta.json", "stream_files.json"):
        try:
            os.remove(f"{out_dir}/{f}")
        except FileNotFoundError:
            pass

    assigned = _assign_cells(emb, C)
    if quantize == "sq8":
        assigned = _sq8_quantize(assigned)

    def write_cells():
        (
            assigned
            .repartition("cell")  # one writer task per cell: no tiny files
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{out_dir}/cells/gen=0")
        )

    def write_keyindex():
        _write_vec_keyindex(emb, f"{out_dir}/keyindex/gen=0")

    # the two writes are independent jobs over the same input — run
    # them concurrently so the key-index job back-fills executor slots
    # the cells job's tail leaves idle (guide §2.6); commit order is
    # irrelevant pre-meta (nothing is visible until ivf_meta lands)
    _run_concurrently(write_cells, write_keyindex)
    meta = {
        "n_vectors": int(n),
        "n_centroids": int(C.shape[0]),
        "dim": int(C.shape[1]),
        "generations": 1,
        "columns": sorted(emb.columns),
        "quantize": quantize,
        "centroids": [[float(x) for x in row] for row in C],
    }
    _write_ivf_meta(out_dir, meta)
    return {"n_vectors": int(n), "n_centroids": int(C.shape[0])}


def _run_concurrently(*fns) -> None:
    """Run independent Spark actions from a small thread pool so their
    jobs overlap on idle executor slots (guide §2.6); exceptions
    propagate after every job drains (never orphan a running job)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futs = [pool.submit(fn) for fn in fns]
        errs = []
        for f in futs:
            try:
                f.result()
            except BaseException as e:  # noqa: BLE001 — re-raised below
                errs.append(e)
        if errs:
            raise errs[0]


def _committed_gen_dirs(out_dir: str, sub: str, n_gens: int, leaf: str | None = None):
    """Existing COMMITTED per-generation dirs under `{out_dir}/{sub}`:
    gen=g subtrees with g < n_gens (the meta's committed count — a torn
    operation's gen number is >= it, so its dirs never appear), each
    optionally narrowed to a `leaf` subdir (e.g. `cell=5`, `vb=3`).
    Listing-based, so cost is O(existing dirs), not O(lifetime gens)."""
    import os
    import re

    root = f"{out_dir}/{sub}"
    if not os.path.isdir(root):
        return []
    paths = []
    for name in sorted(os.listdir(root)):
        m = re.fullmatch(r"gen=(\d+)", name)
        if not m or int(m.group(1)) >= n_gens:
            continue
        p = f"{root}/{name}" + (f"/{leaf}" if leaf else "")
        if os.path.isdir(p):
            paths.append(p)
    return paths


def _visible_tombstones(spark, out_dir: str, n_gens: int) -> DataFrame | None:
    """(vec_id, max upto_gen) over the COMMITTED tombstone generations,
    or None when there are none. Tombstones are O(updated ids) between
    compactions, so the aggregate broadcasts."""
    paths = _committed_gen_dirs(out_dir, "tombstones", n_gens)
    if not paths:
        return None
    tomb = (
        spark.read.schema(_TOMBSTONE_SCHEMA)
        .option("basePath", f"{out_dir}/tombstones")
        .parquet(*paths)
    )
    return tomb.groupBy("vec_id").agg(F.max("upto_gen").alias("upto_gen"))


def _latest_versions(
    spark, out_dir: str, ids_df: DataFrame, n_gens: int, buckets: list[int]
) -> DataFrame:
    """(vec_id, gen) of each id's LATEST committed generation, for the
    ids in `ids_df` only — discovered by reading just the `vb=` key
    `buckets` the ids hash into (`_touched_buckets`, or
    `_listed_buckets` for a driver-side list: ≤ KEY_BUCKETS tiny ints),
    across committed keyindex generations (a partition-dir read:
    O(ids/B) of the key index, never a corpus scan)."""
    paths = [
        p
        for b in buckets
        for p in _committed_gen_dirs(out_dir, "keyindex", n_gens, leaf=f"vb={b}")
    ]
    if not paths:
        return local_frame(spark, T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("gen", T.IntegerType()),
        ]))
    ki = (
        spark.read.schema(_KEYINDEX_SCHEMA)
        .option("basePath", f"{out_dir}/keyindex")
        .parquet(*paths)
    )
    return (
        ki.join(ids_df, "vec_id")
        .groupBy("vec_id")
        .agg(F.max("gen").alias("gen"))
    )


def _live_prior_versions(
    spark, out_dir: str, ids_df: DataFrame, n_gens: int, buckets: list[int]
) -> DataFrame:
    """Tombstone rows (vec_id, upto_gen) for each id's latest committed
    version that is STILL SERVING (not already fully tombstoned by an
    earlier upsert or delete) — the rows a new upsert/delete writes
    (`_tombstone_prior`)."""
    latest = _latest_versions(spark, out_dir, ids_df, n_gens, buckets)
    tomb = _visible_tombstones(spark, out_dir, n_gens)
    if tomb is not None:
        latest = latest.join(F.broadcast(tomb), "vec_id", "left").filter(
            F.col("upto_gen").isNull() | (F.col("gen") > F.col("upto_gen"))
        )
    return latest.select("vec_id", F.col("gen").alias("upto_gen"))


def _tombstone_prior(
    spark, out_dir: str, ids_df: DataFrame, gen: int, buckets: list[int]
) -> int:
    """Tombstone the live prior versions of `ids_df` (key `buckets` as
    in `_latest_versions`) as `tombstones/gen=G` and return how many
    were written. The prior-version plan runs ONCE — the write — and
    the count comes from the written files
    (`incremental._write_tombstones`). An empty result leaves no gen=G
    dir, so a commit without tombstones never publishes a torn attempt's
    rows."""
    return _write_tombstones(
        _live_prior_versions(spark, out_dir, ids_df, gen, buckets),
        f"{out_dir}/tombstones/gen={gen}",
    )


def add_to_ann_index(
    emb_new: DataFrame, out_dir: str, upsert: bool = True,
) -> dict:
    """Append a batch of vectors to a persisted IVF index WITHOUT
    retraining: the coarse quantizer is frozen at build (standard IVF
    practice — cell boundaries must stay stable or every stored vector
    would need reassignment), new vectors are matmul-assigned against
    the stored centroids and appended into the same `cell=N` dirs as a
    new generation. With `upsert=True`, ids that ALREADY have a stored
    version — discovered via the vb= key index, reading only the
    buckets this batch's ids hash into — get a tombstone
    (vec_id, upto_gen = their latest live gen): serving drops any
    candidate with gen ≤ its id's upto_gen, so a re-embedded vector
    never serves stale even when the stale version sits in a probed
    cell and the fresh one doesn't. Tombstones stay O(actually-updated
    ids) between compactions — the broadcast at serve time is bounded
    by churn, not corpus size. Batches must carry one row per vec_id;
    single-writer, like build. With `upsert=False` (caller guarantees
    fresh ids) the prior-version lookup and tombstone write are
    skipped, but the key index still learns the new ids.

    Crash-safe by construction: everything this call writes lives
    under its own gen=G dirs (cells/keyindex/tombstones), invisible to
    readers until the ivf_meta write — the single COMMIT point —
    raises the committed-generation count past G. A torn attempt's
    dirs are wholly overwritten by whichever operation next commits
    gen G (the replay, or an unrelated batch — either way no partial
    state survives), and all inputs to the prior-version lookup are
    committed state, so a replay computes the same tombstones and the
    same n_vectors delta as a clean run."""
    spark = emb_new.sparkSession
    meta = _read_ivf_meta(out_dir)
    expected = meta.get("columns")
    if expected is not None and sorted(emb_new.columns) != expected:
        raise ValueError(
            f"add batch columns {sorted(emb_new.columns)} != index columns "
            f"{expected}: metadata columns must match the build schema "
            "(a mismatched append would surface as silent nulls under "
            "`search(where=...)`)"
        )
    import shutil

    C = np.array(meta["centroids"], dtype=np.float64)
    gen = int(meta["generations"])
    emb_new = emb_new.persist()
    try:
        n_new = emb_new.count()
        assigned = _assign_cells(emb_new, C)
        if meta.get("quantize") == "sq8":
            assigned = _sq8_quantize(assigned)
        ids_new = emb_new.select("vec_id")
        # a torn prior attempt at this gen number may have left a
        # tombstone dir; remove it so a no-replacement commit can't
        # accidentally commit the torn attempt's rows
        shutil.rmtree(f"{out_dir}/tombstones/gen={gen}", ignore_errors=True)
        replaced = {"n": 0}

        def write_cells():
            (
                assigned
                .repartition("cell")
                .write.mode("overwrite")
                .partitionBy("cell")
                .parquet(f"{out_dir}/cells/gen={gen}")
            )

        def write_keyindex():
            _write_vec_keyindex(ids_new, f"{out_dir}/keyindex/gen={gen}")

        def find_stale():
            # prior-version lookup reads only COMMITTED generations'
            # key buckets — independent of this gen's in-flight writes
            replaced["n"] = _tombstone_prior(
                spark, out_dir, ids_new, gen, _touched_buckets(ids_new, "vec_id")
            )

        # the three pre-commit steps touch disjoint outputs and only
        # committed inputs — overlapping their jobs (guide §2.6) hides
        # the small lookup/keyindex walls inside the cells write
        if upsert:
            _run_concurrently(write_cells, write_keyindex, find_stale)
        else:
            _run_concurrently(write_cells, write_keyindex)
        n_replaced = replaced["n"]
        meta["generations"] = gen + 1
        meta["n_vectors"] = int(meta["n_vectors"]) + int(n_new) - n_replaced
        _write_ivf_meta(out_dir, meta)
    finally:
        emb_new.unpersist()
    return {"added": int(n_new), "replaced": int(n_replaced), "generation": gen}


def delete_from_ann_index(spark, out_dir: str, vec_ids) -> dict:
    """Tombstone vectors out of a persisted IVF index: every stored
    generation of each id stops serving. A delete is itself a
    GENERATION — a gen=G dir holding only tombstone rows, committed by
    the same ivf_meta write as an add (torn deletes are invisible and
    replay-safe). Pure metadata write — no cell file is touched;
    `compact_ann_index` reclaims the bytes. Only ids with a LIVE
    version are tombstoned (idempotent: a repeat delete finds
    nothing); a later `add` of a deleted id writes a higher gen that
    outlives the tombstone (delete-then-reinsert, reference analog:
    /root/reference/ec2/parse_arxiv_papers/__main__.py:269-283)."""
    ids_df = local_frame(
        spark, _VEC_IDS_SCHEMA, pd.DataFrame({"vec_id": [int(v) for v in vec_ids]})
    )
    meta = _read_ivf_meta(out_dir)
    gen = int(meta["generations"])
    n_del = _tombstone_prior(spark, out_dir, ids_df, gen, _listed_buckets(ids_df, "vec_id"))
    if n_del:
        meta["generations"] = gen + 1
        meta["n_vectors"] = int(meta["n_vectors"]) - int(n_del)
        _write_ivf_meta(out_dir, meta)
    return {"deleted": int(n_del)}


def compact_ann_index(spark, out_dir: str, last_n: int | None = None) -> dict:
    """Merge committed generations into one, dropping tombstoned rows —
    the vacuum analog for the vector store.

    `last_n=None` (full): every generation merges, the tombstone set
    clears. `last_n=N` (TIERED, the streaming-friendly shape): only the
    NEWEST N generations — the micro-batch tier — merge, older
    generations stay untouched, so the cost is O(recent churn) instead
    of O(corpus) per call. The suffix form needs NO layout change: the
    merged survivors land at the highest committed gen number, the
    reader visibility rule (gen < committed count) is unaffected, and
    every kept tombstone still kills exactly the old-generation rows
    it should (survivors out-rank it; an id whose live version was in
    the merged span now carries the top gen in the rewritten keyindex,
    which is still its max).

    Staged under .compact/ and swapped in by rename — keyindex first,
    then cells, then (full only) the tombstone clear, then the meta
    write. Crash honesty: the swap itself is a brief window of
    directory renames (metadata-fast); a crash inside it leaves the
    full form ERRORING (no cells root — loud) and the suffix form
    serving the untouched older generations only until the
    single-writer retries the compaction. Neither window can
    double-serve a row: the staged generation becomes visible only
    when it replaces the renamed-away span."""
    import os
    import shutil

    meta = _read_ivf_meta(out_dir)
    n_gens = int(meta["generations"])
    existing = sorted(
        int(p.rsplit("=", 1)[1]) for p in _committed_gen_dirs(out_dir, "cells", n_gens)
    )
    if last_n is None or last_n >= len(existing):
        merge_gens = existing
        full = True
    else:
        if last_n < 2:
            return {"compacted": False, "reason": "last_n < 2 merges nothing"}
        merge_gens = existing[-last_n:]
        full = False
    mask = _tombstone_mask(spark, out_dir, n_gens)
    if mask is None and len(merge_gens) <= 1:
        return {"compacted": False, "reason": "single generation, no tombstones"}
    cell_paths = [f"{out_dir}/cells/gen={g}" for g in merge_gens]
    if not cell_paths:
        return {"compacted": False, "reason": "no committed cells"}
    cells = spark.read.option("basePath", f"{out_dir}/cells").parquet(*cell_paths)
    live = cells if mask is None else _exclude_tombstoned_mask(cells, mask)
    n_live = live.count()
    target = n_gens - 1
    stage = f"{out_dir}/.compact"
    shutil.rmtree(stage, ignore_errors=True)
    (
        live.drop("gen")
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{stage}/cells/gen={target}")
    )
    _write_vec_keyindex(live, f"{stage}/keyindex/gen={target}")
    old = f"{out_dir}/.compact.old"
    shutil.rmtree(old, ignore_errors=True)
    os.makedirs(old)
    if full:
        for sub in ("keyindex", "cells"):  # keyindex first — see docstring
            os.rename(f"{out_dir}/{sub}", f"{old}/{sub}")
            os.rename(f"{stage}/{sub}", f"{out_dir}/{sub}")
        shutil.rmtree(f"{out_dir}/tombstones", ignore_errors=True)
    else:
        # suffix swap: move the merged span's dirs out, move the staged
        # gen in (keyindex first, same ordering rationale). Tombstones
        # are KEPT — they still guard the untouched older generations;
        # entries pointing only into the merged span are inert (the
        # survivors out-rank them) and a later FULL compact clears them.
        for sub in ("keyindex", "cells"):
            os.makedirs(f"{old}/{sub}", exist_ok=True)
            for g in merge_gens:
                src = f"{out_dir}/{sub}/gen={g}"
                if os.path.isdir(src):
                    os.rename(src, f"{old}/{sub}/gen={g}")
            os.rename(f"{stage}/{sub}/gen={target}", f"{out_dir}/{sub}/gen={target}")
    if full:
        meta["n_vectors"] = int(n_live)
    # suffix form: the LIVE count is unchanged (dead rows were already
    # excluded from the running n_vectors by add/delete accounting)
    _write_ivf_meta(out_dir, meta)
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(stage, ignore_errors=True)
    return {
        "compacted": True,
        "n_vectors": int(meta["n_vectors"]),
        "merged_generations": merge_gens,
        "full": full,
    }


def live_cells(spark, out_dir: str) -> DataFrame:
    """Every LIVE row of a persisted index — committed generations
    only, tombstone-excluded. The reader visibility rule in one place
    (search applies the same rule to its probed subset)."""
    meta = _read_ivf_meta(out_dir)
    n_gens = int(meta["generations"])
    paths = _committed_gen_dirs(out_dir, "cells", n_gens)
    if not paths:
        raise ValueError(f"{out_dir}: no committed cell generations")
    cells = spark.read.option("basePath", f"{out_dir}/cells").parquet(*paths)
    if meta.get("quantize") == "sq8":
        cells = _sq8_dequantize(cells)  # reader view; storage stays int8
    mask = _tombstone_mask(spark, out_dir, n_gens)
    return cells if mask is None else _exclude_tombstoned_mask(cells, mask)


def _tombstone_mask_artifact(tomb: DataFrame):
    """One EXECUTOR-side job over the aggregated tombstone rows
    (vec_id, upto_gen) → (sorted vec_id int64 array, aligned upto_gen
    int64 array), or None when empty. Each task packs its partition
    into two binary buffers; the driver receives one compact blob per
    partition — never a Row per tombstone — and merge-sorts the
    O(churn) arrays. The vector-store analog of the text engine's
    PackedDocIdSet serve prep (streaming/incremental._tombstone_artifact),
    broadcast by `_tombstone_mask`."""

    def pack(batches):
        ids, upto = [], []
        for pdf in batches:
            ids.append(pdf["vec_id"].to_numpy(np.int64))
            upto.append(pdf["upto_gen"].to_numpy(np.int64))
        if ids:
            i = np.concatenate(ids)
            u = np.concatenate(upto)
            o = np.argsort(i, kind="stable")
            yield pd.DataFrame({"ids": [i[o].tobytes()], "upto": [u[o].tobytes()]})

    rows = tomb.select("vec_id", "upto_gen").mapInPandas(
        pack, schema="ids binary, upto binary"
    ).collect()
    if not rows:
        return None
    ids = np.concatenate([np.frombuffer(bytes(r["ids"]), np.int64) for r in rows])
    upto = np.concatenate([np.frombuffer(bytes(r["upto"]), np.int64) for r in rows])
    o = np.argsort(ids, kind="stable")
    return ids[o], upto[o]


def _tombstone_mask(spark, out_dir: str, n_gens: int):
    """The committed generations' tombstones as a BROADCAST packed mask
    (`_tombstone_mask_artifact`), or None when there are none — built
    once per serve or compaction, never re-shipped per chunk."""
    tomb = _visible_tombstones(spark, out_dir, n_gens)
    mask = None if tomb is None else _tombstone_mask_artifact(tomb)
    return None if mask is None else spark.sparkContext.broadcast(mask)


def _serve_prep(spark, out_dir: str) -> tuple:
    """(index meta, tombstone mask | None): an ANN search's prep, run
    once per call and shared by every chunk of a batched one."""
    meta = _read_ivf_meta(out_dir)
    return meta, _tombstone_mask(spark, out_dir, int(meta["generations"]))


def _exclude_tombstoned_mask(cand: DataFrame, mask_bc) -> DataFrame:
    """The row-death rule, applied from the broadcast packed mask
    (decoded arrays live once per executor on the broadcast object): a
    row dies when its id has a tombstone with upto_gen ≥ the row's gen.
    Every reader of cells (search, live_cells, compaction) excludes
    tombstoned rows through here."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def live(vec_id: pd.Series, gen: pd.Series) -> pd.Series:
        ids, upto = mask_bc.value
        v = vec_id.to_numpy(np.int64)
        g = gen.to_numpy(np.int64)
        pos = np.searchsorted(ids, v)
        hit = (pos < ids.size) & (ids[np.minimum(pos, ids.size - 1)] == v)
        out = np.ones(v.size, dtype=bool)
        out[hit] = g[hit] > upto[pos[hit]]
        return pd.Series(out)

    return cand.filter(live("vec_id", "gen"))


def ann_ivf_search(
    spark, out_dir: str, queries_pdf, k: int = 10, n_probe: int = N_PROBE,
    where: str | None = None,
    rescore_col: str | None = None, rescore_weight: float = 0.05,
    pool: int | None = None,
    _prep: tuple | None = None,
) -> DataFrame:
    """Serve ANN top-k from a persisted IVF index (`build_ann_index`):
    per-query probe cells are computed driver-side against the stored
    centroids, and the scan reads ONLY the probed `cell=N` partition
    dirs — point-lookup physics for vectors. Scoring is the same
    codegen cosine + per-query window top-k as the in-memory path.
    Generations layered by add/delete are honored: candidates are
    filtered through the broadcast tombstone mask before scoring, so
    stale/deleted versions never reach the top-k.

    `where` is a SQL predicate over the index's stored metadata columns
    (filter-before-rank, P11 applied to vectors): it lands directly on
    the cell scan, so Catalyst pushes it into the parquet reader —
    non-matching row groups inside probed cells are skipped at the
    footer level. Recall caveat inherent to IVF: a highly selective
    filter shrinks the candidate pool WITHIN the probed cells, so pair
    selective filters with a larger `n_probe` (the reference's pgvector
    scan has the same property — its index degrades to post-filtering:
    /root/reference/streamlit_app.py:275-282).

    `rescore_col` turns on the reference's citation-weight mode
    (/root/reference/streamlit_app.py:317-364) over a stored metadata
    column: pool the top `max(50, 10k)` in-cell candidates by cosine,
    rescore `wscore = cos + rescore_weight·ln(col) [col>0 else +0]`,
    re-rank by (wscore DESC, cos DESC, vec_id ASC), keep k — the prior
    rides in the cells, so no join is added to the serve path. Output
    gains a `wscore` column; `ann_rescored_topk` is the exact oracle
    for the same formula.

    `_prep`: (meta, tombstone mask) from `_serve_prep`, computed ONCE
    by `ann_ivf_search_batched` and shared across its chunks — the
    serve-prep-runs-once discipline the text side's chunked serving
    established (topk_all_generations max_batch); an unchunked call
    computes its own. The mask is a BROADCAST of the packed
    (ids, upto_gen) arrays (`_tombstone_mask_artifact`) — packed once,
    shipped once, decoded once per executor; never re-localized per
    chunk."""
    meta, mask = _prep if _prep is not None else _serve_prep(spark, out_dir)
    n_gens = int(meta["generations"])
    C = np.array(meta["centroids"], dtype=np.float64)

    Q = np.array(list(queries_pdf["qvec"]), dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    sims = Qn @ C.T
    probe_rows = [
        (int(qid), int(c))
        for qid, row in zip(queries_pdf["query_id"], sims)
        for c in np.argsort(-row)[:n_probe]
    ]
    touched = sorted({c for _, c in probe_rows})
    # probed cell dirs across COMMITTED generations only: a torn
    # add/delete's gen dirs are structurally invisible (its gen number
    # is >= the committed count) — no row-level visibility filter
    paths = [
        p
        for c in touched
        for p in _committed_gen_dirs(out_dir, "cells", n_gens, leaf=f"cell={c}")
    ]
    if not paths:
        fields = [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
        if rescore_col is not None:
            fields.append(T.StructField("wscore", T.DoubleType()))
        fields.append(T.StructField("rnk", T.IntegerType()))
        return local_frame(spark, T.StructType(fields))
    # basePath keeps the gen/cell partition columns parseable from the
    # selected subdirectories
    cells = spark.read.option("basePath", f"{out_dir}/cells").parquet(*paths)
    quantized = meta.get("quantize") == "sq8"
    if where is not None:
        # filter-before-rank: lands on the scan node, Catalyst pushes
        # it into the parquet reader of the probed cells
        cells = cells.filter(where)
    if mask is not None:
        cells = _exclude_tombstoned_mask(cells, mask)
    # ship the UNIT query vectors: cosine then needs only the candidate
    # norm per row (_cosine_unitq) — the query norm is divided out here
    # once instead of per candidate row by codegen
    probes, qv = _probe_frames(spark, probe_rows, queries_pdf["query_id"], Qn)
    cand = cells.join(F.broadcast(probes.join(qv, "query_id")), "cell")
    extra = [rescore_col] if rescore_col else []
    cos_col = (
        # packed bytes never unpack row-wise: one Arrow batch = one
        # frombuffer + one vectorized dot (see _sq8_cos; it normalizes
        # the query side itself, so unit input passes through exactly)
        _sq8_cos("emb8", "q_scale", "q_offset", "qvec")
        if quantized
        else _cosine_unitq("qvec", "embedding")
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        F.round(cos_col, 4).alias("cos"),
        *extra,
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    if rescore_col is None:
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("query_id", "vec_id", "cos", "rnk")
        )
    pool = pool or max(50, 10 * k)
    pooled = (
        scored.withColumn("pool_rnk", F.row_number().over(w))
        .filter(F.col("pool_rnk") <= pool)
    )
    wscore = F.round(
        F.col("cos")
        + F.lit(rescore_weight)
        * F.when(
            F.col(rescore_col) > 0, F.log(F.col(rescore_col).cast("double"))
        ).otherwise(F.lit(0.0)),
        4,
    )
    w2 = W.partitionBy("query_id").orderBy(
        F.desc("wscore"), F.desc("cos"), F.asc("vec_id")
    )
    return (
        pooled.withColumn("wscore", wscore)
        .withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cos", "wscore", "rnk")
    )


def ann_ivf_search_batched(
    spark, out_dir: str, queries_pdf, k: int = 10, *,
    max_batch: int = 0, chunk_times: list | None = None,
    max_inflight: int = 2, **search_kwargs,
) -> DataFrame:
    """Serve a large ANN query batch in bounded chunks of `max_batch`
    queries — the vector-side analog of `query.topk_batched`: the
    candidate working set (probed cells × queries in flight) grows with
    the batch while per-core heap is fixed, so the WIDE side of a
    packed cluster degrades first (measured 0.703→0.911 on the text
    engine, BENCH/BASELINE.md r4). Chunks are independent scoring jobs;
    results are identical to one big batch (per-query scoring, no
    cross-query state).

    Serve-prep runs ONCE: the index meta and the aggregated tombstone
    set are computed up front and shared by every chunk. The tombstones
    are packed EXECUTOR-side into two compact arrays
    (`_tombstone_mask_artifact` — one blob per partition to the driver,
    never a Row per tombstone) and broadcast ONCE; each chunk's scoring
    job reads the shared broadcast instead of re-shipping a
    local-relation tombstone table (the round-5 verdict's O(churn)
    Rows-through-the-driver-per-chunk finding).

    Chunks run `max_inflight` at a time through `query.collect_chunks`,
    which also fills `chunk_times`."""
    if not max_batch or len(queries_pdf) <= max_batch:
        return ann_ivf_search(spark, out_dir, queries_pdf, k=k, **search_kwargs)
    prep = _serve_prep(spark, out_dir)
    return collect_chunks(
        spark,
        lambda chunk: ann_ivf_search(
            spark, out_dir, chunk, k=k, _prep=prep, **search_kwargs
        ),
        queries_pdf, max_batch, max_inflight, chunk_times,
    )


def ann_rescored_topk(
    emb: DataFrame, queries: DataFrame, prior: DataFrame,
    k: int = 10, weight: float = 0.05, pool: int | None = None,
) -> DataFrame:
    """Two-stage weighted vector search, exact baseline — the
    reference's citation-weight mode (/root/reference/
    streamlit_app.py:317-364): pool the top `max(50, 10k)` candidates
    by cosine, join the pool against a per-doc prior
    (`prior`: vec_id, prior — the citations analog), rescore
    `wscore = cos + weight·ln(prior) [prior>0 else +0]`, re-rank by
    (wscore DESC, cos DESC, vec_id ASC) and keep k.

    A pooled candidate with NO prior row keeps its cosine score with a
    +0 bonus (same as prior<=0) — the pool must never shrink just
    because prior coverage is incomplete, and the served variant
    (`ann_ivf_search(rescore_col=...)`) behaves the same way.

    Scale shape: the pool is Q·pool rows (tiny) and is BROADCAST into
    a single scan of the prior table — the big side never shuffles and
    is never read outside that one pruned pass; the no-prior remainder
    is recovered with a small-vs-small anti-join."""
    pool = pool or max(50, 10 * k)
    pooled = brute_force_topk(emb, queries, k=pool).drop("rnk")
    matched = prior.join(F.broadcast(pooled), "vec_id").withColumn(
        "prior", F.col("prior").cast("double")
    )
    missing = pooled.join(
        F.broadcast(matched.select("query_id", "vec_id")),
        ["query_id", "vec_id"],
        "left_anti",
    ).withColumn("prior", F.lit(None).cast("double"))
    joined = matched.select(*missing.columns).unionByName(missing)
    wscore = F.round(
        F.col("cos")
        + F.lit(weight)
        * F.when(F.col("prior") > 0, F.log(F.col("prior").cast("double"))).otherwise(
            F.lit(0.0)
        ),
        4,
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("wscore"), F.desc("cos"), F.asc("vec_id")
    )
    return (
        joined.select("query_id", "vec_id", "cos", wscore.alias("wscore"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cos", "wscore", "rnk")
    )


def q_ann_rescored_topk(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = (
        emb.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    )
    prior = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), F.col("n_chars").alias("prior")
    )
    return ann_rescored_topk(emb, queries, prior, k=10, weight=0.05).orderBy(
        "query_id", "rnk"
    )


def q_ann_filtered_topk(spark, sf_dir):
    """Filtered vector search, exact baseline: metadata predicate first
    (filter-before-rank, P11 applied to vectors), then cosine top-k —
    the reference's `WHERE filters ORDER BY embedding <#> q` shape
    (/root/reference/streamlit_app.py:275-282). Deterministic ⇒ SQL
    oracle; the IVF-served variant (`ann_ivf_search(where=...)`) applies
    the same predicate inside the probed-cell scan and is recall-locked
    by pytest against this exact result."""
    emb = t(spark, sf_dir, "embeddings")
    queries = (
        emb.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    )
    return (
        brute_force_topk(emb.filter(F.col("label") == 1), queries, k=10)
        .orderBy("query_id", "rnk")
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs among the first 50 vectors
    (exact, small block ⇒ SQL oracle)."""
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    a = emb.alias("a")
    b = emb.alias("b")
    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
    cos = F.round(
        F.aggregate(
            F.zip_with("a.embedding", "b.embedding", lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        / (
            F.sqrt(F.aggregate(F.transform("a.embedding", lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda acc, v: acc + v))
            * F.sqrt(F.aggregate(F.transform("b.embedding", lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda acc, v: acc + v))
        ),
        4,
    )
    return (
        pairs.select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= 0.2)
        .orderBy("vec_a", "vec_b")
    )


QUERIES = {
    "ann_brute_topk": q_ann_brute_topk,
    "ann_filtered_topk": q_ann_filtered_topk,
    "ann_rescored_topk": q_ann_rescored_topk,
    "ann_lsh_topk": q_ann_lsh_topk,  # probabilistic — rows-only check
    "ann_ivf_topk": q_ann_ivf_topk,  # probabilistic — rows-only check
    "embedding_near_dup": q_embedding_near_dup,
}

ORACLES = {
    "ann_brute_topk": f"""
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
                   FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
        scored AS (
            SELECT q.query_id, e.vec_id,
                   round(list_cosine_similarity(q.qvec, CAST(e.embedding AS DOUBLE[])), 4) AS cos
            FROM embeddings e CROSS JOIN q),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rnk
            FROM scored)
        SELECT query_id, vec_id, cos, rnk FROM ranked WHERE rnk <= 10
        ORDER BY query_id, rnk
    """,
    "ann_rescored_topk": f"""
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
                   FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
        scored AS (
            SELECT q.query_id, e.vec_id,
                   round(list_cosine_similarity(q.qvec, CAST(e.embedding AS DOUBLE[])), 4) AS cos
            FROM embeddings e CROSS JOIN q),
        pooled AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS pr
            FROM scored),
        resc AS (
            -- LEFT join: a pooled candidate without a prior row keeps
            -- its cosine with a +0 bonus (matches the Spark path)
            SELECT p.query_id, p.vec_id, p.cos,
                   round(p.cos + 0.05 * CASE WHEN d.n_chars > 0
                                             THEN ln(CAST(d.n_chars AS DOUBLE))
                                             ELSE 0 END, 4) AS wscore
            FROM pooled p LEFT JOIN documents d ON d.doc_id = p.vec_id
            WHERE p.pr <= 100),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY wscore DESC, cos DESC, vec_id ASC) AS rnk
            FROM resc)
        SELECT query_id, vec_id, cos, wscore, rnk FROM ranked WHERE rnk <= 10
        ORDER BY query_id, rnk
    """,
    "ann_filtered_topk": f"""
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
                   FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
        scored AS (
            SELECT q.query_id, e.vec_id,
                   round(list_cosine_similarity(q.qvec, CAST(e.embedding AS DOUBLE[])), 4) AS cos
            FROM embeddings e CROSS JOIN q
            WHERE e.label = 1),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rnk
            FROM scored)
        SELECT query_id, vec_id, cos, rnk FROM ranked WHERE rnk <= 10
        ORDER BY query_id, rnk
    """,
    "embedding_near_dup": """
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(
                   CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id < 50 AND b.vec_id < 50
          AND round(list_cosine_similarity(
                  CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) >= 0.2
        ORDER BY vec_a, vec_b
    """,
}
