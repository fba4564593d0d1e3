"""Inverted-index build: term-partitioned posting-list construction.

Pipeline (north_star):
    docs ──term_tfs UDF──▶ (term, doc_id, tf, doc_len)
        ──salt heavy terms──▶ (term, segment, …)
        ──repartition(bucket) + sortWithinPartitions(term, segment, doc_id)──▶
        ──mapInPandas block writer──▶ postings blocks (delta+varbyte,
            BLOCK_SIZE docs, per-block max-score metadata)
        ──▶ parquet partitioned by bucket  +  build_manifest rows

Scale notes:
  - the only wide shuffle moves one row per *distinct* (term, doc) pair
    (map-side tf aggregation happens inside the tokenize UDF);
  - the shuffle and the Python block writer carry `term_id =
    xxhash64(term)` instead of the term string: all-integer rows make
    the Arrow→pandas crossing zero-copy and cut shuffle bytes ~2×
    (measured: string term columns inflated concurrent task CPU ~3× via
    PyObject materialization). The string↔id dictionary lives in
    term_stats (term, term_id, df) — the only place strings survive;
  - skew: stopword posting lists are orders of magnitude longer than the
    median (Zipf). Terms with df > salt_threshold are salted into
    `n_segments` split segments keyed by doc_id % S, so no single task
    owns a whole stopword list (the reference has no analog — Postgres
    hides this; at 10^12 docs it is the build's first bottleneck);
  - resumability: work is hash-bucketed by term; completed buckets are
    recorded in the manifest and skipped on re-run via a broadcast
    anti-join — the same "what's not done yet" pattern the reference
    uses between pipeline stages
    (/root/reference/ec2/parse_arxiv_papers/__main__.py:167-175);
  - lineage/metrics per task (postings/sec, bytes compressed, wall_ms)
    mirror the reference's live parse_rate meters
    (/root/reference/ec2/parse_arxiv_papers/__main__.py:266-267).
"""

from __future__ import annotations

import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from theoremsearch_spark import codec
from theoremsearch_spark.extract import term_tfs_udf

DEFAULT_K1 = 1.2
DEFAULT_B = 0.75
DEFAULT_SALT_THRESHOLD = 50_000  # df above which a term's postings are split
DEFAULT_SEGMENTS = 8
DEFAULT_BUCKETS = 32  # checkpoint/restart granularity

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term_id", T.LongType(), False),
        T.StructField("segment", T.IntegerType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("last_doc", T.LongType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("max_tf_norm", T.FloatType(), False),
        T.StructField("doc_bytes", T.BinaryType(), False),
        T.StructField("tf_bytes", T.BinaryType(), False),
        T.StructField("dl_bytes", T.BinaryType(), False),
        # compressed size as a plain int so manifest/lineage aggregation
        # prunes to small columns instead of re-reading the byte blobs
        T.StructField("block_bytes", T.IntegerType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("task_wall_ms", T.LongType(), False),
    ]
)

# the columns serving reads: block metadata and the three byte streams
# the scorer decodes (block_bytes, bucket and task_wall_ms are build
# lineage and never cross into the Python scorer)
SERVE_POSTINGS_SCHEMA = T.StructType(
    [f for f in POSTINGS_SCHEMA if f.name not in ("block_bytes", "bucket", "task_wall_ms")]
)

# term_stats/: the term dictionary, one row per distinct term. Readers
# pass it to spark.read so no footer-inference job runs per read.
TERM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), True),
        T.StructField("df", T.LongType(), False),
        T.StructField("term_id", T.LongType(), False),
    ]
)

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("postings_written", T.LongType(), False),
        T.StructField("blocks_written", T.LongType(), False),
        T.StructField("bytes_compressed", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
        T.StructField("postings_per_sec", T.DoubleType(), False),
    ]
)


def term_rows(docs: DataFrame) -> DataFrame:
    """docs → (term, doc_id, tf, doc_len): the shuffle input.

    If the docs table carries the pre-tokenized `term_tfs` struct column
    (the prepare_docs path — one Python pass total), this is a pure
    JVM-side explode; otherwise falls back to tokenizing on the fly.

    If docs carries a `filter_terms` array<string> column (metadata
    predicates as index terms — `lang=en`, `source=src1`, …), those are
    unioned in with tf=1: a filter is just another posting list, so
    filtered serving (reference R3, /root/reference/streamlit_app.py:
    276-282) intersects it like any term, salting included when the
    filter matches half the corpus. The '=' separator can never collide
    with tokenizer output ([a-z0-9]+ only)."""
    extra = None
    if "filter_terms" in docs.columns:
        extra = docs.select(
            F.explode("filter_terms").alias("term"),
            "doc_id",
            F.lit(1).alias("tf"),
            "doc_len",
        )
        docs = docs.drop("filter_terms")
    if "term_tfs" in docs.columns:
        field = dict(zip(docs.columns, [f.dataType for f in docs.schema.fields]))
        if isinstance(field["term_tfs"], T.StringType):
            # "term:tf term:tf …" → JVM-side split/explode (codegen'd)
            pair = F.explode(F.split(F.col("term_tfs"), " ")).alias("p")
            base = docs.select("doc_id", "doc_len", pair).filter(
                F.col("p") != ""
            ).select(
                F.substring_index(F.col("p"), ":", 1).alias("term"),
                "doc_id",
                F.substring_index(F.col("p"), ":", -1).cast("int").alias("tf"),
                "doc_len",
            )
            return base.unionByName(extra) if extra is not None else base
        exploded = docs.select("doc_id", "doc_len", F.explode("term_tfs").alias("tt"))
    else:
        exploded = docs.select(
            "doc_id",
            "doc_len",
            F.explode(term_tfs_udf(F.col("extracted_text"))).alias("tt"),
        )
    base = exploded.select(
        F.col("tt.term").alias("term"),
        "doc_id",
        F.col("tt.tf").alias("tf"),
        "doc_len",
    )
    return base.unionByName(extra) if extra is not None else base


def term_id_rows(docs: DataFrame) -> DataFrame:
    """(term_id, doc_id, tf, doc_len): the all-integer shuffle input.
    term_id = xxhash64(term); the string is dropped before any wide
    exchange (see module docstring)."""
    return term_rows(docs).select(
        F.xxhash64("term").alias("term_id"), "doc_id", "tf", "doc_len"
    )


def salt_segments(
    rows: DataFrame, tstats: DataFrame, salt_threshold: int, n_segments: int
) -> DataFrame:
    """Add `segment`: 0 for normal terms; doc_id % S for heavy terms.

    The heavy-term list is tiny (stopwords) → broadcast join, no extra
    wide shuffle. Split segments are re-merged at query time (each term
    appears as up to S independent, doc-disjoint posting lists).
    """
    heavy = tstats.filter(F.col("df") > salt_threshold).select(
        "term_id", F.lit(True).alias("_heavy")
    )
    return (
        rows.join(F.broadcast(heavy), "term_id", "left")
        .withColumn(
            "segment",
            F.when(
                F.col("_heavy").isNotNull(),
                F.pmod(F.col("doc_id"), F.lit(n_segments)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("_heavy")
    )


def _block_builder(avgdl: float, k1: float, b: float, block_size: int):
    """mapInPandas factory: consumes a stream sorted by (term, segment,
    doc_id), emits compressed posting blocks.

    Fully vectorized: each Arrow batch is encoded with ONE varbyte pass
    per array (gaps/tfs/doclens) and then sliced into per-block byte
    ranges by offset — no per-block numpy calls (those dominated CPU at
    ~50µs × millions of blocks in the naive version and killed scaling).
    Carry-across-batch state holds the tail of the last (term, segment)
    run so block boundaries land exactly at block_size."""

    cols = [
        "term_id", "segment", "block_id", "first_doc", "last_doc", "n_docs",
        "max_tf_norm", "doc_bytes", "tf_bytes", "dl_bytes", "block_bytes",
        "bucket",
    ]

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t0 = time.monotonic()
        carry: pd.DataFrame | None = None

        def process(pdf: pd.DataFrame, base_block: int) -> pd.DataFrame:
            """Vectorized block emission for a frame whose every run is
            complete. base_block offsets block_ids of the FIRST run."""
            n = len(pdf)
            term = pdf["term_id"].to_numpy(np.int64)
            seg = pdf["segment"].to_numpy(np.int32)
            doc = pdf["doc_id"].to_numpy(np.int64)
            tf = pdf["tf"].to_numpy(np.int64)
            dl = pdf["doc_len"].to_numpy(np.int64)
            bucket = pdf["bucket"].to_numpy(np.int32)

            new_run = np.ones(n, dtype=bool)
            new_run[1:] = (term[1:] != term[:-1]) | (seg[1:] != seg[:-1])
            run_id = np.cumsum(new_run) - 1
            run_starts = np.flatnonzero(new_run)
            pos_in_run = np.arange(n) - run_starts[run_id]
            block_start = pos_in_run % block_size == 0
            starts = np.flatnonzero(block_start)
            ends = np.empty_like(starts)
            ends[:-1] = starts[1:]
            ends[-1] = n

            gaps = doc.copy()
            gaps[1:] -= doc[:-1]
            gaps[starts] = doc[starts]  # block-initial gap = absolute id

            doc_buf, doc_len_b = codec.varbyte_encode_with_lengths(gaps.astype(np.uint64))
            tf_buf, tf_len_b = codec.varbyte_encode_with_lengths(tf.astype(np.uint64))
            dl_buf, dl_len_b = codec.varbyte_encode_with_lengths(dl.astype(np.uint64))
            doc_off = np.concatenate(([0], np.cumsum(doc_len_b)))
            tf_off = np.concatenate(([0], np.cumsum(tf_len_b)))
            dl_off = np.concatenate(([0], np.cumsum(dl_len_b)))

            tf_norm = (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
            block_max = np.maximum.reduceat(tf_norm, starts)
            # block_id = index of block within its run (+ carry offset for run 0)
            block_run = run_id[starts]
            run_first_block = np.flatnonzero(
                np.concatenate(([True], block_run[1:] != block_run[:-1]))
            )
            block_ids = np.arange(starts.size) - run_first_block[
                np.cumsum(
                    np.concatenate(([True], block_run[1:] != block_run[:-1]))
                )
                - 1
            ]
            block_ids = block_ids + np.where(block_run == 0, base_block, 0)

            mv_doc, mv_tf, mv_dl = memoryview(doc_buf), memoryview(tf_buf), memoryview(dl_buf)
            return pd.DataFrame(
                {
                    "term_id": term[starts],
                    "segment": seg[starts],
                    "block_id": block_ids.astype(np.int32),
                    "first_doc": doc[starts],
                    "last_doc": doc[ends - 1],
                    "n_docs": (ends - starts).astype(np.int32),
                    "max_tf_norm": block_max.astype(np.float32),
                    "doc_bytes": [
                        bytes(mv_doc[doc_off[s] : doc_off[e]])
                        for s, e in zip(starts, ends)
                    ],
                    "tf_bytes": [
                        bytes(mv_tf[tf_off[s] : tf_off[e]]) for s, e in zip(starts, ends)
                    ],
                    "dl_bytes": [
                        bytes(mv_dl[dl_off[s] : dl_off[e]]) for s, e in zip(starts, ends)
                    ],
                    "block_bytes": (
                        (doc_off[ends] - doc_off[starts])
                        + (tf_off[ends] - tf_off[starts])
                        + (dl_off[ends] - dl_off[starts])
                    ).astype(np.int32),
                    "bucket": bucket[starts],
                }
            )

        def split_tail(pdf: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame, int]:
            """Split off the last run's sub-block tail (may continue in
            the next batch). Returns (complete, tail, full_blocks_in_last_run)."""
            n = len(pdf)
            term = pdf["term_id"].to_numpy(np.int64)
            seg = pdf["segment"].to_numpy(np.int32)
            mism = (term != term[-1]) | (seg != seg[-1])
            idx = np.flatnonzero(mism)
            run_start = int(idx[-1] + 1) if idx.size else 0
            run_len = n - run_start
            keep = run_len % block_size
            cut = n - keep
            return pdf.iloc[:cut], pdf.iloc[cut:], (run_len - keep) // block_size

        # (state_key, state_blocks): identity of the most recent run seen
        # and how many blocks of it were already emitted — survives batch
        # boundaries even when the boundary coincides with a block cut.
        state_key: tuple | None = None
        state_blocks = 0

        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            carry = None
            if pdf.empty:
                continue
            first_key = (int(pdf["term_id"].iloc[0]), int(pdf["segment"].iloc[0]))
            base = state_blocks if first_key == state_key else 0
            complete, tail, last_run_full_blocks = split_tail(pdf)
            last_key = (int(pdf["term_id"].iloc[-1]), int(pdf["segment"].iloc[-1]))
            state_blocks = last_run_full_blocks + (base if last_key == first_key else 0)
            state_key = last_key
            if len(tail):
                carry = tail.copy()
            if len(complete):
                out = process(complete, base)
                out["task_wall_ms"] = int((time.monotonic() - t0) * 1000)
                yield out[cols + ["task_wall_ms"]]
        if carry is not None and len(carry):
            base = state_blocks  # carry rows are by construction the state run
            out = process(carry, base)
            out["task_wall_ms"] = int((time.monotonic() - t0) * 1000)
            yield out[cols + ["task_wall_ms"]]

    return build


def _block_builder_sorting(avgdl: float, k1: float, b: float, block_size: int):
    """Builder over an UNSORTED hash-partitioned stream: materializes the
    partition (all-int columns, ~50 MB per bucket at our sizes), numpy-
    lexsorts by (term_id, segment, doc_id), then emits blocks in one
    vectorized pass via the sorted builder's `process`.

    Moving the sort from the JVM (UnsafeExternalSorter) into numpy costs
    ~0.2 s per million postings and lets the map side use the bypass
    hash shuffle writer — no Tungsten sort in the hot path at all."""
    inner = _block_builder(avgdl, k1, b, block_size)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [pdf for pdf in batches if not pdf.empty]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        order = np.lexsort(
            (
                pdf["doc_id"].to_numpy(np.int64),
                pdf["segment"].to_numpy(np.int32),
                pdf["term_id"].to_numpy(np.int64),
            )
        )
        yield from inner(iter([pdf.iloc[order]]))

    return build


def _write_doc_stats(
    path: str, n_docs: int, avgdl: float, k1: float, b: float,
    block_size: int, n_segments: int, salt_threshold: int,
) -> None:
    """doc_stats sidecar (one row) via a direct pyarrow write — schema
    identical to the historical Spark write (long/double/int32), so
    multi-generation mergeSchema reads mix old and new files freely."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)  # overwrite semantics
    table = pa.table(
        {
            "n_docs": pa.array([int(n_docs)], pa.int64()),
            "avgdl": pa.array([float(avgdl)], pa.float64()),
            "k1": pa.array([float(k1)], pa.float64()),
            "b": pa.array([float(b)], pa.float64()),
            "block_size": pa.array([int(block_size)], pa.int32()),
            "n_segments": pa.array([int(n_segments)], pa.int32()),
            "salt_threshold": pa.array([int(salt_threshold)], pa.int32()),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, f"{path}/part-00000.parquet")


# Bucket assignment rule, recorded per index: bucket MUST equal the
# shuffle's own partition id (see build_index) — resuming a partial
# build under a different rule would re-route rows across buckets and
# silently duplicate postings, so the rule is checked before any
# bucket is skipped.
BUCKET_RULE = "murmur3-termseg-v2"


def _check_bucket_rule(out_dir: str, done: set[int]) -> None:
    import json
    import os

    p = f"{out_dir}/bucket_rule.json"
    if os.path.isfile(p):
        with open(p) as fh:
            rule = json.load(fh).get("rule")
        if rule != BUCKET_RULE and done:
            raise RuntimeError(
                f"{out_dir}: partial build used bucket rule {rule!r} but "
                f"this version assigns {BUCKET_RULE!r} — resuming would "
                "re-route rows across buckets and duplicate postings; "
                "rebuild with resume=False"
            )
    elif done:
        raise RuntimeError(
            f"{out_dir}: partial build predates the bucket-rule record — "
            "the bucket mapping changed; rebuild with resume=False"
        )
    os.makedirs(out_dir, exist_ok=True)
    tmp = f"{p}.tmp"
    with open(tmp, "w") as fh:
        json.dump({"rule": BUCKET_RULE}, fh)
    os.rename(tmp, p)


def completed_buckets(spark: SparkSession, manifest_dir: str) -> set[int]:
    try:
        rows = spark.read.parquet(manifest_dir).filter(F.col("status") == "done").select("bucket").collect()
        return {r["bucket"] for r in rows}
    except Exception:
        return set()


def build_index(
    docs: DataFrame,
    out_dir: str,
    *,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    salt_threshold: int = DEFAULT_SALT_THRESHOLD,
    n_segments: int = DEFAULT_SEGMENTS,
    n_buckets: int = DEFAULT_BUCKETS,
    block_size: int = codec.BLOCK_SIZE,
    resume: bool = True,
    fail_after_buckets: int | None = None,
    sort_in_python: bool = False,
) -> dict:
    """Build (or resume) the inverted index under ``out_dir``.

    Layout:  out_dir/postings/bucket=<n>/…parquet
             out_dir/term_stats/…parquet
             out_dir/doc_stats/…parquet
             out_dir/manifest/…parquet   (append-only, one row per bucket)

    ``fail_after_buckets`` deliberately stops after N buckets — the
    resume test's kill switch.
    """
    from theoremsearch_spark import stats as stats_mod

    spark = docs.sparkSession

    done = completed_buckets(spark, f"{out_dir}/manifest") if resume else set()
    first_run = not done

    # term rows derive from the docs table's pre-tokenized struct column —
    # a JVM-side explode over parquet, never a Python re-run (see
    # stats.prepare_docs; at most one tokenize fallback for legacy input)
    rows = term_id_rows(docs)

    collision_check = None  # deferred future — overlapped with postings
    if first_run:
        import concurrent.futures as _cf

        # term_stats doubles as the term dictionary: (term, term_id, df).
        # The only shuffle carrying strings — map-side combined, so it
        # moves one row per distinct term per input partition.
        tstats = (
            term_rows(docs)
            .groupBy("term")
            .agg(F.count("*").alias("df"))
            .withColumn("term_id", F.xxhash64("term"))
        )
        # doc_stats is a tiny independent aggregate: submit it from a
        # second thread so its job fills scheduler slots WHILE the
        # term_stats shuffle runs, instead of adding a serial barrier
        # (the Amdahl tax of one-job-at-a-time is what caps measured
        # N→4N scaling efficiency on small per-node inputs)
        _pool = _cf.ThreadPoolExecutor(max_workers=2)
        _doc_stats_fut = _pool.submit(stats_mod.doc_stats, docs)
        try:
            tstats.write.mode("overwrite").parquet(f"{out_dir}/term_stats")
        except BaseException:
            try:
                _doc_stats_fut.result(timeout=300)  # drain — never orphan the job
            except Exception:
                pass
            raise
        n_docs, avgdl = _doc_stats_fut.result()
        # ONE metadata row — written driver-side with pyarrow instead of
        # a Spark job (a createDataFrame+write job costs ~0.4 s of pure
        # scheduling for 7 scalar values); readers still spark.read it
        _write_doc_stats(
            f"{out_dir}/doc_stats", n_docs, avgdl, k1, b,
            block_size, n_segments, salt_threshold,
        )

        def _collision_count() -> int:
            # 64-bit term_id collision would silently merge two posting
            # lists (birthday risk is material at 10^9+ distinct terms) —
            # fail loudly. Runs concurrently with the postings job; the
            # result is joined BEFORE the manifest commit, so a collision
            # still aborts the build with no bucket marked done.
            return (
                spark.read.schema(TERM_STATS_SCHEMA)
                .parquet(f"{out_dir}/term_stats")
                .groupBy("term_id")
                .agg(F.count_distinct("term").alias("n"))
                .filter(F.col("n") > 1)
                .limit(1)
                .count()
            )

        collision_check = _pool.submit(_collision_count)
        _pool.shutdown(wait=False)
    else:
        meta = stats_mod.read_doc_stats_row(f"{out_dir}/doc_stats")
        if meta is None:
            meta = spark.read.parquet(f"{out_dir}/doc_stats").collect()[0]
        avgdl = float(meta["avgdl"])

    tstats = spark.read.schema(TERM_STATS_SCHEMA).parquet(f"{out_dir}/term_stats")

    _check_bucket_rule(out_dir, done)
    salted = salt_segments(rows, tstats.select("term_id", "df"), salt_threshold, n_segments)
    # bucket = pmod(murmur3(term_id, segment), n_buckets) — EXACTLY the
    # partition id Spark's HashPartitioning assigns for a repartition on
    # (term_id, segment). Shuffling on the high-cardinality pair gives a
    # perfectly even n_buckets-way split with partition == bucket 1:1;
    # the previous bucket-keyed shuffle hashed 32 distinct bucket values
    # into 32 partitions — balls-into-bins left ~1/e of reducers empty
    # and the fullest with 3 buckets (guide §2.5: synthetic partitioning
    # keys with too few distinct values), a 3x straggler on the build's
    # widest stage.
    salted = salted.withColumn(
        "bucket", F.pmod(F.hash("term_id", "segment"), F.lit(n_buckets)).cast("int")
    )

    pending = sorted(set(range(n_buckets)) - done)
    if fail_after_buckets is not None:
        pending = pending[:fail_after_buckets]
    if not pending:
        return {"buckets_built": 0, "resumed": True}

    todo = salted.filter(F.col("bucket").isin([int(x) for x in pending]))
    # repartition on (term_id, segment): with len(pending) == n_buckets
    # every partition holds exactly its own bucket (see bucket rule
    # above); on a resume over a bucket subset, partitions may span
    # buckets — the dynamic partitionBy writer still splits correctly,
    # at the cost of a few extra files in the resumed buckets.
    if sort_in_python:
        # hash exchange only (bypass-merge shuffle writer); the builder
        # numpy-lexsorts each bucket partition — see _block_builder_sorting
        shuffled = todo.repartition(len(pending), "term_id", "segment")
        builder = _block_builder_sorting(avgdl, k1, b, block_size)
    else:
        shuffled = todo.repartition(
            len(pending), "term_id", "segment"
        ).sortWithinPartitions("term_id", "segment", "doc_id")
        builder = _block_builder(avgdl, k1, b, block_size)
    blocks = shuffled.mapInPandas(builder, schema=POSTINGS_SCHEMA)
    try:
        # dynamic partition overwrite = crash-atomic bucket commit: a driver
        # crash between the postings write and the manifest append leaves
        # orphan bucket partitions, and the resumed run REPLACES exactly
        # those partitions instead of appending duplicate blocks (which
        # would double-count BM25 contributions at query time)
        blocks.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("bucket").parquet(f"{out_dir}/postings")
    except BaseException:
        # don't leave the overlapped collision job orphaned on non-daemon
        # pool threads: the caller's spark.stop() would race it, and
        # interpreter shutdown blocks in concurrent.futures' atexit join
        if collision_check is not None:
            collision_check.cancel()
            try:
                collision_check.result(timeout=300)
            except Exception:
                pass
        raise

    # join the overlapped collision check BEFORE committing the manifest:
    # a collision aborts with every bucket still unmarked (re-runnable)
    if collision_check is not None and collision_check.result():
        raise RuntimeError(
            "xxhash64 term_id collision detected in term_stats — "
            "two distinct terms share an id; widen the id or rehash"
        )

    # manifest: per-bucket lineage + metrics from the blocks just written
    written = spark.read.parquet(f"{out_dir}/postings").filter(
        F.col("bucket").isin([int(x) for x in pending])
    )
    manifest = (
        written.groupBy("bucket")
        .agg(
            F.sum("n_docs").alias("postings_written"),
            F.count("*").alias("blocks_written"),
            F.sum("block_bytes").alias("bytes_compressed"),
            F.max("task_wall_ms").alias("wall_ms"),
        )
        .withColumn("status", F.lit("done"))
        .withColumn(
            "postings_per_sec",
            F.col("postings_written") / (F.greatest(F.col("wall_ms"), F.lit(1)) / 1000.0),
        )
        .select([f.name for f in MANIFEST_SCHEMA.fields])
    )
    manifest.write.mode("append").parquet(f"{out_dir}/manifest")
    return {"buckets_built": len(pending), "resumed": bool(done)}
