"""Docs table construction + global corpus statistics.

Maps the reference's corpus bookkeeping into Spark:
  - dense doc_id assignment (analog of `theorem_id BIGSERIAL`,
    /root/reference/rds_schema.sql:22) — deterministic, scalable,
    two-pass (count + assign) over a range-partitioned url sort;
  - `doc_stats` (N, avgdl) — analog of `load_theorem_count`
    (/root/reference/streamlit_app.py:108-116), broadcast to the scorer;
  - `term_stats` (term, df) — document frequencies, the pgvector-index
    replacement's idf input (/root/reference/streamlit_app.py:275).

Dense ids matter at scale: delta-gaps between consecutive doc_ids in a
posting list stay small, so varbyte compresses to ~1 byte/gap; sparse
64-bit hashes would cost 5+ bytes/gap and break block-range pruning.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from theoremsearch_spark.extract import extract_all_udf

DOCS_SCHEMA_FIELDS = [
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("extracted_text", T.StringType(), True),
    T.StructField("doc_len", T.IntegerType(), True),
]
DOCS_SCHEMA = T.StructType(DOCS_SCHEMA_FIELDS)


def extract_docs(documents: DataFrame) -> DataFrame:
    """documents(url, warc_ts, html, text, lang) → extracted+tokenized
    docs (no ids yet): url, warc_ts, lang, extracted_text, doc_len,
    term_tfs.

    ONE Arrow-batched pandas UDF over the binary column — the plan
    reads only (url, warc_ts, html, lang) from the scan (column
    pruning; `text` is test-only ground truth), and no later stage
    re-enters Python.
    """
    return documents.select(
        "url",
        "warc_ts",
        "lang",
        extract_all_udf(F.col("html")).alias("ex"),
    ).select(
        "url",
        "warc_ts",
        "lang",
        F.col("ex.extracted_text").alias("extracted_text"),
        F.col("ex.doc_len").alias("doc_len"),
        F.col("ex.term_tfs").alias("term_tfs"),
    )


def assign_doc_ids(docs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Deterministic dense doc_id, total-ordered by url.

    Scalable scheme (no global single-partition window):
      1. range-repartition by url + sort within partitions — Spark's
         RangePartitioner gives globally ordered partitions;
      2. count rows per partition (cheap agg job);
      3. broadcast cumulative offsets; assign
         doc_id = offset[pid] + row_number_within_partition
         inside mapInPandas (narrow, streaming).
    Two passes over the data — the same cost Spark's own zipWithIndex
    pays — and no driver materialization. Equivalent of the reference's
    BIGSERIAL assignment but reproducible run-to-run.
    """
    n = num_partitions or docs.sparkSession.sparkContext.defaultParallelism
    ordered = (
        docs.repartitionByRange(n, "url")
        .sortWithinPartitions("url")
        .withColumn("_pid", F.spark_partition_id())
    )
    ordered.persist()
    counts = {r["_pid"]: r["cnt"] for r in ordered.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = 0
        for pdf in batches:
            # a pid missing from the count job means the two jobs planned
            # partitions differently — duplicate doc_ids; fail loudly
            base = offsets[int(pdf["_pid"].iloc[0])] if len(pdf) else 0
            out = pdf.drop(columns=["_pid"])
            out.insert(0, "doc_id", base + local + pd.RangeIndex(len(pdf)))
            local += len(pdf)
            yield out

    out_schema = T.StructType(
        [T.StructField("doc_id", T.LongType(), False)]
        + [f for f in docs.schema.fields]
    )
    out = ordered.mapInPandas(assign, schema=out_schema)
    out._ts_ordered_cache = ordered  # handle for the caller to unpersist
    return out


def prepare_docs(
    documents: DataFrame,
    out_dir: str,
    num_partitions: int | None = None,
    id_base: int = 0,
) -> DataFrame:
    """documents → docs table (dense doc_id, extracted_text, doc_len,
    term_tfs) in ONE narrow Python pass and ONE parquet write — no
    full-data shuffle anywhere.

      job 1  per-partition row counts (reads zero data columns — parquet
             footer metadata + partition planning) → cumulative offsets
      job 2  extract+tokenize+assign in a single mapInPandas:
             doc_id = offset[partition] + row_index_within_partition

    Determinism: Spark's file-partition planning is a pure function of
    (files, maxPartitionBytes conf), and row order within a parquet
    split is fixed, so doc_id assignment is reproducible run-to-run —
    the distributed analog of the reference's insertion-order BIGSERIAL
    (/root/reference/rds_schema.sql:22). Dense ids keep posting-list
    delta-gaps ~1 byte and preserve block-range pruning.

    The discarded alternative (global sort by url) costs a full-corpus
    range shuffle + an extra materialization; at 100 TB that's the
    difference between 1 and 3 passes over the data.
    """
    from theoremsearch_spark.extract import extract_text, tokenize

    spark = documents.sparkSession
    if num_partitions:
        documents = documents.coalesce(num_partitions) if (
            documents.rdd.getNumPartitions() > num_partitions
        ) else documents

    src = documents.select("url", "warc_ts", "lang", "html")

    # Partition identity in the EXTRACT job comes from TaskContext inside
    # the python worker, never from a spark_partition_id() column: for
    # non-file sources (local relations) Catalyst can evaluate that
    # projection BEFORE an implicit exchange, making the column constant
    # 0 across every downstream partition — silent duplicate doc_ids.
    # The COUNT job has two paths:
    #   file scan  — spark_partition_id() is computed in the scan stage
    #     itself (no exchange can precede it), so the footer-metadata
    #     count is sound AND reads zero data columns — the 100 TB path;
    #   anything else — a python count with the identical plan prefix
    #     (scan → python runner) as the extract job, so both jobs
    #     partition identically by construction.
    from pyspark import TaskContext

    try:
        is_file_source = bool(src.inputFiles())
    except Exception:
        is_file_source = False

    if is_file_source:
        counts = {
            int(r["pid"]): int(r["cnt"])
            for r in src.select(F.spark_partition_id().alias("pid"))
            .groupBy("pid")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
    else:

        def count_parts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            pid, n = TaskContext.get().partitionId(), 0
            for pdf in batches:
                n += len(pdf)
            yield pd.DataFrame({"pid": [pid], "cnt": [n]})

        counts = {
            int(r["pid"]): int(r["cnt"])
            for r in src.select("url").mapInPandas(
                count_parts, schema="pid int, cnt long"
            ).collect()
        }
    offsets = {}
    acc = int(id_base)  # shard base: multi-executor builds share one id space
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = T.StructType(
        [T.StructField("doc_id", T.LongType(), False)]
        + [f for f in src.schema.fields if f.name != "html"]
        + [
            T.StructField("extracted_text", T.StringType(), True),
            T.StructField("doc_len", T.IntegerType(), False),
            # "term:tf term:tf …" — ONE string per doc instead of ~160
            # Python tuples/structs. The list<struct> encoding caused a
            # measured ~16s kernel-time storm at 16 workers (allocator
            # mmap churn from ~80M transient PyObjects per 500k docs);
            # downstream parsing is a codegen'd split/explode in the JVM.
            T.StructField("term_tfs", T.StringType(), False),
        ]
    )

    from collections import Counter

    def extract_assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = 0
        base = None
        for pdf in batches:
            if pdf.empty:
                continue
            if base is None:
                # resolved lazily so an empty partition (zero-row part
                # file / empty split — absent from the count job's
                # groupBy) never faults; raise (never default to 0) if a
                # NON-empty partition is missing from the count job —
                # silent 0 = duplicate doc_ids
                base = offsets[TaskContext.get().partitionId()]
            texts, lens, tfs = [], [], []
            for raw in pdf["html"]:
                text = extract_text(raw)
                toks = tokenize(text)
                cnt = Counter(toks)
                texts.append(text)
                lens.append(len(toks))
                tfs.append(" ".join("%s:%d" % kv for kv in cnt.items()))
            out = pdf.drop(columns=["html"])
            out.insert(0, "doc_id", base + local + pd.RangeIndex(len(pdf)))
            out["extracted_text"] = texts
            out["doc_len"] = lens
            out["term_tfs"] = tfs
            local += len(pdf)
            yield out

    docs = src.mapInPandas(extract_assign, schema=out_schema)
    docs.write.mode("overwrite").parquet(f"{out_dir}/docs")
    out = spark.read.parquet(f"{out_dir}/docs")
    n_written = out.count()  # parquet-footer count — no data read
    expected = acc - int(id_base)
    if n_written != expected:
        raise RuntimeError(
            f"doc_id assignment drift: counted {expected} rows but wrote "
            f"{n_written} — partition planning changed between jobs"
        )
    # count alone cannot see duplicate ids (right total, wrong values),
    # and min/max misses compensating duplicate+gap drift in interior
    # partitions. Exact check with ZERO data read: each task writes a
    # consecutive ascending id run, so every parquet row group's
    # (min, max, rows) must satisfy rows == max-min+1 and the sorted
    # row-group intervals must tile [id_base, id_base+expected) exactly.
    # Any cross-partition duplicate overlaps two intervals; any gap
    # breaks the tiling — both caught from footer statistics alone.
    # The same footer walk yields the per-FILE id-range manifest
    # (_id_ranges.json) that serving's metadata lookups use for
    # file-level pruning — see query._pruned_doc_meta.
    if expected:
        _assert_dense_ids_from_footers(out, f"{out_dir}/docs", int(id_base), expected)
        write_id_range_manifest(f"{out_dir}/docs")
    return out


def read_doc_stats_row(path: str) -> dict | None:
    """The one-row doc_stats sidecar read DRIVER-side with pyarrow —
    serving metadata lookups cost zero Spark jobs (a collect job for 7
    scalars measured ~0.2 s of pure scheduling). The row comes from the
    first file that holds one: a Spark-written dir can carry empty
    part files (one per empty partition) ahead of it. None when no
    local file holds a row (a non-local path, or an empty dir) — the
    caller falls back to spark.read."""
    import glob as _glob

    import pyarrow.parquet as pq

    for f in sorted(_glob.glob(f"{path}/*.parquet")):
        pf = pq.ParquetFile(f)
        if pf.metadata.num_rows > 0:
            t = pf.read()
            return {c: t.column(c)[0].as_py() for c in t.column_names}
    return None


ID_RANGES_MANIFEST = "_id_ranges.json"


def write_id_range_manifest(docs_path: str) -> bool:
    """Record each parquet file's [min, max] doc_id span (footer stats
    only — zero data read) as `_id_ranges.json` inside the docs dir
    (underscore prefix: invisible to Spark's parquet listing). Because
    prepare_docs writes ids ascending per task, files cover disjoint
    contiguous ranges — the manifest turns a k·Q-hit metadata lookup
    into reads of ONLY the files containing hit ids, instead of a
    global [min, max] span scan that degenerates to the whole table
    when hits spread across the id space (they do, at large Q). The
    overwrite write that replaces the docs also deletes the manifest,
    so a stale manifest cannot survive a rewrite. Returns False (no
    manifest) when any file lacks min/max statistics.

    At 10^12 docs the manifest is millions of entries — still a
    driver-tractable sidecar (tens of MB), and the ranges are sorted so
    lookup stays a binary search; past that, store it as a parquet
    table and broadcast-join instead."""
    import glob as _glob
    import json
    import os

    import pyarrow.parquet as pq

    files = []
    for f in sorted(_glob.glob(f"{docs_path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        if not md.num_row_groups:
            continue
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "doc_id"
        )
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return False
            lo = int(st.min) if lo is None else min(lo, int(st.min))
            hi = int(st.max) if hi is None else max(hi, int(st.max))
        files.append({"file": os.path.basename(f), "lo": lo, "hi": hi})
    tmp = f"{docs_path}/.{ID_RANGES_MANIFEST}.tmp"
    with open(tmp, "w") as fh:
        json.dump({"files": files}, fh)
    os.rename(tmp, f"{docs_path}/{ID_RANGES_MANIFEST}")
    return True


def _assert_dense_ids_from_footers(df: DataFrame, path: str, id_base: int, expected: int) -> None:
    import glob as _glob

    import pyarrow.parquet as pq

    intervals: list[tuple[int, int, int]] = []
    for f in sorted(_glob.glob(f"{path}/*.parquet")):
        md = pq.ParquetFile(f).metadata
        idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "doc_id"
        ) if md.num_row_groups else 0
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(idx)
            st = col.statistics
            if st is None or not st.has_min_max:
                # stats disabled — fall back to a (weaker) range aggregate
                rng = df.agg(
                    F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
                ).collect()[0]
                if int(rng["lo"]) != id_base or int(rng["hi"]) != id_base + expected - 1:
                    raise RuntimeError("doc_id assignment drift (range check)")
                return
            intervals.append((int(st.min), int(st.max), int(md.row_group(rg).num_rows)))
    intervals.sort()
    pos = id_base
    for lo, hi, n in intervals:
        if lo != pos or hi - lo + 1 != n:
            raise RuntimeError(
                f"doc_id assignment drift: row-group ids [{lo}, {hi}] ({n} rows) "
                f"do not tile contiguously at {pos} — duplicate or gapped ids "
                "from partition-planning mismatch between count and extract jobs"
            )
        pos = hi + 1
    if pos != id_base + expected:
        raise RuntimeError(
            f"doc_id assignment drift: ids cover [{id_base}, {pos}) but "
            f"expected [{id_base}, {id_base + expected})"
        )


def doc_stats(docs: DataFrame) -> tuple[int, float]:
    """(N, avgdl) — tiny aggregate, collected and broadcast into scorers."""
    row = docs.agg(
        F.count("*").alias("n_docs"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    return int(row["n_docs"]), float(row["avgdl"] or 0.0)


def term_stats(term_rows: DataFrame) -> DataFrame:
    """(term, doc_id, tf) rows → (term, df). Map-side partial agg is
    automatic for count; one small shuffle keyed by term."""
    return term_rows.groupBy("term").agg(F.count("*").alias("df"))
