"""Streaming vector ingestion into the persisted IVF ANN index.

Structured Streaming analog of `streaming/incremental.py` for the
vector half of the engine (the reference continuously upserts new
embeddings into its pgvector store — /root/reference/ec2/rds/
upsert.py:40-52): parquet vector batches landing in an input directory
are folded into one index root via foreachBatch → `add_to_ann_index`
(frozen coarse quantizer, LSM tombstones for re-embedded ids).

Exactly-once recipe:
  - ingestion is keyed on FILES, not micro-batch ids: the committed
    file set lives in `stream_files.json` (a sidecar.py record), and a
    batch is trimmed to its never-ingested files before the add. A
    micro-batch id is only unique per CHECKPOINT — keying on it would
    silently drop new files whenever a fresh checkpoint re-delivers
    the whole directory as batch 0 (old files skipped AND new files
    swallowed with them). File keying makes checkpoint loss safe:
    re-offered files are filtered row-wise, genuinely new ones ingest.
    (The manifest grows one path per file ever ingested; at 100 TB
    scale you'd roll it into per-epoch segments, same as the text
    side's manifest records.)
  - within `add_to_ann_index` the ivf_meta write is the COMMIT point;
    a torn add's gen=G dirs are invisible and wholly overwritten by
    the retry (crash-safe by construction — see its docstring).
  - the only unprotected window is between the meta commit and the
    file-manifest record: a replay there re-adds those files as one
    extra generation, which under upsert semantics tombstones the
    prior copy and serves identically (redundant, never wrong). With
    `upsert=False` that window can duplicate — streamed roots should
    keep upsert on.

The FIRST batch bootstraps the index when the root has no
`ivf_meta.json`: the coarse quantizer is trained on that batch's own
(bounded, deterministic) sample and frozen — the standard IVF recipe;
at 100 TB you seed the quantizer from the first representative slab
and every later batch is a pure matmul-assign append.

Single-writer per index root, like the text generation store.
"""

from __future__ import annotations

from theoremsearch_spark import sidecar


def _committed_files(index_dir: str) -> set[str]:
    rec = sidecar.read_json(f"{index_dir}/stream_files.json")
    return set(rec["files"]) if rec else set()


def _record_files(index_dir: str, files: set[str]) -> None:
    done = sorted(_committed_files(index_dir) | files)
    sidecar.write_json(f"{index_dir}/stream_files.json", {"files": done})


def stream_ann_ingest(
    spark,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema,
    upsert: bool = True,
    n_centroids: int | None = None,
    quantize: str | None = None,
):
    """Build the writeStream: parquet files landing in `input_dir`
    (schema required by readStream) → one `add_to_ann_index` call per
    micro-batch at `index_dir`, trimmed to never-ingested files.
    Caller starts it; `.trigger(availableNow=True)` drains pending
    files then stops (the `stream_index` job pattern).

    `schema` must match the index's stored column set (vec_id,
    embedding, + metadata) — `add_to_ann_index` validates and raises
    on drift rather than appending silent-null metadata."""
    from pyspark.sql import functions as F

    from theoremsearch_spark.functions.similarity import (
        N_CENTROIDS,
        add_to_ann_index,
        build_ann_index,
    )

    def process_batch(batch_df, batch_id: int) -> None:
        # inside foreachBatch the frame is a LogicalRDD: inputFiles()
        # is [] and `_metadata` unresolvable — the provenance column
        # projected on the STREAM side below is the only way to know
        # which landed files this batch carries
        if batch_df.isEmpty():
            return
        files = {
            r["_src_path"]
            for r in batch_df.select("_src_path").distinct().collect()
        }
        new = files - _committed_files(index_dir)
        if not new:
            return  # full redelivery of committed files — idempotent skip
        if new != files:
            # partial redelivery (e.g. fresh checkpoint with new files
            # landed): trim to the never-ingested files row-wise
            batch_df = batch_df.filter(F.col("_src_path").isin(sorted(new)))
        batch_df = batch_df.drop("_src_path")
        if sidecar.read_json(f"{index_dir}/ivf_meta.json") is None:
            # quantize applies at bootstrap only; later adds read the
            # committed meta and quantize (or not) to match
            build_ann_index(
                batch_df, index_dir, n_centroids=n_centroids or N_CENTROIDS,
                quantize=quantize,
            )
        else:
            add_to_ann_index(batch_df, index_dir, upsert=upsert)
        _record_files(index_dir, new)

    norm_path = F.regexp_replace(
        F.col("_metadata.file_path"), "^[a-zA-Z0-9+.-]+:/+", "/"
    )
    return (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        # file provenance must be captured here, on the file-source
        # relation, where `_metadata` resolves
        .select("*", norm_path.alias("_src_path"))
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
