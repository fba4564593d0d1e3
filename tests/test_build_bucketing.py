"""Postings bucket assignment: bucket == the shuffle's own partition id
(one reducer per bucket, no balls-into-bins stragglers), and the
format-version resume guard that protects the mapping."""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from theoremsearch_spark.build import INDEX_META, build_index
from theoremsearch_spark.sidecar import FORMAT_VERSION


def test_bucket_equals_shuffle_partition(spark):
    """pmod(murmur3(term_id, segment), n) must be EXACTLY the partition
    HashPartitioning assigns for repartition(n, term_id, segment) —
    the invariant that makes the postings write one-task-per-bucket."""
    n = 16
    df = spark.range(20000).select(
        (F.col("id") * 2_654_435_761).alias("term_id"),
        (F.col("id") % 8).cast("int").alias("segment"),
    )
    r = (
        df.repartition(n, "term_id", "segment")
        .withColumn("pid", F.spark_partition_id())
        .withColumn("bucket", F.pmod(F.hash("term_id", "segment"), F.lit(n)))
    )
    assert r.filter("pid != bucket").count() == 0
    # and the split is even: no reducer holds more than ~2x the mean
    sizes = [row["c"] for row in r.groupBy("pid").agg(F.count("*").alias("c")).collect()]
    assert len(sizes) == n
    assert max(sizes) < 2 * (sum(sizes) / len(sizes))


def test_resume_refuses_other_format_version(spark, tmp_path):
    """Resuming over completed buckets is sound only under the format
    version that wrote them — the bucket rule is part of it, and
    re-routed rows would duplicate postings. An `index_meta.json`
    without the stamp, with another one, or missing is refused before
    any bucket is skipped; the intact record resumes."""
    import os
    import re

    words = ["alpha", "beta", "gamma", "delta", "eps"]
    text = [" ".join(words[i % 5:] + words[: i % 3]) for i in range(60)]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(60), "extracted_text": text,
                      "doc_len": [len(t.split()) for t in text]})
    )
    out = str(tmp_path / "idx")
    build_index(docs, out, n_buckets=4, resume=False, fail_after_buckets=2)
    path = f"{out}/{INDEX_META}"
    with open(path) as fh:
        rec = json.load(fh)
    unstamped = {k: v for k, v in rec.items() if k != "format_version"}
    for bad, found in ((unstamped, None), ({**rec, "format_version": FORMAT_VERSION + 1},
                                           FORMAT_VERSION + 1)):
        with open(path, "w") as fh:
            json.dump(bad, fh)
        want = f"{path}: on-disk format version {found}, expected {FORMAT_VERSION}; rebuild"
        with pytest.raises(ValueError, match=re.escape(want)):
            build_index(docs, out, n_buckets=4)
    os.remove(path)
    with pytest.raises(ValueError, match=re.escape(f"{path}: on-disk format version None")):
        build_index(docs, out, n_buckets=4)
    with open(path, "w") as fh:
        json.dump(rec, fh)
    assert build_index(docs, out, n_buckets=4) == {"buckets_built": 2, "resumed": True}
