"""Optimizer-behavior tests: the plans we want, not just the answers.

Locks the §4 contract: predicate pushdown to the scan, column pruning,
broadcast joins for small dims, TakeOrderedAndProject for top-k, and
the posting scan's int64 IN-filter pushdown.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from theoremsearch_spark.operators import relational as R
from theoremsearch_spark.plans.inspect import (
    has_broadcast_join,
    has_take_ordered,
    pushed_filters,
    read_schema_columns,
    shuffle_exchange_count,
)

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_to_scan(spark):
    df = R.t(spark, SF, "orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    pf = pushed_filters(df)
    assert any("o_orderstatus" in p for p in pf), pf


def test_column_pruning(spark):
    df = R.t(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    cols = read_schema_columns(df)
    assert cols == {"l_orderkey", "l_quantity"}, cols


def test_join_4way_broadcasts_small_dims(spark):
    df = R.q_join_4way(spark, SF)
    assert has_broadcast_join(df)


def test_topk_uses_take_ordered(spark):
    assert has_take_ordered(R.q_topk(spark, SF))


def test_pricing_summary_single_shuffle(spark):
    # scan → partial agg → one exchange → final agg (+ output ordering)
    df = R.q_pricing_summary(spark, SF)
    assert shuffle_exchange_count(df) <= 2


def test_posting_scan_pushes_term_ids(spark, index_dir):
    tstats = spark.read.parquet(f"{index_dir}/index/term_stats").limit(3).collect()
    ids = [r["term_id"] for r in tstats]
    blocks = spark.read.parquet(f"{index_dir}/index/postings").filter(
        F.col("term_id").isin([int(i) for i in ids])
    )
    pf = pushed_filters(blocks)
    assert any("term_id" in p for p in pf), pf


def test_extraction_reads_only_needed_columns(spark, corpus_df, tmp_path):
    # the docs-prep scan must not read the ground-truth `text` column
    p = str(tmp_path / "c")
    corpus_df.write.parquet(p)
    from theoremsearch_spark.stats import extract_docs

    src = spark.read.parquet(p)
    cols = read_schema_columns(extract_docs(src))
    assert "text" not in cols, cols
    assert "html" in cols


def test_rescore_doc_lookup_is_range_pruned(spark, index_dir):
    """The rescore/display metadata joins look up k.Q rows — the docs
    scan must carry a pushed doc_id range filter (docs are written
    doc_id-ascending, so row-group stats bound the read) instead of
    scanning the whole table."""
    from theoremsearch_spark.query import topk_rescored, topk_with_urls

    terms = [
        r["term"]
        for r in spark.read.parquet(f"{index_dir}/index/term_stats")
        .orderBy(F.desc("df"))
        .limit(4)
        .collect()
    ]
    qs = pd.DataFrame(
        {"query_id": [0, 1], "query_text": [" ".join(terms[:2]), " ".join(terms[2:])]}
    )
    for df in (
        topk_rescored(spark, f"{index_dir}/index", f"{index_dir}/docs", qs, k=5),
        topk_with_urls(spark, f"{index_dir}/index", f"{index_dir}/docs", qs, k=5),
    ):
        pf = pushed_filters(df)
        assert any("doc_id" in p and ("GreaterThan" in p or ">=" in p) for p in pf), pf
        assert any("doc_id" in p and ("LessThan" in p or "<=" in p) for p in pf), pf
        assert df.count() > 0


def test_doc_meta_lookup_reads_only_touched_files(spark, index_dir):
    """Point-lookup pruning via the _id_ranges manifest: a hit set that
    SPANS the id space (one id near each end — worst case for the old
    global [min, max] filter, whose span is the whole table) must read
    only the parquet files whose recorded id range contains a hit, not
    every file in the docs dir."""
    import glob
    import os

    from theoremsearch_spark.query import TOPK_SCHEMA, _localized_docs, open_index
    from theoremsearch_spark.stats import ID_RANGES_MANIFEST

    docs_dir = f"{index_dir}/docs"
    assert os.path.isfile(os.path.join(docs_dir, ID_RANGES_MANIFEST))
    n_files = len(glob.glob(f"{docs_dir}/*.parquet"))
    assert n_files >= 4  # the fixture writes 8 partitions

    # ids 3 and 1996: first and last file of the 2k corpus
    hits = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": [0, 0], "rank": [1, 2],
             "doc_id": [3, 1996], "score": [2.0, 1.0]}
        ),
        schema=TOPK_SCHEMA,
    )
    view = open_index(spark, f"{index_dir}/index", docs_dir)
    _, meta = _localized_docs(spark, view, hits, ["url"])
    read = set(meta.inputFiles())
    assert 0 < len(read) <= 2 < n_files, (len(read), n_files)
    got = meta.filter(F.col("doc_id").isin([3, 1996])).count()
    assert got == 2

    # no-manifest fallback: same rows, whole-dir listing
    import shutil as _sh

    bak = os.path.join(docs_dir, ID_RANGES_MANIFEST)
    _sh.move(bak, bak + ".off")
    try:
        _, meta2 = _localized_docs(spark, view, hits, ["url"])
        assert len(set(meta2.inputFiles())) == n_files
        assert meta2.filter(F.col("doc_id").isin([3, 1996])).count() == 2
    finally:
        _sh.move(bak + ".off", bak)
