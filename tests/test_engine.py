"""End-to-end engine tests: stats, posting structure, rank-identity,
pruning soundness, salted-segment merge, resumable build."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from theoremsearch_spark import codec
from theoremsearch_spark.corpus import generate_queries, query_set
from theoremsearch_spark.extract import tokenize
from theoremsearch_spark.query import _score_group, topk, topk_with_urls


# docs_pdf / oracle fixtures live in conftest.py (shared with
# test_query_modes.py).


def test_doc_ids_dense_and_deterministic(docs_pdf, spark, corpus_df, tmp_path):
    from theoremsearch_spark.stats import prepare_docs

    d = docs_pdf.sort_values("doc_id").reset_index(drop=True)
    assert (d["doc_id"].to_numpy() == np.arange(len(d))).all()
    # re-running assignment on the same input reproduces the same ids
    again = (
        prepare_docs(corpus_df, str(tmp_path / "docs2"))
        .select("doc_id", "url")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(d[["doc_id", "url"]], again)


def test_doc_stats_match_bruteforce(spark, index_dir, oracle):
    from theoremsearch_spark.build import load_index_meta

    row = load_index_meta(f"{index_dir}/index")
    assert row["n_docs"] == oracle.n_docs
    assert row["avgdl"] == pytest.approx(oracle.avgdl, rel=1e-12)


def test_term_stats_match_bruteforce(spark, index_dir, oracle):
    ts = spark.read.parquet(f"{index_dir}/index/term_stats").toPandas()
    got = dict(zip(ts["term"], ts["df"]))
    want = {t: ids.size for t, (ids, _) in oracle.postings.items()}
    assert got == want


def test_postings_roundtrip_and_blockmax(spark, index_dir, oracle):
    """decode(encode(postings)) == oracle postings per term; block
    max_tf_norm ≥ every member's tf_norm; salted segments re-merge."""
    blocks = spark.read.parquet(f"{index_dir}/index/postings").toPandas()
    tdict = spark.read.parquet(f"{index_dir}/index/term_stats").toPandas()
    term_to_id = dict(zip(tdict["term"], tdict["term_id"]))
    from theoremsearch_spark.build import load_index_meta

    meta = load_index_meta(f"{index_dir}/index")
    k1, b, avgdl = meta["k1"], meta["b"], meta["avgdl"]
    n_segments_seen = blocks["segment"].max() + 1
    assert n_segments_seen > 1, "salting never triggered — skew path untested"
    for term in ["the", "and", "w00001", "w00050", "w05000"]:
        g = blocks[blocks["term_id"] == term_to_id.get(term, -1)]
        if term not in oracle.postings:
            assert g.empty
            continue
        ids, tfs, dls = [], [], []
        for _, r in g.sort_values(["segment", "block_id"]).iterrows():
            d, t = codec.decode_block(r["doc_bytes"], r["tf_bytes"])
            dl = codec.varbyte_decode(r["dl_bytes"])
            assert r["n_docs"] == d.size == t.size == dl.size
            assert r["first_doc"] == d[0] and r["last_doc"] == d[-1]
            tf_norm = (t * (k1 + 1.0)) / (t + k1 * (1.0 - b + b * dl / avgdl))
            assert r["max_tf_norm"] >= tf_norm.max() - 1e-6
            ids.append(d)
            tfs.append(t)
            dls.append(dl)
        got_ids = np.concatenate(ids).astype(np.int64)
        got_tfs = np.concatenate(tfs).astype(np.int64)
        order = np.argsort(got_ids)
        want_ids, want_tfs = oracle.postings[term]
        assert np.array_equal(got_ids[order], want_ids), term
        assert np.array_equal(got_tfs[order], want_tfs), term
        # dl consistency vs oracle doc_len
        got_dls = np.concatenate(dls).astype(np.int64)[order]
        assert np.array_equal(got_dls, oracle.doc_len[want_ids]), term


def test_stopwords_are_salted(spark, index_dir):
    blocks = spark.read.parquet(f"{index_dir}/index/postings")
    tid = (
        spark.read.parquet(f"{index_dir}/index/term_stats")
        .filter(F.col("term") == "the")
        .collect()[0]["term_id"]
    )
    segs = (
        blocks.filter(F.col("term_id") == tid)
        .select("segment")
        .distinct()
        .toPandas()["segment"]
        .tolist()
    )
    assert len(segs) == 4  # n_segments=4 in the fixture build


K = 10


def _compare_topk(got: pd.DataFrame, want: pd.DataFrame, qid):
    """Rank-identical comparison with near-tie tolerance: doc sequences
    must match exactly except where scores are within 1e-9 rel."""
    assert len(got) == len(want), f"q{qid}: {len(got)} vs {len(want)} rows"
    g_ids = got["doc_id"].to_numpy()
    w_ids = want["doc_id"].to_numpy()
    g_sc = got["score"].to_numpy()
    w_sc = want["score"].to_numpy()
    np.testing.assert_allclose(g_sc, w_sc, rtol=1e-9, err_msg=f"q{qid} scores")
    if not np.array_equal(g_ids, w_ids):
        # allow permutation only within float-tie groups
        mism = np.flatnonzero(g_ids != w_ids)
        for i in mism:
            assert abs(g_sc[i] - w_sc[i]) <= 1e-9 * abs(w_sc[i]), (
                f"q{qid} rank {i + 1}: doc {g_ids[i]} vs {w_ids[i]}"
            )
        assert sorted(g_ids[mism]) == sorted(w_ids[mism]), f"q{qid} tie-group mismatch"


def test_rank_identity_vs_oracle(spark, index_dir, oracle, docs_pdf):
    """The headline invariant: Spark top-k == single-node oracle top-k,
    docIDs and BM25 scores, for all 73 reference-analog queries."""
    qs = query_set(2000)
    hits = topk(spark, f"{index_dir}/index", qs[["query_id", "query_text"]], k=K).toPandas()
    for qid, row in qs.set_index("query_id").iterrows():
        want = oracle.topk(row["query_text"], k=K)
        got = hits[hits["query_id"] == qid].sort_values("rank")
        _compare_topk(got, want, qid)


def test_planted_docs_rank_first(spark, index_dir, docs_pdf, oracle):
    """Eval-harness analog (P@1 on exact qrels): the planted doc should
    be rank 1 for nearly every query."""
    qs = query_set(2000)
    hits = topk_with_urls(
        spark, f"{index_dir}/index", f"{index_dir}/docs", qs[["query_id", "query_text"]], k=5
    ).toPandas()
    top1 = hits[hits["rank"] == 1].set_index("query_id")["url"]
    p_at_1 = (top1 == qs.set_index("query_id")["expected_url"]).mean()
    assert p_at_1 >= 0.9, f"P@1 = {p_at_1}"


def test_pruning_soundness_exhaustive_equals_pruned(spark, index_dir, oracle):
    """WAND/MaxScore pruning must not change results: compare the scorer
    against a no-pruning run (k = corpus size ⇒ pruning disabled)."""
    qs = query_set(2000).head(10)
    idx = f"{index_dir}/index"
    pruned = topk(spark, idx, qs[["query_id", "query_text"]], k=K).toPandas()
    for qid, row in qs.set_index("query_id").iterrows():
        want = oracle.topk(row["query_text"], k=K)
        got = pruned[pruned["query_id"] == qid].sort_values("rank")
        _compare_topk(got, want, qid)


def test_score_group_empty():
    out = _score_group(
        pd.DataFrame(), n_docs=10, avgdl=5.0, k1=1.2, b=0.75, k=5
    )
    assert out.empty


def test_resume_recomputes_nothing(spark, corpus_df, tmp_path):
    """Kill after 3 of 8 buckets → re-run → final index identical to an
    uninterrupted build; completed buckets not rebuilt (manifest rows
    unchanged)."""
    from theoremsearch_spark.build import build_index, completed_buckets
    from theoremsearch_spark.stats import prepare_docs

    docs = prepare_docs(corpus_df, str(tmp_path / "prep"))
    d1 = str(tmp_path / "full")
    d2 = str(tmp_path / "resumed")
    build_index(docs, d1, salt_threshold=900, n_segments=4, n_buckets=8)
    r1 = build_index(docs, d2, salt_threshold=900, n_segments=4, n_buckets=8, fail_after_buckets=3)
    assert r1["buckets_built"] == 3
    assert completed_buckets(spark, f"{d2}/manifest") == {0, 1, 2}
    m_before = (
        spark.read.parquet(f"{d2}/manifest").filter(F.col("bucket") < 3).toPandas()
    )
    r2 = build_index(docs, d2, salt_threshold=900, n_segments=4, n_buckets=8)
    assert r2["resumed"] and r2["buckets_built"] == 5
    m_after = (
        spark.read.parquet(f"{d2}/manifest").filter(F.col("bucket") < 3).toPandas()
    )
    pd.testing.assert_frame_equal(
        m_before.sort_values("bucket").reset_index(drop=True),
        m_after.sort_values("bucket").reset_index(drop=True),
    )

    def canon(path):
        pdf = spark.read.parquet(path).toPandas()
        pdf = pdf.sort_values(["term_id", "segment", "block_id"]).reset_index(drop=True)
        return pdf[["term_id", "segment", "block_id", "first_doc", "last_doc", "n_docs",
                    "doc_bytes", "tf_bytes", "dl_bytes"]]

    pd.testing.assert_frame_equal(canon(f"{d1}/postings"), canon(f"{d2}/postings"))


def test_crash_between_postings_and_manifest_is_atomic(spark, corpus_df, tmp_path):
    """A crash AFTER the postings write but BEFORE the manifest append
    leaves orphan bucket partitions; the resumed run must REPLACE them
    (dynamic partition overwrite), never append duplicate blocks that
    would double-count BM25 contributions."""
    import shutil

    from theoremsearch_spark.build import build_index
    from theoremsearch_spark.stats import prepare_docs

    docs = prepare_docs(corpus_df, str(tmp_path / "prep"))
    d1 = str(tmp_path / "full")
    d2 = str(tmp_path / "crashed")
    build_index(docs, d1, salt_threshold=900, n_segments=4, n_buckets=8)
    build_index(docs, d2, salt_threshold=900, n_segments=4, n_buckets=8,
                fail_after_buckets=3)
    # simulate the crash window: postings for buckets 0-2 are committed,
    # the manifest append never happened
    shutil.rmtree(f"{d2}/manifest")
    build_index(docs, d2, salt_threshold=900, n_segments=4, n_buckets=8)

    def canon(path):
        pdf = spark.read.parquet(path).toPandas()
        return (
            pdf.sort_values(["term_id", "segment", "block_id"]).reset_index(drop=True)
            [["term_id", "segment", "block_id", "first_doc", "last_doc", "n_docs",
              "doc_bytes", "tf_bytes", "dl_bytes"]]
        )

    pd.testing.assert_frame_equal(canon(f"{d1}/postings"), canon(f"{d2}/postings"))


def test_prepare_docs_local_relation_and_empty_partition(spark, tmp_path):
    """Two pid-contract edge cases:
    (a) non-file (local-relation) input — spark_partition_id columns can
        be evaluated before an implicit exchange there, which once
        produced silent duplicate doc_ids; the TaskContext path must
        assign dense ids;
    (b) a file source containing a zero-row part file — absent from the
        count job's groupBy, must not fault the extract task."""
    from theoremsearch_spark.corpus import generate_documents
    from theoremsearch_spark.stats import prepare_docs

    full = generate_documents(spark, 300, partitions=4).toPandas()

    # (a) local relation
    docs = prepare_docs(spark.createDataFrame(full), str(tmp_path / "lr"))
    ids = docs.select("doc_id").toPandas()["doc_id"].sort_values().to_numpy()
    assert (ids == np.arange(300)).all()

    # (b) file source with one empty part file
    src_dir = tmp_path / "src"
    spark.createDataFrame(full).repartition(3).write.parquet(str(src_dir))
    spark.createDataFrame([], spark.read.parquet(str(src_dir)).schema).repartition(
        1
    ).write.mode("append").parquet(str(src_dir))
    docs2 = prepare_docs(spark.read.parquet(str(src_dir)), str(tmp_path / "fs"))
    ids2 = docs2.select("doc_id").toPandas()["doc_id"].sort_values().to_numpy()
    assert (ids2 == np.arange(300)).all()


def test_topk_batched_identical_to_single_batch(spark, index_dir, corpus_pdf):
    """Chunked serving (bounded co-resident working set — the wide-side
    heap finding, BENCH r4) must be bitwise identical to one big batch:
    scoring is per-query and global stats are batch-independent."""
    from theoremsearch_spark.corpus import query_set
    from theoremsearch_spark.query import topk, topk_batched

    qs = query_set(len(corpus_pdf))[["query_id", "query_text"]].head(20)
    whole = topk(spark, f"{index_dir}/index", qs, k=10).toPandas()
    chunked = topk_batched(
        spark, f"{index_dir}/index", qs, k=10, max_batch=7
    ).toPandas()
    key = ["query_id", "rank"]
    pd.testing.assert_frame_equal(
        whole.sort_values(key).reset_index(drop=True),
        chunked.sort_values(key).reset_index(drop=True),
    )


def test_rrf_fuse_semantics(spark):
    """RRF fusion properties on planted rankings: a doc present in BOTH
    lists at rank 2 (1/62+1/62) outranks each list's own rank-1 doc
    (1/61); single-list docs contribute exactly 1/(60+rank); equal-rrf
    ties break doc_id ASC; k truncates."""
    from theoremsearch_spark.operators.engine_queries import RRF_K, rrf_fuse

    text = spark.createDataFrame(
        [(0, 100, 1), (0, 7, 2), (0, 300, 3)],
        "query_id long, doc_id long, trank int",
    )
    vec = spark.createDataFrame(
        [(0, 200, 1), (0, 7, 2), (0, 400, 3)],
        "query_id long, doc_id long, vrank int",
    )
    got = rrf_fuse(text, vec, k=4).toPandas().sort_values("rnk")
    assert list(got.doc_id) == [7, 100, 200, 300]
    assert abs(got.iloc[0].rrf - 2 / (RRF_K + 2)) < 1e-6
    # 100 (text rank 1) and 200 (vec rank 1) have the SAME rrf → the
    # doc_id tiebreak must order 100 before 200
    assert abs(got.iloc[1].rrf - got.iloc[2].rrf) < 1e-12
    assert abs(got.iloc[1].rrf - 1 / (RRF_K + 1)) < 1e-6
    # k=4 truncated doc 400 (rank 5 by doc_id tiebreak against 300)
    assert 400 not in set(got.doc_id)
