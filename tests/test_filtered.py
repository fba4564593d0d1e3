"""Filtered BM25 serving (reference R3) + segment-sharded fan tests.

Covers: filter-term posting-list intersection, explicit allowed_docs
broadcast sets, their conjunction, empty/unsatisfiable filters, the
k1/b override guard, and the scale-critical fan property that heavy
(salted) posting blocks are routed to exactly one task, never
replicated, while the per-query shuffle output is O(segments·k) rows.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.oracle import BM25Oracle
from tests.test_engine import _compare_topk
from theoremsearch_spark.build import build_index
from theoremsearch_spark.query import _build_qterms, _fan, open_index, serve_prep, topk
from theoremsearch_spark.stats import prepare_docs

K = 10
SALT = 900
NSEG = 4


@pytest.fixture(scope="session")
def filter_index(tmp_path_factory, spark, corpus_df):
    """Index over the 2k corpus WITH lang filter-term posting lists.
    lang=en covers ~90% of docs → df 1800 > 900 → the filter list
    itself is salted (heavy-filter serving path)."""
    d = str(tmp_path_factory.mktemp("fidx"))
    docs = prepare_docs(corpus_df, d, num_partitions=8)
    docs = docs.withColumn(
        "filter_terms", F.array(F.concat(F.lit("lang="), F.col("lang")))
    )
    build_index(docs, f"{d}/index", salt_threshold=SALT, n_segments=NSEG, n_buckets=8)
    return d


@pytest.fixture(scope="session")
def fdocs_pdf(spark, filter_index):
    return spark.read.parquet(f"{filter_index}/docs").toPandas()


@pytest.fixture(scope="session")
def foracle(fdocs_pdf, corpus_pdf):
    truth = fdocs_pdf[["doc_id", "url"]].merge(
        corpus_pdf[["url", "text"]], on="url", validate="one_to_one"
    )
    return BM25Oracle(truth)


def oracle_filtered_topk(oracle, query: str, allowed: np.ndarray, k: int) -> pd.DataFrame:
    s = oracle.score(query)
    mask = np.zeros(oracle.n_docs, dtype=bool)
    mask[allowed] = True
    s = np.where(mask, s, 0.0)
    nz = np.flatnonzero(s > 0)
    order = nz[np.argsort(-s[nz], kind="stable")][:k]
    return pd.DataFrame(
        {
            "rank": np.arange(1, order.size + 1, dtype=np.int32),
            "doc_id": order.astype(np.int64),
            "score": s[order],
        }
    )


QS = pd.DataFrame(
    {
        "query_id": [0, 1, 2],
        # mix: light-only terms, mid terms, and a stopword (heavy) query
        "query_text": ["w00012 w00034", "w00200 w00150 w00090", "the w00500"],
    }
)


def test_filter_terms_match_oracle(spark, filter_index, fdocs_pdf, foracle):
    """filters=["lang=en"] (a SALTED filter list) must equal the oracle
    restricted to lang=en docs — stats stay global."""
    allowed = fdocs_pdf.loc[fdocs_pdf["lang"] == "en", "doc_id"].to_numpy()
    hits = topk(spark, f"{filter_index}/index", QS, k=K, filters=["lang=en"]).toPandas()
    for qid, row in QS.set_index("query_id").iterrows():
        want = oracle_filtered_topk(foracle, row["query_text"], allowed, K)
        got = hits[hits["query_id"] == qid].sort_values("rank")
        _compare_topk(got, want, qid)


def test_filter_or_group_match_oracle(spark, filter_index, fdocs_pdf, foracle):
    """OR-group: lang IN (de, fr) — union of two light filter lists."""
    allowed = fdocs_pdf.loc[fdocs_pdf["lang"].isin(["de", "fr"]), "doc_id"].to_numpy()
    hits = topk(
        spark, f"{filter_index}/index", QS, k=K, filters=[["lang=de", "lang=fr"]]
    ).toPandas()
    for qid, row in QS.set_index("query_id").iterrows():
        want = oracle_filtered_topk(foracle, row["query_text"], allowed, K)
        got = hits[hits["query_id"] == qid].sort_values("rank")
        _compare_topk(got, want, qid)


def test_allowed_docs_match_oracle(spark, filter_index, foracle):
    """Explicit broadcast doc-set path: arbitrary predicate (doc_id % 3
    == 0) — not expressible as a filter term."""
    allowed = np.arange(0, foracle.n_docs, 3, dtype=np.int64)
    hits = topk(spark, f"{filter_index}/index", QS, k=K, allowed_docs=allowed).toPandas()
    for qid, row in QS.set_index("query_id").iterrows():
        want = oracle_filtered_topk(foracle, row["query_text"], allowed, K)
        got = hits[hits["query_id"] == qid].sort_values("rank")
        _compare_topk(got, want, qid)


def test_filters_and_allowed_docs_conjoin(spark, filter_index, fdocs_pdf, foracle):
    en = set(fdocs_pdf.loc[fdocs_pdf["lang"] == "en", "doc_id"].tolist())
    third = set(range(0, foracle.n_docs, 3))
    allowed = np.array(sorted(en & third), dtype=np.int64)
    hits = topk(
        spark, f"{filter_index}/index", QS, k=K,
        filters=["lang=en"], allowed_docs=np.arange(0, foracle.n_docs, 3),
    ).toPandas()
    for qid, row in QS.set_index("query_id").iterrows():
        want = oracle_filtered_topk(foracle, row["query_text"], allowed, K)
        got = hits[hits["query_id"] == qid].sort_values("rank")
        _compare_topk(got, want, qid)


def test_unsatisfiable_filter_returns_empty(spark, filter_index):
    hits = topk(spark, f"{filter_index}/index", QS, k=K, filters=["lang=nosuch"])
    assert hits.count() == 0


def test_foreign_k1_b_rejected(spark, filter_index):
    """Stored block-max bounds are only valid for the build k1/b —
    overrides must be rejected, not silently mis-prune (ADVICE)."""
    with pytest.raises(ValueError, match="k1"):
        topk(spark, f"{filter_index}/index", QS, k=K, k1=2.0)
    with pytest.raises(ValueError, match="(?s)b="):
        topk(spark, f"{filter_index}/index", QS, k=K, b=0.5)


# ---------------------------------------------------------------------------
# fan / shuffle-shape tests: the 100×-scale property
# ---------------------------------------------------------------------------


def _fan_counts(spark, filter_index, query_text):
    idx = f"{filter_index}/index"
    qs = pd.DataFrame({"query_id": [0], "query_text": [query_text]})
    tstats = serve_prep(spark, open_index(spark, idx), qs).tstats
    qterm = _build_qterms(qs, tstats, [], NSEG)
    blocks = spark.read.parquet(f"{idx}/postings").filter(
        F.col("term_id").isin([int(x) for x in qterm["term_id"].unique()])
    )
    fan = _fan(spark, blocks, qterm)
    got = {
        r["term"]: r["n"]
        for r in fan.groupBy("term").agg(F.count("*").alias("n")).collect()
    }
    nblocks = {
        r["term"]: r["n"]
        for r in blocks.join(
            spark.createDataFrame(qterm[["term", "term_id"]].drop_duplicates()), "term_id"
        ).groupBy("term").agg(F.count("*").alias("n")).collect()
    }
    dfs = dict(zip(tstats["term"], tstats["df"]))
    return got, nblocks, dfs


def test_heavy_blocks_never_replicated(spark, filter_index):
    """For a stopword query (q_segs = NSEG): every heavy block appears
    exactly once in the fan (routed to its own segment task); light
    blocks replicate exactly NSEG times. This is the plan property that
    kills the round-1 fan-in: no task receives a whole stopword list."""
    got, nblocks, dfs = _fan_counts(spark, filter_index, "the w03000 w05000")
    assert dfs["the"] > SALT  # sanity: the fixture really is heavy
    assert got["the"] == nblocks["the"]  # 1× — never replicated
    for light in ("w03000", "w05000"):
        assert dfs[light] <= SALT
        assert got[light] == NSEG * nblocks[light]  # bounded replication


def test_light_query_stays_single_task(spark, filter_index):
    """No heavy term → q_segs == 1: zero replication, one task."""
    got, nblocks, _ = _fan_counts(spark, filter_index, "w03000 w05000")
    assert got == nblocks


def test_merge_shuffle_is_k_rows_per_segment(spark, filter_index):
    """The per-(query, segment) stage emits ≤ k rows each — the global
    merge moves O(segments·k) rows, not O(postings). Runs the
    production scoring stage (`_score_fan`) over the test's fan."""
    from theoremsearch_spark.query import _score_fan, load_index_meta

    idx = f"{filter_index}/index"
    meta = load_index_meta(spark, idx)
    qs = pd.DataFrame({"query_id": [0], "query_text": ["the w00500"]})
    tstats = serve_prep(spark, open_index(spark, idx), qs).tstats
    qterm = _build_qterms(qs, tstats, [], NSEG)
    blocks = spark.read.parquet(f"{idx}/postings").filter(
        F.col("term_id").isin([int(x) for x in qterm["term_id"].unique()])
    )
    fan = _fan(spark, blocks, qterm)
    part = _score_fan(
        fan, n_docs=int(meta["n_docs"]), avgdl=float(meta["avgdl"]),
        k1=float(meta["k1"]), b=float(meta["b"]), k=K,
    )
    n = part.count()
    assert 0 < n <= NSEG * K


def test_filters_with_straddling_groups(
    spark, filter_index, fdocs_pdf, foracle, tiny_arrow_batches
):
    """Filtered serving under 3-row Arrow batches (scoring groups
    straddle batches): a salted filter list and an OR-group both still
    equal the oracle."""
    lang = fdocs_pdf["lang"]
    for filters, allowed in (
        (["lang=en"], lang == "en"),
        ([["lang=de", "lang=fr"]], lang.isin(["de", "fr"])),
    ):
        allowed_ids = fdocs_pdf.loc[allowed, "doc_id"].to_numpy()
        hits = topk(
            spark, f"{filter_index}/index", QS, k=K, filters=filters
        ).toPandas()
        for qid, row in QS.set_index("query_id").iterrows():
            want = oracle_filtered_topk(foracle, row["query_text"], allowed_ids, K)
            got = hits[hits["query_id"] == qid].sort_values("rank")
            _compare_topk(got, want, qid)
