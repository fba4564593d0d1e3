"""The k=0 conjunctive candidate pool must stay DISTRIBUTED: phrase and
facet serving never localize it through the driver (for common-token
phrases the AND set is a corpus fraction — round-5 verdict's top scale
finding). These tests run phrase serving on an all-common-token phrase
(every fixture doc contains the stopword-heavy tokens) with
DataFrame.toPandas forbidden, and lock the unranked pool and the
coarse-bucket file pruning against their ranked/id-list equivalents."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from theoremsearch_spark.build import TERM_STATS_SCHEMA
from theoremsearch_spark.query import phrase_topk, topk

K = 10


def _common_phrase(oracle) -> str:
    """A 2-token phrase of the two highest-df terms — its AND candidate
    set is a large corpus fraction (the shape that used to OOM the
    driver at scale)."""
    by_df = sorted(oracle.postings.items(), key=lambda kv: -kv[1][0].size)
    t1, t2 = by_df[0][0], by_df[1][0]
    assert oracle.postings[t1][0].size > 900
    return f"{t1} {t2}"


@pytest.fixture()
def forbid_topandas(spark, monkeypatch):
    """Any toPandas during the serving call is a driver localization —
    fail loudly with the offending plan's column set. The fence patches
    the DataFrame class the session actually serves (Spark 4's classic
    DataFrame defines its own toPandas, so patching the
    `pyspark.sql.DataFrame` base would never fire). The term-dictionary
    rows of serve prep (a few rows per query term) are the one collect
    serving needs; they go through."""
    cls = type(spark.range(1))
    orig = cls.toPandas
    term_dict = TERM_STATS_SCHEMA.fieldNames()

    def fence(self, *a, **kw):
        if self.columns == term_dict:
            return orig(self, *a, **kw)
        raise AssertionError(
            f"driver localization (toPandas) of a DataFrame with columns "
            f"{self.columns} during pool serving"
        )

    monkeypatch.setattr(cls, "toPandas", fence)


def test_fence_fails_on_pool_topandas(spark, index_dir, oracle, forbid_topandas):
    """The fence is live: localizing the candidate pool trips it."""
    qs = pd.DataFrame([(0, _common_phrase(oracle))], columns=["query_id", "query_text"])
    pool = topk(spark, f"{index_dir}/index", qs, k=0, mode="and", rank=False)
    with pytest.raises(AssertionError, match="driver localization"):
        pool.toPandas()


def test_phrase_doc_text_path_never_localizes(
    spark, index_dir, oracle, forbid_topandas
):
    qs = pd.DataFrame([(0, _common_phrase(oracle))], columns=["query_id", "query_text"])
    n = phrase_topk(spark, f"{index_dir}/index", f"{index_dir}/docs", qs, k=K).count()
    assert n >= 0  # served without any driver materialization


def test_phrase_positional_path_never_localizes(
    spark, index_dir, oracle, forbid_topandas
):
    from theoremsearch_spark.positions import build_positions

    build_positions(spark.read.parquet(f"{index_dir}/docs"), f"{index_dir}/index")
    qs = pd.DataFrame([(0, _common_phrase(oracle))], columns=["query_id", "query_text"])
    n = phrase_topk(
        spark, f"{index_dir}/index", f"{index_dir}/docs", qs, k=K,
        positions_dir=f"{index_dir}/index/positions",
    ).count()
    assert n >= 0


def test_unranked_pool_equals_ranked_candidate_set(spark, index_dir, oracle):
    """rank=False returns exactly the ranked k=0 pool's rows (same
    (query_id, doc_id, score) set) — the window is the only thing
    skipped."""
    from tests.test_query_modes import _stopword

    q = _common_phrase(oracle)
    qs = pd.DataFrame(
        [(0, q), (1, _stopword(oracle))], columns=["query_id", "query_text"]
    )
    pool = (
        topk(spark, f"{index_dir}/index", qs, k=0, mode="and", rank=False)
        .toPandas()
        .sort_values(["query_id", "doc_id"])
        .reset_index(drop=True)
    )
    ranked = (
        topk(spark, f"{index_dir}/index", qs, k=0, mode="and")
        .toPandas()[["query_id", "doc_id", "score"]]
        .sort_values(["query_id", "doc_id"])
        .reset_index(drop=True)
    )
    assert len(pool) > 500, "common-token pool should be a corpus fraction"
    pd.testing.assert_frame_equal(pool, ranked, check_dtype=False)


def test_pool_file_pruning_covers_all_candidates(spark, index_dir, oracle):
    """pool_doc_rows's coarse-bucket file selection is a
    SUPERSET of the candidate ids (no false negatives), and the join
    against it returns one metadata row per candidate."""
    from theoremsearch_spark.query import open_index, pool_doc_rows

    qs = pd.DataFrame([(0, _common_phrase(oracle))], columns=["query_id", "query_text"])
    cand = topk(
        spark, f"{index_dir}/index", qs, k=0, mode="and", rank=False
    ).localCheckpoint()
    n_cand = cand.count()
    assert n_cand > 500
    view = open_index(spark, f"{index_dir}/index", f"{index_dir}/docs")
    meta = pool_doc_rows(spark, view, cand, ["url"])
    joined = cand.join(meta, "doc_id").count()
    assert joined == n_cand


def test_rank_false_requires_pool_shape(spark, index_dir):
    with pytest.raises(ValueError, match="rank=False"):
        topk(
            spark, f"{index_dir}/index",
            pd.DataFrame([(0, "a b")], columns=["query_id", "query_text"]),
            k=5, mode="and", rank=False,
        )
