"""The batched scorer: serving scores every (query, segment) group in
one `mapInPandas` pass that converts each Arrow batch once and carries
a group straddling a batch boundary into the next batch. Under 3-row
Arrow batches nearly every group straddles, and every serving path
must still equal the oracle. Also locks the zip-directory fix that the
engine import installs in PySpark workers."""

from __future__ import annotations

import sys
import zipimport

import numpy as np
import pandas as pd
import pytest

from tests.test_engine import _compare_topk
from tests.test_query_modes import _stopword
from theoremsearch_spark.corpus import query_set
from theoremsearch_spark.query import (
    _build_qterms,
    _fan,
    _score_cols,
    _score_group,
    _scored_batches,
    _serve_prep,
    phrase_topk,
    topk,
    topk_batched,
)

K = 10


def _queries(oracle) -> pd.DataFrame:
    """Reference-analog queries plus a stopword query, whose salted
    list is segment-sharded into groups of many blocks each."""
    qs = query_set(2000)[["query_id", "query_text"]].head(12)
    heavy = pd.DataFrame(
        {"query_id": [900], "query_text": [f"{_stopword(oracle)} w00500"]}
    )
    return pd.concat([qs, heavy], ignore_index=True)


def _assert_oracle(hits, qs, want_fn):
    for qid, text in zip(qs["query_id"], qs["query_text"]):
        got = hits[hits["query_id"] == qid].sort_values("rank")
        _compare_topk(got, want_fn(text), qid)


def test_topk_with_straddling_groups(spark, index_dir, oracle, tiny_arrow_batches):
    qs = _queries(oracle)
    hits = topk(spark, f"{index_dir}/index", qs, k=K).toPandas()
    _assert_oracle(hits, qs, lambda q: oracle.topk(q, k=K))


def test_chunked_topk_with_straddling_groups(
    spark, index_dir, oracle, tiny_arrow_batches
):
    qs = _queries(oracle)
    hits = topk_batched(spark, f"{index_dir}/index", qs, K, max_batch=4).toPandas()
    _assert_oracle(hits, qs, lambda q: oracle.topk(q, k=K))


def test_and_mode_with_straddling_groups(spark, index_dir, oracle, tiny_arrow_batches):
    qs = _queries(oracle)
    hits = topk(spark, f"{index_dir}/index", qs, k=K, mode="and").toPandas()
    _assert_oracle(hits, qs, lambda q: oracle.topk_mode(q, k=K, mode="and"))


def test_phrase_topk_with_straddling_groups(
    spark, index_dir, oracle, tiny_arrow_batches
):
    rng = np.random.default_rng(11)
    phrases = [
        " ".join(list(oracle.tokens[int(d)])[2:5])
        for d in rng.choice(2000, size=4, replace=False)
    ]
    qs = pd.DataFrame({"query_id": range(len(phrases)), "query_text": phrases})
    hits = phrase_topk(
        spark, f"{index_dir}/index", f"{index_dir}/docs", qs, k=K
    ).toPandas()
    _assert_oracle(
        hits, qs, lambda q: oracle.topk_mode(q, k=K, mode="and", phrase=True)
    )
    assert len(hits) >= len(phrases)  # every lifted phrase finds its source


def test_batch_splits_equal_per_group_scoring(spark, index_dir, oracle):
    """`_scored_batches` over the same fan rows cut into batches of 1, 2,
    7 and all rows returns exactly the per-group `_score_group` rows:
    groups that straddle one or many batches, and key changes that fall
    exactly on a batch boundary, score like whole groups."""
    idx = f"{index_dir}/index"
    qs = _queries(oracle)
    prep = _serve_prep(spark, idx, qs)
    kw = prep["frame_kwargs"]
    qterm = _build_qterms(qs, prep["tstats"], [], kw["salt_threshold"], kw["n_segments"])
    fan = (
        _fan(spark, prep["blocks"], qterm, kw["salt_threshold"])
        .toPandas()
        .sort_values(["query_id", "serve_seg"], kind="stable")
        .reset_index(drop=True)
    )
    score_kw = dict(
        n_docs=kw["n_docs"], avgdl=kw["avgdl"], k1=kw["k1"], b=kw["b"], k=K
    )
    want = pd.concat(
        [_score_group(g, **score_kw) for _, g in fan.groupby(["query_id", "serve_seg"])],
        ignore_index=True,
    )
    assert fan.groupby(["query_id", "serve_seg"]).size().max() > 7  # real straddling
    for size in (1, 2, 7, len(fan)):
        batches = (fan.iloc[i : i + size] for i in range(0, len(fan), size))
        got = pd.concat(
            _scored_batches(batches, lambda cols: _score_cols(cols, **score_kw)),
            ignore_index=True,
        )
        pd.testing.assert_frame_equal(
            got, want, check_dtype=False, obj=f"batches of {size}"
        )


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_serving_plans_score_per_batch(spark, index_dir, oracle):
    idx = f"{index_dir}/index"
    qs = _queries(oracle)
    plans = {
        "or": _physical_plan(topk(spark, idx, qs, k=K)),
        # the phrase candidate pool
        "and_pool": _physical_plan(topk(spark, idx, qs, k=0, mode="and", rank=False)),
    }
    for name, plan in plans.items():
        assert "MapInPandas" in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ invalidates zip directories lazily by itself",
)
def test_worker_invalidation_keeps_zip_directories(spark):
    """In an engine UDF task, the per-task `importlib.invalidate_caches()`
    leaves every zipimporter's parsed archive directory in place
    instead of re-reading the archive; the driver is left alone."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import theoremsearch_spark.query  # noqa: F401 — as every engine UDF

        imps = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        before = [f._files for f in imps]
        importlib.invalidate_caches()
        kept = sum(f._files is d for f, d in zip(imps, before))
        for _ in batches:
            pass
        yield pd.DataFrame({"importers": [len(imps)], "kept": [kept]})

    got = (
        spark.range(0, 4, numPartitions=4)
        .mapInPandas(probe, "importers long, kept long")
        .toPandas()
    )
    assert (got["importers"] > 0).all(), "workers import nothing from a zip"
    assert (got["kept"] == got["importers"]).all(), got
    assert zipimport.zipimporter.__dict__["invalidate_caches"].__module__ == "zipimport"
