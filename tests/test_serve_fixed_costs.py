"""Per-request fixed costs of serving: driver-built relations are JVM
local relations (never `sc.parallelize`, whose plan forks Python
workers to re-pickle the rows), and engine-written tables are read with
their declared schemas (no footer-inference job per read)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark import SparkContext

from theoremsearch_spark.corpus import generate_documents, query_set
from theoremsearch_spark.extract import tokenize
from theoremsearch_spark.functions.similarity import (
    ann_ivf_search,
    ann_ivf_search_batched,
)
from theoremsearch_spark.positions import build_positions
from theoremsearch_spark.query import (
    phrase_topk,
    topk,
    topk_batched,
    topk_rescored,
    topk_with_urls,
)
from theoremsearch_spark.streaming.incremental import (
    phrase_topk_all_generations,
    topk_all_generations,
)

K = 10


@pytest.fixture(scope="module")
def single(spark, index_dir, docs_pdf):
    """The session index with a positions sidecar, plus phrase queries
    lifted from its documents."""
    idx = f"{index_dir}/index"
    if not os.path.isfile(f"{idx}/positions/_pb_rule.json"):
        build_positions(spark.read.parquet(f"{index_dir}/docs"), idx)
    return {
        "idx": idx,
        "docs": f"{index_dir}/docs",
        "pos": f"{idx}/positions",
        "phrases": _phrases(docs_pdf, (10, 700, 1500)),
    }


@pytest.fixture(scope="module")
def gens_root(spark, tmp_path_factory):
    """Two index generations, each with a positions sidecar, plus a
    delete-only generation: serving builds the tombstone artifact."""
    from theoremsearch_spark.build import build_index
    from theoremsearch_spark.stats import prepare_docs
    from theoremsearch_spark.streaming.incremental import (
        commit_generation,
        delete_documents,
    )

    full = generate_documents(spark, 600, partitions=4).toPandas()
    out = str(tmp_path_factory.mktemp("serve_gens") / "root")
    for gen, (lo, hi) in enumerate(((0, 400), (400, 600))):
        gen_dir = f"{out}/gen_{gen}"
        docs = prepare_docs(
            spark.createDataFrame(full.iloc[lo:hi]), gen_dir, id_base=lo
        )
        build_index(docs, f"{gen_dir}/index", resume=False,
                    salt_threshold=150, n_segments=4, n_buckets=4)
        build_positions(docs, f"{gen_dir}/index")
        commit_generation(out, gen, lo, hi - lo)
    assert delete_documents(spark, out, list(full["url"].iloc[::25]))["deleted"] > 0
    docs0 = spark.read.parquet(f"{out}/gen_0/docs").toPandas()
    return {"out": out, "phrases": _phrases(docs0, (10, 300))}


def _phrases(docs: pd.DataFrame, doc_ids) -> pd.DataFrame:
    text = docs.set_index("doc_id")["extracted_text"]
    return pd.DataFrame(
        [(q, " ".join(tokenize(text[d])[2:5])) for q, d in enumerate(doc_ids)],
        columns=["query_id", "query_text"],
    )


def _bm25_queries(n: int) -> pd.DataFrame:
    return query_set(2000)[["query_id", "query_text"]].head(n)


@pytest.fixture(scope="module")
def ann(spark, tmp_path_factory):
    """A persisted IVF index with one delete generation (tombstones),
    plus six of its own vectors as queries."""
    from theoremsearch_spark.corpus import generate_vectors
    from theoremsearch_spark.functions.similarity import (
        build_ann_index,
        delete_from_ann_index,
    )

    work = str(tmp_path_factory.mktemp("serve_ann"))
    generate_vectors(spark, 600, partitions=4).write.parquet(f"{work}/vectors")
    vectors = spark.read.parquet(f"{work}/vectors")
    build_ann_index(vectors, f"{work}/ann", n_centroids=8)
    assert delete_from_ann_index(spark, f"{work}/ann", [3, 17])["deleted"] == 2
    qv = (
        vectors.filter("vec_id < 6")
        .selectExpr("vec_id as query_id", "embedding as qvec")
        .toPandas()
    )
    return {"out": f"{work}/ann", "qv": qv}


SERVE_CALLS = {
    "topk": lambda s, one, g, ann: topk(s, one["idx"], _bm25_queries(4), K),
    "topk_no_hits": lambda s, one, g, ann: topk(
        s, one["idx"], pd.DataFrame({"query_id": [0], "query_text": ["zzqqxx"]}), K
    ),
    "topk_batched": lambda s, one, g, ann: topk_batched(
        s, one["idx"], _bm25_queries(8), K, max_batch=4
    ),
    "topk_all_generations": lambda s, one, g, ann: topk_all_generations(
        s, g["out"], _bm25_queries(4), k=K
    ),
    "phrase_topk_positions": lambda s, one, g, ann: phrase_topk(
        s, one["idx"], one["docs"], one["phrases"], K, positions_dir=one["pos"]
    ),
    "phrase_topk_positions_snippets": lambda s, one, g, ann: phrase_topk(
        s, one["idx"], one["docs"], one["phrases"], K,
        positions_dir=one["pos"], snippet_pad=20,
    ),
    "phrase_topk_doc_text": lambda s, one, g, ann: phrase_topk(
        s, one["idx"], one["docs"], one["phrases"], K, snippet_pad=20
    ),
    "phrase_topk_all_generations_positions": lambda s, one, g, ann: (
        phrase_topk_all_generations(s, g["out"], g["phrases"], k=K, snippet_pad=20)
    ),
    "phrase_topk_all_generations_doc_text": lambda s, one, g, ann: (
        phrase_topk_all_generations(
            s, g["out"], g["phrases"], k=K, use_positions=False
        )
    ),
    "topk_rescored": lambda s, one, g, ann: topk_rescored(
        s, one["idx"], one["docs"], _bm25_queries(4), K
    ),
    "topk_with_urls": lambda s, one, g, ann: topk_with_urls(
        s, one["idx"], one["docs"], _bm25_queries(4), K
    ),
    "ann_ivf_search": lambda s, one, g, ann: ann_ivf_search(
        s, ann["out"], ann["qv"], k=K
    ),
    "ann_ivf_search_batched": lambda s, one, g, ann: ann_ivf_search_batched(
        s, ann["out"], ann["qv"], k=K, max_batch=2
    ),
}


@pytest.mark.parametrize("name", sorted(SERVE_CALLS))
def test_warm_serving_never_parallelizes(
    spark, single, gens_root, ann, monkeypatch, name
):
    call = SERVE_CALLS[name]
    warm = call(spark, single, gens_root, ann).toPandas()
    if name != "topk_no_hits":
        assert len(warm) > 0, name  # the lock must cover real serving work

    seen = []
    orig = SparkContext.parallelize

    def spy(self, *a, **kw):
        seen.append(name)
        return orig(self, *a, **kw)

    monkeypatch.setattr(SparkContext, "parallelize", spy)
    again = call(spark, single, gens_root, ann).toPandas()
    assert seen == [], f"{name}: {len(seen)} sc.parallelize call(s) while serving"
    assert len(again) == len(warm)


def test_warm_ann_delete_never_parallelizes(spark, ann, monkeypatch, tmp_path):
    """`delete_from_ann_index` builds its id relation as a local
    relation too: a warm delete that tombstones a live vector makes no
    `sc.parallelize` call."""
    import shutil

    from theoremsearch_spark.functions.similarity import delete_from_ann_index

    out = str(tmp_path / "ann")
    shutil.copytree(ann["out"], out)
    assert delete_from_ann_index(spark, out, [3, 17])["deleted"] == 0  # warm
    seen = []
    orig = SparkContext.parallelize

    def spy(self, *a, **kw):
        seen.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(SparkContext, "parallelize", spy)
    assert delete_from_ann_index(spark, out, [5])["deleted"] == 1
    assert seen == [], f"{len(seen)} sc.parallelize call(s) in a warm delete"


def _jobs_in_group(spark, tag: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events land async
    return len(sc.statusTracker().getJobIdsForGroup(tag))


def test_topk_prep_is_one_job(spark, single):
    """topk() prep is eager and its scoring lazy: the returned frame
    has cost exactly the term-dictionary scan — doc_stats is a pyarrow
    read and neither table runs a schema-inference job."""
    qs = _bm25_queries(4)
    topk(spark, single["idx"], qs, K)  # warm
    n = _jobs_in_group(spark, "topk_prep", lambda: topk(spark, single["idx"], qs, K))
    assert n == 1, f"topk prep launched {n} Spark jobs"


def jobs_launched(spark, fn) -> int:
    """Spark jobs launched while `fn()` runs: the job-id advance of the
    status store. Unlike a job group (a thread-local property), this
    also counts jobs that serving submits from worker threads."""
    store = spark.sparkContext._jsc.sc().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last_job_id() -> int:
        bus.waitUntilEmpty()  # job events land async
        jobs = store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    before = last_job_id()
    fn()
    return last_job_id() - before


def test_generation_prep_jobs_bounded(spark, gens_root):
    """topk_all_generations prep: the tombstone artifact pass and the
    term-dictionary scan, and no schema-inference job for the
    tombstone, term_stats or postings reads. The two passes run on
    worker threads, so they are counted by job-id advance."""
    qs = _bm25_queries(4)
    topk_all_generations(spark, gens_root["out"], qs, k=K)  # warm
    n = jobs_launched(
        spark, lambda: topk_all_generations(spark, gens_root["out"], qs, k=K)
    )
    assert 2 <= n <= 3, f"topk_all_generations prep launched {n} Spark jobs"


def test_doc_lookup_after_localizing_adds_no_job(spark, single):
    """Localizing a top-k result and looking up its docs costs what
    collecting the result costs, plus at most the one job the docs read
    spends inferring its schema (docs tables have no declared schema
    yet): the lookup takes its ids from the collected rows instead of
    re-collecting them from the local relation (2 more jobs)."""
    from theoremsearch_spark.query import _localized_docs, open_index, serve_topk

    view = open_index(spark, single["idx"], single["docs"])
    qs = _bm25_queries(4)
    _localized_docs(spark, view, serve_topk(spark, view, qs, K), ["url"])  # warm
    collect = jobs_launched(spark, lambda: serve_topk(spark, view, qs, K).toPandas())
    lookup = jobs_launched(
        spark, lambda: _localized_docs(spark, view, serve_topk(spark, view, qs, K), ["url"])
    )
    assert lookup - collect <= 1, (lookup, collect)


def _live_oracle(spark, root):
    """(BM25 oracle over the root's live docs, dense → real doc_id map):
    every generation's docs minus the tombstoned ones."""
    import glob

    from tests.oracle import BM25Oracle

    docs = pd.concat(
        spark.read.parquet(d).select("doc_id", "extracted_text").toPandas()
        for d in sorted(glob.glob(f"{root}/gen_*/docs"))
    )
    dead = pd.concat(
        spark.read.parquet(d).select("doc_id").toPandas()
        for d in sorted(glob.glob(f"{root}/gen_*/tombstones"))
    )
    live = (
        docs[~docs["doc_id"].isin(dead["doc_id"])]
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    dense = pd.DataFrame({
        "doc_id": np.arange(len(live)), "url": live["doc_id"].astype(str),
        "text": live["extracted_text"],
    })
    return BM25Oracle(dense), live["doc_id"].to_numpy()


def test_generation_serving_with_straddling_groups(
    spark, gens_root, tiny_arrow_batches
):
    """topk_all_generations over two generations and a delete-only
    generation, under 3-row Arrow batches: scores and ranks equal a
    from-scratch oracle over the live docs, and the plan scores per
    batch (MapInPandas), not per group."""
    from tests.test_engine import _compare_topk

    oracle, real_ids = _live_oracle(spark, gens_root["out"])
    qs = _bm25_queries(8)
    res = topk_all_generations(spark, gens_root["out"], qs, k=K)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "FlatMapGroupsInPandas" not in plan
    hits = res.toPandas()
    for qid, text in zip(qs["query_id"], qs["query_text"]):
        want = oracle.topk(text, k=K)
        want = want.assign(doc_id=real_ids[want["doc_id"].to_numpy()])
        _compare_topk(hits[hits["query_id"] == qid].sort_values("rank"), want, qid)
    assert len(hits) > 0
