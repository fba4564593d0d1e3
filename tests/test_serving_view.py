"""One serving core: a plain index dir is a one-generation view, and
chunked BM25 and ANN serving share one chunk runner."""

from __future__ import annotations

import threading
import time
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from tests.oracle import BM25Oracle
from tests.test_engine import _compare_topk
from theoremsearch_spark.corpus import generate_documents, query_set
from theoremsearch_spark.query import (
    collect_chunks,
    phrase_topk,
    topk,
    topk_batched,
)
from theoremsearch_spark.streaming.incremental import (
    phrase_topk_all_generations,
    topk_all_generations,
)

K = 10
N = 400
BUILD = dict(salt_threshold=100, n_segments=4, n_buckets=4)


def test_collect_chunks_bounds_concurrency_and_keeps_order(spark):
    """At most `max_inflight` chunks run at once; a blocked first chunk
    holds only its own worker, so the later chunks still go through the
    other one; the concatenated result keeps chunk order."""
    release = threading.Event()
    finished: list[int] = []
    running, peak = [0], [0]
    lock = threading.Lock()
    schema = T.StructType([T.StructField("query_id", T.IntegerType(), False)])

    def fn(chunk: pd.DataFrame):
        c = int(chunk["query_id"].iloc[0]) // 2
        with lock:
            running[0] += 1
            peak[0] = max(peak[0], running[0])
        if c == 0:
            assert release.wait(30)
        else:
            time.sleep(0.05)  # room for an unbounded runner to overlap chunks
        with lock:
            running[0] -= 1
            finished.append(c)
        return SimpleNamespace(schema=schema, toPandas=lambda: chunk[["query_id"]])

    qs = pd.DataFrame({"query_id": range(12), "query_text": ""})
    out: list = []
    runner = threading.Thread(
        target=lambda: out.append(collect_chunks(spark, fn, qs, 2, max_inflight=2))
    )
    runner.start()
    try:
        deadline = time.monotonic() + 20
        while len(finished) < 5 and time.monotonic() < deadline:
            time.sleep(0.01)
        with lock:
            assert sorted(finished) == [1, 2, 3, 4, 5], finished
    finally:
        release.set()
        runner.join(30)
    assert peak[0] == 2, peak
    assert out[0].toPandas()["query_id"].tolist() == list(range(12))


def test_chunked_unranked_pool_equals_unchunked(spark, index_dir):
    """Chunked `topk_batched(k=0, mode="and", rank=False)` returns the
    same (query_id, doc_id, score) set as one unchunked `topk`."""
    idx = f"{index_dir}/index"
    qs = query_set(2000)[["query_id", "query_text"]].head(6)
    kw = dict(k=0, mode="and", rank=False)
    key = ["query_id", "doc_id"]
    whole = topk(spark, idx, qs, **kw).toPandas().sort_values(key)
    chunked = topk_batched(spark, idx, qs, max_batch=2, **kw).toPandas()
    assert list(chunked.columns) == ["query_id", "doc_id", "score"]
    assert len(whole) > 0
    pd.testing.assert_frame_equal(
        whole.reset_index(drop=True),
        chunked.sort_values(key).reset_index(drop=True),
        check_dtype=False,
    )


@pytest.fixture(scope="module")
def twin(spark, tmp_path_factory):
    """The same corpus as a plain index and as a one-batch generation
    root, both with positions sidecars and the same build parameters,
    plus an oracle per id assignment."""
    from theoremsearch_spark.build import build_index
    from theoremsearch_spark.positions import build_positions
    from theoremsearch_spark.stats import prepare_docs
    from theoremsearch_spark.streaming.incremental import incremental_index

    root = tmp_path_factory.mktemp("twin")
    full = generate_documents(spark, N, partitions=2).toPandas()

    plain = str(root / "plain")
    docs = prepare_docs(spark.createDataFrame(full), plain)
    build_index(docs, f"{plain}/index", resume=False, **BUILD)
    build_positions(spark.read.parquet(f"{plain}/docs"), f"{plain}/index")

    inp, gens = str(root / "in"), str(root / "gens")
    spark.createDataFrame(full).repartition(1).write.parquet(f"{inp}/b0")
    incremental_index(
        spark, f"{inp}/*", gens, str(root / "chk"), positions=True, **BUILD
    ).start().awaitTermination(300)

    def oracle(docs_dir: str) -> BM25Oracle:
        ids = spark.read.parquet(docs_dir).select("doc_id", "url").toPandas()
        return BM25Oracle(ids.merge(full[["url", "text"]], on="url", validate="one_to_one"))

    return {
        "plain": plain, "gens": gens,
        "plain_oracle": oracle(f"{plain}/docs"),
        "gens_oracle": oracle(f"{gens}/gen_0/docs"),
    }


def _assert_oracle(hits: pd.DataFrame, qs: pd.DataFrame, want_fn) -> None:
    for qid, text in zip(qs["query_id"], qs["query_text"]):
        got = hits[hits["query_id"] == qid].sort_values("rank")
        _compare_topk(got, want_fn(text), qid)


def _serve(spark, twin, side: str, call: str, qs: pd.DataFrame) -> pd.DataFrame:
    if side == "plain":
        idx, docs = f"{twin['plain']}/index", f"{twin['plain']}/docs"
        calls = {
            "topk": lambda: topk(spark, idx, qs, K),
            "chunked": lambda: topk_batched(spark, idx, qs, K, max_batch=3),
            "phrase_doc_text": lambda: phrase_topk(spark, idx, docs, qs, K),
            "phrase_positions": lambda: phrase_topk(
                spark, idx, docs, qs, K, positions_dir=f"{idx}/positions"
            ),
        }
    else:
        root = twin["gens"]
        calls = {
            "topk": lambda: topk_all_generations(spark, root, qs, K),
            "chunked": lambda: topk_all_generations(spark, root, qs, K, max_batch=3),
            "phrase_doc_text": lambda: phrase_topk_all_generations(
                spark, root, qs, K, use_positions=False
            ),
            "phrase_positions": lambda: phrase_topk_all_generations(
                spark, root, qs, K, use_positions=True
            ),
        }
    return calls[call]().toPandas()


@pytest.mark.parametrize("side", ["plain", "gens"])
@pytest.mark.parametrize("call", ["topk", "chunked", "phrase_doc_text", "phrase_positions"])
def test_one_generation_root_serves_like_plain_index(spark, twin, side, call):
    oracle = twin[f"{side}_oracle"]
    if call.startswith("phrase"):
        rng = np.random.default_rng(5)
        qs = pd.DataFrame({
            "query_id": range(4),
            "query_text": [
                " ".join(list(oracle.tokens[int(d)])[3:6])
                for d in rng.choice(N, size=4, replace=False)
            ],
        })
        want = lambda q: oracle.topk_mode(q, k=K, mode="and", phrase=True)  # noqa: E731
    else:
        qs = query_set(N)[["query_id", "query_text"]].head(8)
        want = lambda q: oracle.topk(q, k=K)  # noqa: E731
    hits = _serve(spark, twin, side, call, qs)
    assert len(hits) >= len(qs) // 2
    _assert_oracle(hits, qs, want)
