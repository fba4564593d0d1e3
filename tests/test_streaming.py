"""Structured Streaming tests: incremental index generations match a
from-scratch batch build (rank-identical), windowed/sessionized event
aggregations match their batch equivalents."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.oracle import BM25Oracle
from theoremsearch_spark.corpus import generate_documents, query_set
from theoremsearch_spark.streaming.incremental import (
    incremental_index,
    sessionize_events,
    topk_all_generations,
    windowed_event_counts,
)

N_DOCS = 1200


@pytest.fixture(scope="module")
def stream_index(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    inp, out, chk = str(root / "in"), str(root / "out"), str(root / "chk")
    full = generate_documents(spark, N_DOCS, partitions=4).toPandas()
    # two file drops → two micro-batches (maxFilesPerTrigger=1)
    spark.createDataFrame(full.iloc[:700]).repartition(1).write.parquet(f"{inp}/b0")
    spark.createDataFrame(full.iloc[700:]).repartition(1).write.parquet(f"{inp}/b1")
    incremental_index_wrapper(spark, inp, out, chk)
    return {"out": out, "full": full}


def incremental_index_wrapper(spark, inp, out, chk):
    # wire maxFilesPerTrigger into the reader used by incremental_index
    from theoremsearch_spark.build import build_index
    from theoremsearch_spark.corpus import DOCUMENTS_SCHEMA
    from theoremsearch_spark.stats import prepare_docs
    from theoremsearch_spark.streaming.incremental import _generations

    def process_batch(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        gens = _generations(spark, out)
        if any(g["gen"] == batch_id for g in gens):
            return
        base = sum(g["n_docs"] for g in gens)
        gen_dir = f"{out}/gen_{batch_id}"
        docs = prepare_docs(batch_df, gen_dir)
        if base:
            docs = docs.withColumn("doc_id", F.col("doc_id") + F.lit(base))
            docs.write.mode("overwrite").parquet(f"{gen_dir}/docs_offset")
            docs = spark.read.parquet(f"{gen_dir}/docs_offset")
        n = docs.count()
        build_index(docs, f"{gen_dir}/index", resume=False,
                    salt_threshold=400, n_segments=4, n_buckets=8)
        from theoremsearch_spark.streaming.incremental import commit_generation

        commit_generation(out, batch_id, base, n)

    q = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{inp}/*")
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return q


def test_incremental_generations_match_batch_oracle(spark, stream_index):
    from theoremsearch_spark.streaming.incremental import _generations

    out = stream_index["out"]
    full = stream_index["full"]
    gens = pd.DataFrame(_generations(spark, out)).sort_values("gen")
    assert len(gens) == 2, gens
    assert gens["n_docs"].sum() == N_DOCS

    # id space: union docs tables, dense 0..N-1 after offsets
    docs_parts = []
    for g in gens.itertuples():
        p = f"{out}/gen_{g.gen}/docs" if g.base == 0 else f"{out}/gen_{g.gen}/docs_offset"
        docs_parts.append(spark.read.parquet(p).select("doc_id", "url").toPandas())
    all_docs = pd.concat(docs_parts).sort_values("doc_id").reset_index(drop=True)
    assert (all_docs["doc_id"].to_numpy() == np.arange(N_DOCS)).all()

    truth = all_docs.merge(full[["url", "text"]], on="url", validate="one_to_one")
    oracle = BM25Oracle(truth)

    qs = query_set(N_DOCS)[["query_id", "query_text"]].head(25)
    hits = topk_all_generations(spark, out, qs, k=10).toPandas()
    for qid, row in qs.set_index("query_id").iterrows():
        want = oracle.topk(row["query_text"], k=10)
        got = hits[hits["query_id"] == qid].sort_values("rank")
        assert len(got) == len(want), qid
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), qid
        np.testing.assert_allclose(
            got["score"].to_numpy(), want["score"].to_numpy(), rtol=1e-9
        )


def test_multi_generation_and_not_modes(spark, stream_index):
    """Conjunctive and must-not serving across generations: merged
    global stats + per-segment intersection must match the brute-force
    mode-aware oracle over the union corpus."""
    from theoremsearch_spark.streaming.incremental import _generations

    out = stream_index["out"]
    full = stream_index["full"]
    gens = pd.DataFrame(_generations(spark, out)).sort_values("gen")
    docs_parts = []
    for g in gens.itertuples():
        p = f"{out}/gen_{g.gen}/docs" if g.base == 0 else f"{out}/gen_{g.gen}/docs_offset"
        docs_parts.append(spark.read.parquet(p).select("doc_id", "url").toPandas())
    all_docs = pd.concat(docs_parts).sort_values("doc_id").reset_index(drop=True)
    truth = all_docs.merge(full[["url", "text"]], on="url", validate="one_to_one")
    oracle = BM25Oracle(truth)
    banned, _ = max(oracle.postings.items(), key=lambda kv: kv[1][0].size)

    qs = query_set(N_DOCS)[["query_id", "query_text"]].head(10)
    got_and = topk_all_generations(spark, out, qs, k=10, mode="and").toPandas()
    got_not = topk_all_generations(
        spark, out, qs, k=10, not_terms=[banned]
    ).toPandas()
    for qid, row in qs.set_index("query_id").iterrows():
        for got_all, kw in (
            (got_and, dict(mode="and")),
            (got_not, dict(not_terms=[banned])),
        ):
            want = oracle.topk_mode(row["query_text"], k=10, **kw)
            got = got_all[got_all["query_id"] == qid].sort_values("rank")
            assert got["doc_id"].tolist() == want["doc_id"].tolist(), (qid, kw)
            np.testing.assert_allclose(
                got["score"].to_numpy(), want["score"].to_numpy(), rtol=1e-9
            )


def test_multi_generation_phrase_topk(spark, stream_index):
    """Exact-phrase serving on a streamed root: conjunctive candidates
    under merged stats, text verified from per-generation docs tables.
    Phrases lifted from docs in EACH generation must surface their
    source doc; results match the ordered-adjacency brute force."""
    from theoremsearch_spark.streaming.incremental import (
        _generations,
        phrase_topk_all_generations,
    )
    from theoremsearch_spark.extract import tokenize

    out = stream_index["out"]
    full = stream_index["full"]
    gens = pd.DataFrame(_generations(spark, out)).sort_values("gen")
    docs_parts = []
    for g in gens.itertuples():
        p = f"{out}/gen_{g.gen}/docs" if g.base == 0 else f"{out}/gen_{g.gen}/docs_offset"
        docs_parts.append(spark.read.parquet(p).select("doc_id", "url").toPandas())
    all_docs = pd.concat(docs_parts).sort_values("doc_id").reset_index(drop=True)
    truth = all_docs.merge(full[["url", "text"]], on="url", validate="one_to_one")
    oracle = BM25Oracle(truth)

    # one phrase from a doc in each generation (doc 10 ∈ gen0's 0..699,
    # doc 900 ∈ gen1's 700..)
    rows = []
    for qid, d in enumerate((10, 900)):
        toks = list(oracle.tokens[d])
        rows.append((qid, " ".join(toks[2:5]), d))
    qs = pd.DataFrame(rows, columns=["query_id", "query_text", "src"])
    hits = phrase_topk_all_generations(
        spark, out, qs[["query_id", "query_text"]], k=10
    ).toPandas()
    for qid, row in qs.set_index("query_id").iterrows():
        want = oracle.topk_mode(row["query_text"], k=10, mode="and", phrase=True)
        got = hits[hits["query_id"] == qid].sort_values("rank")
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), qid
        assert row["src"] in set(got["doc_id"].tolist()), qid
        np.testing.assert_allclose(
            got["score"].to_numpy(), want["score"].to_numpy(), rtol=1e-9
        )

    # positional sidecars per generation: the positions path must be
    # bitwise-identical — and PARTIAL sidecar coverage must raise, not
    # silently drop the uncovered generation's matches
    import pytest as _pytest

    from theoremsearch_spark.positions import build_positions

    g0 = gens.iloc[0]
    d0 = f"{out}/gen_{g0.gen}/docs" if g0.base == 0 else f"{out}/gen_{g0.gen}/docs_offset"
    build_positions(spark.read.parquet(d0), f"{out}/gen_{g0.gen}/index")
    with _pytest.raises(ValueError, match="positions sidecar missing"):
        phrase_topk_all_generations(
            spark, out, qs[["query_id", "query_text"]], k=10, use_positions=True
        )
    for g in gens.iloc[1:].itertuples():
        p = f"{out}/gen_{g.gen}/docs" if g.base == 0 else f"{out}/gen_{g.gen}/docs_offset"
        build_positions(spark.read.parquet(p), f"{out}/gen_{g.gen}/index")
    via_pos = phrase_topk_all_generations(
        spark, out, qs[["query_id", "query_text"]], k=10  # auto-detects
    ).toPandas()
    pd.testing.assert_frame_equal(
        hits.sort_values(["query_id", "rank"]).reset_index(drop=True),
        via_pos.sort_values(["query_id", "rank"]).reset_index(drop=True),
    )


def test_windowed_event_counts_matches_batch(spark, tmp_path):
    # batch-vs-stream parity: run the same aggregation on a file stream
    # and on the static frame
    pdf = pd.DataFrame(
        {
            "event_id": range(200),
            "ts": pd.date_range("2024-01-01", periods=200, freq="13s"),
            "user_id": [i % 7 for i in range(200)],
            "event_type": [["click", "view", "error"][i % 3] for i in range(200)],
            "value": [float(i % 11) for i in range(200)],
        }
    )
    src = str(tmp_path / "events_in")
    outdir = str(tmp_path / "events_out")
    chk = str(tmp_path / "events_chk")
    static = spark.createDataFrame(pdf)
    static.repartition(1).write.parquet(src)

    stream = (
        spark.readStream.schema(static.schema).parquet(src)
    )
    q = (
        windowed_event_counts(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(outdir).toPandas()
    want = (
        static.groupBy(F.window("ts", "1 minute").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .toPandas()
    )
    # append mode emits only windows finalized by the watermark: the last
    # 10 minutes of event time stay in state at availableNow termination
    cutoff = pdf["ts"].max() - pd.Timedelta(minutes=10) - pd.Timedelta(minutes=1)
    want = want[want["window_start"] <= cutoff]
    got = got[got["window_start"] <= cutoff]
    key = ["window_start", "event_type"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True)[want.columns],
        want.sort_values(key).reset_index(drop=True),
        check_dtype=False,
    )
    assert len(got) > 10  # the stream actually emitted finalized windows


def test_sessionize_events(spark, tmp_path):
    pdf = pd.DataFrame(
        {
            "event_id": [0, 1, 2, 3, 4],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 00:05", "2024-01-01 02:00",
                 "2024-01-01 02:10", "2024-01-01 05:00"]
            ),
            "user_id": [1, 1, 1, 1, 1],
            "event_type": ["click"] * 5,
            "value": [1.0] * 5,
        }
    )
    src = str(tmp_path / "sess_in")
    outdir = str(tmp_path / "sess_out")
    chk = str(tmp_path / "sess_chk")
    static = spark.createDataFrame(pdf)
    static.repartition(1).write.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)
    q = (
        sessionize_events(stream, gap_minutes=30)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(outdir).toPandas().sort_values("session_start")
    # 30-minute gap ⇒ sessions (00:00,00:05), (02:00,02:10), (05:00); the
    # last one is still open w.r.t. the final watermark (max_ts-10min), so
    # append mode emits the first two
    assert len(got) == 2
    assert got["n_events"].tolist() == [2, 2]


def test_running_user_totals_stateful(spark, tmp_path):
    """applyInPandasWithState custom state: two file drops → two
    micro-batches; per-user running totals must be emitted per batch
    (update mode) and the final row per user must equal the batch
    groupBy over all data — state carried correctly across batches."""
    from theoremsearch_spark.streaming.incremental import running_user_totals

    pdf = pd.DataFrame(
        {
            "event_id": range(120),
            "ts": pd.date_range("2024-01-01", periods=120, freq="7s"),
            "user_id": [i % 5 for i in range(120)],
            "event_type": ["click"] * 120,
            "value": [float(i % 13) for i in range(120)],
        }
    )
    src = str(tmp_path / "run_in")
    outdir = str(tmp_path / "run_out")
    chk = str(tmp_path / "run_chk")
    spark.createDataFrame(pdf.iloc[:60]).repartition(1).write.parquet(f"{src}/b0")
    spark.createDataFrame(pdf.iloc[60:]).repartition(1).write.parquet(f"{src}/b1")
    static = spark.createDataFrame(pdf)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("running_totals_mem")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("running_totals_mem").toPandas()
    del outdir
    # every user appears once per batch that touched it
    assert got.groupby("user_id")["batches_seen"].max().eq(2).all()
    assert len(got) == 10  # 5 users × 2 batches
    final = got[got["batches_seen"] == 2].set_index("user_id").sort_index()
    want = pdf.groupby("user_id").agg(n_events=("value", "size"), sum_value=("value", "sum"))
    assert final["n_events"].tolist() == want["n_events"].tolist()
    np.testing.assert_allclose(final["sum_value"], want["sum_value"])


def test_multi_generation_salted_routing(spark, tmp_path):
    """Saltedness is per-generation: gen0 salts the stopword, gen1 (high
    threshold) keeps it flat. The fan must route gen0's segment blocks
    exactly once each, replicate gen1's flat list to all S tasks, and
    the served top-k must stay rank-identical to the single-corpus
    oracle — the 100×-scale property that no task receives a whole
    stopword posting list from ANY generation."""
    from theoremsearch_spark.build import build_index
    from theoremsearch_spark.stats import prepare_docs
    from theoremsearch_spark.streaming.incremental import commit_generation

    out = str(tmp_path / "gens")
    full = generate_documents(spark, 1000, partitions=4).toPandas()
    segs = 4
    for gen, (lo, hi, thresh) in enumerate([(0, 500, 100), (500, 1000, 10**9)]):
        gen_dir = f"{out}/gen_{gen}"
        docs = prepare_docs(
            spark.createDataFrame(full.iloc[lo:hi]), gen_dir, id_base=0
        )
        if lo:
            docs = docs.withColumn("doc_id", F.col("doc_id") + F.lit(lo))
            docs.write.mode("overwrite").parquet(f"{gen_dir}/docs_offset")
            docs = spark.read.parquet(f"{gen_dir}/docs_offset")
        build_index(
            docs, f"{gen_dir}/index", resume=False,
            salt_threshold=thresh, n_segments=segs, n_buckets=4,
        )
        commit_generation(out, gen, lo, hi - lo)

    # sanity: the stopword really is salted in gen0 only
    for gen, expect_multi in ((0, True), (1, False)):
        ts = spark.read.parquet(f"{out}/gen_{gen}/index/term_stats")
        tid = ts.filter(F.col("term") == "the").collect()[0]["term_id"]
        nseg = (
            spark.read.parquet(f"{out}/gen_{gen}/index/postings")
            .filter(F.col("term_id") == tid)
            .select("segment").distinct().count()
        )
        assert (nseg > 1) == expect_multi, (gen, nseg)

    qs = query_set(1000)[["query_id", "query_text"]].head(8)
    stop_qs = pd.concat(
        [qs, pd.DataFrame({"query_id": [900], "query_text": ["the w00010"]})],
        ignore_index=True,
    )
    hits = topk_all_generations(spark, out, stop_qs, k=10).toPandas()

    # rank-identity vs the single-corpus python oracle
    truth = full[["url", "text"]].copy()
    docs_all = []
    for gen in (0, 1):
        p = f"{out}/gen_{gen}/docs" if gen == 0 else f"{out}/gen_{gen}/docs_offset"
        docs_all.append(spark.read.parquet(p).select("doc_id", "url").toPandas())
    ids = pd.concat(docs_all).merge(truth, on="url", validate="one_to_one")
    oracle = BM25Oracle(ids)
    for qid, row in stop_qs.set_index("query_id").iterrows():
        want = oracle.topk(row["query_text"], k=10)
        got = hits[hits["query_id"] == qid].sort_values("rank")
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), qid
        np.testing.assert_allclose(
            got["score"].to_numpy(), want["score"].to_numpy(), rtol=1e-9
        )


@pytest.fixture(scope="module")
def upsert_index(spark, tmp_path_factory):
    """Two REAL incremental_index runs against one checkpoint: batch 0
    ingests 1000 docs; batch 1 RE-INGESTS 100 of the urls with changed
    html (appended marker content) — the reference's replace-document
    upsert (S12) at index level. Batch 1 must tombstone the 100 stale
    doc versions."""
    from theoremsearch_spark.streaming.incremental import incremental_index

    root = tmp_path_factory.mktemp("upsert")
    inp, out, chk = str(root / "in"), str(root / "out"), str(root / "chk")
    full = generate_documents(spark, 1000, partitions=4).toPandas()

    spark.createDataFrame(full).repartition(2).write.parquet(f"{inp}/b0")
    incremental_index(
        spark, f"{inp}/*", out, chk,
        salt_threshold=400, n_segments=4, n_buckets=8,
    ).start().awaitTermination(300)

    mod = full.iloc[100:200].copy()
    mod["html"] = mod["html"].map(
        lambda h: bytes(h) + b"<p>zzupserted fresh content</p>"
    )
    spark.createDataFrame(mod).repartition(2).write.parquet(f"{inp}/b1")
    incremental_index(
        spark, f"{inp}/*", out, chk,
        salt_threshold=400, n_segments=4, n_buckets=8,
    ).start().awaitTermination(300)
    return {"out": out, "full": full}


def _latest_version_oracle(spark, out):
    """(oracle over latest-version corpus, dense→real id map)."""
    from theoremsearch_spark.streaming.incremental import (
        _docs_path,
        _generations,
    )

    gens = sorted(_generations(spark, out), key=lambda g: g["gen"])
    parts = [
        spark.read.parquet(_docs_path(out, g["gen"]))
        .select("doc_id", "url", "extracted_text")
        .toPandas()
        for g in gens
    ]
    latest = (
        pd.concat(parts)
        .sort_values("doc_id")
        .drop_duplicates("url", keep="last")  # max doc_id per url wins
        .sort_values("doc_id")
        .reset_index(drop=True)
        .rename(columns={"extracted_text": "text"})
    )
    real_ids = latest["doc_id"].to_numpy()
    dense = latest.assign(doc_id=np.arange(len(latest)))
    return BM25Oracle(dense[["doc_id", "url", "text"]]), real_ids


def _assert_serves_latest(spark, out, n_urls):
    qs = query_set(1000)[["query_id", "query_text"]].head(15)
    qs = pd.concat(
        [qs, pd.DataFrame({"query_id": [900], "query_text": ["zzupserted fresh content"]})],
        ignore_index=True,
    )
    oracle, real_ids = _latest_version_oracle(spark, out)
    assert oracle.n_docs == n_urls  # one live version per url
    hits = topk_all_generations(spark, out, qs, k=10).toPandas()
    for qid, row in qs.set_index("query_id").iterrows():
        want = oracle.topk(row["query_text"], k=10)
        got = hits[hits["query_id"] == qid].sort_values("rank")
        assert got["doc_id"].tolist() == [int(real_ids[d]) for d in want["doc_id"]], qid
        np.testing.assert_allclose(
            got["score"].to_numpy(), want["score"].to_numpy(), rtol=1e-9
        )
    return hits


def test_upsert_tombstones_serve_latest_versions(spark, upsert_index):
    """Serving across generations with tombstones must be score- and
    rank-identical to a from-scratch build over the LATEST version of
    every url: stale versions excluded, N/avgdl/df corrected exactly.
    The marker query can only match re-ingested content."""
    import os

    out = upsert_index["out"]
    assert os.path.isdir(f"{out}/gen_1/tombstones")
    dead = spark.read.parquet(f"{out}/gen_1/tombstones")
    assert dead.count() == 100
    assert set(dead.columns) >= {"doc_id", "doc_len", "terms"}
    hits = _assert_serves_latest(spark, out, n_urls=1000)
    # stale versions never serve
    dead_ids = {r["doc_id"] for r in dead.select("doc_id").collect()}
    assert not (set(hits["doc_id"]) & dead_ids)
    # the marker query hits only re-ingested docs (ids ≥ 1000)
    marker_hits = hits[hits["query_id"] == 900]
    assert len(marker_hits) > 0 and (marker_hits["doc_id"] >= 1000).all()


def test_upsert_ingest_reads_only_url_buckets(spark, upsert_index):
    """The prior-version lookup an ingesting batch performs must read
    ONLY the url-hash key-index buckets its urls fall into — never a
    generation's docs table (which would be an O(corpus) scan per
    micro-batch at 100 TB). Also locks the row semantics: one row per
    LIVE stored version of each requested url (stale-version filtering
    is the caller's tombstone anti-join)."""
    import os
    import re

    from theoremsearch_spark.streaming.incremental import (
        KEY_BUCKETS,
        _generations,
        _prior_version_rows,
        _url_bucket,
    )

    out = upsert_index["out"]
    full = upsert_index["full"]
    gens = sorted(_generations(spark, out), key=lambda g: g["gen"])
    for g in gens:
        assert os.path.isdir(f"{out}/gen_{g['gen']}/keyindex")
        assert g["key_buckets"] == KEY_BUCKETS

    # 5 never-re-ingested urls (1 version each) + 2 re-ingested urls
    # (2 stored versions each: gen0 stale + gen1 current)
    urls = full["url"].iloc[:5].tolist() + full["url"].iloc[100:102].tolist()
    urls_df = spark.createDataFrame(pd.DataFrame({"url": urls}))
    rows = _prior_version_rows(spark, out, gens, urls_df)

    touched = {
        r["ub"]
        for r in urls_df.select(
            _url_bucket(F.col("url"), KEY_BUCKETS).alias("ub")
        ).distinct().collect()
    }
    files = rows.inputFiles()
    assert files, "pruned read planned no files"
    for f in files:
        assert "/keyindex/ub=" in f, f"non-keyindex file read: {f}"
        assert int(re.search(r"/ub=(\d+)/", f).group(1)) in touched, f
    # bounded: ≤ |touched buckets| dirs per generation
    assert len({re.sub(r"/[^/]+$", "", f) for f in files}) <= len(touched) * len(gens)

    got = rows.toPandas()
    assert len(got) == 5 * 1 + 2 * 2
    assert set(got["url"]) == set(urls)
    assert set(got.columns) == {"doc_id", "url", "doc_len", "terms"}


def test_delete_never_ingested_url_is_noop(spark, upsert_index):
    """Deleting a url that was never ingested must be a clean no-op on
    a keyindexed root — even when the url hashes to a bucket dir no
    generation materialized (review r4: that case crashed with a
    misleading 'only delete-only generations' error, and behavior
    depended on which bucket the url hashed to)."""
    import shutil

    from theoremsearch_spark.streaming.incremental import delete_documents

    out = upsert_index["out"]
    work = str(spark.conf.get("spark.local.dir", "/tmp"))
    copy = f"{work}/delete_noop_copy"
    shutil.rmtree(copy, ignore_errors=True)
    shutil.copytree(out, copy)
    # many urls → they cover present AND absent bucket dirs
    urls = [f"https://never.example/doc{i}" for i in range(128)]
    res = delete_documents(spark, copy, urls)
    assert res == {"generation": None, "deleted": 0}
    shutil.rmtree(copy, ignore_errors=True)


def test_tombstone_artifact_is_executor_packed(spark, upsert_index):
    """The serve-time exclusion mask must arrive as compressed
    executor-packed chunks (PackedDocIdSet), decode to exactly the
    distinct tombstoned ids, and carry the exact doc_len sum — no
    Row-per-tombstone driver collect."""
    from theoremsearch_spark.codec import PackedDocIdSet
    from theoremsearch_spark.streaming.incremental import _tombstone_artifact

    out = upsert_index["out"]
    dead = spark.read.parquet(f"{out}/gen_1/tombstones").dropDuplicates(["doc_id"])
    mask, n, dl, dfc = _tombstone_artifact(dead)
    pdf = dead.select("doc_id", "doc_len").toPandas()
    assert isinstance(mask, PackedDocIdSet)
    assert n == len(pdf) == 100
    assert dl == int(pdf["doc_len"].sum())
    assert (mask.decode() == np.sort(pdf["doc_id"].to_numpy())).all()
    assert mask.nbytes < n * 8  # beats a raw int64 array, let alone Rows
    assert dfc == {}  # no count_terms requested

    # the folded per-term dead-df counts must equal the independent
    # explode/groupBy computation over the same deduped rows
    from pyspark.sql import functions as F

    some_terms = [
        r["term"]
        for r in dead.select(F.explode("terms").alias("term"))
        .groupBy("term").count().orderBy(F.desc("count")).limit(5).collect()
    ] + ["zz_never_seen"]
    _, _, _, dfc2 = _tombstone_artifact(dead, some_terms)
    want = {
        r["term"]: int(r["cnt"])
        for r in dead.select(F.explode("terms").alias("term"))
        .filter(F.col("term").isin(some_terms))
        .groupBy("term").agg(F.count("*").alias("cnt")).collect()
    }
    assert dfc2 == want and "zz_never_seen" not in dfc2


def test_compacted_generation_carries_keyindex(spark, upsert_index):
    """Compaction must rebuild the url key index over the merged docs so
    future upsert batches against the compacted root keep the
    bucket-pruned lookup path."""
    import os
    import shutil

    from theoremsearch_spark.streaming.incremental import (
        _generations,
        _prior_version_rows,
        compact_generations,
    )

    out = upsert_index["out"]
    work = str(spark.conf.get("spark.local.dir", "/tmp"))
    copy = f"{work}/upsert_keyindex_copy"
    shutil.rmtree(copy, ignore_errors=True)
    shutil.copytree(out, copy)

    res = compact_generations(spark, copy, salt_threshold=400, n_segments=4, n_buckets=8)
    assert res["compacted"]
    new_gen = res["generation"]
    assert os.path.isdir(f"{copy}/gen_{new_gen}/keyindex")
    gens = _generations(spark, copy)
    assert gens[0].get("key_buckets")

    urls_df = spark.createDataFrame(
        pd.DataFrame({"url": upsert_index["full"]["url"].iloc[100:103].tolist()})
    )
    rows = _prior_version_rows(spark, copy, gens, urls_df)
    assert all("/keyindex/ub=" in f for f in rows.inputFiles())
    # post-compaction: exactly one live version per url remains stored
    assert rows.count() == 3
    shutil.rmtree(copy, ignore_errors=True)


def test_full_compaction_drops_tombstoned_bodies(spark, upsert_index):
    """FULL compaction physically removes tombstoned docs and clears
    tombstones: the compacted generation holds exactly one version per
    url and serving stays identical to the latest-version oracle."""
    import shutil

    from theoremsearch_spark.streaming.incremental import (
        _generations,
        compact_generations,
    )

    out = upsert_index["out"]
    work = str(spark.conf.get("spark.local.dir", "/tmp"))
    copy = f"{work}/upsert_compact_copy"
    shutil.rmtree(copy, ignore_errors=True)
    shutil.copytree(out, copy)

    res = compact_generations(
        spark, copy, salt_threshold=400, n_segments=4, n_buckets=8
    )
    assert res["compacted"] and res["n_docs"] == 1000  # 1100 bodies − 100 dead
    gens = _generations(spark, copy)
    assert [g["gen"] for g in gens] == [res["generation"]]
    carried = spark.read.parquet(f"{copy}/gen_{res['generation']}/tombstones")
    assert carried.count() == 0  # full compact clears every tombstone
    _assert_serves_latest(spark, copy, n_urls=1000)
    shutil.rmtree(copy, ignore_errors=True)


def test_tiered_compaction_carries_foreign_tombstones(spark, upsert_index):
    """The subtle LSM path: tiered compaction merges the SMALL
    generations — including the re-ingest generation whose tombstones
    point INTO the unmerged base. Those tombstones' targets still exist
    (the base is untouched), so they must be CARRIED into the new
    generation's tombstone file, and serving must stay identical to the
    latest-version oracle."""
    import shutil

    from theoremsearch_spark.build import build_index
    from theoremsearch_spark.stats import prepare_docs
    from theoremsearch_spark.streaming.incremental import (
        _generations,
        commit_generation,
        compact_generations,
    )

    out = upsert_index["out"]
    work = str(spark.conf.get("spark.local.dir", "/tmp"))
    copy = f"{work}/upsert_tiered_copy"
    shutil.rmtree(copy, ignore_errors=True)
    shutil.copytree(out, copy)

    # add a third small generation of 50 FRESH urls (no new tombstones)
    extra = generate_documents(spark, 1050, partitions=4).toPandas().iloc[1000:]
    gen_dir = f"{copy}/gen_2"
    docs = prepare_docs(spark.createDataFrame(extra), gen_dir, id_base=1100)
    build_index(docs, f"{gen_dir}/index", resume=False,
                salt_threshold=400, n_segments=4, n_buckets=8)
    commit_generation(copy, 2, 1100, 50)

    # sizes: gen0=1000 (base), gen1=100 (re-ingest), gen2=50 → fraction
    # 0.5 merges the two smalls only
    res = compact_generations(
        spark, copy, tier_fraction=0.5,
        salt_threshold=400, n_segments=4, n_buckets=8,
    )
    assert res["compacted"] and sorted(res["replaced"]) == [1, 2]
    assert res["n_docs"] == 150  # nothing dropped: dead ids live in gen0
    live = sorted(g["gen"] for g in _generations(spark, copy))
    assert live == [-1, 0]
    carried = spark.read.parquet(f"{copy}/gen_-1/tombstones")
    assert carried.count() == 100  # gen1's base-pointing tombstones survive
    _assert_serves_latest(spark, copy, n_urls=1050)
    shutil.rmtree(copy, ignore_errors=True)


def test_generation_serving_job_count_is_constant(spark, tmp_path):
    """The O(1)-jobs property: serving across G generations must launch
    the SAME number of Spark jobs for G=2 and G=4 (multi-path scans +
    one grouped scoring job — never per-generation reads, which would
    grow the query plan linearly with streaming uptime)."""
    from tests.test_serve_fixed_costs import jobs_launched
    from theoremsearch_spark.build import build_index
    from theoremsearch_spark.stats import prepare_docs
    from theoremsearch_spark.streaming.incremental import commit_generation

    full = generate_documents(spark, 800, partitions=4).toPandas()

    def make_root(name, cuts):
        out = str(tmp_path / name)
        for gen, (lo, hi) in enumerate(zip(cuts[:-1], cuts[1:])):
            gen_dir = f"{out}/gen_{gen}"
            docs = prepare_docs(
                spark.createDataFrame(full.iloc[lo:hi]), gen_dir, id_base=lo
            )
            build_index(docs, f"{gen_dir}/index", resume=False,
                        salt_threshold=400, n_segments=4, n_buckets=4)
            commit_generation(out, gen, lo, hi - lo)
        return out

    root2 = make_root("g2", [0, 400, 800])
    root4 = make_root("g4", [0, 200, 400, 600, 800])
    qs = query_set(800)[["query_id", "query_text"]].head(5)

    def count_jobs(root):
        # job-id advance, not a job group: the prep passes run on
        # worker threads, which a thread-local job group never sees
        return jobs_launched(
            spark, lambda: topk_all_generations(spark, root, qs, k=5).toPandas()
        )

    j2 = count_jobs(root2)
    j4 = count_jobs(root4)
    assert j4 == j2, f"serving jobs grew with generation count: {j2} -> {j4}"


def test_delete_documents_serves_survivors_only(spark, tmp_path):
    """Pure DELETE (no replacement): a delete-only generation carries
    tombstones with no index; serving excludes the deleted docs with
    exact stat corrections (scores == from-scratch build over the
    survivors), re-deleting is a no-op, and full compaction drops the
    bodies and the delete-only generation."""
    from theoremsearch_spark.build import build_index
    from theoremsearch_spark.stats import prepare_docs
    from theoremsearch_spark.streaming.incremental import (
        _generations,
        commit_generation,
        compact_generations,
        delete_documents,
    )

    out = str(tmp_path / "gens")
    full = generate_documents(spark, 500, partitions=4).toPandas()
    docs = prepare_docs(spark.createDataFrame(full), f"{out}/gen_0")
    build_index(docs, f"{out}/gen_0/index", resume=False,
                salt_threshold=400, n_segments=4, n_buckets=4)
    commit_generation(out, 0, 0, 500)

    # empty delete is a no-op (no generation committed, no crash)
    assert delete_documents(spark, out, []) == {"generation": None, "deleted": 0}

    doomed = set(full["url"].iloc[100:150])
    res = delete_documents(spark, out, doomed)
    assert res["deleted"] == 50
    # delete-only generations live in the NEGATIVE namespace so they can
    # never collide with (and silently swallow) a future streaming batch
    assert res["generation"] == -1
    gens = sorted(_generations(spark, out), key=lambda g: g["gen"])
    assert [g.get("delete_only", False) for g in gens] == [True, False]

    # oracle over the SURVIVORS (monotone dense remap keeps tie order)
    kept = (
        spark.read.parquet(f"{out}/gen_0/docs")
        .select("doc_id", "url", "extracted_text")
        .toPandas()
    )
    kept = kept[~kept["url"].isin(doomed)].sort_values("doc_id").reset_index(drop=True)
    real_ids = kept["doc_id"].to_numpy()
    oracle = BM25Oracle(
        kept.assign(doc_id=np.arange(len(kept))).rename(
            columns={"extracted_text": "text"}
        )[["doc_id", "url", "text"]]
    )
    assert oracle.n_docs == 450

    qs = query_set(500)[["query_id", "query_text"]].head(12)
    hits = topk_all_generations(spark, out, qs, k=10).toPandas()
    for qid, row in qs.set_index("query_id").iterrows():
        want = oracle.topk(row["query_text"], k=10)
        got = hits[hits["query_id"] == qid].sort_values("rank")
        assert got["doc_id"].tolist() == [int(real_ids[d]) for d in want["doc_id"]], qid
        np.testing.assert_allclose(
            got["score"].to_numpy(), want["score"].to_numpy(), rtol=1e-9
        )

    # re-delete: already-tombstoned versions are not double-corrected,
    # and a no-op delete commits NO generation (manifest stays bounded)
    res2 = delete_documents(spark, out, doomed)
    assert res2 == {"generation": None, "deleted": 0}
    assert len(_generations(spark, out)) == 2
    hits2 = topk_all_generations(spark, out, qs, k=10).toPandas()
    pd.testing.assert_frame_equal(
        hits.sort_values(["query_id", "rank"]).reset_index(drop=True),
        hits2.sort_values(["query_id", "rank"]).reset_index(drop=True),
    )

    # full compaction: bodies dropped, delete-only generations replaced
    res3 = compact_generations(
        spark, out, salt_threshold=400, n_segments=4, n_buckets=4
    )
    assert res3["compacted"] and res3["n_docs"] == 450
    assert sorted(res3["replaced"]) == [-1, 0] and res3["generation"] == -2
    hits3 = topk_all_generations(spark, out, qs, k=10).toPandas()
    pd.testing.assert_frame_equal(
        hits.sort_values(["query_id", "rank"]).reset_index(drop=True),
        hits3.sort_values(["query_id", "rank"]).reset_index(drop=True),
    )


def test_streamed_root_filtered_serving_and_guard(spark, tmp_path):
    """A root streamed with filter_cols=['lang'] serves R3 filters
    oracle-identically; filtering on a key NO generation indexed raises
    instead of silently dropping those generations' documents."""
    from tests.test_filtered import oracle_filtered_topk
    from theoremsearch_spark.streaming.incremental import incremental_index

    root = str(tmp_path / "fstream")
    inp, out, chk = f"{root}/in", f"{root}/gens", f"{root}/chk"
    full = generate_documents(spark, 600, partitions=2).toPandas()
    spark.createDataFrame(full).repartition(1).write.parquet(f"{inp}/b0")
    incremental_index(
        spark, f"{inp}/*", out, chk, filter_cols=["lang"],
        salt_threshold=400, n_segments=4, n_buckets=4,
    ).start().awaitTermination(300)

    docs = (
        spark.read.parquet(f"{out}/gen_0/docs")
        .select("doc_id", "url", "lang", "extracted_text")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    oracle = BM25Oracle(
        docs.rename(columns={"extracted_text": "text"})[["doc_id", "url", "text"]]
    )
    allowed = docs.loc[docs["lang"] == "en", "doc_id"].to_numpy()
    qs = query_set(600)[["query_id", "query_text"]].head(8)
    hits = topk_all_generations(spark, out, qs, k=10, filters=["lang=en"]).toPandas()
    for qid, row in qs.set_index("query_id").iterrows():
        want = oracle_filtered_topk(oracle, row["query_text"], allowed, 10)
        got = hits[hits["query_id"] == qid].sort_values("rank")
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), qid
        np.testing.assert_allclose(
            got["score"].to_numpy(), want["score"].to_numpy(), rtol=1e-9
        )

    with pytest.raises(ValueError, match="filter_cols"):
        topk_all_generations(spark, out, qs, k=10, filters=["source=src1"])

    # RECORDED roots keep filter capability across compaction: stream a
    # second batch of fresh urls, full-compact, and filtered serving is
    # still oracle-identical over the union corpus
    from theoremsearch_spark.streaming.incremental import (
        _generations,
        compact_generations,
    )

    extra = generate_documents(spark, 700, partitions=2).toPandas().iloc[600:]
    spark.createDataFrame(extra).repartition(1).write.parquet(f"{inp}/b1")
    incremental_index(
        spark, f"{inp}/*", out, chk, filter_cols=["lang"],
        salt_threshold=400, n_segments=4, n_buckets=4,
    ).start().awaitTermination(300)
    res = compact_generations(
        spark, out, salt_threshold=400, n_segments=4, n_buckets=4
    )
    assert res["compacted"]
    gens = {g["gen"]: g for g in _generations(spark, out)}
    assert gens[res["generation"]].get("filter_cols") == ["lang"]

    docs2 = (
        spark.read.parquet(f"{out}/gen_{res['generation']}/docs")
        .select("doc_id", "url", "lang", "extracted_text")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    oracle2 = BM25Oracle(
        docs2.rename(columns={"extracted_text": "text"})[["doc_id", "url", "text"]]
    )
    allowed2 = docs2.loc[docs2["lang"] == "en", "doc_id"].to_numpy()
    hits2 = topk_all_generations(spark, out, qs, k=10, filters=["lang=en"]).toPandas()
    for qid, row in qs.set_index("query_id").iterrows():
        want = oracle_filtered_topk(oracle2, row["query_text"], allowed2, 10)
        got = hits2[hits2["query_id"] == qid].sort_values("rank")
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), qid


def test_compaction_of_unrecorded_filter_root_fails_loudly(spark, tmp_path):
    """Hand-built generations that indexed filter_terms WITHOUT
    recording filter_cols cannot be re-derived by compaction (their
    docs tables never persisted the filter columns' definitions) — the
    compacted generation records filter_cols=[], so the next filtered
    query raises at the guard instead of silently returning empty or
    partial results."""
    from theoremsearch_spark.build import build_index
    from theoremsearch_spark.stats import prepare_docs
    from theoremsearch_spark.streaming.incremental import (
        commit_generation,
        compact_generations,
    )

    out = str(tmp_path / "gens")
    full = generate_documents(spark, 400, partitions=2).toPandas()
    for gen, (lo, hi) in enumerate([(0, 200), (200, 400)]):
        gen_dir = f"{out}/gen_{gen}"
        docs = prepare_docs(
            spark.createDataFrame(full.iloc[lo:hi]), gen_dir, id_base=lo
        ).withColumn(
            "filter_terms", F.array(F.concat(F.lit("lang="), F.col("lang")))
        )
        build_index(docs, f"{gen_dir}/index", resume=False,
                    salt_threshold=400, n_segments=4, n_buckets=4)
        commit_generation(out, gen, lo, hi - lo)  # filter_cols UNRECORDED

    qs = query_set(400)[["query_id", "query_text"]].head(5)
    # pre-compaction: filters work (hand-built lists, trusted-None guard)
    assert topk_all_generations(spark, out, qs, k=5, filters=["lang=en"]).count() > 0
    res = compact_generations(
        spark, out, salt_threshold=400, n_segments=4, n_buckets=4
    )
    assert res["compacted"]
    with pytest.raises(ValueError, match="filter_cols"):
        topk_all_generations(spark, out, qs, k=5, filters=["lang=en"])


def test_reingest_twice_never_duplicates_tombstones(spark, tmp_path):
    """A url re-ingested TWICE: the second re-ingest must tombstone only
    the immediately-stale version (gen1's), not gen0's already-dead one.
    A duplicate would survive a tiered compaction that merges gen0+gen1
    (resolving only THEIR tombstone files) and then double-subtract the
    doc from the serving stat corrections — caught here by score
    identity against the latest-version oracle after exactly that
    merge."""
    from theoremsearch_spark.streaming.incremental import (
        compact_generations,
        incremental_index,
    )

    root = str(tmp_path / "reingest2")
    inp, out, chk = f"{root}/in", f"{root}/gens", f"{root}/chk"
    kw = dict(salt_threshold=400, n_segments=4, n_buckets=4)
    full = generate_documents(spark, 300, partitions=2).toPandas()

    spark.createDataFrame(full).repartition(1).write.parquet(f"{inp}/b0")
    incremental_index(spark, f"{inp}/*", out, chk, **kw).start().awaitTermination(300)

    mod1 = full.iloc[:250].copy()  # big re-ingest → gen1 sizes near gen0
    mod1["html"] = mod1["html"].map(lambda h: bytes(h) + b"<p>edition two</p>")
    spark.createDataFrame(mod1).repartition(1).write.parquet(f"{inp}/b1")
    incremental_index(spark, f"{inp}/*", out, chk, **kw).start().awaitTermination(300)

    mod2 = full.iloc[:30].copy()  # re-ingest a subset AGAIN
    mod2["html"] = mod2["html"].map(lambda h: bytes(h) + b"<p>edition three</p>")
    spark.createDataFrame(mod2).repartition(1).write.parquet(f"{inp}/b2")
    incremental_index(spark, f"{inp}/*", out, chk, **kw).start().awaitTermination(300)

    # gen2 tombstones: ONLY gen1's versions (ids >= 300); gen0's versions
    # of those urls are already dead and must not be re-tombstoned
    t2 = spark.read.parquet(f"{out}/gen_2/tombstones").toPandas()
    assert len(t2) == 30 and (t2["doc_id"] >= 300).all()

    # similar-size buckets at 0.5 merge gen0 (300) + gen1 (250), leaving
    # gen2 (30) — and its tombstones — outside the merge
    res = compact_generations(spark, out, tier_fraction=0.5, **kw)
    assert res["compacted"] and sorted(res["replaced"]) == [0, 1]
    _assert_serves_latest(spark, out, n_urls=300)


def test_multi_generation_filtered_serving(spark, tmp_path):
    """R3 filters across merged generations: filter-term posting lists
    built per generation must merge like any term, and filtered top-k
    must equal the oracle computed over the union corpus masked to the
    filter's doc set — completing the serving matrix
    ({single-index, multi-gen} × {unfiltered, filtered})."""
    from tests.test_filtered import oracle_filtered_topk
    from theoremsearch_spark.build import build_index
    from theoremsearch_spark.stats import prepare_docs
    from theoremsearch_spark.streaming.incremental import commit_generation

    out = str(tmp_path / "gens")
    full = generate_documents(spark, 1000, partitions=4).toPandas()
    for gen, (lo, hi) in enumerate([(0, 600), (600, 1000)]):
        gen_dir = f"{out}/gen_{gen}"
        docs = prepare_docs(
            spark.createDataFrame(full.iloc[lo:hi]), gen_dir, id_base=lo
        ).withColumn(
            "filter_terms", F.array(F.concat(F.lit("lang="), F.col("lang")))
        )
        build_index(docs, f"{gen_dir}/index", resume=False,
                    salt_threshold=400, n_segments=4, n_buckets=4)
        commit_generation(out, gen, lo, hi - lo)

    docs_all = pd.concat(
        [
            spark.read.parquet(f"{out}/gen_{g}/docs")
            .select("doc_id", "url", "lang", "extracted_text")
            .toPandas()
            for g in (0, 1)
        ]
    ).sort_values("doc_id").reset_index(drop=True)
    oracle = BM25Oracle(
        docs_all.rename(columns={"extracted_text": "text"})[["doc_id", "url", "text"]]
    )
    allowed = docs_all.loc[docs_all["lang"] == "en", "doc_id"].to_numpy()
    assert 0 < allowed.size < len(docs_all)

    qs = query_set(1000)[["query_id", "query_text"]].head(10)
    hits = topk_all_generations(
        spark, out, qs, k=10, filters=["lang=en"]
    ).toPandas()
    for qid, row in qs.set_index("query_id").iterrows():
        want = oracle_filtered_topk(oracle, row["query_text"], allowed, 10)
        got = hits[hits["query_id"] == qid].sort_values("rank")
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), qid
        np.testing.assert_allclose(
            got["score"].to_numpy(), want["score"].to_numpy(), rtol=1e-9
        )


def test_tiered_compaction_leaves_base_generation(spark, tmp_path):
    """Size-tiered compaction (tier_fraction): with generations of
    (600, 200, 200) docs only the two small ones are merged — the big
    base generation is NEVER rewritten, so compaction cost tracks the
    newly-streamed data, not the corpus. Serving stays bitwise
    rank-identical across the swap, and a second tiered run is a no-op
    (the merged generation no longer qualifies)."""
    from theoremsearch_spark.build import build_index
    from theoremsearch_spark.stats import prepare_docs
    from theoremsearch_spark.streaming.incremental import (
        _generations,
        commit_generation,
        compact_generations,
    )

    out = str(tmp_path / "gens")
    full = generate_documents(spark, 1000, partitions=4).toPandas()
    for gen, (lo, hi) in enumerate([(0, 600), (600, 800), (800, 1000)]):
        gen_dir = f"{out}/gen_{gen}"
        docs = prepare_docs(
            spark.createDataFrame(full.iloc[lo:hi]), gen_dir, id_base=lo
        )
        build_index(
            docs, f"{gen_dir}/index", resume=False,
            salt_threshold=400, n_segments=4, n_buckets=4,
        )
        commit_generation(out, gen, lo, hi - lo)

    qs = query_set(1000)[["query_id", "query_text"]].head(10)
    before = topk_all_generations(spark, out, qs, k=10).toPandas()

    # similar-size buckets at f=0.7: the two 200s share a bucket; the
    # 600 base sits alone → only the smalls merge
    res = compact_generations(
        spark, out, tier_fraction=0.7,
        salt_threshold=400, n_segments=4, n_buckets=4,
    )
    assert res["compacted"] and sorted(res["replaced"]) == [1, 2]
    live = sorted(g["gen"] for g in _generations(spark, out))
    assert live == [-1, 0]  # base gen 0 untouched, smalls merged into -1
    sizes = {g["gen"]: g["n_docs"] for g in _generations(spark, out)}
    assert sizes == {0: 600, -1: 400}

    after = topk_all_generations(spark, out, qs, k=10).toPandas()
    for df_ in (before, after):
        df_.sort_values(["query_id", "rank"], inplace=True)
        df_.reset_index(drop=True, inplace=True)
    pd.testing.assert_frame_equal(before, after)

    # at f=0.7 the merged 400 and the 600 base are NOT similar enough
    # (600 > 400/0.7) → no mergeable bucket → no-op
    res2 = compact_generations(
        spark, out, tier_fraction=0.7,
        salt_threshold=400, n_segments=4, n_buckets=4,
    )
    assert res2["compacted"] is False and res2["selected"] < 2


def test_tiered_compaction_merges_equal_size_stream(spark, tmp_path):
    """The steady-state streaming shape: equal-size micro-batches must
    land in ONE size bucket and compact — a policy keyed to the single
    largest generation would no-op forever and let generation count
    grow unboundedly."""
    from theoremsearch_spark.build import build_index
    from theoremsearch_spark.stats import prepare_docs
    from theoremsearch_spark.streaming.incremental import (
        _generations,
        commit_generation,
        compact_generations,
    )

    out = str(tmp_path / "gens")
    full = generate_documents(spark, 900, partitions=4).toPandas()
    for gen, (lo, hi) in enumerate([(0, 300), (300, 600), (600, 900)]):
        gen_dir = f"{out}/gen_{gen}"
        docs = prepare_docs(
            spark.createDataFrame(full.iloc[lo:hi]), gen_dir, id_base=lo
        )
        build_index(docs, f"{gen_dir}/index", resume=False,
                    salt_threshold=400, n_segments=4, n_buckets=4)
        commit_generation(out, gen, lo, hi - lo)

    res = compact_generations(
        spark, out, tier_fraction=0.5,
        salt_threshold=400, n_segments=4, n_buckets=4,
    )
    assert res["compacted"] and sorted(res["replaced"]) == [0, 1, 2]
    gens = _generations(spark, out)
    assert [g["gen"] for g in gens] == [-1] and gens[0]["n_docs"] == 900


def test_streaming_after_compaction_never_reuses_live_ids(spark, tmp_path):
    """Post-compaction id safety, through one checkpoint lineage (a gens
    root is bound to its checkpoint — batch ids must keep advancing):
    stream 500 docs, re-ingest 50 urls (tombstoning the stale bodies),
    compact (drops the 50 bodies: live count 500 < id high-water 550),
    then stream 30 FRESH urls. The new batch must allocate ids from the
    HIGH-WATER MARK (550) — a count-derived base would hand out ids
    500..529, which are held by LIVE re-ingested docs, silently merging
    two documents' postings at serve time."""
    from theoremsearch_spark.streaming.incremental import (
        _generations,
        compact_generations,
        incremental_index,
    )

    root = str(tmp_path / "idsafety")
    inp, out, chk = f"{root}/in", f"{root}/gens", f"{root}/chk"
    kw = dict(salt_threshold=400, n_segments=4, n_buckets=8)
    full = generate_documents(spark, 530, partitions=2).toPandas()

    spark.createDataFrame(full.iloc[:500]).repartition(1).write.parquet(f"{inp}/b0")
    incremental_index(spark, f"{inp}/*", out, chk, **kw).start().awaitTermination(300)

    mod = full.iloc[100:150].copy()
    mod["html"] = mod["html"].map(lambda h: bytes(h) + b"<p>zzupserted fresh content</p>")
    spark.createDataFrame(mod).repartition(1).write.parquet(f"{inp}/b1")
    incremental_index(spark, f"{inp}/*", out, chk, **kw).start().awaitTermination(300)

    res = compact_generations(spark, out, **kw)
    assert res["compacted"] and res["n_docs"] == 500  # 50 bodies dropped
    gens = _generations(spark, out)
    assert gens[0].get("id_end") == 550  # high-water mark preserved

    spark.createDataFrame(full.iloc[500:530]).repartition(1).write.parquet(f"{inp}/b2")
    incremental_index(spark, f"{inp}/*", out, chk, **kw).start().awaitTermination(300)

    new_gen = [g for g in _generations(spark, out) if g["gen"] >= 0]
    assert len(new_gen) == 1 and new_gen[0]["base"] == 550  # not 500
    new_ids = spark.read.parquet(
        f"{out}/gen_{new_gen[0]['gen']}/docs_offset"
    ).select("doc_id").toPandas()["doc_id"]
    assert new_ids.min() == 550 and new_ids.is_unique
    # end-to-end: serving still matches the latest-version oracle
    _assert_serves_latest(spark, out, n_urls=530)


def test_compact_generations_preserves_ranking(spark, stream_index):
    """Compaction merges all generations into one; the served top-k must
    be rank-identical (scores bitwise-equal) to multi-generation serving,
    and the superseded generations must vanish from the manifest view
    atomically (via the `replaces` field, one rename)."""
    import shutil

    from theoremsearch_spark.streaming.incremental import (
        _generations,
        compact_generations,
    )

    out = stream_index["out"]
    work = str(spark.conf.get("spark.local.dir", "/tmp"))
    copy = f"{work}/compact_copy"
    shutil.rmtree(copy, ignore_errors=True)
    shutil.copytree(out, copy)

    qs = query_set(N_DOCS)[["query_id", "query_text"]].head(15)
    before = topk_all_generations(spark, copy, qs, k=10).toPandas()

    res = compact_generations(
        spark, copy, salt_threshold=400, n_segments=4, n_buckets=8
    )
    assert res["compacted"] and sorted(res["replaced"]) == [0, 1]
    assert res["generation"] == -1  # negative namespace: never collides with future batch ids
    gens = _generations(spark, copy)
    assert [g["gen"] for g in gens] == [res["generation"]]
    assert gens[0]["n_docs"] == N_DOCS

    # raw manifest keeps superseded ids visible: an at-least-once replay
    # of a compacted-away micro-batch must still hit the idempotent skip
    from theoremsearch_spark.streaming.incremental import _raw_generations

    assert {0, 1, -1} <= {g["gen"] for g in _raw_generations(copy)}

    after = topk_all_generations(spark, copy, qs, k=10).toPandas()
    for df_ in (before, after):
        df_.sort_values(["query_id", "rank"], inplace=True)
        df_.reset_index(drop=True, inplace=True)
    pd.testing.assert_frame_equal(before, after)
    shutil.rmtree(copy, ignore_errors=True)


def test_multi_generation_chunked_serving_identical(spark, upsert_index):
    """topk_all_generations(max_batch=...) — the wide-side bounded-batch
    fix extended to streamed roots: (a) chunked results are bitwise
    identical to unchunked serving (scoring is per-query; global stats
    are batch-independent), and (b) the serve-time preparation jobs
    (tombstone artifact with the dead-doc counts, merged term stats)
    run ONCE, not once per chunk: the marginal job cost of an extra
    chunk is the scoring job alone."""
    out = upsert_index["out"]
    qs = query_set(1000)[["query_id", "query_text"]].head(16)
    sc = spark.sparkContext

    def jobs(fn):
        """(fn(), Spark jobs it launched from ANY thread): prep runs its
        passes on worker threads, which a thread-local job group misses,
        so count the job-id advance of the status store."""
        store, bus = sc._jsc.sc().statusStore(), sc._jsc.sc().listenerBus()

        def last_job_id() -> int:
            bus.waitUntilEmpty()  # job events land async
            js = store.jobsList(None)  # newest first
            return js.apply(0).jobId() if js.size() else -1

        before = last_job_id()
        res = fn()
        return res, last_job_id() - before

    def run(**kw):
        return jobs(lambda: (
            topk_all_generations(spark, out, qs, k=10, **kw)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        ))

    full, _ = run()
    # prep is eager and scoring lazy: an unchunked call with no action
    # launches exactly the preparation jobs
    _, prep = jobs(lambda: topk_all_generations(spark, out, qs, k=10))
    two, j2 = run(max_batch=8)   # 16 queries -> 2 chunks
    four, j4 = run(max_batch=4)  # -> 4 chunks
    pd.testing.assert_frame_equal(full, two)
    pd.testing.assert_frame_equal(full, four)
    # job-count lock: with shared prep, J(c) = P + c*s + t (P = prep
    # jobs, s = scoring jobs per chunk, t = the final local-relation
    # collect, at most 1 job), so the intercept 2*j2 - j4 = P + t must
    # carry the P prep jobs measured above. If prep re-ran per chunk,
    # J(c) = c*(P+s) + t and the intercept collapses to t < P: the
    # fixture has tombstones, so P counts two independent passes
    # (tombstone artifact, term-dictionary scan).
    assert prep >= 2, f"prep launched {prep} jobs"
    intercept = 2 * j2 - j4
    assert intercept >= prep, (
        f"prep jobs not shared across chunks (prep={prep}, j2={j2}, j4={j4})"
    )

    # the unranked k=0 conjunctive pool chunks too, with its own schema
    def pool(**kw):
        return (
            topk_all_generations(spark, out, qs, k=0, mode="and", rank=False, **kw)
            .toPandas()
            .sort_values(["query_id", "doc_id"])
            .reset_index(drop=True)
        )

    whole_pool = pool()
    assert len(whole_pool) > 0
    pd.testing.assert_frame_equal(whole_pool, pool(max_batch=4), check_dtype=False)


def test_vacuum_reclaims_superseded_generations(spark, stream_index):
    """stream -> compact -> vacuum: superseded gen_*/ dirs are deleted
    (bytes actually reclaimed), the manifest RECORDS survive so an
    at-least-once replay of a compacted-away micro-batch still hits the
    raw-manifest idempotency skip, serving stays bitwise identical, the
    grace window defers deletion, and re-vacuuming is a no-op."""
    import os
    import shutil

    from theoremsearch_spark.streaming.incremental import (
        _generations,
        _raw_generations,
        compact_generations,
        vacuum_generations,
    )

    out = stream_index["out"]
    work = str(spark.conf.get("spark.local.dir", "/tmp"))
    copy = f"{work}/vacuum_copy"
    shutil.rmtree(copy, ignore_errors=True)
    shutil.copytree(out, copy)

    qs = query_set(N_DOCS)[["query_id", "query_text"]].head(15)
    before = topk_all_generations(spark, copy, qs, k=10).toPandas()
    res = compact_generations(spark, copy, salt_threshold=400, n_segments=4, n_buckets=8)
    assert res["compacted"] and sorted(res["replaced"]) == [0, 1]

    # grace window: superseding manifest is seconds old -> nothing dies
    young = vacuum_generations(copy, min_age_seconds=3600)
    assert young["vacuumed"] == [] and sorted(young["kept_young"]) == [0, 1]
    assert os.path.isdir(f"{copy}/gen_0") and os.path.isdir(f"{copy}/gen_1")

    v = vacuum_generations(copy)
    assert sorted(v["vacuumed"]) == [0, 1] and v["bytes_freed"] > 0
    assert not os.path.exists(f"{copy}/gen_0")
    assert not os.path.exists(f"{copy}/gen_1")
    assert os.path.isdir(f"{copy}/gen_{res['generation']}")

    # manifest records intact: replay idempotency + live view unchanged
    assert {0, 1, res["generation"]} <= {g["gen"] for g in _raw_generations(copy)}
    assert [g["gen"] for g in _generations(spark, copy)] == [res["generation"]]

    after = topk_all_generations(spark, copy, qs, k=10).toPandas()
    for df_ in (before, after):
        df_.sort_values(["query_id", "rank"], inplace=True)
        df_.reset_index(drop=True, inplace=True)
    pd.testing.assert_frame_equal(before, after)

    # idempotent re-vacuum
    assert vacuum_generations(copy) == {
        "vacuumed": [], "kept_young": [], "bytes_freed": 0
    }
    shutil.rmtree(copy, ignore_errors=True)
