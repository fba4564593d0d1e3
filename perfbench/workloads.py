"""The benchmark's workloads: `serve` and `upsert`.

Each is a closed loop with one client: the next call is issued only after
the previous one returned and its result was materialized. A workload has
four phases, all driven by `run.py`:

  setup   build the seeded inputs and the initial index or generation root,
          then run an untimed warm-up pass of the workload's own call mix
          (the JVM and the Python workers are much slower on first use);
  timed   a fixed, seeded sequence of calls whose length is a fixed
          function of `--seconds`; every call's wall and CPU time are
          recorded;
  check   results are compared with the repo's BM25 oracle
          (`tests/oracle.py`), outside the timed phase;
  report  the work units done and the size counts.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import numpy as np
import pandas as pd

from perfbench import inputs
from perfbench.hostinfo import dir_bytes, tree_cpu_s

K = 10
RTOL = 1e-9  # the oracle sums float64 in the engine's term order; avgdl may differ in the last bits


class Client:
    """Shared state of one run: the Spark session, the tracer, the work
    directory, and the record of timed calls."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: int, cores: int, tiny: bool):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds, self.cores, self.tiny = seed, seconds, cores, tiny
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failed = 0
        self.walls: dict[str, list[float]] = {}
        self.cpus: dict[str, list[float]] = {}  # CPU seconds of the process tree per call

    def call(self, kind: str, fn):
        """Run one client call; in the timed phase record its wall and CPU
        time under `kind`. A call that raises counts as failed and returns
        None."""
        timed = self.tracer.phase == "timed"
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            out = fn()
        except Exception:  # a failed call is a measured outcome, not a crash
            traceback.print_exc(file=sys.stderr)
            out = None
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        if timed:
            self.attempted += 1
            self.failed += out is None
            if out is not None:
                self.walls.setdefault(kind, []).append(wall)
                self.cpus.setdefault(kind, []).append(cpu)
        return out


def stratified_shapes(rng: np.random.Generator, n: int) -> list[str]:
    """`n` request shapes in the serve mix's exact shares (each shape at
    least once), in a seeded order."""
    counts = [max(1, int(round(n * p))) for p in inputs.SHAPE_P]
    counts[0] += n - sum(counts)
    shapes = [s for s, c in zip(inputs.SHAPES, counts) for _ in range(c)]
    return list(rng.permutation(shapes))


def _ranked(pdf: pd.DataFrame, qid: int) -> tuple[list[int], np.ndarray]:
    got = pdf[pdf["query_id"] == qid].sort_values("rank")
    return got["doc_id"].astype(int).tolist(), got["score"].to_numpy()


def _same(got_ids, got_scores, want_ids, want_scores) -> bool:
    return got_ids == list(want_ids) and np.allclose(got_scores, want_scores, rtol=RTOL, atol=0)


def _oracle_expect(oracle, text: str, shape: str, en_mask: np.ndarray):
    """Oracle top-k (dense doc ids, scores) for one request shape."""
    if shape == "and":
        want = oracle.topk_mode(text, K, mode="and")
    elif shape == "phrase":
        want = oracle.topk_mode(text, K, mode="and", phrase=True)
    elif shape == "lang_en_or":
        s = np.where(en_mask, oracle.score(text), 0.0)
        nz = np.flatnonzero(s > 0)
        order = nz[np.argsort(-s[nz], kind="stable")][:K]
        return order, s[order]
    else:
        want = oracle.topk(text, K)
    return want["doc_id"].to_numpy(), want["score"].to_numpy()


def _compare(oracle, calls, en_mask=None, real_ids=None) -> dict:
    """Compare each timed call's answer with the oracle. `calls` holds one
    (answer frame, [(query_id, text, shape), ...]) per call; `real_ids`
    maps the oracle's dense ids to engine doc ids. A call whose row count
    differs from the oracle's fails."""
    checked = identical = wrong_rows = 0
    for out, cases in calls:
        rows = 0
        for qid, text, shape in cases:
            want_ids, want_scores = _oracle_expect(oracle, text, shape, en_mask)
            if real_ids is not None:
                want_ids = real_ids[want_ids]
            want_ids = [int(d) for d in want_ids]
            got_ids, got_scores = _ranked(out, qid)
            ok = _same(got_ids, got_scores, want_ids, want_scores)
            checked += 1
            identical += ok
            rows += len(want_ids)
            if not ok:
                print(f"perfbench: {shape} {text!r}: got {got_ids} want {want_ids}", file=sys.stderr)
        wrong_rows += len(out) != rows
    return {"checked": checked, "identical": identical, "wrong_rows": wrong_rows,
            "failed_calls": wrong_rows}


def _build_kwargs(n_docs: int, cores: int) -> dict:
    return dict(salt_threshold=max(200, n_docs // 3), n_segments=cores, n_buckets=cores)


class Serve:
    """Static index; interactive single-query requests with a bulk request
    interleaved after every INTERACTIVE_PER_BULK of them."""

    N_DOCS = 3_000
    INTERACTIVE_PER_BULK = 6
    BULK_QUERIES, BULK_MAX_BATCH = 256, 64
    BLOCK_S = 6.0  # one block (6 interactive + 1 bulk) takes about 9 s on 4 cores

    def __init__(self, c: Client):
        self.c = c
        self.n_docs = 1_500 if c.tiny else self.N_DOCS
        self.bulk_n = 64 if c.tiny else self.BULK_QUERIES
        self.bulk_batch = 16 if c.tiny else self.BULK_MAX_BATCH
        self.dir = f"{c.work}/serve"
        self.results: list[tuple[str, object, pd.DataFrame | None]] = []  # kind, request, answer

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from theoremsearch_spark import build, positions, stats
        from theoremsearch_spark.corpus import DOCUMENTS_SCHEMA

        c = self.c
        start = inputs.window_start(c.seed)
        self.corpus = inputs.documents(range(start, start + self.n_docs))
        c.spark.createDataFrame(self.corpus, schema=DOCUMENTS_SCHEMA).write.parquet(
            f"{c.work}/documents")
        documents = c.spark.read.parquet(f"{c.work}/documents")
        docs = stats.prepare_docs(documents, self.dir, num_partitions=2 * c.cores)
        docs = docs.withColumn("filter_terms", F.array(F.concat(F.lit("lang="), F.col("lang"))))
        build.build_index(docs, f"{self.dir}/index", resume=False,
                          **_build_kwargs(self.n_docs, c.cores))
        positions.build_positions(docs, f"{self.dir}/index", n_buckets=c.cores)
        n_blocks = max(1, round(c.seconds / self.BLOCK_S))
        n_inter = n_blocks * self.INTERACTIVE_PER_BULK
        self.sequence = self._sequence(stratified_shapes(c.rng, n_inter))
        # untimed: per-request CPU keeps falling for the first several calls
        warm = ["head_or", "head_or", "stopword_or", "and", "head_or", "phrase"]
        self.warm = self._sequence(warm, bulk_every=len(warm), bulk_n=2 * self.bulk_batch)

    def _sequence(self, shapes: list[str], bulk_every: int | None = None,
                  bulk_n: int | None = None) -> list:
        every = bulk_every or self.INTERACTIVE_PER_BULK
        seq = []
        for i, shape in enumerate(shapes, 1):
            seq.append(inputs.request(self.c.rng, self.corpus, shape, n_terms=2 + i % 3))
            if i % every == 0:
                seq.append(inputs.bulk_queries(self.c.rng, bulk_n or self.bulk_n))
        return seq

    def _interactive(self, req: inputs.Request) -> pd.DataFrame:
        from theoremsearch_spark import query

        c, idx, q = self.c, f"{self.dir}/index", inputs.one_query(req.text)
        if req.shape == "phrase":
            with c.tracer.span("query.phrase_topk"):
                return query.phrase_topk(c.spark, idx, f"{self.dir}/docs", q, k=K,
                                         positions_dir=f"{idx}/positions").toPandas()
        with c.tracer.span("query.topk.prep"):
            df = query.topk(c.spark, idx, q, k=K, **req.kwargs)
        with c.tracer.span("query.topk.exec"):
            return df.toPandas()

    def _bulk(self, qs: pd.DataFrame) -> pd.DataFrame:
        from theoremsearch_spark import query

        c = self.c
        with c.tracer.span("query.topk_batched"):
            return query.topk_batched(c.spark, f"{self.dir}/index", qs, k=K,
                                      max_batch=self.bulk_batch).toPandas()

    def _play(self, seq, keep: bool) -> None:
        for item in seq:
            if isinstance(item, inputs.Request):
                out = self.c.call("interactive", lambda: self._interactive(item))
                if keep:
                    self.results.append(("interactive", item, out))
            else:
                out = self.c.call("bulk", lambda: self._bulk(item))
                if keep:
                    self.results.append(("bulk", item, out))

    def warmup(self) -> None:
        self._play(self.warm, keep=False)

    def timed(self) -> None:
        self._play(self.sequence, keep=True)

    def check(self) -> dict:
        from tests.oracle import BM25Oracle

        ids = pd.read_parquet(f"{self.dir}/docs", columns=["doc_id", "url"])
        truth = ids.merge(self.corpus[["url", "text", "lang"]], on="url", validate="one_to_one")
        oracle = BM25Oracle(truth[["doc_id", "url", "text"]])
        en_mask = truth.sort_values("doc_id")["lang"].to_numpy() == "en"
        calls = []
        for kind, item, out in self.results:
            if out is None:
                continue
            if kind == "interactive":
                calls.append((out, [(0, item.text, item.shape)]))
            else:
                calls.append((out, [(int(i), t, "head_or")
                                    for i, t in zip(item["query_id"], item["query_text"])]))
        return _compare(oracle, calls, en_mask=en_mask)

    def report(self) -> dict:
        """Work units: queries answered by the timed calls."""
        c = self.c
        html = float(self.corpus["html"].map(len).sum())
        idx = f"{self.dir}/index"
        return {
            "work": len(c.walls.get("interactive", [])) + self.bulk_n * len(c.walls.get("bulk", [])),
            "stored_bytes_per_input_byte": dir_bytes(f"{self.dir}/docs", idx) / html,
            "counts": {
                "stats.docs_bytes": dir_bytes(f"{self.dir}/docs"),
                "build.postings_bytes": dir_bytes(f"{idx}/postings"),
                "positions.bytes": dir_bytes(f"{idx}/positions"),
                "incremental.live_generations": 0,
                "incremental.tombstone_rows": 0,
                "incremental.compact_bytes_rewritten": 0,
            },
            "properties": {
                "stopword_share": sum(
                    k == "interactive" and r.shape == "stopword_or" for k, r, _ in self.results
                ) / max(1, sum(k == "interactive" for k, _, _ in self.results)),
            },
        }


class Upsert:
    """A generation root under a stream of micro-batch upserts, deletes
    and interactive queries, with periodic size-tiered compaction."""

    N_BASE = 1_200
    BATCH = 240  # half re-ingested urls with changed text, half new urls
    DELETES = 12
    QUERIES_PER_CYCLE = 3  # OR requests; the last cycle serves FINAL_SHAPES instead
    WARM_QUERIES = 2
    FINAL_SHAPES = ("head_or", "stopword_or", "and", "phrase")
    COMPACT_EVERY = 2
    CYCLE_S = 6.0  # one cycle takes about 15 s on 4 cores, compaction included
    TIER_FRACTION = 0.5

    def __init__(self, c: Client):
        self.c = c
        self.n_base = 800 if c.tiny else self.N_BASE
        self.batch = 100 if c.tiny else self.BATCH
        self.deletes = 10 if c.tiny else self.DELETES
        self.root, self.chk = f"{c.work}/root", f"{c.work}/chk"
        self.staging, self.landing = f"{c.work}/staging", f"{c.work}/in"
        self.kwargs = _build_kwargs(self.n_base, c.cores)
        self.changed = 0
        self.compact_bytes = 0
        self.cycle_walls: list[float] = []

    # -- inputs ---------------------------------------------------------
    def _plan(self, n_cycles: int) -> None:
        """Seeded cycle inputs, derived only from the benchmark's own view
        of which urls are live: (batch frame, urls to delete) per cycle."""
        c, rng = self.c, self.c.rng
        start = inputs.window_start(c.seed)
        base = inputs.documents(range(start, start + self.n_base))
        self.live = {u: (t, l, len(h)) for u, t, l, h in
                     zip(base["url"], base["text"], base["lang"], base["html"])}
        self.number = dict(zip(base["url"], range(start, start + self.n_base)))
        self.batches = [base]  # batch i is ingested by cycle i; cycle 0 (warm-up) has none
        self.delete_sets = []
        nxt = start + self.n_base
        for cycle in range(n_cycles + 1):
            urls = sorted(self.live)
            n_re = self.batch // 2 if cycle else 0
            pick = rng.choice(len(urls), n_re + self.deletes, replace=False)
            re_urls = [urls[i] for i in pick[:n_re]]
            self.delete_sets.append([urls[i] for i in pick[n_re:]])
            if cycle:
                marker = f"rev{cycle} " + inputs.or_query(rng, stopword=False)
                fresh = range(nxt, nxt + self.batch - n_re)
                nxt += len(fresh)
                batch = pd.concat([inputs.documents([self.number[u] for u in re_urls], marker),
                                   inputs.documents(fresh)], ignore_index=True)
                for u, t, l, h in zip(batch["url"], batch["text"], batch["lang"], batch["html"]):
                    self.live[u] = (t, l, len(h))
                self.number.update(zip(batch["url"].iloc[n_re:], fresh))
                self.batches.append(batch)
            for u in self.delete_sets[-1]:
                del self.live[u]
        self.queries = [
            [inputs.request(rng, None, "head_or", n_terms=2 + i % 3)
             for i in range(self.QUERIES_PER_CYCLE if cycle else self.WARM_QUERIES)]
            for cycle in range(n_cycles)
        ]
        final = pd.DataFrame({"text": [t for t, _, _ in self.live.values()]})
        self.queries.append([inputs.request(rng, final, s) for s in self.FINAL_SHAPES])

    def setup(self) -> None:
        from theoremsearch_spark.corpus import DOCUMENTS_SCHEMA

        c = self.c
        self.n_cycles = max(2, round(c.seconds / self.CYCLE_S))
        self._plan(self.n_cycles)
        for i, batch in enumerate(self.batches):
            c.spark.createDataFrame(batch, schema=DOCUMENTS_SCHEMA).coalesce(2).write.parquet(
                f"{self.staging}/b{i:04d}")
        os.makedirs(self.landing)
        self._ingest(0)

    def _ingest(self, i: int) -> None:
        from theoremsearch_spark.streaming.incremental import incremental_index

        c = self.c
        os.rename(f"{self.staging}/b{i:04d}", f"{self.landing}/b{i:04d}")  # lands atomically
        with c.tracer.span("incremental.ingest"):
            incremental_index(c.spark, f"{self.landing}/*", self.root, self.chk,
                              filter_cols=["lang"], **self.kwargs).start().awaitTermination()

    def _delete(self, i: int) -> dict:
        from theoremsearch_spark.streaming.incremental import delete_documents

        with self.c.tracer.span("incremental.delete_documents"):
            return delete_documents(self.c.spark, self.root, self.delete_sets[i])

    def _compact(self) -> dict:
        from theoremsearch_spark.streaming.incremental import compact_generations

        with self.c.tracer.span("incremental.compact_generations"):
            res = compact_generations(self.c.spark, self.root, tier_fraction=self.TIER_FRACTION,
                                      **self.kwargs)
        if res.get("compacted") and self.c.tracer.phase == "timed":
            self.compact_bytes += dir_bytes(f"{self.root}/gen_{res['generation']}")
        return res

    def _query(self, req: inputs.Request) -> pd.DataFrame:
        from theoremsearch_spark.streaming.incremental import (
            phrase_topk_all_generations, topk_all_generations)

        c, q = self.c, inputs.one_query(req.text)
        if req.shape == "phrase":
            with c.tracer.span("incremental.phrase_topk_all_generations"):
                return phrase_topk_all_generations(c.spark, self.root, q, k=K).toPandas()
        with c.tracer.span("incremental.topk_all_generations.prep"):
            df = topk_all_generations(c.spark, self.root, q, k=K, **req.kwargs)
        with c.tracer.span("incremental.topk_all_generations.exec"):
            out = df.toPandas()
        if req.shape in ("head_or", "stopword_or") and len(out) != K:
            # every OR request has >= K matching live docs
            raise RuntimeError(f"{len(out)} rows for {req.text!r}, expected {K}")
        return out

    def _cycle(self, i: int, compact: bool) -> None:
        c = self.c
        timed = c.tracer.phase == "timed"
        t0 = time.perf_counter()
        if i and c.call("write", lambda: self._ingest(i) or True) and timed:
            self.changed += len(self.batches[i])
        res = c.call("write", lambda: self._delete(i))
        if res and timed:
            self.changed += res["deleted"]
        if compact:
            c.call("write", self._compact)
        # the last cycle's answers are checked against the final live corpus
        self.answers = [(req, c.call("interactive", lambda: self._query(req)))
                        for req in self.queries[i]]
        self.cycle_walls.append(time.perf_counter() - t0)

    def warmup(self) -> None:
        """Deletes and queries; the base ingest already warmed the ingest path."""
        self._cycle(0, compact=False)

    def timed(self) -> None:
        from theoremsearch_spark.streaming.incremental import _generations

        self.live_gens = []
        for t in range(1, self.n_cycles + 1):
            self._cycle(t, compact=t % self.COMPACT_EVERY == 0)
            self.live_gens.append(len(_generations(self.c.spark, self.root)))

    def check(self) -> dict:
        """Compare the last cycle's answers (OR, stopword OR, AND, phrase,
        served after the run's last compaction) with the oracle over the
        live latest-version corpus."""
        from tests.oracle import BM25Oracle
        from theoremsearch_spark.streaming.incremental import _docs_path, _generations

        c = self.c
        gens = _generations(c.spark, self.root)
        ids = pd.concat([pd.read_parquet(_docs_path(self.root, g["gen"]), columns=["doc_id", "url"])
                         for g in gens if not g.get("delete_only")])
        latest = ids[ids["url"].isin(self.live.keys())].groupby("url", as_index=False)["doc_id"].max()
        latest = latest.sort_values("doc_id").reset_index(drop=True)
        latest["text"] = latest["url"].map(lambda u: self.live[u][0])
        oracle = BM25Oracle(latest.assign(doc_id=np.arange(len(latest))))
        calls = [(out, [(0, req.text, req.shape)]) for req, out in self.answers if out is not None]
        return _compare(oracle, calls, real_ids=latest["doc_id"].to_numpy())

    def report(self) -> dict:
        from theoremsearch_spark.streaming.incremental import _docs_path, _generations

        gens = _generations(self.c.spark, self.root)
        index_gens = [g["gen"] for g in gens if not g.get("delete_only")]
        index_dirs = [f"{self.root}/gen_{g}" for g in index_gens]
        tomb = [f"{self.root}/gen_{g['gen']}/tombstones" for g in gens]
        tomb_rows = sum(len(pd.read_parquet(t, columns=["doc_id"])) for t in tomb if os.path.isdir(t))
        html = float(sum(h for _, _, h in self.live.values()))
        return {
            "work": self.changed,  # docs ingested + deleted by the timed calls
            "stored_bytes_per_input_byte": dir_bytes(self.root) / html,
            "counts": {
                "stats.docs_bytes": sum(dir_bytes(_docs_path(self.root, g)) for g in index_gens),
                "build.postings_bytes": sum(dir_bytes(f"{d}/index/postings") for d in index_dirs),
                "positions.bytes": sum(dir_bytes(f"{d}/index/positions") for d in index_dirs),
                "incremental.live_generations": len(gens),
                "incremental.tombstone_rows": tomb_rows,
                "incremental.compact_bytes_rewritten": self.compact_bytes,
            },
            "properties": {
                "live_generations_per_cycle": self.live_gens,
                "cycles": self.n_cycles,
                "cycle_walls_s": self.cycle_walls,
                "docs_changed": self.changed,
            },
        }


WORKLOADS = {"serve": Serve, "upsert": Upsert}
