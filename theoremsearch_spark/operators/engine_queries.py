"""Driver-harness entries that exercise the REAL engine end-to-end.

`bm25_topk` builds the inverted index (salted, compressed, block-max)
over the driver's `documents` table and serves a fixed query batch —
then the DuckDB oracle recomputes BM25 from first principles in pure
SQL (tokenize → tf → df → dl → score → top-k). Matching hashes mean
the entire build+query pipeline (codec included) reproduces the
textbook formula, independently implemented twice.

`bm25_topk_filtered` is the reference's R3 serving shape — conjunctive
metadata predicates INSIDE the ranked query
(/root/reference/streamlit_app.py:276-282): `lang`/`source` are indexed
as filter-term posting lists at build time and intersected before any
scoring; the oracle applies the same WHERE before ORDER BY/LIMIT.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

import pandas as pd
from pyspark.sql import functions as F

from theoremsearch_spark.build import DEFAULT_B, DEFAULT_K1, build_index
from theoremsearch_spark.operators.relational import t
from theoremsearch_spark.query import topk

HARNESS_QUERIES = [
    (0, "spark window merge"),
    (1, "hash join scan"),
    (2, "stream batch dup"),
    (3, "the fast key"),
    (4, "table sort order part"),
]
K = 10
_INDEX_VERSION = "v5"  # bump when index layout / build inputs change


def _content_key(sf_dir: str) -> str:
    """Cache key over the INPUT CONTENT (file sizes + mtimes), not just
    the path — a regenerated parquet at the same path must invalidate
    the cached index (round-1 staleness bug)."""
    p = os.path.join(sf_dir, "documents.parquet")
    parts = [_INDEX_VERSION, sf_dir]
    if os.path.isdir(p):
        for name in sorted(os.listdir(p)):
            st = os.stat(os.path.join(p, name))
            parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(p):
        st = os.stat(p)
        parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def _index_dir(sf_dir: str) -> str:
    return os.path.join(tempfile.gettempdir(), f"ts_harness_index_{_content_key(sf_dir)}")


def _ensure_index(spark, sf_dir: str) -> str:
    out = _index_dir(sf_dir)
    marker = os.path.join(out, "_done")
    if not os.path.exists(marker):
        d = t(spark, sf_dir, "documents")
        docs = d.select(
            "doc_id",
            F.col("text").alias("extracted_text"),
            F.size(F.split(F.col("text"), " ")).alias("doc_len"),
            # metadata predicates as posting lists (reference R3)
            F.array(
                F.concat(F.lit("lang="), F.col("lang")),
                F.concat(F.lit("source="), F.col("source")),
            ).alias("filter_terms"),
        )
        build_index(
            docs, out, salt_threshold=200, n_segments=4, n_buckets=8, resume=False
        )
        from theoremsearch_spark.positions import build_positions

        build_positions(docs, out)
        d.select("doc_id", "n_chars", "lang", "source").write.mode("overwrite").parquet(
            os.path.join(out, "docsmeta")
        )
        open(marker, "w").close()
    return out


def q_bm25_topk(spark, sf_dir):
    idx = _ensure_index(spark, sf_dir)
    qs = pd.DataFrame(HARNESS_QUERIES, columns=["query_id", "query_text"])
    hits = topk(spark, idx, qs, k=K)
    return hits.select(
        "query_id", "rank", "doc_id", F.round("score", 4).alias("score")
    ).orderBy("query_id", "rank")


# R3 filter set: one required term + one OR-group, mixed heavy/light
# (lang=en matches ~45% of sf0.01 docs → salted list; sources are light)
FILTERS = ["lang=en", ["source=src1", "source=src2", "source=src3"]]


def _filters_to_where(filters, alias: str = "d") -> str:
    """Derive the oracle WHERE from the engine's FILTERS list — single
    source of truth, so filter-semantics drift between the Spark query
    and the DuckDB oracle is structurally impossible. A string entry is
    a required `key=value` filter term; a list entry is an OR-group
    (rendered as `key IN (...)` when the alternatives share one key)."""
    clauses = []
    for f in filters:
        if isinstance(f, str):
            k, v = f.split("=", 1)
            clauses.append(f"{alias}.{k} = '{v}'")
        else:
            kvs = [alt.split("=", 1) for alt in f]
            if len({k for k, _ in kvs}) == 1:
                vals = ", ".join(f"'{v}'" for _, v in kvs)
                clauses.append(f"{alias}.{kvs[0][0]} IN ({vals})")
            else:
                ors = " OR ".join(f"{alias}.{k} = '{v}'" for k, v in kvs)
                clauses.append(f"({ors})")
    return " AND ".join(clauses)


_FILTER_WHERE = _filters_to_where(FILTERS)


def q_bm25_topk_filtered(spark, sf_dir):
    """Filtered top-k (reference R3): conjunctive metadata predicates
    pushed into posting intersection — candidates outside the filter
    never score, exactly WHERE-before-ORDER-BY."""
    idx = _ensure_index(spark, sf_dir)
    qs = pd.DataFrame(HARNESS_QUERIES, columns=["query_id", "query_text"])
    hits = topk(spark, idx, qs, k=K, filters=FILTERS)
    return hits.select(
        "query_id", "rank", "doc_id", F.round("score", 4).alias("score")
    ).orderBy("query_id", "rank")


RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
RRF_POOL = 50  # per-list candidate pool before fusion


def q_hybrid_rrf_topk(spark, sf_dir):
    """Hybrid fulltext × vector search via reciprocal-rank fusion:
    BM25 top-RRF_POOL (the real inverted index) and cosine top-RRF_POOL
    (per-query vector = the query id's own embedding) are full-outer
    merged on (query_id, doc_id) and rescored
    `rrf = Σ 1/(RRF_K + rank_list)` — a doc present in both lists
    outranks a same-rank doc present in one. The reference serves the
    two modalities separately (pgvector `<#>` scan,
    /root/reference/streamlit_app.py:275-282; slogan text match); this
    is the fused serving shape a search engine runs on top of both
    indexes. Scale: both inputs are ALREADY top-k outputs (Q·pool rows),
    so the fusion join is driver-trivial no matter the corpus size."""
    from theoremsearch_spark.functions.similarity import brute_force_topk

    idx = _ensure_index(spark, sf_dir)
    qs = pd.DataFrame(HARNESS_QUERIES, columns=["query_id", "query_text"])
    text = topk(spark, idx, qs, k=RRF_POOL).select(
        "query_id", "doc_id", F.col("rank").alias("trank")
    )
    emb = t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") < len(HARNESS_QUERIES)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    vec = brute_force_topk(emb, qv, k=RRF_POOL).select(
        "query_id", F.col("vec_id").alias("doc_id"), F.col("rnk").alias("vrank")
    )
    return rrf_fuse(text, vec, k=K).orderBy("query_id", "rnk")


def rrf_fuse(text, vec, k: int = K, rrf_k: int = RRF_K):
    """Fuse two per-query rankings — (query_id, doc_id, trank) and
    (query_id, doc_id, vrank) — by reciprocal-rank fusion: full-outer
    merge, `rrf = Σ 1/(rrf_k + rank)` (an absent list contributes 0),
    re-rank by (rrf DESC, doc_id ASC), keep k."""
    fused = text.join(vec, ["query_id", "doc_id"], "full_outer")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("trank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("vrank")), F.lit(0.0)),
        6,
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.select("query_id", "doc_id", rrf.alias("rrf"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "doc_id", "rrf", "rnk")
    )


def _hybrid_rrf_oracle_sql() -> str:
    return f"""
        WITH {_bm25_scored_cte()},
        tpool AS (
            SELECT * FROM (
                SELECT query_id, doc_id, row_number() OVER (
                    PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS trank
                FROM scored)
            WHERE trank <= {RRF_POOL}),
        qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
               FROM embeddings WHERE vec_id < {len(HARNESS_QUERIES)}),
        vs AS (
            SELECT qv.query_id, e.vec_id AS doc_id,
                   round(list_cosine_similarity(qv.qvec, CAST(e.embedding AS DOUBLE[])), 4) AS cos
            FROM embeddings e CROSS JOIN qv),
        vpool AS (
            SELECT * FROM (
                SELECT query_id, doc_id, row_number() OVER (
                    PARTITION BY query_id ORDER BY cos DESC, doc_id ASC) AS vrank
                FROM vs)
            WHERE vrank <= {RRF_POOL}),
        fused AS (
            SELECT coalesce(t.query_id, v.query_id) AS query_id,
                   coalesce(t.doc_id, v.doc_id) AS doc_id,
                   round(coalesce(CAST(1.0 AS DOUBLE) / ({RRF_K} + t.trank), 0)
                         + coalesce(CAST(1.0 AS DOUBLE) / ({RRF_K} + v.vrank), 0), 6) AS rrf
            FROM tpool t FULL OUTER JOIN vpool v
              ON t.query_id = v.query_id AND t.doc_id = v.doc_id),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rnk
            FROM fused)
        SELECT query_id, doc_id, rrf, rnk FROM ranked WHERE rnk <= {K}
        ORDER BY query_id, rnk
    """


def _bm25_scored_cte(
    corpus: str = "documents", queries=HARNESS_QUERIES, with_nt: bool = False
) -> str:
    """Shared CTE chain: textbook BM25 over `corpus` (a table name or a
    prior CTE with doc_id, text), one score row per (query, doc) with
    global corpus statistics. `with_nt` adds `nt` = the number of
    DISTINCT query terms the doc matched (conjunctive serving's
    qualification count)."""
    qvals = ", ".join(
        f"({qid}, '{term}')" for qid, text in queries for term in sorted(set(text.split()))
    )
    nt = ", count(*) AS nt" if with_nt else ""
    return f"""
        tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {corpus}),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        q(query_id, term) AS (VALUES {qvals}),
        scored AS (
            SELECT q.query_id, tf.doc_id,
                   sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                       * tf.tf * ({DEFAULT_K1} + 1)
                       / (tf.tf + {DEFAULT_K1} * (1 - {DEFAULT_B} + {DEFAULT_B} * dl.dl / stats.avgdl))
                   ) AS s{nt}
            FROM tf JOIN q USING (term) JOIN df USING (term)
                 JOIN dl USING (doc_id) CROSS JOIN stats
            GROUP BY 1, 2)"""


def _bm25_oracle_sql() -> str:
    return f"""
        WITH {_bm25_scored_cte()},
        ranked AS (
            SELECT query_id, doc_id, s,
                   row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS rank
            FROM scored)
        SELECT query_id, rank, doc_id, round(s, 4) AS score
        FROM ranked WHERE rank <= {K} ORDER BY query_id, rank
    """


def _bm25_filtered_oracle_sql() -> str:
    # WHERE inside the ranked query: filter candidates on metadata, keep
    # GLOBAL statistics (N, avgdl, df) — the reference's serving SQL shape
    return f"""
        WITH {_bm25_scored_cte()},
        filtered AS (
            SELECT s.* FROM scored s JOIN documents d USING (doc_id)
            WHERE {_FILTER_WHERE}),
        ranked AS (
            SELECT query_id, doc_id, s,
                   row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS rank
            FROM filtered)
        SELECT query_id, rank, doc_id, round(s, 4) AS score
        FROM ranked WHERE rank <= {K} ORDER BY query_id, rank
    """


def _ensure_generations(spark, sf_dir: str) -> str:
    """Two disjoint index GENERATIONS over halves of the documents
    table — the incremental/streaming storage layout (one gen per
    micro-batch, streaming/incremental.py:57-97) built batch-wise so
    the harness stays deterministic."""
    from theoremsearch_spark.streaming.incremental import commit_generation

    out = os.path.join(tempfile.gettempdir(), f"ts_harness_gens2_{_content_key(sf_dir)}")
    marker = os.path.join(out, "_done")
    if not os.path.exists(marker):
        d = t(spark, sf_dir, "documents")
        mid = d.agg(F.max("doc_id")).collect()[0][0] // 2
        for gen, part in enumerate(
            [d.filter(F.col("doc_id") <= mid), d.filter(F.col("doc_id") > mid)]
        ):
            docs = part.select(
                "doc_id",
                F.col("text").alias("extracted_text"),
                F.size(F.split(F.col("text"), " ")).alias("doc_len"),
            )
            gen_dir = os.path.join(out, f"gen_{gen}")
            # docs table per generation: compaction's input
            docs.write.mode("overwrite").parquet(f"{gen_dir}/docs")
            docs = spark.read.parquet(f"{gen_dir}/docs")
            build_index(
                docs, f"{gen_dir}/index",
                salt_threshold=200, n_segments=4, n_buckets=8, resume=False,
            )
            commit_generation(out, gen, 0 if gen == 0 else mid + 1, part.count())
        open(marker, "w").close()
    return out


def _ensure_compacted(spark, sf_dir: str) -> str:
    """The two-generation layout compacted into one (LSM merge) — cached
    content-keyed like the other harness fixtures. Compaction mutates
    the manifest, so it runs on a COPY of the gens fixture."""
    import shutil

    from theoremsearch_spark.streaming.incremental import compact_generations

    src = _ensure_generations(spark, sf_dir)
    out = os.path.join(
        tempfile.gettempdir(), f"ts_harness_compact_{_content_key(sf_dir)}"
    )
    marker = os.path.join(out, "_done_compact")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(src, out)
        res = compact_generations(
            spark, out, salt_threshold=200, n_segments=4, n_buckets=8
        )
        assert res["compacted"], res
        open(marker, "w").close()
    return out


def q_bm25_multi_generation(spark, sf_dir):
    """Serve across two index generations with globally merged
    (N, avgdl, df) statistics and sound block-max rescale — scores must
    equal a from-scratch single-index build, so the oracle is the SAME
    full-corpus BM25 SQL as bm25_topk. This is the correctness heart of
    the incremental/streaming path (each micro-batch appends a
    generation; readers merge at query time)."""
    from theoremsearch_spark.streaming.incremental import topk_all_generations

    gens = _ensure_generations(spark, sf_dir)
    qs = pd.DataFrame(HARNESS_QUERIES, columns=["query_id", "query_text"])
    hits = topk_all_generations(spark, gens, qs, k=K)
    return hits.select(
        "query_id", "rank", "doc_id", F.round("score", 4).alias("score")
    ).orderBy("query_id", "rank")


def q_bm25_compacted(spark, sf_dir):
    """Serve AFTER LSM compaction of the two generations into one —
    scores must still equal the from-scratch single-index build, so the
    oracle is the same full-corpus BM25 SQL. Locks the whole
    merge→rebuild→atomic-supersede path against the independent DuckDB
    recomputation."""
    from theoremsearch_spark.streaming.incremental import topk_all_generations

    root = _ensure_compacted(spark, sf_dir)
    qs = pd.DataFrame(HARNESS_QUERIES, columns=["query_id", "query_text"])
    hits = topk_all_generations(spark, root, qs, k=K)
    return hits.select(
        "query_id", "rank", "doc_id", F.round("score", 4).alias("score")
    ).orderBy("query_id", "rank")


def _fixture_tombstones(docs):
    """Tombstone rows for harness fixtures, derived with the SAME
    tokenizer as the production tombstone path (tokenize() via the
    shared UDFs) — NOT a whitespace split. The hash gates pass on this
    corpus because its text is pre-tokenized; deriving through the
    shared functions means a future corpus with case/punctuation makes
    any drift between fixture and production tombstone semantics fail
    loudly in the gate instead of silently diverging df/avgdl
    corrections (ADVICE r3)."""
    from theoremsearch_spark.extract import doc_len_udf, tokenize_udf

    return docs.select(
        "doc_id",
        doc_len_udf(F.col("text")).alias("doc_len"),
        F.array_distinct(tokenize_udf(F.col("text"))).alias("terms"),
    )


UPSERT_OFFSET = 100_000
UPSERT_MOD = 7
UPSERT_RESIDUE = 3
UPSERT_QUERIES = HARNESS_QUERIES + [(5, "zzrefreshed fast key")]


def _ensure_upsert_generations(spark, sf_dir: str) -> str:
    """Upsert (replace-document) fixture: generation 0 indexes the full
    documents table; generation 1 RE-INGESTS every doc with
    doc_id % 7 == 3 under a new doc_id (+100000) with ' zzrefreshed'
    appended, and tombstones the stale versions (doc_id, doc_len,
    distinct terms — what serving needs to correct N/avgdl/df exactly).
    The reference analog is the per-batch DELETE WHERE paper_id IN (…)
    + insert (/root/reference/ec2/parse_arxiv_papers/__main__.py:269-283)."""
    out = os.path.join(
        tempfile.gettempdir(), f"ts_harness_upsert_{_content_key(sf_dir)}"
    )
    marker = os.path.join(out, "_done")
    if not os.path.exists(marker):
        from theoremsearch_spark.streaming.incremental import commit_generation

        n0 = _write_fullcorpus_gen0(spark, sf_dir, out)
        d = t(spark, sf_dir, "documents")
        reingest = F.col("doc_id") % UPSERT_MOD == UPSERT_RESIDUE

        newdoc = d.filter(reingest).select(
            (F.col("doc_id") + UPSERT_OFFSET).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzrefreshed")).alias("extracted_text"),
        )
        newdoc = newdoc.withColumn(
            "doc_len", F.size(F.split(F.col("extracted_text"), " "))
        )
        newdoc.write.mode("overwrite").parquet(f"{out}/gen_1/docs_offset")
        n1 = newdoc.count()
        build_index(
            spark.read.parquet(f"{out}/gen_1/docs_offset"), f"{out}/gen_1/index",
            salt_threshold=200, n_segments=4, n_buckets=8, resume=False,
        )
        _fixture_tombstones(d.filter(reingest)).write.mode("overwrite").parquet(
            f"{out}/gen_1/tombstones"
        )
        # id_end is the true high-water mark (+offset ids), NOT n0+n1 —
        # commit_generation's default would understate it and a later id
        # allocation against this root would collide with live docs
        commit_generation(out, 1, n0, n1, id_end=UPSERT_OFFSET + n0)
        open(marker, "w").close()
    return out


def q_bm25_upsert_topk(spark, sf_dir):
    """Serving after an upsert: stale document versions are tombstoned
    out and global statistics corrected, so the result must hash-match
    the textbook BM25 oracle computed over the LATEST version of every
    document — the strongest form of the replace-document contract."""
    from theoremsearch_spark.streaming.incremental import topk_all_generations

    root = _ensure_upsert_generations(spark, sf_dir)
    qs = pd.DataFrame(UPSERT_QUERIES, columns=["query_id", "query_text"])
    hits = topk_all_generations(spark, root, qs, k=K)
    return hits.select(
        "query_id", "rank", "doc_id", F.round("score", 4).alias("score")
    ).orderBy("query_id", "rank")


def _bm25_upsert_oracle_sql() -> str:
    # latest-version corpus: re-ingested docs appear ONLY as their new
    # (+offset, ' zzrefreshed') version; everything else unchanged
    corpus = f"""
        corpus AS (
            SELECT doc_id, text FROM documents
            WHERE doc_id % {UPSERT_MOD} <> {UPSERT_RESIDUE}
            UNION ALL
            SELECT doc_id + {UPSERT_OFFSET} AS doc_id,
                   text || ' zzrefreshed' AS text
            FROM documents WHERE doc_id % {UPSERT_MOD} = {UPSERT_RESIDUE})"""
    return f"""
        WITH {corpus},
        {_bm25_scored_cte(corpus="corpus", queries=UPSERT_QUERIES)},
        ranked AS (
            SELECT query_id, doc_id, s,
                   row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS rank
            FROM scored)
        SELECT query_id, rank, doc_id, round(s, 4) AS score
        FROM ranked WHERE rank <= {K} ORDER BY query_id, rank
    """


DELETE_MOD = 11
DELETE_RESIDUE = 5


def _write_fullcorpus_gen0(spark, sf_dir: str, out: str) -> int:
    """Shared fixture step: generation 0 = an index over the full
    documents table, committed to `out`'s manifest. Returns n_docs."""
    from theoremsearch_spark.streaming.incremental import commit_generation

    d = t(spark, sf_dir, "documents")
    n0 = d.count()
    d.select(
        "doc_id",
        F.col("text").alias("extracted_text"),
        F.size(F.split(F.col("text"), " ")).alias("doc_len"),
    ).write.mode("overwrite").parquet(f"{out}/gen_0/docs")
    build_index(
        spark.read.parquet(f"{out}/gen_0/docs"), f"{out}/gen_0/index",
        salt_threshold=200, n_segments=4, n_buckets=8, resume=False,
    )
    commit_generation(out, 0, 0, n0)
    return n0


def _ensure_delete_generations(spark, sf_dir: str) -> str:
    """Deletion fixture: gen 0 indexes the full documents table; a
    DELETE-ONLY generation (negative namespace) tombstones every doc
    with doc_id % 11 == 5 (no replacement — the reference's bare row
    deletes, /root/reference/ec2/rds/upsert.py:4-27)."""
    out = os.path.join(
        tempfile.gettempdir(), f"ts_harness_delete_{_content_key(sf_dir)}"
    )
    marker = os.path.join(out, "_done")
    if not os.path.exists(marker):
        from theoremsearch_spark.streaming.incremental import (
            _next_free_doc_id,
            commit_generation,
        )

        _write_fullcorpus_gen0(spark, sf_dir, out)
        d = t(spark, sf_dir, "documents")
        _fixture_tombstones(
            d.filter(F.col("doc_id") % DELETE_MOD == DELETE_RESIDUE)
        ).write.mode("overwrite").parquet(f"{out}/gen_-1/tombstones")
        commit_generation(
            out, -1, base=0, n_docs=0,
            id_end=_next_free_doc_id(out), delete_only=True,
        )
        open(marker, "w").close()
    return out


def q_bm25_delete_topk(spark, sf_dir):
    """Serving under pure deletion: a delete-only generation's
    tombstones must make results hash-match textbook BM25 over the
    SURVIVOR corpus (stats corrected, deleted docs never ranked)."""
    from theoremsearch_spark.streaming.incremental import topk_all_generations

    root = _ensure_delete_generations(spark, sf_dir)
    qs = pd.DataFrame(HARNESS_QUERIES, columns=["query_id", "query_text"])
    hits = topk_all_generations(spark, root, qs, k=K)
    return hits.select(
        "query_id", "rank", "doc_id", F.round("score", 4).alias("score")
    ).orderBy("query_id", "rank")


def _bm25_delete_oracle_sql() -> str:
    corpus = f"""
        corpus AS (
            SELECT doc_id, text FROM documents
            WHERE doc_id % {DELETE_MOD} <> {DELETE_RESIDUE})"""
    return f"""
        WITH {corpus},
        {_bm25_scored_cte(corpus="corpus")},
        ranked AS (
            SELECT query_id, doc_id, s,
                   row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS rank
            FROM scored)
        SELECT query_id, rank, doc_id, round(s, 4) AS score
        FROM ranked WHERE rank <= {K} ORDER BY query_id, rank
    """


RESCORE_W = 0.1
POOL = 50


def q_bm25_topk_rescored(spark, sf_dir):
    """Two-stage rank (reference W2): BM25 pool of 50 → rescore by
    + w·ln(1+n_chars) → top-10 by (weighted DESC, score DESC, doc_id)."""
    from theoremsearch_spark.query import topk_rescored

    idx = _ensure_index(spark, sf_dir)
    qs = pd.DataFrame(HARNESS_QUERIES, columns=["query_id", "query_text"])
    hits = topk_rescored(
        spark, idx, os.path.join(idx, "docsmeta"), qs, k=K,
        pool_factor=5, weight=RESCORE_W, weight_col="n_chars",
    )
    return hits.select(
        "query_id",
        "final_rank",
        "doc_id",
        F.round("score", 4).alias("score"),
        F.round("weighted_score", 4).alias("weighted_score"),
    ).orderBy("query_id", "final_rank")


def _bm25_rescored_oracle_sql() -> str:
    return f"""
        WITH {_bm25_scored_cte()},
        pool AS (
            SELECT query_id, doc_id, s,
                   row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS prank
            FROM scored),
        rescored AS (
            SELECT p.query_id, p.doc_id, p.s,
                   p.s + {RESCORE_W} * ln(1 + d.n_chars) AS ws
            FROM pool p JOIN documents d USING (doc_id)
            WHERE p.prank <= {POOL}),
        final AS (
            SELECT query_id, doc_id, s, ws,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY ws DESC, s DESC, doc_id ASC) AS final_rank
            FROM rescored)
        SELECT query_id, final_rank, doc_id,
               round(s, 4) AS score, round(ws, 4) AS weighted_score
        FROM final WHERE final_rank <= {K} ORDER BY query_id, final_rank
    """


def q_bm25_topk_display(spark, sf_dir):
    """The complete interactive-serving shape (reference
    streamlit_app.py:276-294): ranked ids → join document display
    columns → hit snippet around the first matched query term. One
    broadcast-able join on ≤ k·|queries| rows plus a codegen'd
    locate/substring — no extra scan of the corpus text beyond the
    joined rows."""
    idx = _ensure_index(spark, sf_dir)
    qs = pd.DataFrame(HARNESS_QUERIES, columns=["query_id", "query_text"])
    hits = topk(spark, idx, qs, k=K)
    d = t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    qfirst = spark.createDataFrame(
        [(qid, text.split()[0]) for qid, text in HARNESS_QUERIES],
        "query_id int, first_term string",
    )
    pos = F.expr("locate(first_term, text)")  # F.locate needs a literal substr
    return (
        hits.join(d, "doc_id")
        .join(F.broadcast(qfirst), "query_id")
        .withColumn("pos", pos)
        .select(
            "query_id",
            "rank",
            "doc_id",
            F.round("score", 4).alias("score"),
            "lang",
            "source",
            F.when(
                F.col("pos") > 0,
                F.substring(F.col("text"), F.greatest(F.col("pos") - 10, F.lit(1)), 30),
            ).otherwise(F.lit("")).alias("snippet"),
        )
        .orderBy("query_id", "rank")
    )


def _bm25_display_oracle_sql() -> str:
    qfirst = ", ".join(
        f"({qid}, '{text.split()[0]}')" for qid, text in HARNESS_QUERIES
    )
    return f"""
        WITH {_bm25_scored_cte()},
        ranked AS (
            SELECT query_id, doc_id, s,
                   row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS rank
            FROM scored),
        qf(query_id, first_term) AS (VALUES {qfirst})
        SELECT r.query_id, r.rank, r.doc_id, round(r.s, 4) AS score,
               d.lang, d.source,
               CASE WHEN strpos(d.text, qf.first_term) > 0
                    THEN substr(d.text,
                                greatest(strpos(d.text, qf.first_term) - 10, 1), 30)
                    ELSE '' END AS snippet
        FROM ranked r JOIN documents d USING (doc_id)
                      JOIN qf ON qf.query_id = r.query_id
        WHERE r.rank <= {K} ORDER BY r.query_id, r.rank
    """


PHRASE_QUERIES = [
    (0, "fast key"),
    (1, "window merge"),
    (2, "hash join"),
    (3, "batch window spark"),  # 0 matches at sf0.001, 1 at sf0.01
]
NOT_TERMS = ["merge"]  # common token — a material exclusion set


def q_bm25_and_topk(spark, sf_dir):
    """Conjunctive top-k: only docs containing EVERY query term qualify
    (rarest-first posting intersection with restrict-pushdown decode),
    still BM25-ranked with global stats. The oracle qualifies docs by
    matched-distinct-term count == the query's term count."""
    idx = _ensure_index(spark, sf_dir)
    qs = pd.DataFrame(HARNESS_QUERIES, columns=["query_id", "query_text"])
    hits = topk(spark, idx, qs, k=K, mode="and")
    return hits.select(
        "query_id", "rank", "doc_id", F.round("score", 4).alias("score")
    ).orderBy("query_id", "rank")


def q_bm25_not_topk(spark, sf_dir):
    """Must-not serving: docs containing any NOT_TERMS member are
    excluded BEFORE scoring (their postings fold into the exclusion
    mask at decode time), so survivors keep unmodified BM25 scores.
    Note query 0 itself contains 'merge' — its other terms still
    rank the merge-free docs."""
    idx = _ensure_index(spark, sf_dir)
    qs = pd.DataFrame(HARNESS_QUERIES, columns=["query_id", "query_text"])
    hits = topk(spark, idx, qs, k=K, not_terms=NOT_TERMS)
    return hits.select(
        "query_id", "rank", "doc_id", F.round("score", 4).alias("score")
    ).orderBy("query_id", "rank")


def q_phrase_topk(spark, sf_dir):
    """Exact-phrase top-k: conjunctive candidates from the inverted
    index, token-adjacency verified against the documents table via
    the tokenizer's own normalization (JVM string ops), BM25-ranked.
    The oracle recomputes the same three stages in SQL — conjunctive
    qualification, ' t1 t2 ' containment on the space-joined token
    text, rank by score."""
    from theoremsearch_spark.query import phrase_topk

    idx = _ensure_index(spark, sf_dir)
    qs = pd.DataFrame(PHRASE_QUERIES, columns=["query_id", "query_text"])
    hits = phrase_topk(
        spark, idx, os.path.join(sf_dir, "documents.parquet"), qs, k=K,
        text_col="text",
    )
    return hits.select(
        "query_id", "rank", "doc_id", F.round("score", 4).alias("score")
    ).orderBy("query_id", "rank")


SNIPPET_PAD = 30  # chars of normalized context either side of the phrase


def q_phrase_topk_snippets(spark, sf_dir):
    """Phrase serving in the DISPLAY shape: each hit carries a
    normalized-text window of ±SNIPPET_PAD chars around the first
    phrase occurrence (locate + substring — codegen string ops, no
    Python). The oracle recomputes the identical window with
    instr/substr over the same ' '||text||' ' normalization, so the
    snippet STRINGS hash-match, not just the ranks."""
    from theoremsearch_spark.query import phrase_topk

    idx = _ensure_index(spark, sf_dir)
    qs = pd.DataFrame(PHRASE_QUERIES, columns=["query_id", "query_text"])
    hits = phrase_topk(
        spark, idx, os.path.join(sf_dir, "documents.parquet"), qs, k=K,
        text_col="text", snippet_pad=SNIPPET_PAD,
    )
    return hits.select(
        "query_id", "rank", "doc_id", F.round("score", 4).alias("score"),
        "snippet",
    ).orderBy("query_id", "rank")


def _phrase_snippets_oracle_sql() -> str:
    needles = ", ".join(f"({qid}, ' {text} ')" for qid, text in PHRASE_QUERIES)
    qn = ", ".join(
        f"({qid}, {len(set(text.split()))})" for qid, text in PHRASE_QUERIES
    )
    return f"""
        WITH {_bm25_scored_cte(queries=PHRASE_QUERIES, with_nt=True)},
        p(query_id, needle) AS (VALUES {needles}),
        qn(query_id, n) AS (VALUES {qn}),
        conj AS (
            SELECT s.query_id, s.doc_id, s.s,
                   substr(' ' || d.text || ' ',
                          greatest(1, instr(' ' || d.text || ' ', p.needle) - {SNIPPET_PAD}),
                          {2 * SNIPPET_PAD} + length(p.needle)) AS snippet
            FROM scored s JOIN qn USING (query_id) JOIN p USING (query_id)
                 JOIN documents d USING (doc_id)
            WHERE s.nt = qn.n AND contains(' ' || d.text || ' ', p.needle)),
        ranked AS (
            SELECT query_id, doc_id, s, snippet,
                   row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS rank
            FROM conj)
        SELECT query_id, rank, doc_id, round(s, 4) AS score, snippet
        FROM ranked WHERE rank <= {K} ORDER BY query_id, rank
    """


def q_phrase_topk_positional(spark, sf_dir):
    """Phrase serving via the POSITIONAL sidecar: adjacency from stored
    per-term occurrence positions (term/bucket-pruned columnar reads,
    zero doc-text fetch) — must reproduce the doc-text verifier's
    results exactly, so the oracle is the SAME phrase SQL."""
    from theoremsearch_spark.query import phrase_topk

    idx = _ensure_index(spark, sf_dir)
    qs = pd.DataFrame(PHRASE_QUERIES, columns=["query_id", "query_text"])
    hits = phrase_topk(
        spark, idx, os.path.join(sf_dir, "documents.parquet"), qs, k=K,
        text_col="text", positions_dir=os.path.join(idx, "positions"),
    )
    return hits.select(
        "query_id", "rank", "doc_id", F.round("score", 4).alias("score")
    ).orderBy("query_id", "rank")


def q_facet_counts(spark, sf_dir):
    """Faceted search: per-query counts of a metadata column over ALL
    matching documents (conjunctive match set), not just the top-k —
    the sidebar-counts shape every search UI needs. Candidates come
    from the index (mode='and', k=0, UNRANKED — the facet count never
    needs a rank, so the global window over the full AND set is
    skipped) and stay DISTRIBUTED: the metadata join is cluster-side
    against the coarse-bucket file-pruned docsmeta scan
    (query.pool_doc_rows) — the driver never holds the match set,
    which for common-token queries is a corpus fraction."""
    from theoremsearch_spark.query import open_index, pool_doc_rows, serve_topk

    idx = _ensure_index(spark, sf_dir)
    view = open_index(spark, idx, os.path.join(idx, "docsmeta"))
    qs = pd.DataFrame(HARNESS_QUERIES, columns=["query_id", "query_text"])
    cand = serve_topk(spark, view, qs, k=0, mode="and", rank=False).localCheckpoint(
        eager=False  # the pruning aggregate materializes it — no extra job
    )
    meta = pool_doc_rows(spark, view, cand, ["lang"])
    return (
        cand.join(meta, "doc_id")
        .groupBy("query_id", "lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("query_id", F.desc("n_docs"), "lang")
    )


def _facet_oracle_sql() -> str:
    qn = ", ".join(
        f"({qid}, {len(set(text.split()))})" for qid, text in HARNESS_QUERIES
    )
    return f"""
        WITH {_bm25_scored_cte(with_nt=True)},
        qn(query_id, n) AS (VALUES {qn})
        SELECT s.query_id, d.lang, count(*) AS n_docs
        FROM scored s JOIN qn USING (query_id)
             JOIN documents d USING (doc_id)
        WHERE s.nt = qn.n
        GROUP BY 1, 2 ORDER BY query_id, n_docs DESC, lang
    """


def _bm25_and_oracle_sql(queries=HARNESS_QUERIES, extra_where: str = "") -> str:
    qn = ", ".join(
        f"({qid}, {len(set(text.split()))})" for qid, text in queries
    )
    return f"""
        WITH {_bm25_scored_cte(queries=queries, with_nt=True)},
        qn(query_id, n) AS (VALUES {qn}),
        conj AS (
            SELECT s.query_id, s.doc_id, s.s
            FROM scored s JOIN qn USING (query_id)
                 JOIN documents d USING (doc_id)
            WHERE s.nt = qn.n{extra_where}),
        ranked AS (
            SELECT query_id, doc_id, s,
                   row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS rank
            FROM conj)
        SELECT query_id, rank, doc_id, round(s, 4) AS score
        FROM ranked WHERE rank <= {K} ORDER BY query_id, rank
    """


def _bm25_not_oracle_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in NOT_TERMS)
    return f"""
        WITH {_bm25_scored_cte()},
        banned AS (SELECT DISTINCT doc_id FROM tok WHERE term IN ({terms})),
        kept AS (
            SELECT s.* FROM scored s
            WHERE NOT EXISTS (SELECT 1 FROM banned x WHERE x.doc_id = s.doc_id)),
        ranked AS (
            SELECT query_id, doc_id, s,
                   row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id ASC) AS rank
            FROM kept)
        SELECT query_id, rank, doc_id, round(s, 4) AS score
        FROM ranked WHERE rank <= {K} ORDER BY query_id, rank
    """


def _phrase_oracle_sql() -> str:
    # documents.text IS the space-joined token stream, so adjacency ==
    # ' needle ' containment in ' ' || text || ' ' — the same invariant
    # phrase_topk's normalized-contains uses on the Spark side
    needles = ", ".join(f"({qid}, ' {text} ')" for qid, text in PHRASE_QUERIES)
    phrase_where = (
        " AND contains(' ' || d.text || ' ', "
        "(SELECT needle FROM p WHERE p.query_id = s.query_id))"
    )
    base = _bm25_and_oracle_sql(queries=PHRASE_QUERIES, extra_where=phrase_where)
    # graft the needle CTE into the WITH chain
    return base.replace(
        "qn(query_id, n) AS",
        f"p(query_id, needle) AS (VALUES {needles}),\n        qn(query_id, n) AS",
        1,
    )


QUERIES = {
    "bm25_topk": q_bm25_topk,
    "bm25_and_topk": q_bm25_and_topk,
    "bm25_not_topk": q_bm25_not_topk,
    "phrase_topk": q_phrase_topk,
    "phrase_topk_snippets": q_phrase_topk_snippets,
    "phrase_topk_positional": q_phrase_topk_positional,
    "facet_counts": q_facet_counts,
    "bm25_topk_display": q_bm25_topk_display,
    "bm25_topk_filtered": q_bm25_topk_filtered,
    "bm25_topk_rescored": q_bm25_topk_rescored,
    "bm25_multi_generation": q_bm25_multi_generation,
    "bm25_compacted": q_bm25_compacted,
    "bm25_upsert_topk": q_bm25_upsert_topk,
    "bm25_delete_topk": q_bm25_delete_topk,
    "hybrid_rrf_topk": q_hybrid_rrf_topk,
}
ORACLES = {
    "bm25_topk": _bm25_oracle_sql(),
    # conjunctive serving == BM25 over docs matching ALL query terms
    "bm25_and_topk": _bm25_and_oracle_sql(),
    # must-not serving == BM25 minus docs containing any banned term
    "bm25_not_topk": _bm25_not_oracle_sql(),
    # phrase serving == conjunctive + token-adjacency containment
    "phrase_topk": _phrase_oracle_sql(),
    # display shape: the snippet STRINGS must hash-match too
    "phrase_topk_snippets": _phrase_snippets_oracle_sql(),
    # positional verification must reproduce the doc-text verifier
    # exactly — same oracle
    "phrase_topk_positional": _phrase_oracle_sql(),
    # per-query facet counts over the full conjunctive match set
    "facet_counts": _facet_oracle_sql(),
    "bm25_topk_display": _bm25_display_oracle_sql(),
    "bm25_topk_filtered": _bm25_filtered_oracle_sql(),
    "bm25_topk_rescored": _bm25_rescored_oracle_sql(),
    # generation-merge must reproduce the single-index ranking exactly
    "bm25_multi_generation": _bm25_oracle_sql(),
    # ...and so must serving after LSM compaction of those generations
    "bm25_compacted": _bm25_oracle_sql(),
    # upsert serving == textbook BM25 over the latest version per doc
    "bm25_upsert_topk": _bm25_upsert_oracle_sql(),
    # deletion serving == textbook BM25 over the survivor corpus
    "bm25_delete_topk": _bm25_delete_oracle_sql(),
    # fused BM25 × cosine ranking, RRF recomputed from both first-
    # principles rankings in pure SQL
    "hybrid_rrf_topk": _hybrid_rrf_oracle_sql(),
}
