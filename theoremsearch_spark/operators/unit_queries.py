"""Unit-extraction harness entries: doc → many units, per-unit BM25.

The reference's searchable row is the extracted unit, not the document
(`theorem(theorem_id, paper_id, name, body, label)`,
/root/reference/rds_schema.sql:21-31; extractor shape
ec2/parse_papers/latex_parse.py:395-417 of the same reference). The
`documents` table is plain text, so the unit rule is deterministic
token-window chunking — fully SQL-expressible, giving a DuckDB oracle
for BOTH the one-row→many-rows explode (U3) and unit-level BM25
rank-identity. A unit is indexed by the same `build_index` as a
document, keyed by its composite unit_id.

The Spark side is pure JVM column work: split → transform/slice →
posexplode — no Python, no shuffle for the explode itself.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import functions as F

from theoremsearch_spark.build import DEFAULT_B, DEFAULT_K1, build_index
from theoremsearch_spark.operators.engine_queries import (
    HARNESS_QUERIES,
    K,
    _content_key,
)
from theoremsearch_spark.operators.relational import t
from theoremsearch_spark.query import topk

UNIT_TOKENS = 20
SEQ_FACTOR = 8  # unit_id = doc_id*8 + seq; docs cap at 100 tokens = 5 units


def q_unit_extract(spark, sf_dir):
    """One row in → many unit rows out (U3), JVM-side: each document is
    chunked into UNIT_TOKENS-token units with a composite unit_id."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    nu = F.ceil(F.size("toks") / F.lit(UNIT_TOKENS)).cast("int")
    bodies = F.transform(
        F.sequence(F.lit(0), nu - 1),
        lambda i: F.array_join(
            F.slice(F.col("toks"), i * UNIT_TOKENS + 1, UNIT_TOKENS), " "
        ),
    )
    return (
        d.select("doc_id", F.posexplode(bodies).alias("unit_seq", "body"))
        .select(
            "doc_id",
            "unit_seq",
            (F.col("doc_id") * SEQ_FACTOR + F.col("unit_seq")).alias("unit_id"),
            "body",
            F.size(F.split(F.col("body"), " ")).alias("n_tokens"),
        )
        .orderBy("doc_id", "unit_seq")
    )


_UNITS_CTE = f"""
        d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        e AS (SELECT doc_id, toks,
                     unnest(range(CAST(ceil(len(toks) / {UNIT_TOKENS}.0) AS INT))) AS unit_seq
              FROM d),
        units AS (
            SELECT doc_id, unit_seq, doc_id * {SEQ_FACTOR} + unit_seq AS unit_id,
                   array_to_string(
                       toks[(unit_seq * {UNIT_TOKENS} + 1):(unit_seq * {UNIT_TOKENS} + {UNIT_TOKENS})],
                       ' ') AS body
            FROM e)"""


def _unit_extract_oracle() -> str:
    return f"""
        WITH {_UNITS_CTE}
        SELECT doc_id, CAST(unit_seq AS INT) AS unit_seq, unit_id, body,
               len(string_split(body, ' ')) AS n_tokens
        FROM units ORDER BY doc_id, unit_seq
    """


def _units_index_dir(sf_dir: str) -> str:
    return os.path.join(tempfile.gettempdir(), f"ts_harness_units_{_content_key(sf_dir)}")


def _ensure_units_index(spark, sf_dir: str) -> str:
    out = _units_index_dir(sf_dir)
    marker = os.path.join(out, "_done")
    if not os.path.exists(marker):
        units = q_unit_extract(spark, sf_dir).select(
            F.col("unit_id").alias("doc_id"),
            F.col("body").alias("extracted_text"),
            F.col("n_tokens").alias("doc_len"),
        )
        build_index(
            units, out, salt_threshold=500, n_segments=4, n_buckets=8, resume=False
        )
        open(marker, "w").close()
    return out


def q_bm25_units_topk(spark, sf_dir):
    """Unit-level BM25 serving: the reference's per-theorem retrieval —
    statistics (N, avgdl, df) computed over UNITS, ranked units
    returned. Full rank-identity oracle."""
    idx = _ensure_units_index(spark, sf_dir)
    qs = pd.DataFrame(HARNESS_QUERIES, columns=["query_id", "query_text"])
    hits = topk(spark, idx, qs, k=K)
    return hits.select(
        "query_id",
        "rank",
        F.col("doc_id").alias("unit_id"),
        F.round("score", 4).alias("score"),
    ).orderBy("query_id", "rank")


def _bm25_units_oracle() -> str:
    qvals = ", ".join(
        f"({qid}, '{term}')"
        for qid, text in HARNESS_QUERIES
        for term in sorted(set(text.split()))
    )
    return f"""
        WITH {_UNITS_CTE},
        tok AS (SELECT unit_id, unnest(string_split(body, ' ')) AS term FROM units),
        tf AS (SELECT unit_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        dl AS (SELECT unit_id, count(*) AS dl FROM tok GROUP BY 1),
        stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        q(query_id, term) AS (VALUES {qvals}),
        scored AS (
            SELECT q.query_id, tf.unit_id,
                   sum(ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                       * tf.tf * ({DEFAULT_K1} + 1)
                       / (tf.tf + {DEFAULT_K1} * (1 - {DEFAULT_B} + {DEFAULT_B} * dl.dl / stats.avgdl))
                   ) AS s
            FROM tf JOIN q USING (term) JOIN dfreq USING (term)
                 JOIN dl USING (unit_id) CROSS JOIN stats
            GROUP BY 1, 2),
        ranked AS (
            SELECT query_id, unit_id, s,
                   row_number() OVER (PARTITION BY query_id ORDER BY s DESC, unit_id ASC) AS rank
            FROM scored)
        SELECT query_id, rank, unit_id, round(s, 4) AS score
        FROM ranked WHERE rank <= {K} ORDER BY query_id, rank
    """


QUERIES = {
    "unit_extract": q_unit_extract,
    "bm25_units_topk": q_bm25_units_topk,
}
ORACLES = {
    "unit_extract": _unit_extract_oracle(),
    "bm25_units_topk": _bm25_units_oracle(),
}
