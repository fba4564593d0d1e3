"""Positional-postings sidecar — exact-phrase search without doc fetch.

`query.phrase_topk` verifies phrases against stored document TEXT
(file-pruned point lookups). That is the right default: content
phrases have tiny conjunctive candidate sets. Its documented
degradation is the all-common-token phrase, where the AND set is a
large corpus fraction and fetching every candidate's text approaches
a table scan. This sidecar is the classic escalation: store each
term's occurrence POSITIONS once at build time, and verify adjacency
from the positions alone — per candidate the IO is a few short int
arrays from a term-pruned columnar scan, never the document body.

Layout (mirrors the posting-block store's pruning physics):

    positions/pb=<bucket>/…parquet      rows (term_id, doc_id, pos)

  - `pb = pmod(murmur3(term_id), n_buckets)` partition dirs: a phrase's terms
    map to a handful of pb values driver-side, so serving LISTS only
    those directories;
  - files are sorted by (term_id, doc_id) within each bucket, so the
    `term_id IN (...)` serve-time filter lands on parquet row-group
    statistics — the same two-level pruning the block store uses;
  - `pos` is the 0-based token index array (array<int>); parquet's
    int packing replaces the hand varbyte codec — position lists are
    short (tf per doc) and never cross the driver.

Verification is PURE CODEGEN and ONE plan for the whole batch: each
phrase unrolls to broadcast rows (query_id, term_id, offset); the
pruned positions scan joins them once; each matched row's positions
shift by -offset (candidate phrase starts); one groupBy(query, doc)
intersects the shifted arrays — the phrase occurs iff all offsets
matched (nt == phrase length) and the intersection is non-empty.
Repeated phrase tokens contribute one row per offset and the shift
arithmetic stays exact. No Python anywhere in the verify path.

The builder is ADDITIVE: a separate pass over the prepared docs table
(`jobs/build_index.py --positions`), touching nothing in the block
index; roots without the sidecar keep the doc-text verify path.
Positions come from the same frozen tokenizer, so both verify paths
accept exactly the same documents (locked by test parity).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from theoremsearch_spark import sidecar
from theoremsearch_spark.extract import tokenize

POS_BUCKETS = 32

# positions/pb=<bucket>/ files; serving reads them with this schema (no
# footer-inference job)
POSITIONS_SCHEMA = T.StructType(
    [
        T.StructField("term_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("pos", T.ArrayType(T.IntegerType(), True), True),
    ]
)

@F.pandas_udf(T.StringType())
def term_positions_udf(text: pd.Series) -> pd.Series:
    """text → "term:p1,p2 term2:p3 …" — one Python pass per doc,
    Arrow-batched, ONE string per doc instead of a nested
    list<struct<string, list<int>>> value. The flat string is the same
    load-bearing choice prepare_docs made for term_tfs: nested Arrow
    values materialize ~O(positions) transient PyObjects per batch,
    while the string crosses the boundary as one buffer and the
    downstream parse (split → substring_index → int casts) is pure
    whole-stage codegen — measured 1.5 s → 0.85 s for the
    UDF+explode stage at the sf0.1 bench shape. ':'/','/' ' can never
    collide with tokenizer output ([a-z0-9]+ only)."""

    def agg(t: str) -> str:
        acc: dict[str, list[int]] = {}
        for i, tok in enumerate(tokenize(t)):
            acc.setdefault(tok, []).append(i)
        return " ".join(
            "%s:%s" % (k, ",".join(map(str, v))) for k, v in acc.items()
        )

    return text.map(agg)


# the bucket count a positions sidecar was written with; the pb rule
# itself is fixed by the format version (sidecar.py)
PB_RULE_FILE = "_pb_rule.json"


def _pb_buckets(root: str) -> int:
    """The bucket count recorded in a sidecar's `_pb_rule.json`; a
    sidecar without the record is refused."""
    return int(sidecar.require_json(f"{root}/{PB_RULE_FILE}")["buckets"])


def build_positions(
    docs: DataFrame, out_dir: str, n_buckets: int = POS_BUCKETS
) -> dict:
    """docs (doc_id, extracted_text) → `{out_dir}/positions` sidecar.
    One narrow pass + one shuffle of (term_id, doc_id, pos-array) rows
    bucketed by term hash; files sorted by (term_id, doc_id) for
    row-group pruning.

    pb = pmod(murmur3(term_id), n_buckets) — EXACTLY the partition id
    the term_id-keyed repartition assigns, so every reducer writes one
    pb dir (the previous pb-keyed shuffle hashed 32 bucket values into
    32 partitions — balls-into-bins stragglers, guide §2.5). The bucket
    count is recorded in `_pb_rule.json`; serving derives each term's
    pb through the SAME JVM functions."""
    rows = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(term_positions_udf("extracted_text"), " ")
            ).alias("tp"),
        )
        .filter(F.col("tp") != "")
        .select(
            F.xxhash64(F.substring_index("tp", ":", 1)).alias("term_id"),
            "doc_id",
            F.transform(
                F.split(F.substring_index("tp", ":", -1), ","),
                lambda x: x.cast("int"),
            ).alias("pos"),
        )
        .withColumn("pb", F.pmod(F.hash("term_id"), F.lit(n_buckets)).cast("int"))
    )
    (
        rows.repartition(n_buckets, "term_id")
        .sortWithinPartitions("term_id", "doc_id")
        .write.mode("overwrite")
        .partitionBy("pb")
        .parquet(f"{out_dir}/positions")
    )
    sidecar.write_json(f"{out_dir}/positions/{PB_RULE_FILE}", {"buckets": int(n_buckets)})
    # row count from the just-written parquet FOOTERS (driver-side
    # metadata walk, zero data read) — the previous
    # read.parquet(...).count() launched a full extra scan of the
    # sidecar (∝ corpus: 4.4 M rows at sf0.1) just to report a number.
    # A root the local walk cannot see (a non-local filesystem) falls
    # back to that Spark count rather than reporting 0 rows.
    n = _written_row_count(docs.sparkSession, f"{out_dir}/positions", POSITIONS_SCHEMA)
    return {"position_rows": int(n), "buckets": int(n_buckets)}


def _footer_row_count(root: str) -> int | None:
    """Sum of parquet-footer num_rows over every data file under
    `root` — one driver-side metadata pass, no Spark job. None when the
    walk sees no data file (the root is not on the local filesystem, or
    holds nothing): the caller then counts with Spark."""
    import os

    import pyarrow.parquet as pq

    total, seen = 0, False
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                seen = True
                total += pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
    return total if seen else None


def _written_row_count(spark: SparkSession, root: str, schema: T.StructType) -> int:
    """Rows just written under `root`: the footer sum, or — where the
    walk sees no file — a Spark count of `root` read with `schema`
    (declared: no footer-inference job)."""
    n = _footer_row_count(root)
    return n if n is not None else spark.read.schema(schema).parquet(root).count()


_VOCAB_SCHEMA = T.StructType([T.StructField("t", T.StringType(), False)])

# one row per (phrase query, token offset): the broadcast verify side
_PHRASE_TERMS_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.IntegerType(), False),
        T.StructField("term_id", T.LongType(), False),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("n_req", T.IntegerType(), False),
    ]
)


def phrase_verify_positional(
    spark: SparkSession,
    positions_dir: str | list[str],
    cand: DataFrame,
    queries: pd.DataFrame,
    k: int,
) -> DataFrame:
    """Adjacency-verify conjunctive candidates from the positions
    sidecar and re-rank — same contract as query._verify_phrase, zero
    doc-text reads. `cand`: (query_id, doc_id, score) localized
    candidates.

    ONE plan for the whole batch (a per-query plan loop was the OOM
    anti-pattern: Q sub-plans × Q broadcasts): every phrase unrolls to
    broadcast rows (query_id, term_id, offset), the pruned positions
    scan joins them once, each match's positions shift by -offset
    (candidate phrase STARTS), and a single groupBy(query, doc)
    intersects the shifted arrays — the phrase occurs iff every offset
    row is present (nt == phrase length) and the running
    array_intersect is non-empty. All codegen; work ∝ matched posting
    rows of the phrase terms within the candidate set."""
    from pyspark.sql import Window as W

    from theoremsearch_spark.query import TOPK_SCHEMA, local_frame

    tok_lists = {
        int(qid): tokenize(str(txt))
        for qid, txt in zip(queries["query_id"], queries["query_text"])
    }
    vocab = sorted({t for toks in tok_lists.values() for t in toks})
    if not vocab:
        return local_frame(spark, TOPK_SCHEMA)
    # term → (term_id, murmur3(term_id)) via the SAME JVM functions the
    # builder used (no driver-side hash reimplementation to drift); the
    # optimizer evaluates this projection of a local relation on the
    # driver, so the collect runs no Spark job. mm feeds the pb rule
    # below
    id_rows = (
        local_frame(spark, _VOCAB_SCHEMA, pd.DataFrame({"t": vocab}))
        .select(
            "t",
            F.xxhash64("t").alias("tid"),
            F.hash(F.xxhash64("t")).alias("mm"),
        )
        .collect()
    )
    tid_of = {r["t"]: int(r["tid"]) for r in id_rows}
    mm_of = {int(r["tid"]): int(r["mm"]) for r in id_rows}
    pt_rows = [
        (qid, tid_of[t], off, len(toks))
        for qid, toks in tok_lists.items()
        if toks
        for off, t in enumerate(toks)
    ]
    if not pt_rows:
        return local_frame(spark, TOPK_SCHEMA)
    pt = local_frame(
        spark, _PHRASE_TERMS_SCHEMA,
        pd.DataFrame(pt_rows, columns=_PHRASE_TERMS_SCHEMA.fieldNames()),
    )
    all_tids = {r[1] for r in pt_rows}

    # one sidecar root (single index) or several (one per committed
    # generation of a streamed root — doc_ids are globally unique via
    # the generation offsets, so the union IS the corpus positions).
    # Each root prunes with its own recorded bucket count.
    roots = [positions_dir] if isinstance(positions_dir, str) else list(positions_dir)
    import os

    paths = []
    for root in roots:
        nb = _pb_buckets(root)
        pbs = sorted({mm_of[tid] % nb for tid in all_tids})
        paths.extend(
            p for b in pbs if os.path.isdir(p := f"{root}/pb={b}")
        )
    if not paths:
        return local_frame(spark, TOPK_SCHEMA)
    pos = (
        spark.read.schema(POSITIONS_SCHEMA).parquet(*paths)
        .filter(F.col("term_id").isin([int(t) for t in all_tids]))
    )

    verified = (
        pos.join(F.broadcast(pt), "term_id")
        .join(cand.select("query_id", "doc_id", "score"), ["query_id", "doc_id"])
        .select(
            "query_id", "doc_id", "score", "n_req",
            F.expr("transform(pos, p -> p - offset)").alias("sp"),
        )
        .groupBy("query_id", "doc_id", "score")
        .agg(
            F.count("*").alias("nt"),
            F.first("n_req").alias("n_req"),
            F.expr(
                "aggregate(slice(collect_list(sp), 2, 100000), "
                "collect_list(sp)[0], (acc, x) -> array_intersect(acc, x))"
            ).alias("starts"),
        )
        .filter((F.col("nt") == F.col("n_req")) & (F.size("starts") > 0))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        verified.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
