"""Harness entries closing the SURVEY §2 long tail:

  P6   isNotNull predicate        (streamlit_app.py:208-212)
  SO2  map union / map_concat     (tex_method/extract_from_tex.py:62-64)
  W8   document-order sort_array  (latex_parse.py:199-200)
  R4/5 IR eval metrics            (compare_embeddings.py:95-371)
  S8   zip-of-JSON scan           (ec2/upsert_stacks/__main__.py:19-46)
  S11  upsert sink key semantics  (ec2/rds/upsert.py:4-52)

Each previously existed only as a pytest-locked library function (or a
missing table row); these give the driver's DuckDB gate a hash check.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import tempfile
import zipfile

import pandas as pd

from pyspark.sql import Window as W, functions as F, types as T

from theoremsearch_spark.operators.relational import t

EVAL_K = 10


def q_filter_notnull(spark, sf_dir):  # P6
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.expr("nullif(l_returnflag, 'N')").isNotNull())
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .orderBy("l_returnflag")
    )


def q_map_union(spark, sf_dir):  # SO2: MapType build + map_concat, right side disjoint
    c = t(spark, sf_dir, "customer")
    seg_counts = c.groupBy("c_nationkey", "c_mktsegment").agg(F.count("*").alias("n"))
    m1 = seg_counts.groupBy("c_nationkey").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("c_mktsegment", "n")))
        ).alias("m1"),
        F.sum("n").alias("total"),
    )
    merged = m1.select(
        "c_nationkey",
        F.map_concat(
            F.col("m1"), F.create_map(F.lit("_total"), F.col("total"))
        ).alias("m"),
    )
    return (
        merged.select("c_nationkey", F.explode("m").alias("key", "value"))
        .withColumnRenamed("c_nationkey", "nationkey")
        .orderBy("nationkey", "key")
    )


def q_sort_doc_order(spark, sf_dir):  # W8: sort_array document-order sort
    d = t(spark, sf_dir, "documents")
    toks = F.sort_array(F.split(F.col("text"), " "))
    return d.select(
        "doc_id",
        F.array_join(F.slice(toks, 1, 5), " ").alias("first_tokens"),
        F.size(toks).alias("n_tokens"),
    ).orderBy("doc_id")


def q_ir_metrics(spark, sf_dir):  # R4/R5: the full eval-metric family
    """Deterministic run + graded qrels derived from the documents
    table: per lang (= query) rank docs by (n_chars DESC, doc_id ASC);
    the expected doc is the lang's min doc_id, same-source hits grade
    0.5 — then the reference's whole metric family (P@1, Hit@k, MRR@k,
    nDCG@k, ERR@k, Q-measure@k) in one windowed aggregation."""
    from theoremsearch_spark.functions.evalmetrics import ir_metrics

    d = t(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    run = (
        d.select("lang", "doc_id", "source", "n_chars")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= EVAL_K)
    )
    exp = d.groupBy("lang").agg(F.min("doc_id").alias("exp_id"))
    expsrc = exp.join(
        d.select(F.col("doc_id").alias("exp_id"), F.col("source").alias("exp_source")),
        "exp_id",
    )
    graded = (
        run.join(F.broadcast(expsrc), "lang")
        .withColumn(
            "rel",
            F.when(F.col("doc_id") == F.col("exp_id"), F.lit(1.0))
            .when(F.col("source") == F.col("exp_source"), F.lit(0.5))
            .otherwise(F.lit(0.0)),
        )
        .select(F.col("lang").alias("query_id"), "rank", "rel")
    )
    return ir_metrics(graded, k=EVAL_K)


def _ir_metrics_oracle() -> str:
    return f"""
        WITH run AS (
            SELECT lang AS query_id, doc_id, source,
                   row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rank
            FROM documents),
        exp AS (SELECT lang AS query_id, min(doc_id) AS exp_id FROM documents GROUP BY 1),
        expsrc AS (
            SELECT e.query_id, e.exp_id, d.source AS exp_source
            FROM exp e JOIN documents d ON d.doc_id = e.exp_id),
        g AS (
            SELECT r.query_id, r.rank,
                   CASE WHEN r.doc_id = x.exp_id THEN 1.0
                        WHEN r.source = x.exp_source THEN 0.5 ELSE 0.0 END AS rel
            FROM run r JOIN expsrc x USING (query_id) WHERE r.rank <= {EVAL_K}),
        perq AS (
            SELECT query_id,
                   max(CASE WHEN rank = 1 AND rel >= 1.0 THEN 1.0 ELSE 0.0 END) AS p_at_1,
                   max(CASE WHEN rel >= 1.0 THEN 1.0 ELSE 0.0 END) AS hit_at_k,
                   max(CASE WHEN rel >= 1.0 THEN 1.0 ELSE 0.0 END / rank) AS mrr_at_k,
                   sum((pow(2.0, rel) - 1) / log2(rank + 1.0)) AS dcg
            FROM g GROUP BY 1),
        ideal AS (
            SELECT query_id, sum((pow(2.0, rel) - 1) / log2(irank + 1.0)) AS idcg
            FROM (SELECT query_id, rel,
                         row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, rank ASC) AS irank
                  FROM g)
            GROUP BY 1),
        errt AS (
            SELECT query_id, sum(no_stop * r_prob / rank) AS err_at_k FROM (
                SELECT query_id, rank, (pow(2.0, rel) - 1) / 2.0 AS r_prob,
                       coalesce(product(1 - (pow(2.0, rel) - 1) / 2.0) OVER (
                           PARTITION BY query_id ORDER BY rank
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 1.0) AS no_stop
                FROM g) GROUP BY 1),
        icum AS (
            SELECT query_id, irank,
                   sum(pow(2.0, rel) - 1) OVER (
                       PARTITION BY query_id ORDER BY irank
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ig
            FROM (SELECT query_id, rel,
                         row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, rank ASC) AS irank
                  FROM g)),
        gcum AS (
            SELECT query_id, rank, rel,
                   sum(pow(2.0, rel) - 1) OVER (
                       PARTITION BY query_id ORDER BY rank
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cg
            FROM g),
        qmr AS (
            SELECT query_id,
                   CASE WHEN sum(CASE WHEN rel > 0 THEN 1.0 ELSE 0.0 END) > 0
                        THEN sum(q_term) / sum(CASE WHEN rel > 0 THEN 1.0 ELSE 0.0 END)
                        ELSE 0.0 END AS q_at_k
            FROM (
                SELECT gq.query_id, gq.rel,
                       CASE WHEN gq.rel > 0 THEN (gq.cg + gq.rank) / (ic.ig + gq.rank)
                            ELSE 0.0 END AS q_term
                FROM gcum gq JOIN icum ic
                  ON gq.query_id = ic.query_id AND gq.rank = ic.irank)
            GROUP BY 1)
        SELECT round(avg(p_at_1), 4) AS p_at_1,
               round(avg(hit_at_k), 4) AS hit_at_k,
               round(avg(mrr_at_k), 4) AS mrr_at_k,
               round(avg(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END), 4) AS ndcg_at_k,
               round(avg(err_at_k), 4) AS err_at_k,
               round(avg(q_at_k), 4) AS q_at_k,
               count(*) AS n_queries
        FROM perq LEFT JOIN ideal USING (query_id)
                  LEFT JOIN errt USING (query_id)
                  LEFT JOIN qmr USING (query_id)
    """


ZIP_DOCS = 20


def q_read_zip_json(spark, sf_dir):  # S8: zip-of-JSON scan
    """Build a deterministic zip of JSON members from the first ZIP_DOCS
    documents, then scan it back through the S8 connector (binaryFile →
    in-UDF unzip → rows). The oracle reads the same rows straight from
    the table, so a hash match proves the connector round-trip."""
    from theoremsearch_spark.sources.readers import read_zip_json

    rows = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < ZIP_DOCS)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
        .collect()
    )
    key = hashlib.md5(f"{sf_dir}:{len(rows)}".encode()).hexdigest()[:10]
    zdir = os.path.join(tempfile.gettempdir(), f"ts_zipjson_{key}")
    os.makedirs(zdir, exist_ok=True)
    zpath = os.path.join(zdir, "docs.zip")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for r in rows:
            zf.writestr(
                f"doc{r['doc_id']:05d}.json",
                json.dumps({"doc_id": r["doc_id"], "lang": r["lang"], "n_chars": r["n_chars"]}),
            )
    with open(zpath, "wb") as f:
        f.write(buf.getvalue())
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("n_chars", T.LongType(), True),
        ]
    )
    return read_zip_json(spark, zpath, schema).orderBy("doc_id")


def q_upsert_parquet(spark, sf_dir):  # S11: upsert-sink key semantics
    """base(custkey ≤ 100) → upsert(updates for ≤ 20 with +1000 acctbal,
    inserts of 5 new keys) → read back. The oracle replays the same
    merge in SQL: hash match proves last-writer-wins per key and that
    untouched keys survive."""
    from theoremsearch_spark.sources.sinks import upsert_parquet

    c = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 4).alias("acctbal")
    )
    base = c.filter(F.col("c_custkey") <= 100)
    upd = c.filter(F.col("c_custkey") <= 20).withColumn(
        "acctbal", F.round(F.col("acctbal") + 1000, 4)
    )
    ins = c.filter(F.col("c_custkey") <= 5).select(
        (F.col("c_custkey") + 100000).alias("c_custkey"), "c_name", "acctbal"
    )
    tdir = tempfile.mkdtemp(prefix="ts_upsert_")
    upsert_parquet(spark, tdir, base, "c_custkey")
    upsert_parquet(spark, tdir, upd.unionByName(ins), "c_custkey")
    return (
        spark.read.parquet(tdir)
        .select("c_custkey", "c_name", "acctbal")
        .orderBy("c_custkey")
    )


def q_type_whitelist(spark, sf_dir):  # P10: first-token type whitelist
    """split(lower(x), ' ')[0] ∈ {...} — the reference's post-hoc
    theorem-type gate (ec2/parse_papers/__main__.py:94-103)."""
    pt = t(spark, sf_dir, "part")
    first = F.split(F.lower(F.col("p_type")), " ")[0]
    return (
        pt.withColumn("type_head", first)
        .filter(F.col("type_head").isin("standard", "economy"))
        .groupBy("type_head")
        .agg(F.count("*").alias("n"))
        .orderBy("type_head")
    )


def q_window_tumbling_agg(spark, sf_dir):  # streaming primitive, batch-checked
    """F.window tumbling 1-hour buckets over `events` — the groupBy a
    watermarked streaming rollup would run, in batch mode so DuckDB can
    verify the bucketing + aggregation."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "sum_value")
        .orderBy("win_start", "event_type")
    )


MEDIA_DOCS = 200


AUDIO_ROWS = 40
AUDIO_BASE_N = 4000
AUDIO_SR = 8000


def q_multimodal_audio_meta(spark, sf_dir):
    """Audio driver-gate row: build REAL PCM16 WAV payloads whose
    samples follow a closed form (x_i = (((i·31 + mid·7) mod 256) − 128)
    · 256, mono, 8 kHz, n = 4000 + mid), run the real WAV decode +
    feature pipeline (functions/multimodal.extract_audio_features), and
    return format/channels/rate/count/RMS/ZCR. The oracle recomputes
    RMS and zero-crossing rate from the SAME closed form in pure SQL —
    a hash match proves fmt-chunk walk, PCM frombuffer decode, and the
    signal features end-to-end against an implementation that never
    touches the bytes. Float-exactness: every sample is k/128 with
    |k| ≤ 128, so x² sums are exact dyadic rationals (< 2^53) in both
    engines regardless of summation order — the 6-decimal rounds can't
    straddle."""
    import numpy as np

    from theoremsearch_spark.functions.multimodal import (
        encode_wav_pcm16,
        extract_audio_features,
    )

    @F.pandas_udf(T.BinaryType())
    def gen_wav(mid: pd.Series) -> pd.Series:
        out = []
        for m in mid:
            m = int(m)
            i = np.arange(AUDIO_BASE_N + m, dtype=np.int64)
            pcm = ((((i * 31 + m * 7) % 256) - 128) * 256).astype(np.int16)
            out.append(encode_wav_pcm16(pcm, AUDIO_SR))
        return pd.Series(out)

    d = t(spark, sf_dir, "documents")
    media = (
        d.filter(F.col("doc_id") < AUDIO_ROWS)
        .select(F.col("doc_id").alias("media_id"))
        .withColumn("payload", gen_wav("media_id"))
    )
    feats = extract_audio_features(media)
    return feats.select(
        "media_id",
        "format",
        "channels",
        "sample_rate",
        "n_samples",
        F.round("rms", 6).alias("rms"),
        F.round("zero_cross_rate", 6).alias("zcr"),
    ).orderBy("media_id")


def q_multimodal_image_meta(spark, sf_dir):
    """Multimodal driver-gate row: synthesize a deterministic media
    table from `documents` (payload = make_oracle_image — a pattern
    DuckDB can rebuild byte-for-byte), run the real mapInPandas
    decode/feature pipeline (functions/multimodal.py), and return the
    typed metadata plus an md5 of the payload's lowercase hex. The
    oracle reconstructs the same bytes in SQL and hashes them, so a
    match proves the sniff + header decode + byte accounting end-to-end.
    Reference analog: content sniffing + per-format handling
    (/root/reference/ec2/parse_arxiv_papers/download_and_extract_paper.py:48-95)."""
    from theoremsearch_spark.functions.multimodal import (
        extract_image_features,
        make_oracle_image,
    )

    @F.pandas_udf(T.BinaryType())
    def gen_payload(mid: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
        return pd.Series(
            [make_oracle_image(int(m), int(a), int(b)) for m, a, b in zip(mid, w, h)]
        )

    d = t(spark, sf_dir, "documents")
    media = (
        d.filter(F.col("doc_id") < MEDIA_DOCS)
        .select(
            F.col("doc_id").alias("media_id"),
            (F.lit(8) + F.col("doc_id") % 9).cast("int").alias("width"),
            (F.lit(8) + F.col("doc_id") % 7).cast("int").alias("height"),
        )
        .withColumn("payload", gen_payload("media_id", "width", "height"))
        .persist()  # consumed by TWO branches (features + md5) — one UDF pass
    )
    meta = extract_image_features(media.select("media_id", "payload"))
    md5s = media.select(
        "media_id", F.md5(F.lower(F.hex("payload"))).alias("payload_md5")
    )
    out = (
        meta.join(md5s, "media_id")
        .select("media_id", "format", "width", "height", "n_bytes", "payload_md5")
        .orderBy("media_id")
    )
    # materialize while the cache is live, then RELEASE it — a leaked
    # persist would pin the binary payloads in storage memory for the
    # rest of the (long-lived harness) session
    rows = out.collect()
    media.unpersist()
    return spark.createDataFrame(rows, out.schema)


def _multimodal_oracle() -> str:
    return f"""
        WITH m AS (
            SELECT doc_id::BIGINT AS media_id,
                   (8 + doc_id % 9)::INT AS width,
                   (8 + doc_id % 7)::INT AS height
            FROM documents WHERE doc_id < {MEDIA_DOCS})
        SELECT media_id, 'synthetic' AS format, width, height,
               (12 + width * height)::INT AS n_bytes,
               md5(lower(
                   '53594e30'
                   || lpad(to_hex(width % 256), 2, '0')
                   || lpad(to_hex((width // 256) % 256), 2, '0') || '0000'
                   || lpad(to_hex(height % 256), 2, '0')
                   || lpad(to_hex((height // 256) % 256), 2, '0') || '0000'
                   || array_to_string(list_transform(
                          range(0, width * height),
                          i -> lpad(to_hex((media_id + i) % 256), 2, '0')), '')
               )) AS payload_md5
        FROM m ORDER BY media_id
    """


QUERIES = {
    "filter_notnull": q_filter_notnull,
    "multimodal_image_meta": q_multimodal_image_meta,
    "multimodal_audio_meta": q_multimodal_audio_meta,
    "type_whitelist": q_type_whitelist,
    "window_tumbling_agg": q_window_tumbling_agg,
    "map_union": q_map_union,
    "sort_doc_order": q_sort_doc_order,
    "ir_metrics": q_ir_metrics,
    "read_zip_json": q_read_zip_json,
    "upsert_parquet": q_upsert_parquet,
}

ORACLES = {
    "multimodal_audio_meta": f"""
        WITH m AS (
            SELECT CAST(doc_id AS BIGINT) AS media_id FROM documents
            WHERE doc_id < {AUDIO_ROWS}
        ),
        s AS (
            SELECT m.media_id, t.i,
                   CAST((((t.i * 31 + m.media_id * 7) % 256) - 128) * 256 AS DOUBLE)
                       / 32768.0 AS x
            FROM m, range(0, {AUDIO_BASE_N + AUDIO_ROWS}) t(i)
            WHERE t.i < {AUDIO_BASE_N} + m.media_id
        ),
        w AS (
            SELECT media_id, i, x,
                   lag(x) OVER (PARTITION BY media_id ORDER BY i) AS px
            FROM s
        )
        SELECT media_id,
               'wav' AS format,
               CAST(1 AS INTEGER) AS channels,
               CAST({AUDIO_SR} AS INTEGER) AS sample_rate,
               COUNT(*) AS n_samples,
               round(sqrt(avg(x * x)), 6) AS rms,
               round(CAST(sum(CASE WHEN px IS NOT NULL AND ((x < 0) <> (px < 0))
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / (COUNT(*) - 1), 6) AS zcr
        FROM w GROUP BY media_id ORDER BY media_id
    """,
    "type_whitelist": """
        SELECT string_split(lower(p_type), ' ')[1] AS type_head, count(*) AS n
        FROM part
        WHERE string_split(lower(p_type), ' ')[1] IN ('standard', 'economy')
        GROUP BY 1 ORDER BY 1
    """,
    "window_tumbling_agg": """
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start, event_type,
               count(*) AS n, round(sum(value), 4) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "filter_notnull": """
        SELECT l_returnflag, count(*) AS n FROM lineitem
        WHERE nullif(l_returnflag, 'N') IS NOT NULL
        GROUP BY 1 ORDER BY 1
    """,
    "map_union": """
        WITH seg AS (SELECT c_nationkey AS nationkey, c_mktsegment AS key,
                            count(*) AS value
                     FROM customer GROUP BY 1, 2),
        tot AS (SELECT c_nationkey AS nationkey, '_total' AS key, count(*) AS value
                FROM customer GROUP BY 1)
        SELECT * FROM (SELECT * FROM seg UNION ALL SELECT * FROM tot)
        ORDER BY nationkey, key
    """,
    "sort_doc_order": """
        WITH d AS (SELECT doc_id, list_sort(string_split(text, ' ')) AS toks
                   FROM documents)
        SELECT doc_id, array_to_string(toks[1:5], ' ') AS first_tokens,
               len(toks) AS n_tokens
        FROM d ORDER BY doc_id
    """,
    "ir_metrics": _ir_metrics_oracle(),
    "multimodal_image_meta": _multimodal_oracle(),
    "read_zip_json": f"""
        SELECT doc_id, lang, n_chars FROM documents
        WHERE doc_id < {ZIP_DOCS} ORDER BY doc_id
    """,
    "upsert_parquet": """
        WITH base AS (SELECT c_custkey, c_name, round(c_acctbal, 4) AS acctbal
                      FROM customer WHERE c_custkey <= 100),
        upd AS (SELECT c_custkey, c_name, round(round(c_acctbal, 4) + 1000, 4) AS acctbal
                FROM customer WHERE c_custkey <= 20),
        ins AS (SELECT c_custkey + 100000 AS c_custkey, c_name,
                       round(c_acctbal, 4) AS acctbal
                FROM customer WHERE c_custkey <= 5)
        SELECT * FROM (
            SELECT * FROM base WHERE c_custkey NOT IN (SELECT c_custkey FROM upd)
            UNION ALL SELECT * FROM upd
            UNION ALL SELECT * FROM ins)
        ORDER BY c_custkey
    """,
}
