"""Positional-postings sidecar: phrase verification from stored
positions must be BITWISE-IDENTICAL to doc-text verification (both
artifacts come from the same frozen tokenizer), term/bucket-pruned,
and pure codegen."""

import numpy as np
import pandas as pd
import pytest

from theoremsearch_spark.positions import POS_BUCKETS, build_positions
from theoremsearch_spark.query import phrase_topk

K = 10


@pytest.fixture(scope="module")
def positions_dir(spark, index_dir):
    out = f"{index_dir}/index"
    build_positions(spark.read.parquet(f"{index_dir}/docs"), out)
    return f"{out}/positions"


def _phrase_queries(oracle, n=6, reverse_too=True):
    rows = []
    qid = 0
    rng = np.random.default_rng(7)
    for d in rng.choice(2000, size=n, replace=False):
        toks = list(oracle.tokens[int(d)])
        if len(toks) < 8:
            continue
        rows.append((qid, " ".join(toks[3:6])))
        qid += 1
        if reverse_too:
            rows.append((qid, " ".join(reversed(toks[3:6]))))
            qid += 1
    return pd.DataFrame(rows, columns=["query_id", "query_text"])


def test_positional_equals_doc_verify(spark, index_dir, oracle, positions_dir):
    qs = _phrase_queries(oracle)
    via_text = (
        phrase_topk(spark, f"{index_dir}/index", f"{index_dir}/docs", qs, k=K)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    via_pos = (
        phrase_topk(
            spark, f"{index_dir}/index", f"{index_dir}/docs", qs, k=K,
            positions_dir=positions_dir,
        )
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert len(via_text) > 0
    pd.testing.assert_frame_equal(via_text, via_pos)


def test_positional_repeated_token_phrase(spark, index_dir, oracle, positions_dir):
    """A phrase whose tokens repeat ('t t') joins the same position
    rows under two aliases — the offset arithmetic must still be
    exact, matching the doc-text verifier."""
    t = next(
        tok
        for d in range(2000)
        for a, b in zip(oracle.tokens[d], oracle.tokens[d][1:])
        if a == b
        for tok in [a]
    )
    qs = pd.DataFrame([(0, f"{t} {t}")], columns=["query_id", "query_text"])
    via_text = (
        phrase_topk(spark, f"{index_dir}/index", f"{index_dir}/docs", qs, k=K)
        .toPandas().sort_values("rank").reset_index(drop=True)
    )
    via_pos = (
        phrase_topk(
            spark, f"{index_dir}/index", f"{index_dir}/docs", qs, k=K,
            positions_dir=positions_dir,
        ).toPandas().sort_values("rank").reset_index(drop=True)
    )
    assert len(via_text) > 0
    pd.testing.assert_frame_equal(via_text, via_pos)


def test_positional_reads_only_phrase_buckets(spark, index_dir, oracle, positions_dir):
    """The positions scan lists ONLY the pb= dirs of the phrase's
    terms, and the verify plan contains no Python eval node."""
    from pyspark.sql import functions as F

    qs = _phrase_queries(oracle, n=2, reverse_too=False)
    df = phrase_topk(
        spark, f"{index_dir}/index", f"{index_dir}/docs", qs, k=K,
        positions_dir=positions_dir,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan

    from theoremsearch_spark.extract import tokenize

    toks = sorted({t for q in qs["query_text"] for t in tokenize(q)})
    from theoremsearch_spark.positions import PB_RULE, _pb_rule

    rule, nb = _pb_rule(positions_dir)
    assert rule == PB_RULE  # a fresh sidecar records the murmur3 rule
    allowed = {
        f"pb={int(r['mm']) % nb}"
        for r in spark.createDataFrame([(t,) for t in toks], "t string")
        .select(F.hash(F.xxhash64("t")).alias("mm"))
        .collect()
    }
    pos_files = [f for f in df.inputFiles() if "/positions/" in f]
    assert pos_files, "no positions files in the plan"
    for f in pos_files:
        assert any(f"/{a}/" in f for a in allowed), (f, allowed)


def test_positional_snippets_match_text_path(spark, index_dir, oracle, positions_dir):
    """snippet_pad on the positional path fetches text for the FINAL
    rows only — the snippets must equal the doc-verify path's."""
    qs = _phrase_queries(oracle, n=3, reverse_too=False)
    a = (
        phrase_topk(
            spark, f"{index_dir}/index", f"{index_dir}/docs", qs, k=K,
            snippet_pad=15,
        ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    b = (
        phrase_topk(
            spark, f"{index_dir}/index", f"{index_dir}/docs", qs, k=K,
            snippet_pad=15, positions_dir=positions_dir,
        ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b)


def test_footer_row_count_none_when_no_files_seen(
    spark, index_dir, positions_dir, tmp_path, monkeypatch
):
    """The driver-side footer walk only sees a local filesystem: on a
    root where it finds no data file it returns None (never a silent 0),
    and build_positions then counts the sidecar with Spark."""
    from theoremsearch_spark import positions as P

    n = P._footer_row_count(positions_dir)
    assert n == spark.read.parquet(positions_dir).count() > 0
    assert P._footer_row_count("s3a://bucket/index/positions") is None
    assert P._footer_row_count(str(tmp_path)) is None

    monkeypatch.setattr(P, "_footer_row_count", lambda root: None)
    res = P.build_positions(
        spark.read.parquet(f"{index_dir}/docs"), str(tmp_path / "idx")
    )
    assert res["position_rows"] == n
