from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from theoremsearch_spark.session import get_spark

    s = get_spark("pytest", cores=int(os.environ.get("PYTEST_SPARK_CORES", "8")), shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_df(spark):
    """2k-doc deterministic corpus (FIXTURES.md unit scale), cached."""
    from theoremsearch_spark.corpus import generate_documents

    df = generate_documents(spark, 2000, partitions=8)
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="session")
def corpus_pdf(corpus_df):
    return corpus_df.toPandas()


@pytest.fixture(scope="session")
def index_dir(tmp_path_factory, spark, corpus_df):
    """Built index over the 2k corpus, shared across query tests."""
    from theoremsearch_spark.build import build_index
    from theoremsearch_spark.stats import prepare_docs

    d = str(tmp_path_factory.mktemp("index"))
    docs_r = prepare_docs(corpus_df, d, num_partitions=8)
    build_index(docs_r, f"{d}/index", salt_threshold=900, n_segments=4, n_buckets=8)
    return d


@pytest.fixture(scope="session")
def docs_pdf(spark, index_dir):
    return spark.read.parquet(f"{index_dir}/docs").toPandas()


@pytest.fixture(scope="session")
def oracle(docs_pdf, corpus_pdf):
    # oracle over the engine's (doc_id, url) assignment with the
    # generator's ground-truth text per url (independent of the
    # extraction UDF; byte-identity of extraction is locked separately)
    from tests.oracle import BM25Oracle

    truth = docs_pdf[["doc_id", "url"]].merge(
        corpus_pdf[["url", "text"]], on="url", validate="one_to_one"
    )
    return BM25Oracle(truth)


@pytest.fixture()
def tiny_arrow_batches(spark):
    """Arrow batches of 3 rows for the test's duration: scoring groups
    then straddle batch boundaries, the case the batched scorer must
    carry across batches. The session value is restored afterwards."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        yield
    finally:
        spark.conf.set(key, before)
