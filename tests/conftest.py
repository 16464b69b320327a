"""Shared fixtures: one SparkSession, one small built index + its oracle.

Mirrors the reference's integration strategy: build once over a small
deterministic corpus, then run many invariant suites against it
(cantine/tests/index_integration.rs:23-45 builds a 295-doc in-RAM index once).
"""

from __future__ import annotations

import pytest

from cantine_spark.build.builder import TEXT_FIELDS, build_index
from cantine_spark.corpus import generate_corpus, with_doc_ids
from cantine_spark.execution.executor import SearchExecutor
from cantine_spark.index import IndexReader
from cantine_spark.oracle import OracleIndex
from cantine_spark.session import get_spark

from reference import Reference

N_DOCS = 150  # small enough for fast tests, large enough for skew/ties


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cantine-tests", cores=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index"))
    corpus = with_doc_ids(generate_corpus(spark, N_DOCS, partitions=4))
    build_index(spark, corpus, d)
    # re-encode segments with a small shard span so the 150-doc index has
    # several shards (kernel merge paths get exercised); done HERE, before
    # any session-scoped reader caches the segments file listing
    from cantine_spark.build.segments import build_segments
    build_segments(spark, d, shard_span=40)
    return d


@pytest.fixture(scope="session")
def reader(spark, index_dir):
    return IndexReader(spark, index_dir)


@pytest.fixture(scope="session")
def executor(reader):
    return SearchExecutor(reader)


@pytest.fixture(scope="session")
def corpus_pdf(reader):
    return (reader.docs.select("doc_id", *TEXT_FIELDS)
            .toPandas().sort_values("doc_id").reset_index(drop=True))


@pytest.fixture(scope="session")
def oracle(corpus_pdf):
    return OracleIndex.build(corpus_pdf, list(TEXT_FIELDS))


@pytest.fixture(scope="session")
def reference(reader, oracle):
    """Oracle + pandas-over-docmeta answers for SearchEngine queries."""
    return Reference.of(reader, oracle)
