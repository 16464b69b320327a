"""U5 — schema-driven feature derivation: adding a numeric column to docmeta
makes it filterable / sortable / aggregatable / cursor-paginatable with ZERO
other edits (cantine_derive generates the same surface from the struct shape,
cantine_derive/internal/src/lib.rs:9-34,102-137)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from cantine_spark.api import BadRequest, SearchEngine
from cantine_spark.build.builder import TEXT_FIELDS, build_index
from cantine_spark.corpus import generate_corpus, with_doc_ids
from cantine_spark.cursor import TAG_F64, TAG_U64
from cantine_spark.features import features_from_struct
from cantine_spark.index import IndexReader
from cantine_spark.oracle import OracleIndex

from reference import Reference, assert_result_matches, walk_pages


@pytest.fixture(scope="module")
def extended_engine(spark, tmp_path_factory):
    """A built index whose docmeta gained two synthetic columns AFTER the
    build — exactly the 'add a column' scenario."""
    d = str(tmp_path_factory.mktemp("featidx"))
    build_index(spark, with_doc_ids(generate_corpus(spark, 60, partitions=2)), d)
    dm = (spark.read.parquet(os.path.join(d, "docmeta"))
          .withColumn("stars", (F.col("doc_id") % 7).cast("long"))
          .withColumn("weight", (F.col("doc_id") / 3.0)))
    dm.write.parquet(os.path.join(d, "docmeta_new"))
    shutil.rmtree(os.path.join(d, "docmeta"))
    os.rename(os.path.join(d, "docmeta_new"), os.path.join(d, "docmeta"))
    return SearchEngine(IndexReader(spark, d))


def test_derivation_from_struct(extended_engine):
    feats = extended_engine.features
    assert feats["stars"].kind == "u64"
    assert feats["stars"].cursor_tag == TAG_U64
    assert feats["weight"].kind == "f64"
    assert feats["weight"].cursor_tag == TAG_F64
    assert "doc_id" not in feats          # the key is not a feature
    assert "repo" not in feats            # strings are not range-filterable
    assert feats["comment_ratio"].kind == "f64"
    assert feats["num_lines"].kind == "u64"


def test_new_column_filterable(extended_engine):
    r = extended_engine.search({"filter": {"stars": [2, 5]}})
    assert r.total_found > 0
    meta = extended_engine.reader.docmeta
    expect = meta.filter((F.col("stars") >= 2) & (F.col("stars") < 5)).count()
    assert r.total_found == expect


@pytest.fixture(scope="module")
def reference(extended_engine):
    reader = extended_engine.reader
    pdf = (reader.docs.select("doc_id", *TEXT_FIELDS).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    return Reference.of(reader, OracleIndex.build(pdf, list(TEXT_FIELDS)))


def test_new_column_sortable_and_paginatable(extended_engine, reference):
    """Opening the index rewrote the fast-field sidecar with the new
    columns: the kernel's cursor walk equals the oracle + pandas reference
    page for page."""
    base = {"fulltext": "def", "sort": "stars", "num_items": 7}
    n = walk_pages(extended_engine, reference, base)
    total = extended_engine.search(dict(base)).total_found
    assert n == total > 7  # pagination actually advanced through the cursor


def test_new_column_filtered_agg_fulltext_matches_relational(
        extended_engine, reference):
    q = {"fulltext": "def", "filter": {"stars": [2, 6]}, "sort": "weight",
         "agg": {"stars": [[0, 3], [3, 7]], "weight": [[0.0, 10.0]]},
         "num_items": 5}
    a = extended_engine.search(dict(q))
    assert a.total_found > 0
    assert_result_matches(a, reference.query(extended_engine, q))


def test_new_column_aggregatable(extended_engine):
    r = extended_engine.search({"agg": {"stars": [[0, 3], [3, 7]]}})
    stats = r.agg["stars"]
    assert stats[0].count + stats[1].count == extended_engine.reader.num_docs


def test_float_column_sort_uses_f64_cursor(extended_engine):
    r = extended_engine.search({"fulltext": "def", "sort": "weight",
                                "num_items": 3})
    assert r.next is not None
    from cantine_spark.cursor import SearchCursor
    assert SearchCursor.decode(r.next).tag == TAG_F64


def test_unknown_feature_still_rejected(extended_engine):
    with pytest.raises(BadRequest):
        extended_engine.search({"filter": {"nope": [0, 1]}})
    with pytest.raises(BadRequest):
        extended_engine.search({"fulltext": "def", "sort": "nope"})


def test_struct_walk_is_pure():
    from pyspark.sql import types as T
    s = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("x", T.IntegerType()),
        T.StructField("y", T.FloatType()),
        T.StructField("name", T.StringType()),
        T.StructField("_hidden", T.LongType()),
    ])
    feats = features_from_struct(s)
    assert set(feats) == {"x", "y"}
    assert feats["x"].kind == "u64" and feats["y"].kind == "f64"
