"""Physical-plan audits of the Spark SQL reads left on the engine's paths
(the /info aggregation, the Spark fallbacks of the point lookups): pushdown
reaching the parquet scan and column-pruned reads. A regression here is a
100×-at-scale bug even when results stay correct."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_docmeta_agg_prunes_columns(reader):
    df = reader.docmeta.agg(F.min("num_lines"), F.max("num_lines"),
                            F.count("num_lines"))
    plan = plan_of(df)
    # ReadSchema must contain only the aggregated column
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "num_lines" in read
    assert "avg_line_len" not in read and "repo" not in read, read


def test_range_filter_pushes_down(reader):
    df = reader.docmeta.filter(
        (F.col("num_lines") >= 10) & (F.col("num_lines") < 40))
    plan = plan_of(df)
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "GreaterThanOrEqual(num_lines" in pushed, pushed
    assert "LessThan(num_lines" in pushed, pushed


def test_docs_point_lookup_pushes_id(reader):
    df = reader.docs.filter(F.col("doc_id") == 42)
    plan = plan_of(df)
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "EqualTo(doc_id,42)" in pushed.replace(" ", ""), pushed
