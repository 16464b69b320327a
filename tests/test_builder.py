"""IndexBuilder failure reporting: stages run on the calling thread and on
a small thread pool at the same time, and a failure in one must not hide a
failure in another."""

from __future__ import annotations

import logging

import pytest

from cantine_spark.build import builder, segments
from cantine_spark.corpus import generate_corpus, with_doc_ids


def test_concurrent_stage_failures_are_all_reported(spark, tmp_path,
                                                    monkeypatch, caplog):
    """segments (calling thread) and docs (pool) both fail: the segments
    error propagates, and the docs error is logged rather than dropped
    when the pool shuts down."""
    def docs_boom(self, tokenized):
        raise RuntimeError("docs stage boom")

    def segments_boom(*a, **kw):
        raise RuntimeError("segments stage boom")

    monkeypatch.setattr(builder.IndexBuilder, "_docs_df", docs_boom)
    monkeypatch.setattr(segments, "build_segments", segments_boom)
    corpus = with_doc_ids(generate_corpus(spark, 20, partitions=1))
    with caplog.at_level(logging.ERROR, logger=builder.__name__):
        with pytest.raises(RuntimeError, match="segments stage boom"):
            builder.build_index(spark, corpus, str(tmp_path / "index"))
    logged = [str(r.exc_info[1]) for r in caplog.records
              if r.name == builder.__name__ and r.exc_info]
    assert logged == ["docs stage boom"]
