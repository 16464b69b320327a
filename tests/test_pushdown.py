"""Physical-plan quality gates — the 'would this survive 100×' checks.

A lookup must reach the parquet scan as PushedFilters over a pruned
partition set; projections must shrink ReadSchema; the kernel's point
reads must not decode columns a query does not use. These assert on
explain(formatted) output so a regression in plan shape fails loudly even
while results stay correct (SURVEY §4 O7/O9)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_segments_scan_pushes_term_filter(spark, reader):
    seg = spark.read.parquet(f"{reader.index_dir}/segments").filter(
        (F.col("field") == "content") & (F.col("term") == "def"))
    plan = plan_of(seg)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1].split("]", 1)[0]
    assert "term" in pushed and "field" in pushed


def test_docs_point_lookup_is_pushed(reader):
    df = reader.docs.filter(F.col("doc_id") == 7).select("doc_id", "uuid")
    plan = plan_of(df)
    pushed = plan.split("PushedFilters", 1)[1].split("]", 1)[0]
    assert "doc_id" in pushed
    schema = plan.split("ReadSchema", 1)[1].splitlines()[0]
    assert "content" not in schema, "point lookup read the content column"


def test_uuid_map_lookup_reads_one_bucket(reader):
    from cantine_spark.functions.xxhash import spark_xxhash64_strings
    row = reader.docs.select("uuid").first()
    uuid = row["uuid"]
    b = spark_xxhash64_strings(uuid) % int(reader.manifest["n_buckets"])
    df = reader.uuid_map.filter(
        (F.col("ubucket") == b) & (F.col("uuid") == uuid))
    plan = plan_of(df)
    pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "ubucket" in pf, "uuid resolve must prune to one bucket directory"
    # and the resolve itself works through the engine surface
    assert reader.id_for_uuid(uuid) is not None


def test_kernel_scan_prunes_positions_for_term_queries(reader, monkeypatch):
    """A phrase-free kernel job never reads the positions column (positions
    are the largest blob in a hot term's blocks; reading them for a term
    query is pure waste); a job with a phrase query does. The shard tasks
    read in Python workers, so the test captures each job's task function
    from make_shard_task and replays it in this process over every shard
    id, recording the columns of each point read."""
    from cantine_spark.execution import driverexec, wand
    from cantine_spark.execution.wand import FastTopK
    from cantine_spark.plans.nodes import Boolean, Phrase, Term

    tasks = []
    make_shard_task = wand.make_shard_task

    def spy(*a, **kw):
        tasks.append(make_shard_task(*a, **kw))
        return tasks[-1]

    monkeypatch.setattr(wand, "make_shard_task", spy)
    fast = FastTopK(reader, use_driver=False)
    terms = Boolean(shoulds=(Term("content", "def"),
                             Term("content", "return")))
    assert fast.search(terms, k=5, use_champions=False).hits
    fast.search_many([{"node": terms, "k": 5},
                      {"node": Term("path", "def"), "k": 3,
                       "use_champions": False}])
    fast.search(Phrase("content", ("def", "the")), k=5)
    assert len(tasks) == 3

    reads = []
    read_rows = driverexec.read_rows

    def recording(spec, terms_, columns, shards=None):
        reads.append(tuple(columns))
        return read_rows(spec, terms_, columns, shards=shards)

    monkeypatch.setattr(driverexec, "read_rows", recording)
    per_job = []
    for task in tasks:
        reads.clear()
        assert list(task(iter(fast._shards)))  # the replay produces output
        per_job.append(set(reads))
    for cols in per_job[0] | per_job[1]:  # segment and champion reads
        assert "positions" not in cols
    assert all(any("doc_deltas" in cols for cols in job) for job in per_job)
    assert any("positions" in cols for cols in per_job[2])
