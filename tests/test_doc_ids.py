"""Doc-id assignment (corpus.with_doc_ids): ids are a dense rank computed
in the JVM over range-partitioned, cached rows, so the build's tokenize
stage runs one Python UDF per task.

Pins that the ids equal a pandas reference in both orders, whatever the
input partitioning (range partitions left empty included), that the
schema is unchanged, that no Python node is left in the id plan, and
that a build session with reused workers keeps at most one idle worker
per task slot.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import types as T

from cantine_spark import corpus as corpus_mod
from cantine_spark.build.builder import TOKFEAT_SCHEMA, _tokfeat_batches
from cantine_spark.corpus import (_partition_offsets, _with_max_impact,
                                  generate_corpus, with_doc_ids)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PYTHON_NODES = ("MapInPandas", "PythonUDF", "ArrowEvalPython",
                "BatchEvalPython")
STRIPE = 8  # several impact stripes at these corpus sizes


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    """37 generated files as parquet: a source without a Python stage, so
    the id plan is the only plan under test."""
    d = str(tmp_path_factory.mktemp("ids_corpus") / "corpus")
    generate_corpus(spark, 37, partitions=2).write.parquet(d)
    return d


def _source(spark, corpus_dir, n, parts):
    src = spark.read.parquet(corpus_dir).orderBy("path").limit(n)
    return src.repartition(parts)


def _identity_ref(pdf: pd.DataFrame) -> dict:
    keys = sorted(zip(pdf["repo"], pdf["path"]))
    return {k: i for i, k in enumerate(keys)}


def _impact_ref(pdf: pd.DataFrame) -> dict:
    """Rank by impact descending (ties on repo, path), then stripe: rank r
    goes to stripe r mod S at position r div S."""
    ranked = pdf.sort_values(["_impact", "repo", "path"],
                             ascending=[False, True, True],
                             kind="stable").reset_index(drop=True)
    n = len(ranked)
    stripes = max(1, -(-n // STRIPE))
    r = pd.Series(range(n))
    ranked["_key"] = list(zip(r % stripes, r // stripes))
    keys = sorted(zip(ranked["_key"], ranked["repo"], ranked["path"]))
    return {(repo, path): i for i, (_, repo, path) in enumerate(keys)}


def _ids(df) -> dict:
    return {(r["repo"], r["path"]): r["doc_id"]
            for r in df.select("repo", "path", "doc_id").collect()}


@pytest.mark.parametrize("n,parts", [(37, 1), (37, 3), (37, 8), (2, 3),
                                     (1, 1), (0, 2)])
def test_ids_equal_pandas_rank(spark, corpus_dir, monkeypatch, n, parts):
    """Both orders, for 1, 3 and 8 input partitions over 4 range
    partitions; the 2-, 1- and 0-row corpora leave range partitions
    empty."""
    monkeypatch.setattr(corpus_mod, "IMPACT_STRIPE", STRIPE)
    src = _source(spark, corpus_dir, n, parts)
    pdf = src.select("repo", "path").toPandas()
    assert _ids(with_doc_ids(src)) == _identity_ref(pdf)

    impact = _with_max_impact(src).select("repo", "path", "_impact")
    ids = _ids(with_doc_ids(src, order="impact"))
    assert ids == _impact_ref(impact.toPandas())
    assert sorted(ids.values()) == list(range(n))


def test_schema_unchanged(spark, corpus_dir):
    """A non-null long doc_id first, then the input's fields as they
    were."""
    src = spark.read.parquet(corpus_dir)
    for order in ("identity", "impact"):
        out = with_doc_ids(src, order=order)
        assert out.schema.fields[0] == T.StructField("doc_id", T.LongType(),
                                                     False)
        assert out.schema.fields[1:] == src.schema.fields


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_id_plan_has_no_python(spark, corpus_dir):
    plan = _plan(with_doc_ids(spark.read.parquet(corpus_dir)))
    assert "InMemoryTableScan" in plan
    assert not [n for n in PYTHON_NODES if n in plan], plan


def test_tokenize_stage_runs_one_python_udf(spark, corpus_dir):
    """The builder's tokenize frame over ids from a parquet corpus."""
    tok = (with_doc_ids(spark.read.parquet(corpus_dir))
           .mapInPandas(_tokfeat_batches, TOKFEAT_SCHEMA))
    plan = _plan(tok)
    assert plan.count("MapInPandas") == 1, plan


def test_partition_offsets_and_row_guard(spark, corpus_dir, monkeypatch):
    assert _partition_offsets({}) == {}
    assert _partition_offsets({2: 4, 0: 3}) == {0: 0, 2: 3}
    assert _partition_offsets({0: (1 << 33) - 1, 1: 5}) == \
        {0: 0, 1: (1 << 33) - 1}
    with pytest.raises(ValueError, match="2\\^33"):
        _partition_offsets({0: 1, 1: 1 << 33})
    # through with_doc_ids: 37 rows over 4 range partitions put at least
    # 10 in one, so a guard of 8 refuses before any id is assigned
    monkeypatch.setattr(corpus_mod, "_MAX_PARTITION_ROWS", 8)
    with pytest.raises(ValueError, match="range partition"):
        with_doc_ids(spark.read.parquet(corpus_dir))


_POOL_SCRIPT = """
import json, os, sys, tempfile
from cantine_spark.build.builder import build_index
from cantine_spark.corpus import generate_corpus, with_doc_ids
from cantine_spark.session import get_spark

spark = get_spark("worker-pool", cores=2, shuffle_partitions=2,
                  extra_conf={"spark.python.worker.reuse": "true",
                              "spark.ui.showConsoleProgress": "false"})
build_index(spark, with_doc_ids(generate_corpus(spark, 60, partitions=2)),
            tempfile.mkdtemp(prefix="pool_idx_", dir=sys.argv[1]))

def stat(pid):
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    return int(s[s.rindex(")") + 2:].split()[1])

def is_daemon(pid):
    with open(f"/proc/{pid}/cmdline", "rb") as f:
        return b"pyspark.daemon" in f.read()

pyspark = {}
for name in os.listdir("/proc"):
    if name.isdigit():
        try:
            if is_daemon(int(name)):
                pyspark[int(name)] = stat(int(name))
        except OSError:
            pass
jvm = spark.sparkContext._gateway.proc.pid
daemons = [p for p, pp in pyspark.items() if pp == jvm]
workers = [p for p, pp in pyspark.items() if pp in daemons]
print(json.dumps({"daemons": len(daemons), "workers": len(workers)}))
spark.stop()
"""


def test_build_keeps_one_worker_per_task_slot(tmp_path):
    """A local[2] build with reused Python workers leaves the JVM one
    daemon and at most 2 idle workers: no build task holds two Python
    workers at once (the id pass runs in the JVM)."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run([sys.executable, "-c", _POOL_SCRIPT, str(tmp_path)],
                         env=env, cwd=REPO, capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-4000:]
    pool = json.loads(out.stdout.strip().splitlines()[-1])
    assert pool["daemons"] <= 1 and pool["workers"] <= 2, pool
