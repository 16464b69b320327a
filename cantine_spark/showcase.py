"""Driver-facing showcase queries over /root/testdata tables, each paired
with a DuckDB oracle SQL string (the driver's correctness gate).

Each function here demonstrates one operator family from SURVEY.md §2 on the
`documents` / `embeddings` / `events` tables, expressed in the same
DataFrame algebra the real engine uses (cantine_spark/execution), plus the
training-data-pipeline operators (dedup, similarity, text analysis).

Numeric parity discipline:
- tokenization: `regexp_extract_all(lower(text), '[a-z0-9]+')` on BOTH sides;
- BM25 constants k1=1.2 b=0.75, idf = ln(1+(N-df+0.5)/(df+0.5)) — collection
  stats (N, df, Σdl) are exact integers so avgdl is bit-deterministic;
- every float score is ROUND(x, 5) in BOTH engines and the ORDER BY uses the
  rounded value, so top-k tie sets agree across engines;
- aggregate/computed columns carry identical aliases on both sides.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75

TOKEN_PATTERN = "[a-z0-9]+"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_extract_all(F.lower("text"), F.lit(TOKEN_PATTERN), 0).alias("toks"))


def _collection_stats(spark, sf_dir: str, terms: list[str]) -> dict:
    """Exact-integer collection stats → deterministic idf/avgdl."""
    tok = _tokens(spark, sf_dir)
    aggs = [F.count("*").alias("n"),
            F.sum(F.size("toks")).alias("sum_dl")]
    for i, t in enumerate(terms):
        aggs.append(F.count(
            F.when(F.array_contains("toks", t), 1)).alias(f"df_{i}"))
    row = tok.agg(*aggs).collect()[0]
    n, sum_dl = int(row["n"]), int(row["sum_dl"])
    return {"n": n, "avgdl": sum_dl / n,
            "df": {t: int(row[f"df_{i}"]) for i, t in enumerate(terms)}}


def _idf(df: int, n: int) -> float:
    return math.log(1.0 + (n - df + 0.5) / (df + 0.5))


def _tf_col(term: str):
    return F.size(F.filter("toks", lambda x: x == F.lit(term)))


def _bm25_col(tf, dl, idf_val: float, avgdl: float):
    tfd = tf.cast("double")
    return F.lit(idf_val) * (tfd * (K1 + 1.0)) / (
        tfd + K1 * (1.0 - B + B * dl.cast("double") / F.lit(avgdl)))


_SQL_TOK = ("SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks "
            "FROM documents")

_SQL_STATS = ("SELECT count(*) AS n, sum(len(toks)) AS sum_dl FROM tok")


def _sql_bm25_expr(tf_expr: str, df_expr: str, dl="dl") -> str:
    """BM25 with stats inlined from the stats CTE (n, sum_dl as columns)."""
    idf = f"ln(1.0 + (s.n - {df_expr} + 0.5) / ({df_expr} + 0.5))"
    return (f"{idf} * ({tf_expr} * 2.2) / "
            f"({tf_expr} + 1.2 * (0.25 + 0.75 * {dl} / "
            f"(CAST(s.sum_dl AS DOUBLE) / s.n)))")


# ======================================================================
# ENGINE-BACKED ENTRIES (r1 VERDICT item 6): the BM25/phrase/pagination
# entries below build (or reuse) a REAL index over the documents table and
# answer through SearchEngine — segments, block-max kernel, uuid
# cursor resolve — so the driver's oracle gate exercises the actual engine,
# not a parallel algebra. The oracle SQL mirrors the engine's float
# discipline explicitly: scores pass through f32 (tantivy's Score type,
# CAST(... AS REAL)) before the shared ROUND(x, 5), and the ORDER BY uses
# the f32 value with doc_id tie-break — bit-identical to the kernel's heap.
# ======================================================================

_ENGINE_CACHE: dict = {}


def _engine(spark, sf_dir):
    """Build-once-per-sf_dir SearchEngine over the documents table. The
    index lands in .idx_cache/ (builder stage markers make re-entry a
    no-op), with the corpus shaped to the engine's input_hint schema:
    content = text, path = doc_id (so engine doc_ids == documents.doc_id)."""
    import os as _os
    from cantine_spark.api import SearchEngine
    from cantine_spark.build.builder import build_index
    from cantine_spark.index import IndexReader
    # key by (session, dir): a cached engine holds DataFrames bound to ONE
    # SparkSession — returning it to a different/restarted session would
    # crash on dead JVM references
    key = (spark.sparkContext.applicationId, _os.path.abspath(sf_dir))
    if key in _ENGINE_CACHE:
        return _ENGINE_CACHE[key]
    root = _os.environ.get(
        "CANTINE_IDX_CACHE",
        _os.path.join(_os.path.dirname(_os.path.dirname(
            _os.path.abspath(__file__))), ".idx_cache"))
    try:
        _os.makedirs(root, exist_ok=True)
        probe = _os.path.join(root, ".w")
        with open(probe, "w") as fh:
            fh.write("")
        _os.remove(probe)
    except OSError:  # read-only checkout → per-process temp cache
        import tempfile as _tf
        root = _os.path.join(_tf.gettempdir(), "cantine_idx_cache")
        _os.makedirs(root, exist_ok=True)
    idx_dir = _os.path.join(root, key[1].strip("/").replace("/", "_"))
    corpus = (spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lit("testdata").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.lit("0").alias("commit"),
        F.coalesce(F.col("lang"), F.lit("txt")).alias("lang"),
        F.coalesce(F.col("text"), F.lit("")).alias("content")))
    build_index(spark, corpus, idx_dir)
    eng = SearchEngine(IndexReader(spark, idx_dir))
    _ENGINE_CACHE[key] = eng
    return eng


def _items_df(spark, items) -> DataFrame:
    """Engine hits → (doc_id, score) frame, ROUND(f32→f64, 5), engine order
    preserved (score f32 desc, doc_id asc — the kernel's heap order)."""
    rows = [(int(it["doc_id"]), float(it["score"])) for it in items]
    if not rows:
        return spark.createDataFrame([], "doc_id long, score double")
    df = spark.createDataFrame(rows, "doc_id long, score float")
    return df.select(
        "doc_id", F.round(F.col("score").cast("double"), 5).alias("score"))


def _sql_f32_select(raw_expr: str, where: str, k: int | None) -> str:
    """Shared tail: f32-cast score, rounded display value, f32 ordering."""
    lim = f"\nLIMIT {k}" if k is not None else ""
    return (f"scored AS (\n"
            f"  SELECT b.doc_id, CAST({raw_expr} AS REAL) AS s32\n"
            f"  FROM base b, stats s\n  WHERE {where})\n"
            f"SELECT doc_id, ROUND(CAST(s32 AS DOUBLE), 5) AS score\n"
            f"FROM scored ORDER BY s32 DESC, doc_id ASC{lim}")


# ======================================================================
# F1/C1/T1/T2: single-term BM25 top-k
# ======================================================================

def bm25_single_term(spark, sf_dir, term="spark", k=10) -> DataFrame:
    """F1/C1/T1/T2 through the REAL engine: segments built from the
    documents table, query answered by the block-max kernel."""
    res = _engine(spark, sf_dir).search({"fulltext": term, "num_items": k})
    return _items_df(spark, res.items)


def bm25_single_term_sql(term="spark", k=10) -> str:
    return f"""
WITH tok AS ({_SQL_TOK}),
base AS (
  SELECT doc_id, len(toks) AS dl,
         len(list_filter(toks, x -> x = '{term}')) AS tf
  FROM tok),
stats AS (
  SELECT count(*) AS n, sum(dl) AS sum_dl,
         sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df0
  FROM base),
{_sql_f32_select(_sql_bm25_expr('b.tf', 's.df0', 'b.dl'), 'b.tf > 0', k)}
"""


# ======================================================================
# J2/C1: multi-term OR (scores summed in fixed term order)
# ======================================================================

def bm25_multi_or(spark, sf_dir, terms=("spark", "query", "join"), k=10) -> DataFrame:
    """J2 through the real engine (Boolean shoulds, scores summed in term
    order inside the kernel)."""
    res = _engine(spark, sf_dir).search(
        {"fulltext": " ".join(terms), "num_items": k})
    return _items_df(spark, res.items)


def bm25_multi_or_sql(terms=("spark", "query", "join"), k=10) -> str:
    tf_cols = ",\n         ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms))
    df_cols = ",\n         ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms)))
    score_sum = " + ".join(
        f"(CASE WHEN b.tf{i} > 0 THEN "
        f"{_sql_bm25_expr(f'b.tf{i}', f's.df{i}', 'b.dl')} ELSE 0.0 END)"
        for i in range(len(terms)))
    match = " OR ".join(f"b.tf{i} > 0" for i in range(len(terms)))
    return f"""
WITH tok AS ({_SQL_TOK}),
base AS (
  SELECT doc_id, len(toks) AS dl,
         {tf_cols}
  FROM tok),
stats AS (
  SELECT count(*) AS n, sum(dl) AS sum_dl,
         {df_cols}
  FROM base),
{_sql_f32_select(score_sum, match, k)}
"""


# ======================================================================
# J1/J4: must + must-not boolean (scored conjunction with exclusion)
# ======================================================================

def bm25_must_mustnot(spark, sf_dir, must=("table", "scan"),
                      must_not="error", k=10) -> DataFrame:
    """J1/J4 through the real engine: +must terms, -prohibited term."""
    q = " ".join(f"+{t}" for t in must) + f" -{must_not}"
    res = _engine(spark, sf_dir).search({"fulltext": q, "num_items": k})
    return _items_df(spark, res.items)


def bm25_must_mustnot_sql(must=("table", "scan"), must_not="error", k=10) -> str:
    tf_cols = ",\n         ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(must))
    df_cols = ",\n         ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(must)))
    score_sum = " + ".join(
        _sql_bm25_expr(f"b.tf{i}", f"s.df{i}", "b.dl")
        for i in range(len(must)))
    cond = " AND ".join(f"b.tf{i} > 0" for i in range(len(must)))
    return f"""
WITH tok AS ({_SQL_TOK}),
base AS (
  SELECT doc_id, len(toks) AS dl,
         {tf_cols},
         len(list_filter(toks, x -> x = '{must_not}')) AS tfn
  FROM tok),
stats AS (
  SELECT count(*) AS n, sum(dl) AS sum_dl,
         {df_cols}
  FROM base),
{_sql_f32_select(score_sum, cond + " AND b.tfn = 0", k)}
"""


# ======================================================================
# F2: phrase (bigram adjacency via normalized-join containment)
# ======================================================================

def phrase_match(spark, sf_dir, w1="fast", w2="table") -> DataFrame:
    """F2 through the real engine: positional phrase evaluated inside the
    segment kernel (positions travel with the blocks); BM25 phrase score =
    (idf(w1)+idf(w2)) · tfnorm(phrase_tf), tantivy's Bm25Weight::for_terms
    semantics. All matches returned (≤255, the u8 page cap)."""
    res = _engine(spark, sf_dir).search(
        {"fulltext": f'"{w1} {w2}"', "num_items": 255})
    return _items_df(spark, res.items)


def phrase_match_sql(w1="fast", w2="table") -> str:
    # positional adjacency count: positions i (1-based) with toks[i] = w1
    # and toks[i+1] = w2 — exact phrase tf, not the string-replace trick
    # (replace undercounts back-to-back repeats)
    ptf = (f"len(list_filter(range(1, len(toks)), "
           f"i -> toks[i] = '{w1}' AND toks[i + 1] = '{w2}'))")
    idf_sum = ("(ln(1.0 + (s.n - s.df0 + 0.5) / (s.df0 + 0.5))"
               " + ln(1.0 + (s.n - s.df1 + 0.5) / (s.df1 + 0.5)))")
    raw = (f"{idf_sum} * (b.ptf * 2.2) / "
           f"(b.ptf + 1.2 * (0.25 + 0.75 * b.dl / "
           f"(CAST(s.sum_dl AS DOUBLE) / s.n)))")
    return f"""
WITH tok AS ({_SQL_TOK}),
base AS (
  SELECT doc_id, len(toks) AS dl,
         {ptf} AS ptf,
         len(list_filter(toks, x -> x = '{w1}')) AS tf0,
         len(list_filter(toks, x -> x = '{w2}')) AS tf1
  FROM tok),
stats AS (
  SELECT count(*) AS n, sum(dl) AS sum_dl,
         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1
  FROM base),
{_sql_f32_select(raw, 'b.ptf > 0', 255)}
"""


# ======================================================================
# T3: top-k by field with doc_id tie-break
# ======================================================================

def topk_by_field(spark, sf_dir, k=20) -> DataFrame:
    return (_docs(spark, sf_dir)
            .select("doc_id", "n_chars")
            .orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(k))


def topk_by_field_sql(k=20) -> str:
    return (f"SELECT doc_id, n_chars FROM documents "
            f"ORDER BY n_chars DESC, doc_id ASC LIMIT {k}")


# ======================================================================
# A1: range-bucket stats (half-open ranges, single pass)
# ======================================================================

RANGES = [(0, 200), (200, 400), (400, 800)]


def range_stats(spark, sf_dir) -> DataFrame:
    d = _docs(spark, sf_dir)
    exprs = []
    for i, (lo, hi) in enumerate(RANGES):
        v = F.when((F.col("n_chars") >= lo) & (F.col("n_chars") < hi),
                   F.col("n_chars"))
        exprs += [F.min(v).alias(f"min_{i}"), F.max(v).alias(f"max_{i}"),
                  F.count(v).alias(f"count_{i}")]
    return d.agg(*exprs)


def range_stats_sql() -> str:
    cols = []
    for i, (lo, hi) in enumerate(RANGES):
        v = f"CASE WHEN n_chars >= {lo} AND n_chars < {hi} THEN n_chars END"
        cols += [f"min({v}) AS min_{i}", f"max({v}) AS max_{i}",
                 f"count({v}) AS count_{i}"]
    return f"SELECT {', '.join(cols)} FROM documents"


# ======================================================================
# A7: document frequency per term (term_stats build step)
# ======================================================================

def doc_freq(spark, sf_dir, min_df=5) -> DataFrame:
    tok = _tokens(spark, sf_dir)
    return (tok.select("doc_id", F.explode(F.array_distinct("toks")).alias("term"))
            .groupBy("term").agg(F.count("*").alias("df"))
            .filter(F.col("df") >= min_df)
            .orderBy(F.desc("df"), F.asc("term")))


def doc_freq_sql(min_df=5) -> str:
    return f"""
WITH tok AS ({_SQL_TOK}),
t AS (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM tok)
SELECT term, count(*) AS df FROM t
GROUP BY term HAVING count(*) >= {min_df}
ORDER BY df DESC, term ASC
"""


# ======================================================================
# dedup: exact (hash groupBy)
# ======================================================================

def dedup_exact(spark, sf_dir) -> DataFrame:
    d = _docs(spark, sf_dir)
    return (d.groupBy(F.md5(F.col("text")).alias("text_md5"))
            .agg(F.count("*").alias("n_copies"),
                 F.min("doc_id").alias("keep_doc_id"))
            .filter(F.col("n_copies") > 1)
            .orderBy(F.desc("n_copies"), F.asc("keep_doc_id")))


def dedup_exact_sql() -> str:
    return """
SELECT md5(text) AS text_md5, count(*) AS n_copies, min(doc_id) AS keep_doc_id
FROM documents GROUP BY md5(text) HAVING count(*) > 1
ORDER BY n_copies DESC, keep_doc_id ASC
"""


# ======================================================================
# text analysis: token count + quality score
# ======================================================================

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def text_quality(spark, sf_dir) -> DataFrame:
    tok = _tokens(spark, sf_dir)
    n_tok = F.size("toks")
    n_stop = F.size(F.filter("toks", lambda x: x.isin(*STOPWORDS)))
    total_len = F.aggregate(
        "toks", F.lit(0).cast("long"), lambda a, x: a + F.length(x))
    return tok.select(
        "doc_id",
        n_tok.cast("long").alias("num_tokens"),
        F.round(n_stop.cast("double") / F.greatest(n_tok, F.lit(1)), 5)
         .alias("stopword_ratio"),
        F.round(total_len.cast("double") / F.greatest(n_tok, F.lit(1)), 5)
         .alias("avg_token_len"),
    ).orderBy("doc_id")


def text_quality_sql() -> str:
    stop = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH tok AS ({_SQL_TOK})
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS num_tokens,
  ROUND(CAST(len(list_filter(toks, x -> x IN ({stop}))) AS DOUBLE)
        / greatest(len(toks), 1), 5) AS stopword_ratio,
  ROUND(CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE)
        / greatest(len(toks), 1), 5) AS avg_token_len
FROM tok ORDER BY doc_id
"""


# ======================================================================
# similarity: brute-force cosine top-k over embeddings
# ======================================================================

def ann_cosine_topk(spark, sf_dir, query_vec_id=0, k=10) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrow = emb.filter(F.col("vec_id") == query_vec_id).collect()[0]
    q = [float(x) for x in qrow["embedding"]]
    qnorm = math.sqrt(sum(x * x for x in q))
    qcol = F.array(*[F.lit(x) for x in q])
    dot = F.aggregate(
        F.zip_with(F.col("embedding"), qcol, lambda a, b: a.cast("double") * b),
        F.lit(0.0), lambda acc, x: acc + x)
    nrm = F.sqrt(F.aggregate(
        F.col("embedding"), F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double")))
    cos = dot / (nrm * F.lit(qnorm))
    return (emb.filter(F.col("vec_id") != query_vec_id)
            .select("vec_id", F.round(cos, 5).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k))


def ann_cosine_topk_sql(query_vec_id=0, k=10) -> str:
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {query_vec_id})
SELECT e.vec_id,
  ROUND(
    list_sum(list_transform(list_zip(e.embedding, q.qe),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(e.embedding,
                                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform(q.qe,
                                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
  5) AS cosine
FROM embeddings e, q
WHERE e.vec_id != {query_vec_id}
ORDER BY cosine DESC, e.vec_id ASC
LIMIT {k}
"""


# ======================================================================
# similarity: embedding near-dup via random-hyperplane LSH
# ======================================================================

def embed_near_dup(spark, sf_dir, threshold=0.4) -> DataFrame:
    """Cosine-near-dup pairs through the REAL LSH operator
    (operators/dedup.embedding_near_dups: seeded random-hyperplane sign
    sketch → banded bucket equi-join → exact cosine verify — never an
    all-pairs product). The oracle replays the SAME seeded planes in SQL,
    so both sides return the same deterministic candidate subset; τ=0.4
    because the synthetic embeddings' max pairwise cosine is ~0.51 (no
    planted near-dups), which keeps the result non-trivial while still
    exercising sketch, banding, join, and verify."""
    from cantine_spark.operators.dedup import embedding_near_dups
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = embedding_near_dups(emb, vec_col="embedding", id_col="vec_id",
                                dim=64, n_planes=16, bands=4,
                                threshold=threshold, seed=42)
    return (pairs.select("a", "b", F.round("cosine", 5).alias("cosine"))
            .orderBy("a", "b"))


def embed_near_dup_sql(threshold=0.4, n_planes=16, bands=4,
                       dim=64, seed=42) -> str:
    import numpy as np
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes, dim))  # same as the operator
    per_band = n_planes // bands

    def dot(p):
        lit = "[" + ", ".join(repr(float(x)) for x in planes[p]) + "]"
        return ("list_sum(list_transform(list_zip(embedding, " + lit
                + "), p -> CAST(p[1] AS DOUBLE) * p[2]))")

    bkts = []
    for b in range(bands):
        bits = [
            f"(CASE WHEN {dot(p)} >= 0 THEN {2 ** (per_band - 1 - i)} "
            "ELSE 0 END)"
            for i, p in enumerate(range(b * per_band, (b + 1) * per_band))]
        bkts.append("(" + " + ".join(bits) + f") AS bkt{b}")
    cand = "\n  UNION\n  ".join(
        f"SELECT l.vec_id AS a, r.vec_id AS b FROM sk l JOIN sk r "
        f"ON l.bkt{b} = r.bkt{b} AND l.vec_id < r.vec_id"
        for b in range(bands))
    return f"""
WITH sk AS (SELECT vec_id, embedding, {", ".join(bkts)} FROM embeddings),
cand AS (
  {cand}
),
v AS (SELECT c.a, c.b,
  list_sum(list_transform(list_zip(la.embedding, lb.embedding),
                          p -> CAST(p[1] AS DOUBLE) * p[2]))
  / (sqrt(list_sum(list_transform(la.embedding,
                                  x -> CAST(x AS DOUBLE) * x)))
     * sqrt(list_sum(list_transform(lb.embedding,
                                    x -> CAST(x AS DOUBLE) * x)))) AS cos
  FROM cand c
  JOIN embeddings la ON la.vec_id = c.a
  JOIN embeddings lb ON lb.vec_id = c.b)
SELECT a, b, ROUND(cos, 5) AS cosine FROM v
WHERE cos >= {threshold} ORDER BY a, b
"""


# ======================================================================
# events: tumbling-window aggregation (batch form)
# ======================================================================

def events_hourly(spark, sf_dir) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 4).alias("total_value"))
            .orderBy("hour", "event_type"))


def events_hourly_sql() -> str:
    return """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events, ROUND(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2 ORDER BY hour, event_type
"""


# ======================================================================
# J3/C2: DisMax over two term queries
# ======================================================================

def bm25_dismax(spark, sf_dir, t1="spark", t2="stream",
                tiebreaker=0.1, k=10) -> DataFrame:
    """J3/C2 through the real engine: a term-level DisMax plan evaluated via
    the public search_node surface (routes to the segment kernel;
    mx + (sum-mx)·tiebreaker, dismax.rs:19-35)."""
    from cantine_spark.plans.nodes import DisMax, Term
    eng = _engine(spark, sf_dir)
    node = DisMax((Term("content", t1), Term("content", t2)), tiebreaker)
    res = eng.search_node(node, k=k)
    items = [{"doc_id": d, "score": sc} for d, sc in res.hits]
    return _items_df(spark, items)


def bm25_dismax_sql(t1="spark", t2="stream", tiebreaker=0.1, k=10) -> str:
    s = [f"(CASE WHEN b.tf{i} > 0 THEN "
         f"{_sql_bm25_expr(f'b.tf{i}', f's.df{i}', 'b.dl')} ELSE 0.0 END)"
         for i in range(2)]
    return f"""
WITH tok AS ({_SQL_TOK}),
base AS (
  SELECT doc_id, len(toks) AS dl,
         len(list_filter(toks, x -> x = '{t1}')) AS tf0,
         len(list_filter(toks, x -> x = '{t2}')) AS tf1
  FROM tok),
stats AS (
  SELECT count(*) AS n, sum(dl) AS sum_dl,
         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1
  FROM base),
{_sql_f32_select(
    f"greatest({s[0]}, {s[1]})"
    f" + ({s[0]} + {s[1]} - greatest({s[0]}, {s[1]})) * {tiebreaker}",
    "b.tf0 > 0 OR b.tf1 > 0", k)}
"""


# ======================================================================
# T5: deep pagination (page 2 == OFFSET semantics under total order)
# ======================================================================

def topk_page2(spark, sf_dir, term="table", page=10) -> DataFrame:
    """T5 through the real engine: page 1 emits a wire-format cursor whose
    uuid resolves via the hash-bucketed uuid_map; page 2 applies the
    pagination condition inside the kernel. Equals OFFSET under the total
    order (score f32 desc, doc_id asc)."""
    eng = _engine(spark, sf_dir)
    r1 = eng.search({"fulltext": term, "num_items": page})
    if r1.next is None:
        return _items_df(spark, [])
    r2 = eng.search({"fulltext": term, "num_items": page, "after": r1.next})
    return _items_df(spark, r2.items)


def topk_page2_sql(term="table", page=10) -> str:
    # rank on the f32 value itself (rounding could permute f32-ties)
    return f"""
WITH tok AS ({_SQL_TOK}),
base AS (
  SELECT doc_id, len(toks) AS dl,
         len(list_filter(toks, x -> x = '{term}')) AS tf
  FROM tok),
stats AS (
  SELECT count(*) AS n, sum(dl) AS sum_dl,
         sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df0
  FROM base),
scored AS (
  SELECT b.doc_id,
         CAST({_sql_bm25_expr('b.tf', 's.df0', 'b.dl')} AS REAL) AS s32
  FROM base b, stats s
  WHERE b.tf > 0),
ranked AS (
  SELECT doc_id, s32,
         ROW_NUMBER() OVER (ORDER BY s32 DESC, doc_id ASC) AS rn
  FROM scored)
SELECT doc_id, ROUND(CAST(s32 AS DOUBLE), 5) AS score
FROM ranked
WHERE rn > {page} AND rn <= {2 * page}
ORDER BY rn
"""


# ======================================================================
# F3+F1: filtered fulltext — range filter evaluated IN the segment kernel
# ======================================================================

def bm25_filtered(spark, sf_dir, term="spark", lo=150, hi=350, k=10) -> DataFrame:
    """VERDICT r2 next-round #1 through the REAL engine: fulltext + numeric
    range filter, evaluated in-kernel over the shard-local fast-field
    sidecar like a Must clause (cantine/src/main.rs:152-172 composes
    filters into the ONE segment query) — the row-per-posting table is
    never scanned."""
    res = _engine(spark, sf_dir).search(
        {"fulltext": term, "filter": {"content_bytes": [lo, hi]},
         "num_items": k})
    return _items_df(spark, res.items)


def bm25_filtered_sql(term="spark", lo=150, hi=350, k=10) -> str:
    # engine feature content_bytes = length(content) (chars; builder.py
    # _docmeta_df), and engine content = documents.text
    return f"""
WITH tok AS ({_SQL_TOK}),
base AS (
  SELECT t.doc_id, len(t.toks) AS dl,
         len(list_filter(t.toks, x -> x = '{term}')) AS tf,
         length(d.text) AS cb
  FROM tok t JOIN documents d USING (doc_id)),
stats AS (
  SELECT count(*) AS n, sum(dl) AS sum_dl,
         sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df0
  FROM base),
{_sql_f32_select(_sql_bm25_expr('b.tf', 's.df0', 'b.dl'),
                 f'b.tf > 0 AND b.cb >= {lo} AND b.cb < {hi}', k)}
"""


# ======================================================================
# T3+F1: field-sorted fulltext — fast-field ranking IN the segment kernel
# ======================================================================

def bm25_sorted_field(spark, sf_dir, term="spark", k=15) -> DataFrame:
    """VERDICT r2 next-round #3 through the REAL engine: fulltext + field
    sort. The kernel ranks the match set by the sidecar fast-field value
    (shard-local, doc_id-asc tie-break) and exact-scores only the ≤k
    winners (tique top_fast_field, top_collector.rs:136-166)."""
    res = _engine(spark, sf_dir).search(
        {"fulltext": term, "sort": "content_bytes", "num_items": k})
    rows = [(int(it["doc_id"]), int(it["sort_val"]), float(it["score"]))
            for it in res.items]
    if not rows:
        return spark.createDataFrame(
            [], "doc_id long, content_bytes long, score double")
    df = spark.createDataFrame(rows, "doc_id long, content_bytes long, score float")
    return df.select("doc_id", "content_bytes",
                     F.round(F.col("score").cast("double"), 5).alias("score"))


def bm25_sorted_field_sql(term="spark", k=15) -> str:
    raw = _sql_bm25_expr("b.tf", "s.df0", "b.dl")
    return f"""
WITH tok AS ({_SQL_TOK}),
base AS (
  SELECT t.doc_id, len(t.toks) AS dl,
         len(list_filter(t.toks, x -> x = '{term}')) AS tf,
         length(d.text) AS cb
  FROM tok t JOIN documents d USING (doc_id)),
stats AS (
  SELECT count(*) AS n, sum(dl) AS sum_dl,
         sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df0
  FROM base),
scored AS (
  SELECT b.doc_id, b.cb, CAST({raw} AS REAL) AS s32
  FROM base b, stats s WHERE b.tf > 0)
SELECT doc_id, CAST(cb AS BIGINT) AS content_bytes,
       ROUND(CAST(s32 AS DOUBLE), 5) AS score
FROM scored ORDER BY cb DESC, doc_id ASC
LIMIT {k}
"""


def bm25_filtered_sorted(spark, sf_dir, term="spark", lo=150, hi=400,
                         k=12) -> DataFrame:
    """r4: filter + field sort in ONE kernel job — filter and sort values
    both come from the shard-local fast-field sidecar
    (build/segments.write_fastfields), so
    neither the filter nor the ranking moves feature columns through a
    shuffle (VERDICT r3 next-round #1; tantivy's FAST columns,
    index.rs:193 + top_collector.rs:136-166)."""
    res = _engine(spark, sf_dir).search(
        {"fulltext": term, "sort": "content_bytes",
         "filter": {"content_bytes": [lo, hi]}, "num_items": k})
    rows = [(int(it["doc_id"]), int(it["sort_val"]), float(it["score"]))
            for it in res.items]
    if not rows:
        return spark.createDataFrame(
            [], "doc_id long, content_bytes long, score double")
    df = spark.createDataFrame(rows, "doc_id long, content_bytes long, score float")
    return df.select("doc_id", "content_bytes",
                     F.round(F.col("score").cast("double"), 5).alias("score"))


def bm25_filtered_sorted_sql(term="spark", lo=150, hi=400, k=12) -> str:
    raw = _sql_bm25_expr("b.tf", "s.df0", "b.dl")
    return f"""
WITH tok AS ({_SQL_TOK}),
base AS (
  SELECT t.doc_id, len(t.toks) AS dl,
         len(list_filter(t.toks, x -> x = '{term}')) AS tf,
         length(d.text) AS cb
  FROM tok t JOIN documents d USING (doc_id)),
stats AS (
  SELECT count(*) AS n, sum(dl) AS sum_dl,
         sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df0
  FROM base),
scored AS (
  SELECT b.doc_id, b.cb, CAST({raw} AS REAL) AS s32
  FROM base b, stats s
  WHERE b.tf > 0 AND b.cb >= {lo} AND b.cb < {hi})
SELECT doc_id, CAST(cb AS BIGINT) AS content_bytes,
       ROUND(CAST(s32 AS DOUBLE), 5) AS score
FROM scored ORDER BY cb DESC, doc_id ASC
LIMIT {k}
"""


# ======================================================================
# A1+F1: range aggregation over a fulltext match set — second kernel pass
# ======================================================================

AGG_RANGES = [(0, 250), (250, 400), (400, 10000)]


def bm25_agg(spark, sf_dir, term="spark") -> DataFrame:
    """A1/A5 through the REAL engine: range-bucket stats of the docs
    matching a fulltext term, computed as a SECOND kernel collector pass
    over the segments (main.rs:137-147; cantine_derive per-segment collect
    + merge). Empty buckets come back inverted-seeded (min=hi, max=lo,
    count=0)."""
    res = _engine(spark, sf_dir).search(
        {"fulltext": term, "num_items": 1,
         "agg": {"content_bytes": [list(r) for r in AGG_RANGES]}})
    rows = [(i, int(s.min), int(s.max), int(s.count))
            for i, s in enumerate(res.agg["content_bytes"])]
    return spark.createDataFrame(
        rows, "range_idx int, min_v long, max_v long, cnt long")


def bm25_agg_sql(term="spark") -> str:
    branches = []
    for i, (lo, hi) in enumerate(AGG_RANGES):
        inb = f"CASE WHEN cb >= {lo} AND cb < {hi} THEN cb END"
        branches.append(
            f"SELECT {i} AS range_idx,\n"
            f"  CAST(coalesce(min({inb}), {hi}) AS BIGINT) AS min_v,\n"
            f"  CAST(coalesce(max({inb}), {lo}) AS BIGINT) AS max_v,\n"
            f"  count({inb}) AS cnt FROM matched")
    union = "\nUNION ALL\n".join(branches)
    return f"""
WITH tok AS ({_SQL_TOK}),
base AS (
  SELECT t.doc_id,
         len(list_filter(t.toks, x -> x = '{term}')) AS tf,
         length(d.text) AS cb
  FROM tok t JOIN documents d USING (doc_id)),
matched AS (SELECT cb FROM base WHERE tf > 0)
{union}
ORDER BY range_idx
"""


# ======================================================================
# C4: TopTerms keyword extraction (tf·idf over one doc, df from term_stats)
# ======================================================================

TOPTERMS_DOC_ID = 7
TOPTERMS_LIMIT = 15


def top_terms(spark, sf_dir, doc_id=TOPTERMS_DOC_ID,
              limit=TOPTERMS_LIMIT) -> DataFrame:
    """C4 through the REAL engine (VERDICT r2 next-round #7): keyword
    score = tf_in_input · ln(1+(N−df+0.5)/(df+0.5)) with df from the
    engine's bucket-pruned term_stats and the check_sim acceptor (df>5,
    len>4) — tique/src/topterms.rs:160-209 + check_sim.rs:86-98. Descending
    score, term-asc tie-break."""
    from cantine_spark.mlt import TopTerms, check_sim_acceptor
    eng = _engine(spark, sf_dir)
    row = (_docs(spark, sf_dir).filter(F.col("doc_id") == doc_id)
           .select("text").collect())
    kws = (TopTerms(eng.reader).extract(limit, row[0]["text"],
                                        check_sim_acceptor) if row else [])
    rows = [(k.term, int(k.tf), float(k.score)) for k in kws]
    if not rows:
        return spark.createDataFrame([], "term string, tf int, score double")
    df = spark.createDataFrame(rows, "term string, tf int, score double")
    return df.select("term", "tf", F.round("score", 5).alias("score"))


def top_terms_sql(doc_id=TOPTERMS_DOC_ID, limit=TOPTERMS_LIMIT) -> str:
    # engine tokenizer on ASCII text ≡ [a-z0-9]+ on lower() with tokens
    # >= 40 bytes dropped (analysis.py tantivy TEXT pipeline); df counts
    # docs whose token SET contains the term — identical to term_stats
    return f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                     x -> length(x) < 40) AS toks
  FROM documents),
n AS (SELECT count(*) AS n FROM tok),
dfs AS (
  SELECT term, count(*) AS df
  FROM (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM tok)
  GROUP BY term),
input AS (SELECT unnest(toks) AS term FROM tok WHERE doc_id = {doc_id}),
tfs AS (SELECT term, count(*) AS tf FROM input GROUP BY term),
scored AS (
  SELECT t.term, t.tf,
         t.tf * ln(1.0 + (n.n - d.df + 0.5) / (d.df + 0.5)) AS raw
  FROM tfs t JOIN dfs d USING (term), n
  WHERE d.df > 5 AND length(t.term) > 4)
SELECT term, CAST(tf AS INT) AS tf, ROUND(raw, 5) AS score
FROM scored ORDER BY raw DESC, term ASC
LIMIT {limit}
"""


# ======================================================================
# dedup: MinHash-LSH near-duplicates (portable md5 minhash → identical
# signatures/buckets/candidates in both engines; exact Jaccard verify)
# ======================================================================

N_MINHASH = 8
LSH_BANDS = 4  # 2 rows per band
SHINGLE_N = 3
JACCARD_T = 0.5


def _shingle_col(n=SHINGLE_N):
    size = F.size("toks")
    idx = F.sequence(F.lit(0), F.greatest(size - n, F.lit(0)))
    return F.array_distinct(F.when(size >= n, F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at("toks", i + j + 1)
                                          for j in range(n)])
    )).otherwise(F.array(F.concat_ws(" ", F.col("toks")))))


def minhash_near_dup(spark, sf_dir) -> DataFrame:
    tok = _tokens(spark, sf_dir)
    sh = tok.select("doc_id", F.explode(_shingle_col()).alias("s"))
    mins = sh.groupBy("doc_id").agg(*[
        F.min(F.md5(F.concat(F.col("s"), F.lit(f"#{i}")))).alias(f"m{i}")
        for i in range(N_MINHASH)])
    bands = mins.select("doc_id", *[
        F.concat(F.col(f"m{2 * b}"), F.col(f"m{2 * b + 1}")).alias(f"b{b}")
        for b in range(LSH_BANDS)])
    cand = None
    for b in range(LSH_BANDS):
        l_ = bands.select(F.col("doc_id").alias("a"), F.col(f"b{b}").alias("k"))
        r_ = bands.select(F.col("doc_id").alias("b"), F.col(f"b{b}").alias("k"))
        p = l_.join(r_, "k").filter(F.col("a") < F.col("b")).select("a", "b")
        cand = p if cand is None else cand.unionByName(p)
    cand = cand.distinct()
    shs = tok.select("doc_id", _shingle_col().alias("sh"))
    j = (cand
         .join(shs.select(F.col("doc_id").alias("a"),
                          F.col("sh").alias("sa")), "a")
         .join(shs.select(F.col("doc_id").alias("b"),
                          F.col("sh").alias("sb")), "b"))
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = F.size(F.array_union("sa", "sb"))
    return (j.select("a", "b",
                     F.round(inter / F.greatest(union, F.lit(1)), 5)
                     .alias("jaccard"))
            .filter(F.col("jaccard") >= JACCARD_T)
            .orderBy("a", "b"))


def ngram_jaccard(spark, sf_dir) -> DataFrame:
    """r4: exact n-gram Jaccard near-dup — the LSH-free dedup method
    (operators/dedup.ngram_jaccard_pairs): candidate pairs from an
    inverted-index equi-join on shingles (never an all-pairs product),
    exact Jaccard verification. Complements minhash_near_dup: zero recall
    loss, with a documented stop-shingle df cap as the web-scale knob."""
    from cantine_spark.operators.dedup import ngram_jaccard_pairs
    tok = _tokens(spark, sf_dir)
    # max_shingle_df=None: the oracle is the fully exact variant — the
    # finite default cap is the production knob, opted OUT of here
    # explicitly (VERDICT r5 #5)
    pairs = ngram_jaccard_pairs(tok, "toks", shingle_n=SHINGLE_N,
                                threshold=0.0, max_shingle_df=None)
    return (pairs.select("a", "b", F.round("jaccard", 5).alias("jaccard"))
            .filter(F.col("jaccard") >= JACCARD_T)
            .orderBy("a", "b"))


def ngram_jaccard_sql() -> str:
    return f"""
WITH tok AS ({_SQL_TOK}),
sh AS (
  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= {SHINGLE_N}
    THEN list_transform(range(1, len(toks) - {SHINGLE_N} + 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
    ELSE [array_to_string(toks, ' ')] END) AS shingles
  FROM tok),
exploded AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM exploded l JOIN exploded r ON l.s = r.s AND l.doc_id < r.doc_id),
verified AS (
  SELECT c.a, c.b,
    ROUND(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
          / greatest(len(list_distinct(list_concat(x.shingles, y.shingles))), 1),
          5) AS jaccard
  FROM cand c
  JOIN sh x ON x.doc_id = c.a
  JOIN sh y ON y.doc_id = c.b)
SELECT a, b, jaccard FROM verified WHERE jaccard >= {JACCARD_T}
ORDER BY a, b
"""


def minhash_near_dup_sql() -> str:
    min_cols = ",\n    ".join(
        f"min(md5(s || '#{i}')) AS m{i}" for i in range(N_MINHASH))
    band_cols = ",\n    ".join(
        f"m{2 * b} || m{2 * b + 1} AS b{b}" for b in range(LSH_BANDS))
    cand_union = "\nUNION\n".join(
        f"SELECT l.doc_id AS a, r.doc_id AS b FROM bands l JOIN bands r "
        f"ON l.b{b} = r.b{b} AND l.doc_id < r.doc_id"
        for b in range(LSH_BANDS))
    return f"""
WITH tok AS ({_SQL_TOK}),
sh AS (
  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= {SHINGLE_N}
    THEN list_transform(range(1, len(toks) - {SHINGLE_N} + 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
    ELSE [array_to_string(toks, ' ')] END) AS shingles
  FROM tok),
exploded AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
mins AS (
  SELECT doc_id,
    {min_cols}
  FROM exploded GROUP BY doc_id),
bands AS (
  SELECT doc_id,
    {band_cols}
  FROM mins),
cand AS (
{cand_union}
),
verified AS (
  SELECT c.a, c.b,
    ROUND(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
          / greatest(len(list_distinct(list_concat(x.shingles, y.shingles))), 1),
          5) AS jaccard
  FROM cand c
  JOIN sh x ON x.doc_id = c.a
  JOIN sh y ON y.doc_id = c.b)
SELECT a, b, jaccard FROM verified WHERE jaccard >= {JACCARD_T}
ORDER BY a, b
"""


# ======================================================================
# text analysis: language-ID heuristic (marker-word hit ratios, argmax)
# ======================================================================

LANG_MARKERS_SQL = {
    "en": ("the", "and", "of", "to", "is", "in"),
    "fr": ("le", "la", "les", "et", "est", "dans"),
    "es": ("el", "los", "las", "es", "una", "por"),
    "de": ("der", "die", "das", "und", "ist", "mit"),
}


def lang_id(spark, sf_dir) -> DataFrame:
    tok = _tokens(spark, sf_dir)
    n = F.greatest(F.size("toks"), F.lit(1)).cast("double")
    scores = {}
    for lang, markers in LANG_MARKERS_SQL.items():
        m = tuple(markers)
        scores[lang] = (F.size(F.filter("toks", (lambda mm: lambda x:
                                                 x.isin(*mm))(m))) / n)
    best = F.greatest(*scores.values())
    pred = F.lit(None).cast("string")
    # first-wins in declaration order, like the SQL CASE below
    for lang in LANG_MARKERS_SQL:
        pred = F.coalesce(pred, F.when(scores[lang] == best, F.lit(lang)))
    return tok.select("doc_id", pred.alias("pred_lang")).orderBy("doc_id")


def lang_id_sql() -> str:
    ratio = {
        lang: (f"CAST(len(list_filter(toks, x -> x IN "
               f"({', '.join(repr(m) for m in ms)}))) AS DOUBLE)"
               f" / greatest(len(toks), 1)")
        for lang, ms in LANG_MARKERS_SQL.items()}
    best = f"greatest({', '.join(ratio.values())})"
    case = " ".join(f"WHEN {r} = best THEN '{lang}'"
                    for lang, r in ratio.items())
    return f"""
WITH tok AS ({_SQL_TOK}),
scored AS (SELECT doc_id, toks, {best} AS best FROM tok)
SELECT doc_id, CASE {case} END AS pred_lang
FROM scored ORDER BY doc_id
"""


# ======================================================================
# token stats: whitespace + BPE-ish subword counting
# ======================================================================

def token_counts(spark, sf_dir) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = F.col("text")
    ws = F.size(F.split(F.trim(t), r"\s+"))
    sub = F.size(F.regexp_extract_all(
        t, F.lit(r"[a-zA-Z]+|[0-9]{1,3}|[^\sa-zA-Z0-9]+"), 0))
    return (d.select("doc_id", ws.cast("long").alias("ws_tokens"),
                     sub.cast("long").alias("subword_tokens"))
            .orderBy("doc_id"))


def token_counts_sql() -> str:
    return r"""
SELECT doc_id,
  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]{1,3}|[^\sa-zA-Z0-9]+'))
       AS BIGINT) AS subword_tokens
FROM documents ORDER BY doc_id
"""


# ======================================================================
# simhash near-dups — SQL-parity construction: per-token md5-nibble bit
# votes → 63-bit fingerprint (63 keeps the BIGINT non-negative in both
# engines) → pigeonhole piece-split candidates → exact Hamming verify.
# Deterministic integer math end to end, so DuckDB reproduces it exactly.
# ======================================================================

SIMHASH_BITS = 63
SIMHASH_HAMMING = 8


def _simhash_fp(spark, sf_dir) -> DataFrame:
    """(doc_id, simhash): bit b votes +1 iff bit b of md5(token) is set,
    summed over DISTINCT tokens; fingerprint bit = vote > 0."""
    tok = _tokens(spark, sf_dir)
    ex = tok.select("doc_id", F.explode(F.array_distinct("toks")).alias("tok"))
    nib = ex.select("doc_id", *[
        F.expr(f"instr('0123456789abcdef', substring(md5(tok), {j + 1}, 1)) - 1"
               ).alias(f"n{j}") for j in range(16)])
    votes = nib.groupBy("doc_id").agg(*[
        F.sum(F.when(F.shiftright(F.col(f"n{b // 4}"), b % 4)
                     .bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"v{b}")
        for b in range(SIMHASH_BITS)])
    fp = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return votes.select("doc_id", fp.cast("long").alias("simhash"))


def simhash_pairs(spark, sf_dir) -> DataFrame:
    from cantine_spark.operators.dedup import simhash_near_dups
    h = _simhash_fp(spark, sf_dir)
    return (simhash_near_dups(h, max_hamming=SIMHASH_HAMMING,
                              n_bits=SIMHASH_BITS)
            .orderBy("a", "b"))


def simhash_pairs_sql() -> str:
    from cantine_spark.operators.dedup import simhash_key_plan
    nibs = ",\n    ".join(
        f"instr('0123456789abcdef', substr(md5(tok), {j + 1}, 1)) - 1 AS n{j}"
        for j in range(16))
    votes = ",\n    ".join(
        f"SUM(CASE WHEN ((n{b // 4} >> {b % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS))
    fp = " + ".join(f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END"
                    for b in range(SIMHASH_BITS))
    # SAME key plan as the Spark operator: at t=8 on 63 bits that is 2-piece
    # combination keys (t+2 pieces, C(t+2,2) joins on 12-14-bit keys)
    pieces, combos = simhash_key_plan(SIMHASH_HAMMING, SIMHASH_BITS)

    def kexpr(c):
        if len(c) == 1:
            s, w = pieces[c[0]]
            return f"(simhash >> {s}) & {(1 << w) - 1}"
        i, j = c
        si, wi = pieces[i]
        sj, wj = pieces[j]
        return (f"((simhash >> {si}) & {(1 << wi) - 1}) * {1 << wj}"
                f" + ((simhash >> {sj}) & {(1 << wj) - 1})")

    piece_cols = ",\n    ".join(
        f"{kexpr(c)} AS k{x}" for x, c in enumerate(combos))
    cand_union = "\nUNION\n".join(
        f"SELECT l.doc_id AS a, r.doc_id AS b, l.simhash AS ha, r.simhash AS hb "
        f"FROM pieces l JOIN pieces r ON l.k{x} = r.k{x} AND l.doc_id < r.doc_id"
        for x in range(len(combos)))
    return f"""
WITH tok AS ({_SQL_TOK}),
ex AS (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM tok),
nib AS (SELECT doc_id,
    {nibs}
  FROM ex),
votes AS (SELECT doc_id,
    {votes}
  FROM nib GROUP BY doc_id),
fp AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes),
pieces AS (SELECT doc_id, simhash,
    {piece_cols}
  FROM fp),
cand AS (
{cand_union}
)
SELECT a, b, bit_count(xor(ha, hb)) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= {SIMHASH_HAMMING}
ORDER BY a, b
"""


# ======================================================================
# IVF ANN — deterministic IVF-flat: centroids = the first nlist vectors
# (seed init, zero Lloyd iterations → SQL-expressible), cells probed by
# query-centroid cosine. The Lloyd-trained variant stays available as
# operators.similarity.train_centroids (recall-tested in pytest).
# ======================================================================

IVF_NLIST = 8
IVF_NPROBE = 4
IVF_NQUERY = 3


_IVF_CACHE: dict = {}


def ivf_ann(spark, sf_dir, k=10) -> DataFrame:
    import tempfile

    import numpy as np
    from cantine_spark.operators.similarity import (
        assign_centroids, ivf_topk, read_ivf_index, write_ivf_index,
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    seeds = (emb.filter(F.col("vec_id") < IVF_NLIST)
             .orderBy("vec_id").collect())
    cents = np.array([[float(x) for x in r["embedding"]] for r in seeds],
                     dtype=np.float64)
    # the DEFAULT layout: assigned vectors written partitionBy(centroid)
    # once per corpus (the IVF "index build"); probe queries then prune
    # partitions at the scan (operators/similarity.write_ivf_index)
    ivf_path = _IVF_CACHE.get(sf_dir)
    if ivf_path is None:
        # registered for removal at interpreter exit so repeated harness
        # runs / long-lived services don't leak one dir per sf_dir
        # (VERDICT r4 'What's wrong' #3)
        import atexit
        import shutil
        root = tempfile.mkdtemp(prefix="ivf_idx_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        ivf_path = root + "/emb"
        write_ivf_index(assign_centroids(emb, cents), ivf_path)
        _IVF_CACHE[sf_dir] = ivf_path
    assigned = read_ivf_index(spark, ivf_path)
    q = emb.filter(F.col("vec_id") < IVF_NQUERY).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    return (ivf_topk(assigned, cents, q, k=k, nprobe=IVF_NPROBE)
            .select("query_id", "vec_id",
                    F.round("cosine", 5).alias("cosine"), "rank")
            .orderBy("query_id", "rank"))


def ivf_ann_sql(k=10) -> str:
    cos = """
    list_sum(list_transform(list_zip({a}, {b}),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
    / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""
    return f"""
WITH seeds AS (
  SELECT vec_id AS sid, embedding AS sv FROM embeddings WHERE vec_id < {IVF_NLIST}),
cell_cos AS (
  SELECT e.vec_id, s.sid, {cos.format(a='e.embedding', b='s.sv')} AS c
  FROM embeddings e, seeds s),
assign AS (
  SELECT vec_id, sid AS centroid FROM (
    SELECT vec_id, sid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, sid ASC) AS rn
    FROM cell_cos) WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, sid AS cell FROM (
    SELECT vec_id, sid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY c DESC, sid ASC) AS rn
    FROM cell_cos WHERE vec_id < {IVF_NQUERY}) WHERE rn <= {IVF_NPROBE}),
cand AS (
  SELECT p.query_id, a.vec_id FROM probes p JOIN assign a ON a.centroid = p.cell),
scored AS (
  SELECT c.query_id, c.vec_id,
         {cos.format(a='ev.embedding', b='eq.embedding')} AS cosine
  FROM cand c
  JOIN embeddings ev ON ev.vec_id = c.vec_id
  JOIN embeddings eq ON eq.vec_id = c.query_id),
ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored)
SELECT query_id, vec_id, ROUND(cosine, 5) AS cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


# ======================================================================
# Tiered multi-generation read (r5): the serving path between compactions.
# Three contiguous doc_id slices of the documents table are built as three
# COMPLETE generation indexes (the streaming watermark shape,
# streaming/incremental.commit_batch); the engine reads them through
# TieredIndexReader — unioned tables, integer-summed global stats,
# per-tier block-max rescale — with NO full compaction. The oracle is the
# plain single-index SQL over the WHOLE corpus: multi-tier read must be
# semantically invisible (same idf/avgdl, same scores, same tie-breaks).
# ======================================================================

_TIERED_CACHE: dict = {}


def _tiered_engine(spark, sf_dir):
    import os as _os

    from cantine_spark.api import SearchEngine
    from cantine_spark.build.builder import build_index
    from cantine_spark.build.segments import build_segments
    from cantine_spark.tiered import TieredIndexReader
    key = (spark.sparkContext.applicationId, _os.path.abspath(sf_dir))
    if key in _TIERED_CACHE:
        return _TIERED_CACHE[key]
    # reuse _engine's cache-root resolution by building beside it
    root = _os.environ.get(
        "CANTINE_IDX_CACHE",
        _os.path.join(_os.path.dirname(_os.path.dirname(
            _os.path.abspath(__file__))), ".idx_cache"))
    try:
        _os.makedirs(root, exist_ok=True)
        probe = _os.path.join(root, ".w")
        with open(probe, "w") as fh:
            fh.write("")
        _os.remove(probe)
    except OSError:
        import tempfile as _tf
        root = _os.path.join(_tf.gettempdir(), "cantine_idx_cache")
        _os.makedirs(root, exist_ok=True)
    base = _os.path.join(
        root, "tiered_" + key[1].strip("/").replace("/", "_"))
    corpus = (spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lit("testdata").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.lit("0").alias("commit"),
        F.coalesce(F.col("lang"), F.lit("txt")).alias("lang"),
        F.coalesce(F.col("text"), F.lit("")).alias("content")))
    n = corpus.count()
    cuts = sorted({0, n // 3, (2 * n) // 3, n})
    tier_dirs = []
    for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        td = _os.path.join(base, f"tier_{i}")
        sl = corpus.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        build_index(spark, sl, td)
        # one pinned span across tiers (TieredIndexReader requires it; the
        # serving layer pins one per root, serve.IndexServer)
        build_segments(spark, td, shard_span=1024)
        tier_dirs.append(td)
    eng = SearchEngine(TieredIndexReader(spark, tier_dirs))
    _TIERED_CACHE[key] = eng
    return eng


def tiered_search(spark, sf_dir, terms=("hash", "stream"), k=15) -> DataFrame:
    """Multi-OR BM25 answered across THREE un-compacted generation tiers;
    doc ids are the original documents.doc_id (contiguous slices), so the
    oracle — the whole-corpus single-index SQL — must match scores AND
    tie-breaks exactly."""
    res = _tiered_engine(spark, sf_dir).search(
        {"fulltext": " ".join(terms), "num_items": k})
    return _items_df(spark, res.items)


def tiered_search_sql(terms=("hash", "stream"), k=15) -> str:
    return bm25_multi_or_sql(terms=terms, k=k)


# ======================================================================
# Batched query execution (r5): three queries answered by ONE
# SearchEngine.search_batch call — one (qid, shard)-grouped kernel job +
# one shared hydration scan (execution/wand.search_many). The oracle is
# the UNION of the three per-query oracles tagged by qid: batching must be
# semantically invisible per query.
# ======================================================================

def batched_search(spark, sf_dir) -> DataFrame:
    eng = _engine(spark, sf_dir)
    batch = [
        {"fulltext": "spark", "num_items": 10},
        {"fulltext": "query join", "num_items": 10},
        {"fulltext": "+table +scan -error", "num_items": 10},
    ]
    results = eng.search_batch(batch)
    rows = []
    for qid, res in enumerate(results):
        for it in res.items:
            rows.append((qid, int(it["doc_id"]), float(it["score"])))
    if not rows:
        return spark.createDataFrame([], "qid int, doc_id long, score double")
    df = spark.createDataFrame(rows, "qid int, doc_id long, score float")
    return (df.select("qid", "doc_id",
                      F.round(F.col("score").cast("double"), 5)
                      .alias("score"))
            .orderBy("qid", "doc_id"))


def batched_search_sql() -> str:
    subs = [
        bm25_single_term_sql(term="spark", k=10),
        bm25_multi_or_sql(terms=("query", "join"), k=10),
        bm25_must_mustnot_sql(must=("table", "scan"), must_not="error",
                              k=10),
    ]
    branches = "\nUNION ALL\n".join(
        f"SELECT {i} AS qid, doc_id, score FROM (\n{s}\n)"
        for i, s in enumerate(subs))
    return f"SELECT * FROM (\n{branches}\n) ORDER BY qid, doc_id"


# ======================================================================
# C5: boosted more-like-this THROUGH the engine — keywords extracted from
# a document with the check_sim acceptor (the oracle-green top_terms
# algebra), then searched as Boolean(shoulds=(Boost(Term)…)) with
# per-term boost = 1.5·score/max_score (tique/src/topterms.rs:229-241,
# check_sim.rs:120-131). The oracle re-derives the SAME keywords and
# boosts in SQL and scores candidates with an ORDERED f64 sum (boost
# DESC, term ASC — the kernel adds should-leaves in keyword order).
# ======================================================================

def mlt_boosted(spark, sf_dir, doc_id=TOPTERMS_DOC_ID,
                n_kw=TOPTERMS_LIMIT, k=10) -> DataFrame:
    from cantine_spark.mlt import (TopTerms, check_sim_acceptor,
                                   into_boosted_query)
    eng = _engine(spark, sf_dir)
    row = (_docs(spark, sf_dir).filter(F.col("doc_id") == doc_id)
           .select("text").collect())
    kws = (TopTerms(eng.reader).extract(n_kw, row[0]["text"],
                                        check_sim_acceptor) if row else [])
    node = into_boosted_query(kws, 1.5)
    res = eng._fast.search(node, k=k)
    return _items_df(spark, [{"doc_id": d, "score": s} for d, s in res.hits])


def mlt_boosted_sql(doc_id=TOPTERMS_DOC_ID, n_kw=TOPTERMS_LIMIT,
                    k=10) -> str:
    return f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                     x -> length(x) < 40) AS toks
  FROM documents),
n AS (SELECT count(*) AS n, sum(len(toks)) AS sum_dl FROM tok),
dfs AS (
  SELECT term, count(*) AS df
  FROM (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM tok)
  GROUP BY term),
input AS (SELECT unnest(toks) AS term FROM tok WHERE doc_id = {doc_id}),
tfs AS (SELECT term, count(*) AS tf FROM input GROUP BY term),
kw AS (
  SELECT t.term, d.df,
         t.tf * ln(1.0 + (n.n - d.df + 0.5) / (d.df + 0.5)) AS raw
  FROM tfs t JOIN dfs d USING (term), n
  WHERE d.df > 5 AND length(t.term) > 4
  ORDER BY raw DESC, term ASC LIMIT {n_kw}),
kwb AS (
  SELECT term, df, 1.5 * raw / (SELECT max(raw) FROM kw) AS boost
  FROM kw),
doc_tf AS (
  SELECT p.doc_id, p.term, count(*) AS tf, any_value(p.dl) AS dl
  FROM (SELECT doc_id, unnest(toks) AS term, len(toks) AS dl FROM tok) p
  JOIN kwb USING (term)
  GROUP BY p.doc_id, p.term),
scored AS (
  SELECT d.doc_id,
         CAST(sum(
           k.boost * ln(1.0 + (n.n - k.df + 0.5) / (k.df + 0.5))
                   * (d.tf * 2.2)
                   / (d.tf + 1.2 * (0.25 + 0.75 * d.dl
                      / (CAST(n.sum_dl AS DOUBLE) / n.n)))
           ORDER BY k.boost DESC, k.term ASC) AS REAL) AS s32
  FROM doc_tf d JOIN kwb k USING (term), n
  GROUP BY d.doc_id)
SELECT doc_id, ROUND(CAST(s32 AS DOUBLE), 5) AS score
FROM scored ORDER BY s32 DESC, doc_id ASC
LIMIT {k}
"""


# ======================================================================
# Explanation surface (r6, VERDICT r5 stretch #9): per-hit score
# breakdowns THROUGH the engine (search(..., explain=True) — the tantivy
# Explanation analog, tique/src/dismax.rs:308-358). Each hit's per-term
# contribution (the value of the corresponding should-child in the
# explanation tree) is flattened into its own column, and the oracle
# recomputes every contribution from first principles — so the driver
# gate checks the explanation ARITHMETIC itself, not just the ranking.
# ======================================================================

def bm25_explained(spark, sf_dir, terms=("spark", "join"), k=10) -> DataFrame:
    res = _engine(spark, sf_dir).search(
        {"fulltext": " ".join(terms), "num_items": k}, explain=True)
    rows = []
    for it in res.items:
        ex = it["explanation"]
        # 2+ bare terms parse to Boolean(shoulds=[per-term node…]); each
        # should's value IS that term's contribution (the path leaf of the
        # per-term field DisMax scores 0 on this corpus, so max+(sum−max)·tb
        # degenerates to the content leaf — exact, not approximate)
        shoulds = ex["shoulds"] if ex["type"] == "boolean" else [ex]
        assert len(shoulds) == len(terms), (terms, ex)
        rows.append((int(it["doc_id"]), float(it["score"]),
                     *(float(c["value"]) for c in shoulds)))
    schema = "doc_id long, score float, " + ", ".join(
        f"c_{t} float" for t in terms)
    if not rows:
        return spark.createDataFrame([], schema.replace("float", "double"))
    df = spark.createDataFrame(rows, schema)
    return df.select(
        "doc_id",
        F.round(F.col("score").cast("double"), 5).alias("score"),
        *[F.round(F.col(f"c_{t}").cast("double"), 5).alias(f"c_{t}")
          for t in terms])


def bm25_explained_sql(terms=("spark", "join"), k=10) -> str:
    tf_cols = ",\n         ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms))
    df_cols = ",\n         ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms)))

    def contrib(i: int) -> str:
        return (f"(CASE WHEN b.tf{i} > 0 THEN "
                f"{_sql_bm25_expr(f'b.tf{i}', f's.df{i}', 'b.dl')} "
                f"ELSE 0.0 END)")

    score_sum = " + ".join(contrib(i) for i in range(len(terms)))
    c_sel = ",\n         ".join(
        f"CAST({contrib(i)} AS REAL) AS c32_{i}"
        for i in range(len(terms)))
    c_out = ",\n       ".join(
        f"ROUND(CAST(c32_{i} AS DOUBLE), 5) AS c_{t}"
        for i, t in enumerate(terms))
    match = " OR ".join(f"b.tf{i} > 0" for i in range(len(terms)))
    return f"""
WITH tok AS ({_SQL_TOK}),
base AS (
  SELECT doc_id, len(toks) AS dl,
         {tf_cols}
  FROM tok),
stats AS (
  SELECT count(*) AS n, sum(dl) AS sum_dl,
         {df_cols}
  FROM base),
scored AS (
  SELECT b.doc_id, CAST({score_sum} AS REAL) AS s32,
         {c_sel}
  FROM base b, stats s
  WHERE {match})
SELECT doc_id, ROUND(CAST(s32 AS DOUBLE), 5) AS score,
       {c_out}
FROM scored ORDER BY s32 DESC, doc_id ASC
LIMIT {k}
"""


# ======================================================================
# registry
# ======================================================================

QUERIES = {
    # SURVEY §2 operator families (oracle-checked)
    "bm25_single_term": (bm25_single_term, bm25_single_term_sql()),   # F1/C1/T1/T2
    "bm25_multi_or": (bm25_multi_or, bm25_multi_or_sql()),            # J2
    "bm25_must_mustnot": (bm25_must_mustnot, bm25_must_mustnot_sql()),  # J1/J4
    "bm25_dismax": (bm25_dismax, bm25_dismax_sql()),                  # J3/C2
    "phrase_match": (phrase_match, phrase_match_sql()),               # F2
    "topk_by_field": (topk_by_field, topk_by_field_sql()),            # T3
    "topk_page2": (topk_page2, topk_page2_sql()),                     # T5
    "bm25_filtered": (bm25_filtered, bm25_filtered_sql()),            # F3+F1 in-kernel
    "bm25_sorted_field": (bm25_sorted_field, bm25_sorted_field_sql()),  # T3+F1 in-kernel
    "bm25_filtered_sorted": (bm25_filtered_sorted,
                             bm25_filtered_sorted_sql()),  # F3+T3 one job (r4)
    "bm25_agg": (bm25_agg, bm25_agg_sql()),                           # A1+F1 fused (r4)
    "range_stats": (range_stats, range_stats_sql()),                  # A1/A3
    "doc_freq": (doc_freq, doc_freq_sql()),                           # A7
    "top_terms": (top_terms, top_terms_sql()),                        # C4
    "mlt_boosted": (mlt_boosted, mlt_boosted_sql()),                  # C5/U2
    # training-data pipeline operators (oracle-checked)
    "dedup_exact": (dedup_exact, dedup_exact_sql()),
    "minhash_near_dup": (minhash_near_dup, minhash_near_dup_sql()),
    "ngram_jaccard": (ngram_jaccard, ngram_jaccard_sql()),  # r4: LSH-free exact
    "text_quality": (text_quality, text_quality_sql()),
    "lang_id": (lang_id, lang_id_sql()),
    "token_counts": (token_counts, token_counts_sql()),
    "ann_cosine_topk": (ann_cosine_topk, ann_cosine_topk_sql()),
    # r6: the LSH embedding-dedup operator, oracle-checked by replaying
    # the same seeded hyperplanes in SQL (was pytest-only)
    "embed_near_dup": (embed_near_dup, embed_near_dup_sql()),
    "events_hourly": (events_hourly, events_hourly_sql()),
    # formerly rows-only; now oracle-checked (r1 VERDICT items 4 & 7)
    "simhash_pairs": (simhash_pairs, simhash_pairs_sql()),
    "ivf_ann": (ivf_ann, ivf_ann_sql()),
    # r5 serving-path features, oracle-checked
    "tiered_search": (tiered_search, tiered_search_sql()),  # §2.9 tiers
    "batched_search": (batched_search, batched_search_sql()),  # batch exec
    # r6: explanation surface, arithmetic oracle-checked
    "bm25_explained": (bm25_explained, bm25_explained_sql()),
}
