"""Full-text retrieval over the ``documents`` table: BM25 and hybrid
BM25+vector reciprocal-rank fusion.

The retrieval layer a training-data pipeline puts in front of its corpus
(near-dup mining, more-like-this expansion, eval-set retrieval). Both
queries are pure JVM DataFrame ops — token stats come from the same
exploded groupBys as the tf-idf query, query terms broadcast, and the
final selection is the two-phase ``topk_per_query`` (local top-k per
partition, then a bounded global window) so no single task ever sorts
the corpus.

Determinism vs the DuckDB oracle follows the repo convention: scores are
ROUNDed before ranking with an id tie-break, so float ulp differences
between engines cannot reorder the cut.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from analytics_data_platform_spark.functions import vectors as V
from analytics_data_platform_spark.operators.similarity import topk_per_query
from analytics_data_platform_spark.queries import QuerySpec, register
from analytics_data_platform_spark.sources.testdata import load_table

K1, B = 1.2, 0.75
TOPK = 10

# fixed keyword queries over the synthetic corpus vocabulary
QUERY_TERMS: dict[int, list[str]] = {
    0: ["table", "hash", "merge"],
    1: ["window", "sort", "spark"],
    2: ["batch", "scan", "value"],
}


def _term_stats(d: DataFrame):
    """(tf, dfreq, stats): one exploded scan -> per-(doc,term) tf rows
    CARRYING the doc length dl, per-term document frequency, corpus-level
    stats. dl is a per-row pure function of the text (``size(split)`` —
    explode emits exactly that many rows, so it equals the old
    ``sum(tf) per doc`` bit-for-bit, null-text docs absent either way);
    riding it through the tf aggregation removes the per-doc second
    shuffle AND the tf⋈dl doc_id join every BM25 consumer used to pay
    (optimization guide §2.4). stats folds from the tf frame the same
    way (``sum(tf)/n_docs`` ≡ ``avg(dl)`` exactly — integer totals are
    exact in double; A/B-verified bit-equal on sf0.01/sf0.1)."""
    toks = d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("dl"),
        F.explode(F.split("text", " ")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf"), F.max("dl").alias("dl")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = tf.agg(
        F.count_distinct("doc_id").alias("n_docs"),
        (F.sum("tf").cast("double") / F.count_distinct("doc_id")).alias("avgdl"),
    )
    return tf, dfreq, stats


def _bm25_scores(spark: SparkSession, d: DataFrame, q: DataFrame) -> DataFrame:
    """(q_id, doc_id, score): BM25 over query term table ``q(q_id, term)``.

    ``q`` is broadcast into the tf join, and dfreq is semi-filtered to
    query terms before ITS broadcast — the only corpus-sized shuffle is
    the tf groupBy (an irreducible single-pass aggregation; dl rides the
    tf rows, so there is no per-doc join). Robertson idf with +1 floor:
    ln(1 + (N - df + 0.5)/(df + 0.5)).
    """
    tf, dfreq, stats = _term_stats(d)
    dfq = dfreq.join(F.broadcast(q.select("term").distinct()), "term")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    w = idf * (
        (F.col("tf") * F.lit(K1 + 1.0))
        / (F.col("tf") + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(q), "term")
        .join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(stats))
        .select("q_id", "doc_id", w.alias("w"))
        .groupBy("q_id", "doc_id")
        .agg(F.round(F.sum("w"), 4).alias("score"))
    )


_BM25_STATS_SQL = """
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl)
"""


def _bm25_scored_sql(query_cte: str) -> str:
    """Shared oracle CTE chain ending in scored(q_id, doc_id, score)."""
    return f"""
WITH {_BM25_STATS_SQL.strip()},
{query_cte},
matched AS (
  SELECT q.q_id, tf.doc_id,
         LN(1 + (n_docs - df + 0.5) / (df + 0.5))
         * (tf * ({K1} + 1.0))
         / (tf + {K1} * (1.0 - {B} + {B} * dl / avgdl)) AS w
  FROM tf
  JOIN q ON tf.term = q.term
  JOIN dfreq ON tf.term = dfreq.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
),
scored AS (
  SELECT q_id, doc_id, ROUND(SUM(w), 4) AS score
  FROM matched GROUP BY q_id, doc_id
)
"""


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search: top-10 documents per fixed keyword query."""
    d = load_table(spark, sf_dir, "documents")
    q = spark.createDataFrame(
        [(qid, t) for qid, ts in QUERY_TERMS.items() for t in ts],
        "q_id int, term string",
    )
    scored = _bm25_scores(spark, d, q)
    return topk_per_query(scored, TOPK, "q_id", "doc_id", "score").select(
        "q_id", "doc_id", "score", "rank"
    )


_Q_VALUES = ", ".join(
    f"({qid}, '{t}')" for qid, ts in QUERY_TERMS.items() for t in ts
)

BM25_SQL = (
    _bm25_scored_sql(f"q(q_id, term) AS (VALUES {_Q_VALUES})")
    + f"""
SELECT q_id, doc_id, score, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
  FROM scored
) WHERE rank <= {TOPK}
"""
)

register(
    QuerySpec(
        "bm25_search",
        bm25_search,
        BM25_SQL,
        doc="BM25 keyword retrieval, top-10 docs per query",
        cites="training-data ops: full-text retrieval over the corpus",
        tags=("text", "search", "topk"),
    )
)


# --- hybrid retrieval: BM25 (document-as-query) + cosine, RRF-fused -------

N_QUERY_DOCS = 3  # doc_id/vec_id < 3 are the query documents
LIST_K = 50  # depth of each ranked list entering the fusion
RRF_K = 60  # standard reciprocal-rank-fusion constant


def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid more-like-this retrieval with reciprocal-rank fusion.

    For each query document (doc_id < 3): rank other docs by BM25 using
    the query doc's distinct tokens as the term set (lexical list), and
    by embedding cosine via the aligned ``embeddings`` table (semantic
    list, vec_id == doc_id). Fuse the top-50 of each with
    RRF = Σ 1/(60 + rank); missing membership contributes 0. Ranks are
    computed on ROUNDed scores, so the fused ordering is reproducible.
    """
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")

    # lexical list: query-doc tokens as BM25 terms (self excluded)
    q_terms = (
        d.where(F.col("doc_id") < N_QUERY_DOCS)
        .select(
            F.col("doc_id").cast("int").alias("q_id"),
            F.explode(F.split("text", " ")).alias("term"),
        )
        .distinct()
    )
    bm25 = _bm25_scores(spark, d, q_terms).where(F.col("doc_id") != F.col("q_id"))
    bm25_top = topk_per_query(bm25, LIST_K, "q_id", "doc_id", "score").select(
        "q_id", "doc_id", F.col("rank").alias("b_rank")
    )

    # semantic list: brute-force cosine (query side broadcast)
    q_vec = e.where(F.col("vec_id") < N_QUERY_DOCS).select(
        F.col("vec_id").cast("int").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        V.norm("embedding").alias("q_nrm"),
    )
    cand = e.select(
        F.col("vec_id").alias("doc_id"), "embedding", V.norm("embedding").alias("c_nrm")
    )
    cos = F.when(
        (F.col("q_nrm") > 0) & (F.col("c_nrm") > 0),
        V.dot("q_emb", "embedding") / (F.col("q_nrm") * F.col("c_nrm")),
    )
    cos_scored = cand.join(F.broadcast(q_vec), F.col("doc_id") != F.col("q_id")).select(
        "q_id", "doc_id", F.round(cos, 4).alias("cos_sim")
    )
    cos_top = topk_per_query(cos_scored, LIST_K, "q_id", "doc_id", "cos_sim").select(
        "q_id", "doc_id", F.col("rank").alias("c_rank")
    )

    fused = (
        bm25_top.join(cos_top, ["q_id", "doc_id"], "full_outer")
        .select(
            "q_id",
            "doc_id",
            F.round(
                F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("b_rank")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("c_rank")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    return topk_per_query(fused, TOPK, "q_id", "doc_id", "rrf").select(
        "q_id", "doc_id", "rrf", "rank"
    )


HYBRID_SQL = (
    _bm25_scored_sql(
        f"""q AS (
  SELECT DISTINCT CAST(doc_id AS INTEGER) AS q_id,
         unnest(string_split(text, ' ')) AS term
  FROM documents WHERE doc_id < {N_QUERY_DOCS}
)"""
    )
    + f"""
, bm25_top AS (
  SELECT q_id, doc_id, rank AS b_rank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank
    FROM scored WHERE doc_id <> q_id
  ) WHERE rank <= {LIST_K}
),
qv AS (
  SELECT CAST(vec_id AS INTEGER) AS q_id, embedding AS q_emb
  FROM embeddings WHERE vec_id < {N_QUERY_DOCS}
),
cos_scored AS (
  SELECT qv.q_id, e.vec_id AS doc_id,
         ROUND(
           list_sum(list_transform(list_zip(qv.q_emb, e.embedding),
                                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(qv.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(e.embedding,
                                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
           AS cos_sim
  FROM embeddings e CROSS JOIN qv
  WHERE e.vec_id <> qv.q_id
),
cos_top AS (
  SELECT q_id, doc_id, rank AS c_rank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, doc_id) AS rank
    FROM cos_scored
  ) WHERE rank <= {LIST_K}
),
fused AS (
  SELECT COALESCE(b.q_id, c.q_id) AS q_id,
         COALESCE(b.doc_id, c.doc_id) AS doc_id,
         ROUND(COALESCE(1.0 / ({RRF_K} + b_rank), 0.0)
               + COALESCE(1.0 / ({RRF_K} + c_rank), 0.0), 6) AS rrf
  FROM bm25_top b FULL OUTER JOIN cos_top c
    ON b.q_id = c.q_id AND b.doc_id = c.doc_id
)
SELECT q_id, doc_id, rrf, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS rank
  FROM fused
) WHERE rank <= {TOPK}
"""
)

register(
    QuerySpec(
        "hybrid_rrf_search",
        hybrid_rrf_search,
        HYBRID_SQL,
        doc="hybrid BM25+cosine retrieval fused by reciprocal rank",
        cites="training-data ops: hybrid lexical/semantic retrieval",
        tags=("text", "vector", "search", "topk"),
    )
)


# --- exact phrase search via adjacent-token match --------------------------

PHRASE_A, PHRASE_B = "table", "value"
PHRASE_TOP = 20


def phrase_search_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search ('table value') as an adjacent-token match:
    zip each token list with its own 1-shifted tail and count aligned
    pairs. Positional adjacency — not substring LIKE — so 'table,
    value-add' style false positives are impossible and the operator
    generalizes to any n-gram phrase.

    Scale shape: one narrow projection per document, token lists never
    explode into rows (array HOFs run inside whole-stage codegen), and
    the final top-k sorts only matching documents."""
    d = load_table(spark, sf_dir, "documents")
    n_matches = F.expr(
        f"size(filter(zip_with(slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 1, 0)),"
        f" slice(split(text, ' '), 2, greatest(size(split(text, ' ')) - 1, 0)),"
        f" (a, b) -> a = '{PHRASE_A}' AND b = '{PHRASE_B}'), x -> x))"
    )
    hits = (
        d.select("doc_id", "source", n_matches.alias("n_matches"))
        .where(F.col("n_matches") > 0)
    )
    w = Window.orderBy(F.desc("n_matches"), "doc_id")
    return (
        hits.withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= PHRASE_TOP)
        .select("pos", "doc_id", "source", "n_matches")
    )


PHRASE_SQL = f"""
WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
hits AS (
  SELECT doc_id, source,
         len(list_filter(list_transform(list_zip(t[:len(t)-1], t[2:]),
                                        x -> x[1] = '{PHRASE_A}' AND x[2] = '{PHRASE_B}'),
                         x -> x)) AS n_matches
  FROM toks
)
SELECT pos, doc_id, source, n_matches FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n_matches DESC, doc_id) AS pos
  FROM hits WHERE n_matches > 0
) WHERE pos <= {PHRASE_TOP}
"""

register(
    QuerySpec(
        "phrase_search_adjacent",
        phrase_search_adjacent,
        PHRASE_SQL,
        doc="exact-phrase search by adjacent-token zip (positional, not substring)",
        cites="retrieval family; complements bm25_search with positional semantics",
        tags=("search", "text"),
    )
)


# --- KWIC: keyword-in-context snippets around the first phrase hit ---------

KWIC_TOP = 20
KWIC_CTX = 3  # tokens of context either side


def kwic_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context: for documents containing the phrase, extract a
    ±3-token window around the FIRST occurrence — the preview snippet a
    search UI renders. First-hit position and the slice are pure array
    HOFs over the token list (sequence → filter → element_at → slice); no
    explode, no UDF, so the per-document work is one codegen'd
    projection."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    # try_element_at: ANSI element_at throws on out-of-range (single-token
    # docs probe i+1 past the end; no-hit docs have an empty position list)
    hit_positions = F.filter(
        F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
        lambda i: (F.try_element_at(toks, i) == PHRASE_A)
        & (F.try_element_at(toks, i + 1) == PHRASE_B),
    )
    first = F.try_element_at(hit_positions, F.lit(1))
    start = F.greatest(first - KWIC_CTX, F.lit(1))
    stop = F.least(first + 1 + KWIC_CTX, n)
    snippet = F.array_join(F.slice(toks, start, stop - start + 1), " ")
    return (
        d.select("doc_id", "source", first.alias("first_pos"), snippet.alias("snippet"))
        .where(F.col("first_pos").isNotNull())
        .orderBy("doc_id")
        .limit(KWIC_TOP)
    )


KWIC_SQL = f"""
WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
hits AS (
  SELECT doc_id, source, t,
         list_filter(range(1, greatest(len(t), 2)),
                     i -> t[i] = '{PHRASE_A}' AND t[i + 1] = '{PHRASE_B}')[1] AS first_pos
  FROM toks
)
SELECT doc_id, source, first_pos,
       array_to_string(list_slice(t, greatest(first_pos - {KWIC_CTX}, 1),
                                  least(first_pos + 1 + {KWIC_CTX}, len(t))), ' ') AS snippet
FROM hits WHERE first_pos IS NOT NULL
ORDER BY doc_id LIMIT {KWIC_TOP}
"""

register(
    QuerySpec(
        "kwic_snippets",
        kwic_snippets,
        KWIC_SQL,
        doc="keyword-in-context snippet extraction around the first phrase hit",
        cites="retrieval family; snippet companion to phrase_search_adjacent",
        tags=("search", "text"),
    )
)


# ---------------------------------------------------------------------------
# Term-partitioned inverted index + partition-PRUNED conjunctive serving —
# the index-backed retrieval shape (vs the full-scan BM25/phrase queries)
# ---------------------------------------------------------------------------

INDEX_BUCKETS = 64
CONJ_TERMS = ("table", "hash", "merge")


def _mix(h1: int, k1: int) -> int:
    """One Murmur3_x86_32 round (mixK1 then mixH1) on unsigned 32-bit ints."""
    k1 = (k1 * 0xCC9E2D51) & 0xFFFFFFFF
    k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
    k1 = (k1 * 0x1B873593) & 0xFFFFFFFF
    h1 ^= k1
    h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
    return (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF


def spark_string_hash(s: str) -> int:
    """``F.hash(<string column>)`` on the driver, bit for bit: Spark's
    ``Murmur3_x86_32.hashUnsafeBytes`` over the UTF-8 bytes with the
    ``Murmur3Hash`` expression's seed, 42. Spark's form
    differs from reference Murmur3 in the tail: each of the last
    ``len % 4`` bytes is sign-extended and mixed as a full round.
    Pinned against ``F.hash`` by tests/test_spark_hash.py."""
    data = s.encode("utf-8")
    n = len(data)
    aligned = n - n % 4
    h1 = 42
    for i in range(0, aligned, 4):
        h1 = _mix(h1, int.from_bytes(data[i : i + 4], "little"))
    for b in data[aligned:]:
        h1 = _mix(h1, (b - 256 if b > 127 else b) & 0xFFFFFFFF)
    h1 ^= n
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 & 0x80000000 else h1


def term_buckets(terms, buckets: int = INDEX_BUCKETS) -> list[int]:
    """Sorted distinct index buckets of ``terms``: the driver-side form of
    the build's ``pmod(hash(term), buckets)`` (Python ``%`` is pmod for a
    positive modulus), so routing a lookup runs no Spark job."""
    return sorted({spark_string_hash(t) % buckets for t in set(terms)})


def _posting_rows(d: DataFrame) -> DataFrame:
    """(bucket, term, doc_id, source) posting rows; bucket is the index's
    partition key (murmur3 of the term — an implementation detail the
    oracle never sees)."""
    return d.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(F.split("text", " "))).alias("term"),
    ).withColumn("bucket", F.pmod(F.hash("term"), F.lit(INDEX_BUCKETS)))


def _conjunctive_serve(postings: DataFrame) -> DataFrame:
    """Conjunctive AND over posting rows: docs containing EVERY query term,
    counted per source. ``postings`` is either the parquet-backed index
    (bucket filter → partition pruning) or the in-memory posting plan
    (ledger audit)."""
    hits = (
        postings.where(F.col("term").isin(*CONJ_TERMS))
        .groupBy("doc_id")
        .agg(
            F.count_distinct("term").alias("_nt"),
            F.max("source").alias("source"),
        )
        .where(F.col("_nt") == len(CONJ_TERMS))
    )
    return hits.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


def inverted_index_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a term-partitioned inverted index (posting lists written
    ``partitionBy(bucket)``), then serve a conjunctive query by reading
    ONLY the buckets of the query terms — static partition pruning keeps
    the seek O(matching buckets), never a corpus scan. This is the
    retrieval-serving shape the full-scan BM25/phrase queries cannot
    offer at 100 TB: the index is built once (amortized over every
    query), and each lookup touches ≤ |terms| of INDEX_BUCKETS partition
    directories (plan-guarded in tests/test_plans_new_ops.py).

    The oracle is the direct corpus predicate — token-membership AND over
    every query term — so a bucket routing bug, a posting lost in the
    build, or a pruned-away true hit all hash-diverge. The bounded
    (≤ sources) result returns as a literal frame; the temp index is
    removed before returning.
    """
    import shutil as _shutil
    import tempfile as _tempfile

    d = load_table(spark, sf_dir, "documents")
    idx_dir = _tempfile.mkdtemp(prefix="adps-invidx-")
    try:
        _posting_rows(d).write.mode("overwrite").partitionBy("bucket").parquet(idx_dir)
        index = spark.read.parquet(idx_dir)
        # the query's buckets, computed with the SAME hash the build used
        want = term_buckets(CONJ_TERMS)
        served = _conjunctive_serve(index.where(F.col("bucket").isin(*want)))
        rows = [(r["source"], r["n_docs"]) for r in served.collect()]
    finally:
        _shutil.rmtree(idx_dir, ignore_errors=True)
    return spark.createDataFrame(rows, "source string, n_docs long")


def _inverted_index_internal_plans(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return [("serve", _conjunctive_serve(_posting_rows(d)))]


_CONJ_WHERE = " AND ".join(
    f"list_contains(string_split(text, ' '), '{t}')" for t in CONJ_TERMS
)

INVERTED_INDEX_SQL = f"""
SELECT source, COUNT(*) AS n_docs
FROM documents
WHERE {_CONJ_WHERE}
GROUP BY source
"""

register(
    QuerySpec(
        "inverted_index_conjunctive",
        inverted_index_conjunctive,
        INVERTED_INDEX_SQL,
        doc="term-partitioned inverted index; conjunctive lookup via partition pruning",
        cites="retrieval serving over corpus shards; complements full-scan BM25 (this module)",
        tags=("search", "scale", "multi_tick"),
        internal_plan=_inverted_index_internal_plans,
    )
)


INCR_TERMS = ("window", "sort", "spark")


def inverted_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL inverted-index maintenance: the index is built on the
    initial corpus half (even doc_ids), then a later ingest batch (odd
    doc_ids) appends its posting rows PARTITION-WISE into the same bucket
    layout — bucket is a per-row pure function of the term (murmur3), so
    the appended index provably equals the one-shot build over the union
    (the same argument as the pinned-centroid IVF append,
    queries/scale_ops.py::ivf_index_incremental_topk). Ingest cost is
    O(batch postings); the resident index is never rewritten, and serving
    still prunes to the query terms' buckets.

    The oracle is the one-shot semantics: the direct token-membership AND
    over the FULL corpus — a batch posting routed to the wrong bucket, an
    append clobbering resident partitions, or serving that misses
    appended files all hash-diverge.
    """
    import shutil as _shutil
    import tempfile as _tempfile

    d = load_table(spark, sf_dir, "documents")
    idx_dir = _tempfile.mkdtemp(prefix="adps-invidx-incr-")
    try:
        base = d.where(F.col("doc_id") % 2 == 0)
        batch = d.where(F.col("doc_id") % 2 == 1)
        _posting_rows(base).write.mode("overwrite").partitionBy("bucket").parquet(
            idx_dir
        )
        # partition-wise append: new files land inside the existing
        # bucket=N directories; resident files are untouched
        _posting_rows(batch).write.mode("append").partitionBy("bucket").parquet(
            idx_dir
        )
        index = spark.read.parquet(idx_dir)
        want = term_buckets(INCR_TERMS)
        hits = (
            index.where(F.col("bucket").isin(*want))
            .where(F.col("term").isin(*INCR_TERMS))
            .groupBy("doc_id")
            .agg(
                F.count_distinct("term").alias("_nt"),
                F.max("source").alias("source"),
            )
            .where(F.col("_nt") == len(INCR_TERMS))
        )
        served = hits.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
        rows = [(r["source"], r["n_docs"]) for r in served.collect()]
    finally:
        _shutil.rmtree(idx_dir, ignore_errors=True)
    return spark.createDataFrame(rows, "source string, n_docs long")


def _inverted_incr_internal_plans(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    batch = _posting_rows(d.where(F.col("doc_id") % 2 == 1))
    full = _posting_rows(d)
    return [
        ("ingest", batch),
        ("serve", full.where(F.col("term").isin(*INCR_TERMS))
         .groupBy("doc_id")
         .agg(F.count_distinct("term").alias("_nt"), F.max("source").alias("source"))
         .where(F.col("_nt") == len(INCR_TERMS))
         .groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))),
    ]


_INCR_WHERE = " AND ".join(
    f"list_contains(string_split(text, ' '), '{t}')" for t in INCR_TERMS
)

INVERTED_INCR_SQL = f"""
SELECT source, COUNT(*) AS n_docs
FROM documents
WHERE {_INCR_WHERE}
GROUP BY source
"""

register(
    QuerySpec(
        "inverted_index_incremental",
        inverted_index_incremental,
        INVERTED_INCR_SQL,
        doc="partition-wise posting append provably equals the one-shot index; pruned serving",
        cites="incremental index maintenance, the IVF pinned-assignment argument applied to postings",
        tags=("search", "scale", "multi_tick"),
        internal_plan=_inverted_incr_internal_plans,
    )
)


PHRASE = ("sort", "merge")


def _positional_posting_rows(d: DataFrame) -> DataFrame:
    """(bucket, term, doc_id, pos) positional postings — the index layout
    phrase/proximity serving needs (Lucene's positions list, flattened)."""
    return (
        d.select(
            "doc_id",
            "source",
            F.posexplode(F.split("text", " ")).alias("pos", "term"),
        )
        .withColumn("bucket", F.pmod(F.hash("term"), F.lit(INDEX_BUCKETS)))
    )


def inverted_index_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHRASE serving over a POSITIONAL inverted index: postings carry
    token positions, and a two-term phrase query reads only the two
    terms' bucket partitions, then adjacency-joins the posting lists —
    ``p2.pos = p1.pos + 1`` on the same doc — to count exact phrase
    occurrences. This is the positional-index shape (Lucene positions)
    that neither the boolean index (`inverted_index_conjunctive`) nor the
    full-scan phrase query (`phrase_search_adjacent`) provides at scale:
    the corpus is never scanned at query time, and the join fans out only
    over the two terms' posting lists.

    Oracle = the direct corpus formulation: per doc, count positions i
    with t[i]=first AND t[i+1]=second. A position dropped in the build,
    an off-by-one in the adjacency join, or a lookup that misses a bucket
    all hash-diverge on the occurrence counts.
    """
    import shutil as _shutil
    import tempfile as _tempfile

    d = load_table(spark, sf_dir, "documents")
    idx_dir = _tempfile.mkdtemp(prefix="adps-invidx-pos-")
    try:
        _positional_posting_rows(d).write.mode("overwrite").partitionBy(
            "bucket"
        ).parquet(idx_dir)
        index = spark.read.parquet(idx_dir)
        want = term_buckets(PHRASE)
        pruned = index.where(F.col("bucket").isin(*want))
        p1 = pruned.where(F.col("term") == PHRASE[0]).select(
            "doc_id", "source", F.col("pos").alias("p1")
        )
        p2 = pruned.where(F.col("term") == PHRASE[1]).select(
            "doc_id", F.col("pos").alias("p2")
        )
        occ = (
            p1.join(p2, "doc_id")
            .where(F.col("p2") == F.col("p1") + 1)
            .groupBy("doc_id")
            .agg(F.max("source").alias("source"), F.count(F.lit(1)).alias("n"))
        )
        served = occ.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("n_occurrences"),
        )
        rows = [(r["source"], r["n_docs"], r["n_occurrences"]) for r in served.collect()]
    finally:
        _shutil.rmtree(idx_dir, ignore_errors=True)
    return spark.createDataFrame(
        rows, "source string, n_docs long, n_occurrences long"
    )


def _inverted_phrase_internal_plans(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    rows = _positional_posting_rows(d)
    p1 = rows.where(F.col("term") == PHRASE[0]).select(
        "doc_id", "source", F.col("pos").alias("p1")
    )
    p2 = rows.where(F.col("term") == PHRASE[1]).select(
        "doc_id", F.col("pos").alias("p2")
    )
    occ = (
        p1.join(p2, "doc_id")
        .where(F.col("p2") == F.col("p1") + 1)
        .groupBy("doc_id")
        .agg(F.max("source").alias("source"), F.count(F.lit(1)).alias("n"))
    )
    return [
        (
            "serve",
            occ.groupBy("source").agg(
                F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("n_occurrences")
            ),
        )
    ]


INVERTED_PHRASE_SQL = f"""
WITH t AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
),
occ AS (
  SELECT doc_id, source,
         len(list_filter(range(1, len(t)),
             i -> t[i] = '{PHRASE[0]}' AND t[i + 1] = '{PHRASE[1]}')) AS n
  FROM t
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS n_occurrences
FROM occ WHERE n > 0
GROUP BY source
"""

register(
    QuerySpec(
        "inverted_index_phrase",
        inverted_index_phrase,
        INVERTED_PHRASE_SQL,
        doc="positional posting lists; exact-phrase serving via pruned adjacency join",
        cites="Lucene-style positional index; complements inverted_index_conjunctive + phrase_search_adjacent",
        tags=("search", "scale", "multi_tick"),
        internal_plan=_inverted_phrase_internal_plans,
    )
)


# ---------------------------------------------------------------------------
# RANKED retrieval served FROM the inverted index: BM25 over tf/dl-scored
# posting lists + a one-row corpus-stats sidecar — closing the gap where
# boolean/phrase queries were index-served but ranked search still
# full-scanned the corpus
# ---------------------------------------------------------------------------


def _scored_posting_rows(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(postings, stats): postings carry everything per-(doc, term) BM25
    needs — tf and the doc length dl (denormalized onto each row, the
    Lucene norms analog) — bucketed by the term hash; stats is the ONE-ROW
    corpus sidecar (n_docs, avgdl) written next to the index at build
    time, so serving never touches the corpus.

    dl is a per-row pure function of the text (``size(split)`` — explode
    emits exactly that many rows, so it equals ``sum(tf) per doc``
    bit-for-bit) carried THROUGH the explode into the tf aggregation:
    one corpus shuffle total, where the old shape paid a second per-doc
    shuffle plus a tf⋈dl doc_id join inside every index build
    (optimization guide §2.4). stats folds from the tf frame
    (``sum(tf)/n_docs`` ≡ ``avg(dl)`` exactly; A/B-verified bit-equal)."""
    toks = d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("dl"),
        F.explode(F.split("text", " ")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    postings = tf.withColumn(
        "bucket", F.pmod(F.hash("term"), F.lit(INDEX_BUCKETS))
    )
    stats = tf.agg(
        F.count_distinct("doc_id").alias("n_docs"),
        (F.sum("tf").cast("double") / F.count_distinct("doc_id")).alias("avgdl"),
    )
    return postings, stats


def _query_frame(
    spark: SparkSession, queries: dict[int, list[str]] = QUERY_TERMS
) -> DataFrame:
    """(q_id int, term string) rows of a request as a literal frame. Built
    from an Arrow table, it plans as a ``LocalTableScan`` (a Python list
    would plan as ``Scan ExistingRDD``, an RDD job per broadcast)."""
    import pyarrow as pa

    pairs = [(qid, t) for qid, ts in queries.items() for t in ts]
    return spark.createDataFrame(
        pa.table(
            {
                "q_id": pa.array([p[0] for p in pairs], pa.int32()),
                "term": pa.array([p[1] for p in pairs], pa.string()),
            }
        )
    )


_ALL_TERMS = sorted({t for ts in QUERY_TERMS.values() for t in ts})


def _bm25_index_serve(
    postings: DataFrame,
    q: DataFrame,
    terms: list[str],
    n_docs: int,
    avgdl: float,
    k: int = TOPK,
    candidates: DataFrame | None = None,
    exclude_q_doc: bool = False,
) -> DataFrame:
    """Top-k BM25 from pruned posting lists, as one query: ``terms`` (the
    distinct terms of ``q``) filter the postings as a literal ``isin``;
    df for those terms is a grouped aggregate over the same filtered scan
    (all of a term's postings live in its bucket, so the pruned read sees
    every one; the map-side partial keeps a common term's list off one
    task), broadcast back; ``n_docs``/``avgdl`` enter the score as
    literals; the per-(q, doc) sum is cut to the top ``k`` by
    ``row_number() <= k`` over ``q_id``, which plans as a partial and a
    final ``WindowGroupLimit`` around the one exchange. Nothing collected
    grows with the corpus. Identical scoring expression to the full-scan
    ``_bm25_scores`` — the oracle is the same BM25 SQL.

    ``candidates`` (doc_id frame) restricts the RANKED docs without
    touching the statistics — Lucene filtered-search semantics: idf and
    avgdl stay index-global (df is counted from the UNfiltered posting
    lists), only the candidate set narrows. ``exclude_q_doc`` drops the
    query document itself from its own ranking (document-as-query /
    more-like-this retrieval)."""
    pruned = postings.where(F.col("term").isin(*terms))
    dfq = pruned.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    matched = pruned
    if candidates is not None:
        # semi-join the tf rows, NOT the df count above — the filter gates
        # candidates, never the corpus statistics
        matched = matched.join(candidates.select("doc_id"), "doc_id", "left_semi")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n_docs) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    w = idf * (
        (F.col("tf") * F.lit(K1 + 1.0))
        / (F.col("tf") + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.lit(avgdl)))
    )
    scored = (
        matched.join(F.broadcast(q), "term")
        .join(F.broadcast(dfq), "term")
        .select("q_id", "doc_id", w.alias("w"))
        .groupBy("q_id", "doc_id")
        .agg(F.round(F.sum("w"), 4).alias("score"))
    )
    if exclude_q_doc:
        scored = scored.where(F.col("doc_id") != F.col("q_id"))
    order = Window.partitionBy("q_id").orderBy(
        F.desc_nulls_last("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(order))
        .where(F.col("rank") <= k)
        .select("q_id", "doc_id", "score", "rank")
    )


def inverted_index_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the SCORED inverted index (tf/dl postings partitioned by term
    bucket + the one-row stats sidecar), then serve the three fixed BM25
    keyword queries reading ONLY the query terms' bucket partitions —
    ranked retrieval without a corpus scan, the serving shape
    ``bm25_search`` cannot offer at 100 TB (the index build is one
    corpus pass, amortized over every query; each lookup is O(posting
    lists of the query terms)). Plan-guarded in tests/test_plans_new_ops.py:
    the serve scan carries a bucket PartitionFilter and touches exactly
    the query buckets.

    The oracle is the full-scan BM25 SQL (the same statement
    ``bm25_search`` is gated on): a tf/dl lost in the build, a df counted
    from a clipped posting list, a stale stats sidecar, or a pruned-away
    true hit all hash-diverge on the ranked cut.
    """
    import shutil as _shutil
    import tempfile as _tempfile

    import pyarrow.parquet as pq

    d = load_table(spark, sf_dir, "documents")
    idx_dir = _tempfile.mkdtemp(prefix="adps-invidx-bm25-")
    stats_dir = _tempfile.mkdtemp(prefix="adps-invidx-bm25-stats-")
    try:
        postings, stats = _scored_posting_rows(d)
        postings.write.mode("overwrite").partitionBy("bucket").parquet(idx_dir)
        stats.coalesce(1).write.mode("overwrite").parquet(stats_dir)
        index = spark.read.parquet(idx_dir)
        want = term_buckets(_ALL_TERMS)
        # the one-row sidecar is read on the driver, not joined
        served = _bm25_index_serve(
            index.where(F.col("bucket").isin(*want)),
            _query_frame(spark),
            _ALL_TERMS,
            **pq.read_table(stats_dir).to_pylist()[0],
        )
        schema = served.schema
        rows = [tuple(r) for r in served.collect()]
    finally:
        for d_ in (idx_dir, stats_dir):
            _shutil.rmtree(d_, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def _bm25_index_plans(spark: SparkSession, d: DataFrame):
    """The internal plan of a query that serves ``SearchIndex.bm25``: the
    pruned serve over ``d``'s postings (the index's final live set)."""
    postings, stats = _scored_posting_rows(d)
    serve = _bm25_index_serve(
        postings, _query_frame(spark), _ALL_TERMS, **stats.first().asDict()
    )
    return [("serve", serve)]


def _bm25_index_internal_plans(spark, sf_dir):
    return _bm25_index_plans(spark, load_table(spark, sf_dir, "documents"))


register(
    QuerySpec(
        "inverted_index_bm25_topk",
        inverted_index_bm25_topk,
        BM25_SQL,
        doc="BM25 top-k served from tf/dl-scored posting lists + stats sidecar; reads only the query terms' buckets",
        cites="Lucene postings+norms serving shape; oracle shared with bm25_search (full-scan formulation)",
        tags=("search", "scale", "topk", "multi_tick"),
        internal_plan=_bm25_index_internal_plans,
    )
)


def inverted_index_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list COMPACTION under the oracle gate: the index is built
    over three partition-wise ingest ticks (one small file per bucket per
    tick — the small-file debt incremental appends accumulate), then
    ``tables/maintenance.py::compact_posting_buckets`` rewrites every
    oversized bucket to a single file (two atomic renames per bucket,
    crash windows healed by recover_posting_compaction), and the
    conjunctive query is served from the COMPACTED index. The oracle is
    the direct corpus predicate — a posting lost or duplicated in the
    rewrite, a bucket dropped mid-swap, or a stale retired directory
    leaking back in all hash-diverge. The maintenance analog of the state
    layer's ``compact_state_deletes``, applied to the index family."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from analytics_data_platform_spark.tables.maintenance import (
        compact_posting_buckets,
    )

    d = load_table(spark, sf_dir, "documents")
    idx_dir = _tempfile.mkdtemp(prefix="adps-invidx-compact-")
    try:
        _posting_rows(d.where(F.col("doc_id") % 3 == 0)).write.mode(
            "overwrite"
        ).partitionBy("bucket").parquet(idx_dir)
        for tick in (1, 2):
            _posting_rows(d.where(F.col("doc_id") % 3 == tick)).write.mode(
                "append"
            ).partitionBy("bucket").parquet(idx_dir)
        compacted = compact_posting_buckets(spark, idx_dir)
        assert compacted, "three ticks must leave oversized buckets"
        # compaction left exactly one file per rewritten bucket
        for name in _os.listdir(idx_dir):
            if name.startswith("bucket="):
                n = len(
                    [
                        f
                        for f in _os.listdir(_os.path.join(idx_dir, name))
                        if f.endswith(".parquet")
                    ]
                )
                assert n == 1, f"{name}: {n} files after compaction"
        index = spark.read.parquet(idx_dir)
        want = term_buckets(CONJ_TERMS)
        served = _conjunctive_serve(index.where(F.col("bucket").isin(*want)))
        rows = [(r["source"], r["n_docs"]) for r in served.collect()]
    finally:
        _shutil.rmtree(idx_dir, ignore_errors=True)
    return spark.createDataFrame(rows, "source string, n_docs long")


def _inverted_compacted_internal_plans(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return [
        ("ingest", _posting_rows(d.where(F.col("doc_id") % 3 == 1))),
        ("serve", _conjunctive_serve(_posting_rows(d))),
    ]


register(
    QuerySpec(
        "inverted_index_compacted",
        inverted_index_compacted,
        INVERTED_INDEX_SQL,
        doc="per-bucket posting compaction preserves serving exactly; conjunctive lookup from the compacted index",
        cites="tables/maintenance.py::compact_posting_buckets; the M1 rewrite_data_files analog for the index family",
        tags=("search", "scale", "multi_tick"),
        internal_plan=_inverted_compacted_internal_plans,
    )
)


def inverted_index_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ranked retrieval: the scored index ingests a second
    corpus half with a partition-wise posting append, and the one-row
    stats sidecar is updated in O(1) FROM THE BATCH ALONE —
    n_docs' = n_docs + n_batch, total_dl' = total_dl + batch_dl, so
    avgdl' = total_dl'/n_docs' without touching the resident corpus or
    index. Term df needs no maintenance at all: it is counted at serve
    time from the query terms' posting lists, which the bucket-pure
    append keeps complete. BM25 therefore stays EXACTLY the one-shot
    ranking under O(batch) ingest — the oracle is the full-scan BM25 SQL
    over the full corpus, so a stale sidecar (old avgdl/n_docs), a
    clobbered resident partition, or a batch posting routed to the wrong
    bucket all hash-diverge on the ranked cut.
    """
    import shutil as _shutil
    import tempfile as _tempfile

    d = load_table(spark, sf_dir, "documents")
    idx_dir = _tempfile.mkdtemp(prefix="adps-invidx-bm25i-")
    try:
        base, batch = d.where(F.col("doc_id") % 2 == 0), d.where(F.col("doc_id") % 2 == 1)
        postings, _ = _scored_posting_rows(base)
        postings.write.mode("overwrite").partitionBy("bucket").parquet(idx_dir)
        # sidecar totals kept as exact integers so the O(1) update is
        # associative (avgdl is derived at serve time)
        s0 = postings.groupBy().agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.sum("tf").alias("total_dl"),
        ).collect()[0]

        batch_postings, _ = _scored_posting_rows(batch)
        batch_postings.write.mode("append").partitionBy("bucket").parquet(idx_dir)
        s1 = batch_postings.groupBy().agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.sum("tf").alias("total_dl"),
        ).collect()[0]
        n_docs = int(s0["n_docs"]) + int(s1["n_docs"])
        avgdl = (int(s0["total_dl"]) + int(s1["total_dl"])) / n_docs

        index = spark.read.parquet(idx_dir)
        want = term_buckets(_ALL_TERMS)
        served = _bm25_index_serve(
            index.where(F.col("bucket").isin(*want)),
            _query_frame(spark),
            _ALL_TERMS,
            n_docs,
            avgdl,
        )
        schema = served.schema
        rows = [tuple(r) for r in served.collect()]
    finally:
        _shutil.rmtree(idx_dir, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def _bm25_incr_internal_plans(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    batch_postings, batch_stats = _scored_posting_rows(
        d.where(F.col("doc_id") % 2 == 1)
    )
    postings, stats = _scored_posting_rows(d)
    serve = _bm25_index_serve(
        postings, _query_frame(spark), _ALL_TERMS, **stats.first().asDict()
    )
    return [
        ("ingest", batch_postings),
        ("ingest_stats", batch_stats),
        ("serve", serve),
    ]


register(
    QuerySpec(
        "inverted_index_bm25_incremental",
        inverted_index_bm25_incremental,
        BM25_SQL,
        doc="partition-wise scored-posting append + O(1) stats-sidecar update; ranked serving provably equals the one-shot BM25",
        cites="Lucene segment-merge stats maintenance analog; oracle shared with bm25_search",
        tags=("search", "scale", "topk", "multi_tick"),
        internal_plan=_bm25_incr_internal_plans,
    )
)


def inverted_index_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERASURE over the serving index (operators/search_index.py): a
    scored index is built over the full corpus, the doc_id % 97 == 0
    documents are taken down via merge-on-read delete files (O(deleted)
    writes — no posting rewritten), and ranked serving must then equal a
    one-shot build over the SURVIVING corpus — including the global
    statistics: the sidecar decrements by the erased docs' exact
    (n_docs, Σdl) contribution, so idf and avgdl shift exactly as if the
    docs had never been indexed, not merely filtered from results. After
    ``apply_deletes`` materializes the rewrite (atomic swap), the same
    cut must come back from the physically-clean index.

    The oracle is the full-scan BM25 SQL over ``documents WHERE
    doc_id % 97 <> 0`` — a survivor-only recomputation in a different
    engine, so a stale sidecar, a delete that only filters results (df or
    avgdl still counting erased docs), or a torn apply-swap all
    hash-diverge on the ranked cut.
    """
    import shutil as _shutil
    import tempfile as _tempfile

    from analytics_data_platform_spark.operators.search_index import SearchIndex

    d = load_table(spark, sf_dir, "documents")
    root = _tempfile.mkdtemp(prefix="adps-invidx-erase-")
    try:
        idx = SearchIndex(spark, root, mode="scored").build(d)
        idx.delete_docs(d.where(F.col("doc_id") % 97 == 0).select("doc_id"))
        served = idx.bm25(QUERY_TERMS)
        schema = served.schema
        rows = sorted(tuple(r) for r in served.collect())
        idx.apply_deletes()
        after = sorted(tuple(r) for r in idx.bm25(QUERY_TERMS).collect())
        assert after == rows, "apply_deletes changed the served ranking"
    finally:
        _shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def _erasure_internal_plans(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return _bm25_index_plans(spark, d.where(F.col("doc_id") % 97 != 0))


assert BM25_SQL.count("FROM documents") == 1, "BM25 oracle shape changed"
ERASURE_BM25_SQL = BM25_SQL.replace(
    "FROM documents", "FROM documents WHERE doc_id % 97 <> 0"
)

register(
    QuerySpec(
        "inverted_index_erasure",
        inverted_index_erasure,
        ERASURE_BM25_SQL,
        doc="merge-on-read index deletes + exact stats decrement: ranked serving equals a one-shot build over the survivors, before and after apply_deletes",
        cites="operators/search_index.py::delete_docs/apply_deletes; the snapshot layer's equality-delete shape applied to posting lists; GDPR takedown for the serving tier",
        tags=("search", "scale", "topk", "governance", "multi_tick"),
        internal_plan=_erasure_internal_plans,
    )
)
