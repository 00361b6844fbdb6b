"""Similarity-search / embedding queries over the ``embeddings`` table.

Brute-force cosine top-k is the exactness baseline; operators.similarity
adds the LSH-bucketed scale path. All vector math uses higher-order
functions (functions.vectors) — JVM-side, no Python boundary.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from analytics_data_platform_spark.functions import vectors as V
from analytics_data_platform_spark.functions.expr import spread
from analytics_data_platform_spark.operators.similarity import topk_per_query
from analytics_data_platform_spark.queries import QuerySpec, register
from analytics_data_platform_spark.sources.testdata import load_table


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", V.norm("embedding").alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
            F.round(F.min("nrm"), 4).alias("min_norm"),
            F.round(F.max("nrm"), 4).alias("max_norm"),
        )
    )


EMB_NORM_SQL = """
WITH norms AS (
  SELECT label,
         sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
               FROM UNNEST(embedding) AS t(x))) AS nrm
  FROM embeddings
)
SELECT label, COUNT(*) AS n_vecs,
       ROUND(AVG(nrm), 4) AS avg_norm,
       ROUND(MIN(nrm), 4) AS min_norm,
       ROUND(MAX(nrm), 4) AS max_norm
FROM norms GROUP BY label
"""

register(
    QuerySpec(
        "embedding_norm_stats",
        embedding_norm_stats,
        EMB_NORM_SQL,
        doc="L2 norm statistics per label (higher-order fns, no UDF)",
        cites="training-data ops: embedding column math",
        tags=("vector",),
    )
)


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors for query vectors (vec_id < 5).

    Query side is broadcast; candidates stream — at 100 TB this is a single
    pass over the corpus. Selection is TWO-PHASE top-k
    (operators.similarity.topk_per_query): local top-k per input partition,
    then a global window over ≤ k·numPartitions rows per query — never a
    full-corpus single-task sort. Rank on ROUND(cos,4) with vec_id
    tie-break so float ulp differences cannot reorder results vs the oracle.
    """
    e = load_table(spark, sf_dir, "embeddings")
    # norms are hoisted to per-row projections BEFORE the join — computed
    # once per vector instead of once per (query, candidate) pair; the
    # division dot/(na*nb) is bit-identical to cosine() so the oracle
    # comparison is unaffected
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        V.norm("embedding").alias("q_nrm"),
    )
    # spread: the embeddings parquet scans as ONE split at test SFs while
    # the per-row work (interpreted higher-order dot products × |queries|)
    # is thousands of times the IO — without this the whole scoring join
    # runs on one core (optimization guide §2 / functions.expr.spread; a
    # no-op on wide production scans). The norm projects AFTER the
    # exchange: raw (vec_id, embedding) rows cross the wire and the
    # per-row HOF norm runs on every core instead of inside the one-task
    # map side (guide §2.3 — shuffle fewer bytes, compute wide; the r10
    # pre-exchange-norm shape measured 1.44 s vs 0.87 s for this one,
    # tools/ab_ann.py, idle min-of-4). Result-identical: scoring is
    # per-row pure and the two-phase top-k's (score desc, id asc) order is
    # partitioning-independent.
    cand = spread(e.select("vec_id", "embedding")).select(
        "vec_id", "embedding", V.norm("embedding").alias("c_nrm")
    )
    cos = F.when(
        (F.col("q_nrm") > 0) & (F.col("c_nrm") > 0),
        V.dot("q_emb", "embedding") / (F.col("q_nrm") * F.col("c_nrm")),
    )
    scored = (
        cand.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", F.round(cos, 4).alias("cos_sim"))
    )
    return topk_per_query(scored, 10, "q_id", "vec_id", "cos_sim").select(
        "q_id", "vec_id", "cos_sim", "rank"
    )


ANN_TOPK_SQL = """
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, e.vec_id,
         ROUND(
           list_sum(list_transform(list_zip(q.q_emb, e.embedding),
                                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(q.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(e.embedding,
                                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
           AS cos_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.q_id
)
SELECT q_id, vec_id, cos_sim, rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""

register(
    QuerySpec(
        "ann_cosine_topk",
        ann_cosine_topk,
        ANN_TOPK_SQL,
        doc="brute-force cosine top-k similarity search",
        cites="training-data ops: similarity search baseline",
        bench=True,
        tags=("vector", "topk"),
    )
)


def embedding_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (elementwise mean) → centroid L2 norm.

    posexplode → (label, pos) mean → recompose: the distributed formulation
    of columnar vector averaging (shuffles on (label,pos) — scales linearly).
    """
    e = load_table(spark, sf_dir, "embeddings")
    per_dim = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("val").cast("double")).alias("mean_val"))
    )
    return (
        per_dim.groupBy("label")
        .agg(F.round(F.sqrt(F.sum(F.col("mean_val") * F.col("mean_val"))), 4).alias("centroid_norm"))
    )


CENTROID_SQL = """
WITH per_row AS (
  -- zipped unnest tracks the ACTUAL array length, like Spark's posexplode
  SELECT label, unnest(generate_series(1, len(embedding))) AS pos,
         unnest(embedding) AS val
  FROM embeddings
),
per_dim AS (
  SELECT label, pos, AVG(CAST(val AS DOUBLE)) AS mean_val
  FROM per_row GROUP BY label, pos
)
SELECT label, ROUND(sqrt(SUM(mean_val * mean_val)), 4) AS centroid_norm
FROM per_dim GROUP BY label
"""

register(
    QuerySpec(
        "embedding_centroid_norms",
        embedding_centroid_norms,
        CENTROID_SQL,
        doc="per-label centroid norm (distributed elementwise mean)",
        cites="training-data ops: embedding aggregation (IVF coarse-quantizer step)",
        tags=("vector",),
    )
)


# ---- ANN quality: recall@10 of LSH vs brute force --------------------------


def ann_recall_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluating ANN quality gate: per query, recall@10 of the
    LSH-bucketed top-k against the exact brute-force top-k. An index
    pipeline runs this continuously — recall drift is the signal that
    banding parameters no longer fit the corpus. Both sides are the
    registry's own operators, and the ORACLE rebuilds both from scratch
    (portable planes + exact cosine), so the recall numbers themselves
    are hash-verified — the evaluation is as auditable as the queries it
    evaluates."""
    from analytics_data_platform_spark.queries import REGISTRY

    brute = ann_cosine_topk(spark, sf_dir).select("q_id", "vec_id")
    lsh = REGISTRY["ann_lsh_topk"].fn(spark, sf_dir).select(
        "q_id", "vec_id", F.lit(1).alias("hit")
    )
    return (
        brute.join(lsh, ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("k_brute"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
        )
        .selectExpr(
            "q_id",
            "k_brute",
            "n_hit",
            "round(CAST(n_hit AS DOUBLE) / k_brute, 4) AS recall_at_10",
        )
        .orderBy("q_id")
    )


def _ann_recall_sql() -> str:
    from analytics_data_platform_spark.queries import REGISTRY

    brute = REGISTRY["ann_cosine_topk"].oracle
    lsh = REGISTRY["ann_lsh_topk"].oracle
    return f"""
WITH brute AS (SELECT q_id, vec_id FROM ({brute}) b),
lsh AS (SELECT q_id, vec_id FROM ({lsh}) l)
SELECT b.q_id,
       COUNT(*) AS k_brute,
       CAST(SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       ROUND(CAST(SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 4) AS recall_at_10
FROM brute b LEFT JOIN lsh l ON b.q_id = l.q_id AND b.vec_id = l.vec_id
GROUP BY 1 ORDER BY 1
"""


register(
    QuerySpec(
        "ann_recall_at_10",
        ann_recall_at_10,
        _ann_recall_sql(),
        doc="recall@10 of LSH ANN vs exact brute force, per query — hash-verified evaluation",
        cites="composes ann_cosine_topk + ann_lsh_topk; the continuous index-quality gate",
        tags=("similarity", "eval", "ann"),
    )
)


def ann_ivf_recall_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probe recall@10 vs exact brute force — the companion gate to
    ann_recall_at_10 for the inverted-file index: recall here moves with
    nprobe/centroid fit rather than banding width, so the two rows
    together attribute quality loss to the right index knob. Both sides
    and the oracle rebuild independently; the recall numbers themselves
    hash-verify."""
    from analytics_data_platform_spark.queries import REGISTRY

    brute = ann_cosine_topk(spark, sf_dir).select("q_id", "vec_id")
    ivf = REGISTRY["ann_ivf_topk"].fn(spark, sf_dir).select(
        "q_id", "vec_id", F.lit(1).alias("hit")
    )
    return (
        brute.join(ivf, ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("k_brute"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
        )
        .selectExpr(
            "q_id",
            "k_brute",
            "n_hit",
            "round(CAST(n_hit AS DOUBLE) / k_brute, 4) AS recall_at_10",
        )
        .orderBy("q_id")
    )


def _ann_ivf_recall_sql() -> str:
    from analytics_data_platform_spark.queries import REGISTRY

    brute = REGISTRY["ann_cosine_topk"].oracle
    ivf = REGISTRY["ann_ivf_topk"].oracle
    return f"""
WITH brute AS (SELECT q_id, vec_id FROM ({brute}) b),
ivf AS (SELECT q_id, vec_id FROM ({ivf}) l)
SELECT b.q_id,
       COUNT(*) AS k_brute,
       CAST(SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       ROUND(CAST(SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 4) AS recall_at_10
FROM brute b LEFT JOIN ivf l ON b.q_id = l.q_id AND b.vec_id = l.vec_id
GROUP BY 1 ORDER BY 1
"""


register(
    QuerySpec(
        "ann_ivf_recall_at_10",
        ann_ivf_recall_at_10,
        _ann_ivf_recall_sql(),
        doc="recall@10 of IVF probes vs exact brute force — the nprobe/centroid quality gate",
        cites="companion of ann_recall_at_10; composes ann_ivf_topk + ann_cosine_topk",
        tags=("similarity", "eval", "ann"),
    )
)


# --- MMR: diversified top-k retrieval --------------------------------------

MMR_QUERY_ID = 0
MMR_CAND = 12
MMR_K = 5
MMR_LAMBDA = 0.7


def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance: re-rank the query's top-12 cosine
    candidates into 5 picks that balance relevance against redundancy —
    pick t maximizes λ·sim(q,c) − (1−λ)·max_{s∈picked} sim(c,s). The
    greedy loop is k bounded DataFrame steps over the candidate set (the
    corpus-scale work — candidate generation — is the usual broadcast
    scan + two-phase top-k; MMR only ever touches k·|candidates| rows).

    Both engines compute the identical greedy: similarities are rounded
    to 4dp BEFORE selection, scores are the same two-term double
    expression, ties break on vec_id — the oracle unrolls the five steps
    as QUALIFY CTEs."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == MMR_QUERY_ID).select(
        F.col("embedding").alias("q_emb"), V.norm("embedding").alias("q_nrm")
    )
    cand_pool = e.where(F.col("vec_id") != MMR_QUERY_ID).select(
        "vec_id", "embedding", V.norm("embedding").alias("c_nrm")
    )
    simq = V.dot("q_emb", "embedding") / (F.col("q_nrm") * F.col("c_nrm"))
    scored = cand_pool.join(F.broadcast(q)).select(
        "vec_id", "embedding", "c_nrm", F.round(simq, 4).alias("simq")
    )
    w_top = Window.orderBy(F.desc("simq"), "vec_id")
    cand = (
        scored.withColumn("rn", F.row_number().over(w_top))
        .where(F.col("rn") <= MMR_CAND)
        .select("vec_id", "embedding", "c_nrm", "simq")
        .localCheckpoint(eager=False)
    )
    a = cand.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"),
                    F.col("c_nrm").alias("na"))
    b = cand.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"),
                    F.col("c_nrm").alias("nb"))
    pair = (
        a.join(b, F.col("a") != F.col("b"))
        .select("a", "b", F.round(V.dot("ea", "eb") / (F.col("na") * F.col("nb")), 4).alias("sim"))
        .localCheckpoint(eager=False)
    )
    lam, lam1 = float(MMR_LAMBDA), 1.0 - float(MMR_LAMBDA)
    cur = cand.select("vec_id", "simq", F.lit(None).cast("double").alias("maxsel"))
    chosen = None
    for step in range(1, MMR_K + 1):
        score = F.lit(lam) * F.col("simq") - F.lit(lam1) * F.coalesce("maxsel", F.lit(0.0))
        best = (
            cur.select("vec_id", "simq", score.alias("mmr_score"))
            .orderBy(F.desc("mmr_score"), "vec_id")
            .limit(1)
            .select(F.lit(step).alias("step"), "vec_id", "simq", F.round("mmr_score", 4).alias("mmr_score"))
        )
        chosen = best if chosen is None else chosen.unionByName(best)
        sel = best.select(F.col("vec_id").alias("sel_id"))
        cur = (
            cur.join(F.broadcast(sel))
            .where(F.col("vec_id") != F.col("sel_id"))
            .join(
                F.broadcast(pair.select(F.col("a").alias("vec_id"),
                                        F.col("b").alias("sel_id"), "sim")),
                ["vec_id", "sel_id"], "left",
            )
            .select(
                "vec_id", "simq",
                F.when(F.col("maxsel").isNull(), F.col("sim"))
                .otherwise(F.greatest("maxsel", "sim")).alias("maxsel"),
            )
        )
    return chosen


def _mmr_sql() -> str:
    lam, lam1 = float(MMR_LAMBDA), 1.0 - float(MMR_LAMBDA)
    cos = (
        "ROUND(list_sum(list_transform(list_zip({L}, {R}),"
        " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
        " / (sqrt(list_sum(list_transform({L}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        " * sqrt(list_sum(list_transform({R}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)"
    )
    simq = cos.format(L="q.q_emb", R="e.embedding")
    simab = cos.format(L="ca.embedding", R="cb.embedding")
    steps = []
    prev_union = "SELECT vec_id FROM p1"
    for k in range(2, MMR_K + 1):
        steps.append(f"""
p{k} AS (
  SELECT {k} AS step, vec_id, simq, ROUND(score, 4) AS mmr_score FROM (
    SELECT c.vec_id, c.simq,
           {lam} * c.simq - {lam1} * MAX(p.sim) AS score
    FROM cand c JOIN pair p ON p.a = c.vec_id AND p.b IN ({prev_union})
    WHERE c.vec_id NOT IN ({prev_union})
    GROUP BY c.vec_id, c.simq
  ) QUALIFY ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) = 1
)""")
        prev_union += f" UNION ALL SELECT vec_id FROM p{k}"
    picks = "\nUNION ALL ".join(f"SELECT * FROM p{k}" for k in range(1, MMR_K + 1))
    return f"""
WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {MMR_QUERY_ID}),
scored AS (
  SELECT e.vec_id, e.embedding, {simq} AS simq
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> {MMR_QUERY_ID}
),
cand AS (
  SELECT vec_id, embedding, simq FROM scored
  QUALIFY ROW_NUMBER() OVER (ORDER BY simq DESC, vec_id) <= {MMR_CAND}
),
pair AS (
  SELECT ca.vec_id AS a, cb.vec_id AS b, {simab} AS sim
  FROM cand ca JOIN cand cb ON ca.vec_id <> cb.vec_id
),
p1 AS (
  SELECT 1 AS step, vec_id, simq, ROUND({lam} * simq, 4) AS mmr_score FROM cand
  QUALIFY ROW_NUMBER() OVER (ORDER BY {lam} * simq DESC, vec_id) = 1
),{",".join(steps)}
SELECT step, vec_id, simq, mmr_score FROM ({picks})
"""


register(
    QuerySpec(
        "mmr_diversified_topk",
        mmr_diversified_topk,
        _mmr_sql(),
        doc="maximal-marginal-relevance diversified top-5 over cosine candidates",
        cites="retrieval diversity family; greedy bounded to k·|candidates| rows",
        tags=("vector", "search", "topk"),
    )
)


# --- embedding isolation screen (nearest-neighbor distance outliers) -------

ISOLATION_TOP = 20


def embedding_isolation_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding data-quality screen: each vector's similarity to its
    single nearest neighbor; the 20 most ISOLATED vectors (lowest 1-NN
    cosine) are mislabeled/outlier candidates — the embedding analogue of
    the MAD outlier screen. Every vector is a query: the fused Arrow
    scorer (operators/similarity.py::self_nearest_neighbor) does one
    BLAS matmul per batch against the closure-broadcast corpus matrix
    and emits exactly one (nn_id, nn_sim) row per vector — replacing the
    n²-interpreted-fold BNLJ self-join (30 s → ~2 s at sf0.1). Rank on
    ROUND(cos,4) with min-id tie-breaks (ascending-id column order makes
    numpy's first-argmax the min-id pick)."""
    from analytics_data_platform_spark.operators.similarity import (
        self_nearest_neighbor,
    )

    e = load_table(spark, sf_dir, "embeddings")
    best = self_nearest_neighbor(
        e, id_col="vec_id", vec_col="embedding", carry_cols=("label",)
    ).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("qlabel"),
        "nn_id", "nn_sim",
    )
    w = Window.orderBy(F.asc("nn_sim"), "qid")
    return (
        best.withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= ISOLATION_TOP)
        .select("pos", "qid", "qlabel", "nn_id", "nn_sim")
    )


ISOLATION_SQL = f"""
WITH scored AS (
  SELECT a.vec_id AS qid, a.label AS qlabel, b.vec_id AS cid,
         ROUND(
           list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding,
                                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
           AS sim
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
),
best AS (
  SELECT qid, qlabel, sim AS nn_sim, cid AS nn_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT pos, qid, qlabel, nn_id, nn_sim FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY nn_sim ASC, qid) AS pos FROM best
) WHERE pos <= {ISOLATION_TOP}
"""

register(
    QuerySpec(
        "embedding_isolation_screen",
        embedding_isolation_screen,
        ISOLATION_SQL,
        doc="1-NN cosine isolation outliers over the embedding corpus (struct-max argmax)",
        cites="embedding data-quality family; no per-query corpus window",
        tags=("vector", "dq"),
    )
)


# --- SemDeDup: cluster-then-dedup semantic deduplication -------------------

SDD_K = 8  # clusters; scales as n/<cluster size> at corpus scale
SDD_SCALE = 1000  # integer quantization resolution (see ml_ops._km_quantize)
# cosine threshold 0.4 as an exact rational: cos >= 2/5  <=>  dot > 0 AND
# 25*dot^2 >= 4*|a|^2*|b|^2 — integer arithmetic, no sqrt, no float drift
SDD_T_NUM, SDD_T_DEN = 4, 25


def semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-style
    cluster assignment, then exact cosine near-duplicate removal WITHIN
    each cluster — the scale path that bounds the quadratic term to
    Σ cluster² instead of n², with no LSH recall loss inside a cluster.

    Spark-first shape: centroids are the first ``SDD_K`` vectors
    (deterministic init, broadcast as DATA via a nested-loop broadcast —
    k·dim literals would blow up the plan at Faiss-scale k, the same
    decision as operators/similarity.py IVF); per-vector assignment is a
    zip_with fold + min(struct(d2, cid)) groupBy (one shuffle, exact
    argmin with cid tie-break). The within-cluster pair join shuffles on
    cid only; the similarity test is pure integer arithmetic on 1e-3
    quantized components (dot ≤ 64·530² here; DECIMAL(38,0) products so
    100 TB-scale dims/magnitudes cannot overflow — the simpson_paradox
    lesson). A vector is dropped when ANY ≥-threshold neighbor with a
    smaller vec_id shares its cluster (the deterministic one-
    representative-per-neighborhood rule). At 100 TB: k grows with n to
    hold cluster sizes bounded, and a skewed cluster is sub-split by
    recursing on its members — the published algorithm's own knob; the
    per-cluster work here is provably Σ c², never n². This query keeps
    flat clustering (no sub-split), so the oracle stays one SQL pass.

    Output is one row per cluster (bounded by k): sizes, drops, and an
    exact dropped-id checksum the DuckDB oracle reproduces bit-for-bit.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * SDD_SCALE).cast("bigint"),
        ).alias("xq"),
    ).withColumn(
        "n2",
        F.aggregate(
            F.transform("xq", lambda v: v * v), F.lit(0).cast("bigint"), lambda a, v: a + v
        ),
    )
    cent = q.where(F.col("vec_id") < SDD_K).select(
        F.col("vec_id").alias("cid"), F.col("xq").alias("cq")
    )
    d2 = F.aggregate(
        F.zip_with("xq", "cq", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    assigned = (
        q.join(F.broadcast(cent))  # k-row broadcast fan-out, not a shuffle
        .select("vec_id", "xq", "n2", "cid", d2.alias("d2"))
        .groupBy("vec_id")
        .agg(
            F.min(F.struct("d2", "cid")).alias("best"),
            F.first("xq").alias("xq"),
            F.first("n2").alias("n2"),
        )
        .select("vec_id", "xq", "n2", F.col("best.cid").alias("cid"))
    )
    a = assigned.select(
        F.col("vec_id").alias("a_id"), F.col("xq").alias("a_xq"),
        F.col("n2").alias("a_n2"), "cid",
    )
    b = assigned.select(
        F.col("vec_id").alias("b_id"), F.col("xq").alias("b_xq"),
        F.col("n2").alias("b_n2"), "cid",
    )
    dot = F.aggregate(
        F.zip_with("a_xq", "b_xq", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    dec = "decimal(38,0)"
    pairs = (
        a.join(b, "cid")
        .where(F.col("a_id") < F.col("b_id"))
        .select("cid", "a_id", "b_id", "a_n2", "b_n2", dot.alias("dot"))
        .where(
            (F.col("dot") > 0)
            & (
                F.lit(SDD_T_DEN) * F.col("dot").cast(dec) * F.col("dot").cast(dec)
                >= F.lit(SDD_T_NUM) * F.col("a_n2").cast(dec) * F.col("b_n2").cast(dec)
            )
        )
    )
    dropped = pairs.select("cid", F.col("b_id").alias("vec_id")).distinct()
    return (
        assigned.join(dropped.withColumn("is_drop", F.lit(1)), ["cid", "vec_id"], "left")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.coalesce("is_drop", F.lit(0))).alias("n_dropped"),
            F.sum(
                F.when(F.col("is_drop").isNotNull(), F.col("vec_id")).otherwise(F.lit(0))
            ).alias("dropped_id_sum"),
        )
        .select("cid", "n_vecs", "n_dropped", "dropped_id_sum")
    )


SEMDEDUP_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {SDD_SCALE}) AS BIGINT)) AS xq
  FROM embeddings
),
qn AS (
  SELECT vec_id, xq,
         list_sum(list_transform(xq, v -> v * v)) AS n2
  FROM q
),
cent AS (SELECT vec_id AS cid, xq AS cq FROM q WHERE vec_id < {SDD_K}),
dist AS (
  SELECT qn.vec_id, cent.cid, qn.xq, qn.n2,
         list_sum(list_transform(list_zip(qn.xq, cent.cq),
                                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
  FROM qn CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, cid, xq, n2 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dist
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.cid, b.vec_id AS b_id
  FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE list_sum(list_transform(list_zip(a.xq, b.xq), p -> p[1] * p[2])) > 0
    AND {SDD_T_DEN} * CAST(list_sum(list_transform(list_zip(a.xq, b.xq), p -> p[1] * p[2])) AS HUGEINT)
                    * CAST(list_sum(list_transform(list_zip(a.xq, b.xq), p -> p[1] * p[2])) AS HUGEINT)
        >= {SDD_T_NUM} * CAST(a.n2 AS HUGEINT) * CAST(b.n2 AS HUGEINT)
),
dropped AS (SELECT DISTINCT cid, b_id AS vec_id FROM pairs)
SELECT s.cid, COUNT(*) AS n_vecs,
       COUNT(d.vec_id) AS n_dropped,
       CAST(COALESCE(SUM(CASE WHEN d.vec_id IS NOT NULL THEN s.vec_id END), 0) AS BIGINT) AS dropped_id_sum
FROM assigned s LEFT JOIN dropped d ON s.cid = d.cid AND s.vec_id = d.vec_id
GROUP BY s.cid
"""

register(
    QuerySpec(
        "semantic_dedup_clusters",
        semantic_dedup_clusters,
        SEMDEDUP_SQL,
        doc="SemDeDup: cluster-bounded exact-cosine near-dup removal (integer-exact)",
        cites="training-data ops: semantic dedup (SemDeDup, arXiv:2303.09540)",
        tags=("vector", "dedup"),
    )
)


# --- Johnson-Lindenstrauss sign-projection distortion audit ----------------

JL_OUT = 8  # projected dimensionality


def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-sign (Achlioptas 2003) Johnson-Lindenstrauss projection
    64 → 8 dims with an energy-preservation audit per label.

    The ±1 projection matrix is derived IN-ENGINE from md5 of the
    coordinate pair ("jl:<p>:<j>") — both engines compute the same signs
    independently, so the oracle is a true re-derivation, not a shared
    literal. The projection is one posexplode + an 8-way broadcast
    fan-out aggregated by (vec_id, j): a single hash shuffle whose key
    cardinality is 8n — map-side partial sums do the heavy lifting.
    E[‖y‖²/d'] = ‖x‖², so the per-label energy ratio Σ‖y‖² / (d'·Σ‖x‖²)
    should concentrate near 1. All accumulators are exact integers
    (quantized components), each surfaced double is a SINGLE division of
    two exact sums — no float re-association anywhere, the same
    determinism contract as queries/exact.py.
    """
    e = load_table(spark, sf_dir, "embeddings")
    comps = e.select(
        "vec_id",
        "label",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * SDD_SCALE).cast("bigint"),
            )
        ).alias("p", "xq"),
    )
    js = spark.range(JL_OUT).select(F.col("id").cast("int").alias("j"))
    sign = F.when(
        F.substring(F.md5(F.concat_ws(":", F.lit("jl"), F.col("p"), F.col("j"))), 1, 1)
        .isin(*"01234567"),
        F.lit(1),
    ).otherwise(F.lit(-1))
    proj = (
        comps.join(F.broadcast(js))
        .select("vec_id", "label", "j", (sign * F.col("xq")).alias("sx"))
        .groupBy("vec_id", "label", "j")
        .agg(F.sum("sx").alias("y"))
    )
    per_vec = proj.groupBy("vec_id", "label").agg(
        F.sum(F.col("y") * F.col("y")).alias("y2")
    )
    x2 = comps.groupBy("vec_id").agg(F.sum(F.col("xq") * F.col("xq")).alias("x2"))
    dec = "decimal(38,0)"
    joined = per_vec.join(x2, "vec_id").select(
        "label",
        F.col("y2").cast(dec).alias("y2"),
        F.col("x2").cast(dec).alias("x2"),
        (F.col("y2").cast("double") / (F.lit(float(JL_OUT)) * F.col("x2").cast("double"))).alias("r"),
    )
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        # exact decimal accumulation, double surface (queries/exact.py
        # contract): one terminal cast, no float re-association
        F.sum("y2").cast("double").alias("sum_y2"),
        F.sum("x2").cast("double").alias("sum_x2"),
        (F.sum("y2").cast("double") / (F.lit(float(JL_OUT)) * F.sum("x2").cast("double"))).alias("energy_ratio"),
        F.min("r").alias("min_ratio"),
        F.max("r").alias("max_ratio"),
    )


JL_SQL = f"""
WITH comps AS (
  -- zipped unnest tracks the ACTUAL array length, like Spark's posexplode
  SELECT vec_id, label,
         unnest(generate_series(1, len(embedding))) - 1 AS p,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * {SDD_SCALE}) AS BIGINT) AS xq
  FROM embeddings
),
signs AS (
  SELECT c.vec_id, c.label, c.p, c.xq, j.j,
         CASE WHEN substr(md5(concat_ws(':', 'jl', c.p, j.j)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
              THEN 1 ELSE -1 END AS s
  FROM comps c CROSS JOIN (SELECT UNNEST(range({JL_OUT})) AS j) j
),
proj AS (
  SELECT vec_id, label, j, SUM(s * xq) AS y
  FROM signs GROUP BY vec_id, label, j
),
per_vec AS (
  SELECT vec_id, label, SUM(y * y) AS y2 FROM proj GROUP BY vec_id, label
),
x2 AS (SELECT vec_id, SUM(xq * xq) AS x2 FROM comps GROUP BY vec_id)
SELECT p.label, COUNT(*) AS n_vecs,
       CAST(SUM(CAST(p.y2 AS HUGEINT)) AS DOUBLE) AS sum_y2,
       CAST(SUM(CAST(x2.x2 AS HUGEINT)) AS DOUBLE) AS sum_x2,
       CAST(SUM(CAST(p.y2 AS HUGEINT)) AS DOUBLE)
         / ({JL_OUT} * CAST(SUM(CAST(x2.x2 AS HUGEINT)) AS DOUBLE)) AS energy_ratio,
       MIN(CAST(p.y2 AS DOUBLE) / ({JL_OUT} * CAST(x2.x2 AS DOUBLE))) AS min_ratio,
       MAX(CAST(p.y2 AS DOUBLE) / ({JL_OUT} * CAST(x2.x2 AS DOUBLE))) AS max_ratio
FROM per_vec p JOIN x2 ON p.vec_id = x2.vec_id
GROUP BY p.label
"""

register(
    QuerySpec(
        "jl_projection_distortion",
        jl_projection_distortion,
        JL_SQL,
        doc="JL random-sign projection 64→8 with exact-integer energy audit per label",
        cites="training-data ops: dimensionality reduction (Achlioptas 2003 sign JL)",
        tags=("vector",),
    )
)


# --- Product quantization: ADC top-k with a fully oracle-checked pipeline --

PQ_M = 4  # subspaces
PQ_DSUB = 16  # dims per subspace (4 × 16 = 64)
PQ_KC = 4  # centroids per sub-codebook
PQ_ITERS = 2  # Lloyd rounds per subspace
PQ_TOPK = 10
PQ_NQ = 3  # query vectors: vec_id < 3


# the most recent _pq_train persisted frame: the composing queries consume
# it lazily (the driver collects their result later), so it cannot be
# unpersisted inside _pq_train — instead each new invocation releases the
# previous one, bounding cache residency to ONE exploded frame per session
# (registry sweeps and determinism tests call the PQ family repeatedly).
_PQ_PERSISTED: list[DataFrame] = []


def _pq_train(spark: SparkSession, sf_dir: str):
    """Shared PQ training pipeline: dim-guarded quantized explode (persisted),
    Lloyd-trained sub-codebooks (collected as a literal frame — the model),
    and the corpus codes. Used by pq_adc_topk and ivf_pq_adc_topk."""
    e = load_table(spark, sf_dir, "embeddings")
    # the subspace math bakes in dim = PQ_M * PQ_DSUB (and the oracle SQL
    # iterates exactly that many positions): fail loudly on a width change
    # instead of silently desynchronizing the engines
    e = e.withColumn(
        "embedding",
        F.when(F.size("embedding") == PQ_M * PQ_DSUB, F.col("embedding")).otherwise(
            F.raise_error(F.lit(f"pq_adc_topk requires {PQ_M * PQ_DSUB}-dim embeddings"))
        ),
    )
    data = e.select(
        "vec_id", F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * SDD_SCALE).cast("bigint"),
            )
        ).alias("pos", "xq"),
    ).select(
        "vec_id",
        (F.col("pos") / PQ_DSUB).cast("int").alias("j"),
        (F.col("pos") % PQ_DSUB).alias("sp"),
        "xq",
    )
    # reused every iteration; persist (not checkpoint) — the lineage is one
    # cheap scan+explode, and skipping the checkpoint write saves ~2 s cold
    while _PQ_PERSISTED:
        stale = _PQ_PERSISTED.pop()
        try:
            stale.unpersist()
        except Exception:
            # the tracked frame may belong to an already-stopped session
            # (e.g. the local-cluster smoke tears its session down);
            # dropping the reference is all that's left to do then
            pass
    data = data.persist()
    _PQ_PERSISTED.append(data)
    cent = data.where(F.col("vec_id") < PQ_KC).select(
        F.col("vec_id").alias("cid"), "j", "sp", F.col("xq").alias("cq")
    )

    def assign(centroids: DataFrame) -> DataFrame:
        d2 = (
            data.join(F.broadcast(centroids), ["j", "sp"])
            .groupBy("vec_id", "j", "cid")
            .agg(F.sum((F.col("xq") - F.col("cq")) * (F.col("xq") - F.col("cq"))).alias("d2"))
        )
        return (
            d2.groupBy("vec_id", "j")
            .agg(F.min(F.struct("d2", "cid")).alias("best"))
            .select("vec_id", "j", F.col("best.cid").alias("cid"), F.col("best.d2").alias("d2"))
        )

    for _ in range(PQ_ITERS):
        asg = assign(cent)
        sums = (
            asg.join(data, ["vec_id", "j"])
            .groupBy("cid", "j", "sp")
            .agg(F.sum("xq").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        newc = cent.join(sums, ["cid", "j", "sp"], "left").select(
            "cid", "j", "sp",
            F.coalesce(
                F.floor(F.col("s") / F.col("n") + F.lit(0.5)).cast("bigint"),
                F.col("cq"),
            ).alias("cq"),
        )
        # the codebook is the MODEL, not data: m·k·dsub = 256 rows, bounded
        # by construction — collect it and rebuild as a literal frame (the
        # IVF broadcast-closure-centroids pattern). Each Lloyd round is then
        # exactly ONE job with a flat plan; measured 11.0 → 6.0 s cold at
        # sf0.1 vs eager localCheckpoint, bit-identical output.
        cent = spark.createDataFrame(newc.collect(), newc.schema)

    codes = assign(cent).select("vec_id", "j", F.col("cid").alias("code"))
    return data, cent, codes


def _pq_score_topk(data, cent, codes) -> DataFrame:
    qsub = data.where(F.col("vec_id") < PQ_NQ).select(
        F.col("vec_id").alias("q_id"), "j", "sp", F.col("xq").alias("qx")
    )
    dtab = (
        qsub.join(F.broadcast(cent), ["j", "sp"])
        .groupBy("q_id", "j", "cid")
        .agg(F.sum((F.col("qx") - F.col("cq")) * (F.col("qx") - F.col("cq"))).alias("dq"))
    )
    scored = (
        codes.join(
            F.broadcast(dtab),
            (codes.j == dtab.j) & (codes.code == dtab.cid),
        )
        .groupBy("q_id", "vec_id")
        .agg(F.sum("dq").alias("adc"))
        # two-phase top-k ranks DESC: negate the distance for selection
        .withColumn("neg", -F.col("adc"))
    )
    top = topk_per_query(
        scored, PQ_TOPK, q_id_col="q_id", id_col="vec_id",
        score_col="neg", rank_col="pos",
    )
    # phase 1 carries only (q_id, id, score): recover the distance from
    # the negated ranking score
    return top.select("q_id", "pos", "vec_id", (-F.col("neg")).alias("adc"))


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, end-to-end and integer-exact: train m
    sub-codebooks with distributed Lloyd iterations, encode the corpus to
    m-byte codes, score queries by asymmetric distance (ADC — m table
    lookups per candidate, no vector math), select top-k two-phase.

    Every stage — subspace k-means (deterministic first-k init, the
    kmeans_embeddings recipe extended with a subspace key), code
    assignment, the ≤ nq·m·k ADC lookup table, and the final ranking —
    runs in quantized integer arithmetic, so DuckDB re-derives the exact
    same codebooks, codes, and scores from scratch.

    Scale shape: all k-means joins key on (subspace, sub-position) against
    a broadcastable m·k·dsub centroid table; per-iteration work is one
    fan-out aggregate (map-side partials) — the subspace key adds
    parallelism, not shuffle volume. Scoring joins n·m code rows against a
    BROADCAST 48-row lookup table and two-phase top-k bounds the final
    window to k·P rows per query. The corpus is never rescanned as raw
    floats — at 100 TB the ADC scan touches m bytes per vector, the whole
    point of PQ (Jégou et al. 2011).
    """
    data, cent, codes = _pq_train(spark, sf_dir)
    return _pq_score_topk(data, cent, codes)


def _pq_common_sql() -> str:
    """Shared oracle prefix (quantized explode, Lloyd rounds, codes, ADC
    lookup table) composed by BOTH _pq_adc_sql and _ivf_pq_sql — no string
    splicing, so a reformat of one cannot break the other at import."""
    parts = [
        f"""WITH data AS (
  SELECT vec_id, CAST(i // {PQ_DSUB} AS INT) AS j, i % {PQ_DSUB} AS sp,
         CAST(ROUND(CAST(embedding[i + 1] AS DOUBLE) * {SDD_SCALE}) AS BIGINT) AS xq
  FROM embeddings, range(0, {PQ_M * PQ_DSUB}) t(i)
),
cent0 AS (
  SELECT vec_id AS cid, j, sp, xq AS cq FROM data WHERE vec_id < {PQ_KC}
)"""
    ]
    for i in range(1, PQ_ITERS + 1):
        parts.append(
            f""",
asg{i} AS (
  SELECT vec_id, j, cid FROM (
    SELECT d.vec_id, d.j, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY d.vec_id, d.j
             ORDER BY SUM((d.xq - c.cq) * (d.xq - c.cq)), c.cid) AS rn
    FROM data d JOIN cent{i - 1} c ON d.j = c.j AND d.sp = c.sp
    GROUP BY d.vec_id, d.j, c.cid
  ) WHERE rn = 1
),
sums{i} AS (
  SELECT a.cid, d.j, d.sp, SUM(d.xq) AS s, COUNT(*) AS n
  FROM asg{i} a JOIN data d ON a.vec_id = d.vec_id AND a.j = d.j
  GROUP BY a.cid, d.j, d.sp
),
cent{i} AS (
  SELECT p.cid, p.j, p.sp,
         COALESCE(CAST(FLOOR(CAST(s.s AS DOUBLE) / s.n + 0.5) AS BIGINT), p.cq) AS cq
  FROM cent{i - 1} p LEFT JOIN sums{i} s
    ON p.cid = s.cid AND p.j = s.j AND p.sp = s.sp
)"""
        )
    parts.append(
        f""",
codes AS (
  SELECT vec_id, j, cid AS code FROM (
    SELECT d.vec_id, d.j, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY d.vec_id, d.j
             ORDER BY SUM((d.xq - c.cq) * (d.xq - c.cq)), c.cid) AS rn
    FROM data d JOIN cent{PQ_ITERS} c ON d.j = c.j AND d.sp = c.sp
    GROUP BY d.vec_id, d.j, c.cid
  ) WHERE rn = 1
),
dtab AS (
  SELECT q.vec_id AS q_id, q.j, c.cid, SUM((q.xq - c.cq) * (q.xq - c.cq)) AS dq
  FROM data q JOIN cent{PQ_ITERS} c ON q.j = c.j AND q.sp = c.sp
  WHERE q.vec_id < {PQ_NQ}
  GROUP BY q.vec_id, q.j, c.cid
)"""
    )
    return "".join(parts)


def _pq_adc_sql() -> str:
    return f"""{_pq_common_sql()},
scored AS (
  SELECT t.q_id, k.vec_id, CAST(SUM(t.dq) AS BIGINT) AS adc
  FROM codes k JOIN dtab t ON k.j = t.j AND k.code = t.cid
  GROUP BY t.q_id, k.vec_id
)
SELECT q_id, pos, vec_id, adc FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS pos
  FROM scored
) WHERE pos <= {PQ_TOPK}"""


register(
    QuerySpec(
        "pq_adc_topk",
        pq_adc_topk,
        _pq_adc_sql(),
        doc="product-quantization ADC top-k, codebooks trained in-engine (integer-exact)",
        cites="training-data ops: PQ ANN (Jégou et al. 2011), integer-exact in-engine codebooks",
        tags=("vector", "ann", "iterative"),
    )
)


# ---------------------------------------------------------------------------
# nDCG@10 — graded ranking quality of the similarity search, hash-verified
# ---------------------------------------------------------------------------

NDCG_K = 10
NDCG_SCALE = 1_000_000  # fixed-point micro-gain units


def ndcg_at_10_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the brute-force cosine ranking with label-match
    relevance: rel(q, v) = 1 iff label(v) == label(q). Complements
    ann_recall_at_10 (set overlap) with a position-weighted metric — the
    standard retrieval eval pair.

    Exactness: the position discount 1/log₂(rank+1) is computed once per
    RANK (k values, not n) and fixed-pointed to integer micro-gains, so
    DCG and IDCG are exact integer sums and nDCG is one division. IDCG
    uses the corpus-wide relevant count (capped at k) per query —
    sequence/generate_series on both engines, identically.

    Scale: rides ann_cosine_topk's two-phase top-k (broadcast queries,
    one corpus pass); everything after the top-k touches ≤ k rows per
    query plus one label-count aggregate over the corpus.
    """
    e = load_table(spark, sf_dir, "embeddings")
    labels = e.select("vec_id", "label")
    q_labels = labels.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("q_label")
    )
    gain = lambda rank_col: (  # noqa: E731 - shared Spark/SQL shape
        F.round(F.lit(NDCG_SCALE) / F.log2(rank_col + F.lit(1.0))).cast("bigint")
    )
    topk = (
        ann_cosine_topk(spark, sf_dir)
        .join(labels, "vec_id")
        .join(F.broadcast(q_labels), "q_id")
        .select(
            "q_id",
            "rank",
            (F.col("label") == F.col("q_label")).cast("bigint").alias("rel"),
        )
    )
    dcg = topk.groupBy("q_id").agg(
        F.sum(F.col("rel") * gain(F.col("rank").cast("double"))).alias("dcg_micro"),
        F.sum("rel").alias("n_rel_topk"),
    )
    # corpus-wide relevant count per query (excluding the query itself)
    n_rel = (
        q_labels.join(labels, q_labels.q_label == labels.label)
        .where(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_rel_total"))
    )
    ideal = n_rel.select(
        "q_id",
        "n_rel_total",
        F.explode(F.sequence(F.lit(1), F.least(F.col("n_rel_total"), F.lit(NDCG_K)))).alias(
            "i"
        ),
    ).groupBy("q_id", "n_rel_total").agg(
        F.sum(gain(F.col("i").cast("double"))).alias("idcg_micro")
    )
    return (
        dcg.join(ideal, "q_id")
        .select(
            "q_id",
            "n_rel_topk",
            "n_rel_total",
            F.col("dcg_micro"),
            F.col("idcg_micro"),
            F.round(
                F.col("dcg_micro").cast("double") / F.col("idcg_micro").cast("double"), 6
            ).alias("ndcg_at_10"),
        )
        .orderBy("q_id")
    )


def _ndcg_sql() -> str:
    topk = ANN_TOPK_SQL
    return f"""
WITH topk AS (SELECT q_id, vec_id, rank FROM ({topk}) t),
labels AS (SELECT vec_id, label FROM embeddings),
q_labels AS (SELECT vec_id AS q_id, label AS q_label FROM embeddings WHERE vec_id < 5),
rels AS (
  SELECT t.q_id, t.rank,
         CASE WHEN l.label = q.q_label THEN 1 ELSE 0 END AS rel
  FROM topk t JOIN labels l ON t.vec_id = l.vec_id
              JOIN q_labels q ON t.q_id = q.q_id
),
dcg AS (
  SELECT q_id,
         SUM(rel * CAST(ROUND({NDCG_SCALE} / log2(rank + 1.0)) AS BIGINT)) AS dcg_micro,
         SUM(rel) AS n_rel_topk
  FROM rels GROUP BY q_id
),
n_rel AS (
  SELECT q.q_id, COUNT(*) AS n_rel_total
  FROM q_labels q JOIN labels l ON q.q_label = l.label AND l.vec_id <> q.q_id
  GROUP BY q.q_id
),
ideal AS (
  SELECT q_id, n_rel_total,
         SUM(CAST(ROUND({NDCG_SCALE} / log2(i + 1.0)) AS BIGINT)) AS idcg_micro
  FROM (
    SELECT q_id, n_rel_total,
           unnest(generate_series(1, LEAST(n_rel_total, {NDCG_K}))) AS i
    FROM n_rel
  )
  GROUP BY 1, 2
)
SELECT d.q_id,
       CAST(d.n_rel_topk AS BIGINT) AS n_rel_topk,
       CAST(i.n_rel_total AS BIGINT) AS n_rel_total,
       CAST(d.dcg_micro AS BIGINT) AS dcg_micro,
       CAST(i.idcg_micro AS BIGINT) AS idcg_micro,
       ROUND(CAST(d.dcg_micro AS DOUBLE) / CAST(i.idcg_micro AS DOUBLE), 6) AS ndcg_at_10
FROM dcg d JOIN ideal i ON d.q_id = i.q_id
ORDER BY d.q_id
"""


register(
    QuerySpec(
        "ndcg_at_10_ann",
        ndcg_at_10_ann,
        _ndcg_sql(),
        doc="nDCG@10 of cosine top-k with label relevance — position-weighted retrieval eval",
        cites="composes ann_cosine_topk; standard ranking metric (Järvelin & Kekäläinen 2002)",
        tags=("eval", "ann", "vector"),
    )
)


# ---- IVF-PQ: probe coarse cells, ADC-score only the candidates -------------

IVF_NLIST = 8  # coarse cells
IVF_NPROBE = 2  # cells scanned per query


def ivf_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition — the ACTUAL 100 TB ANN serving path: a coarse
    inverted file restricts each query to its ``IVF_NPROBE`` nearest cells,
    and PQ ADC scores only those candidates (m byte-code lookups each).
    Same integer-exact contract as pq_adc_topk, so the oracle re-derives
    coarse cells, probes, codebooks, codes and scores from scratch.

    Simplification vs Faiss IVF-PQ (documented): codes quantize RAW
    vectors, not per-cell residuals — one shared codebook table instead of
    nlist of them; recall at equal bytes is lower, the plumbing and scale
    shape are identical (operators/similarity.py::ivf_table_topk carries
    the cell-partitioned DPP-pruned serving variant of the same design).

    Scale shape: coarse assignment is one broadcast fan-out over NLIST
    full-vector centroids (zip_with fold, no explode); the probe table is
    nq·nprobe rows (broadcast); candidate filtering is a broadcast
    semi-join BEFORE any ADC work, so the scored fraction is
    ~nprobe/nlist of the corpus — at 100 TB with nlist ∝ √n that is the
    difference between scanning terabytes and gigabytes per query batch.
    """
    data, cent, codes = _pq_train(spark, sf_dir)

    e = load_table(spark, sf_dir, "embeddings")
    qfull = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * SDD_SCALE).cast("bigint"),
        ).alias("xq"),
    )
    coarse = qfull.where(F.col("vec_id") < IVF_NLIST).select(
        F.col("vec_id").alias("ccid"), F.col("xq").alias("cvec")
    )
    d2 = F.aggregate(
        F.zip_with("xq", "cvec", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    dists = qfull.join(F.broadcast(coarse)).select("vec_id", "ccid", d2.alias("d2"))
    cells = (
        dists.groupBy("vec_id")
        .agg(F.min(F.struct("d2", "ccid")).alias("best"))
        .select("vec_id", F.col("best.ccid").alias("cell"))
    )
    probe_w = Window.partitionBy("vec_id").orderBy("d2", "ccid")
    probes = (
        dists.where(F.col("vec_id") < PQ_NQ)
        .withColumn("rn", F.row_number().over(probe_w))
        .where(F.col("rn") <= IVF_NPROBE)
        .select(F.col("vec_id").alias("q_id"), F.col("ccid").alias("cell"))
    )
    # candidates: corpus vectors living in any probed cell of any query —
    # the (q_id, vec_id) pair set the ADC join is allowed to score
    cand = cells.join(F.broadcast(probes), "cell").select("q_id", "vec_id")
    cand_codes = codes.join(cand, "vec_id").select("q_id", "vec_id", "j", "code")

    qsub = data.where(F.col("vec_id") < PQ_NQ).select(
        F.col("vec_id").alias("q_id"), "j", "sp", F.col("xq").alias("qx")
    )
    dtab = (
        qsub.join(F.broadcast(cent), ["j", "sp"])
        .groupBy("q_id", "j", "cid")
        .agg(F.sum((F.col("qx") - F.col("cq")) * (F.col("qx") - F.col("cq"))).alias("dq"))
    )
    scored = (
        cand_codes.join(
            F.broadcast(dtab),
            (cand_codes.q_id == dtab.q_id)
            & (cand_codes.j == dtab.j)
            & (cand_codes.code == dtab.cid),
        )
        .drop(dtab.q_id)
        .groupBy("q_id", "vec_id")
        .agg(F.sum("dq").alias("adc"))
        .withColumn("neg", -F.col("adc"))
    )
    top = topk_per_query(
        scored, PQ_TOPK, q_id_col="q_id", id_col="vec_id",
        score_col="neg", rank_col="pos",
    )
    return top.select("q_id", "pos", "vec_id", (-F.col("neg")).alias("adc"))


def _ivf_pq_sql() -> str:
    return f"""{_pq_common_sql()},
qfull AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(ROUND(CAST(x AS DOUBLE) * {SDD_SCALE}) AS BIGINT)) AS xq
  FROM embeddings
),
coarse AS (SELECT vec_id AS ccid, xq AS cvec FROM qfull WHERE vec_id < {IVF_NLIST}),
dists AS (
  SELECT q.vec_id, c.ccid,
         list_sum(list_transform(list_zip(q.xq, c.cvec),
                                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS cd2
  FROM qfull q CROSS JOIN coarse c
),
cells AS (
  SELECT vec_id, ccid AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd2, ccid) AS rn FROM dists
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS q_id, ccid AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cd2, ccid) AS rn FROM dists
  ) WHERE rn <= {IVF_NPROBE} AND vec_id < {PQ_NQ}
),
cand AS (
  SELECT p.q_id, c.vec_id FROM cells c JOIN probes p ON c.cell = p.cell
),
scored AS (
  SELECT t.q_id, k.vec_id, CAST(SUM(t.dq) AS BIGINT) AS adc
  FROM codes k
  JOIN cand ON cand.vec_id = k.vec_id
  JOIN dtab t ON t.q_id = cand.q_id AND k.j = t.j AND k.code = t.cid
  GROUP BY t.q_id, k.vec_id
)
SELECT q_id, pos, vec_id, adc FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS pos
  FROM scored
) WHERE pos <= {PQ_TOPK}"""


register(
    QuerySpec(
        "ivf_pq_adc_topk",
        ivf_pq_adc_topk,
        _ivf_pq_sql(),
        doc="IVF-PQ: coarse-cell probe restricts the PQ ADC scan to ~nprobe/nlist of the corpus",
        cites="training-data ops: IVF-PQ serving path (Jégou et al. 2011); operators/similarity.py ivf_table_topk cell layout",
        tags=("vector", "ann", "iterative", "topk"),
    )
)


def ivf_pq_recall_at_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVF-PQ against exact brute-force cosine — closes the
    per-variant eval family (LSH and IVF-flat already have recall gates).
    Quantifies BOTH losses at once: the coarse probe's candidate misses
    and the PQ code's ranking distortion; drift here is the re-train /
    re-probe signal for the serving index. Composes two registry
    operators; the oracle re-derives both sides from scratch."""
    brute = ann_cosine_topk(spark, sf_dir).where(F.col("q_id") < PQ_NQ).select(
        "q_id", "vec_id"
    )
    ivfpq = ivf_pq_adc_topk(spark, sf_dir).select(
        "q_id", "vec_id", F.lit(1).alias("hit")
    )
    return (
        brute.join(ivfpq, ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("k_brute"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
        )
        .selectExpr(
            "q_id",
            "k_brute",
            "n_hit",
            "round(CAST(n_hit AS DOUBLE) / k_brute, 4) AS recall_at_10",
        )
        .orderBy("q_id")
    )


def _ivf_pq_recall_sql() -> str:
    return f"""
WITH brute AS (SELECT q_id, vec_id FROM ({ANN_TOPK_SQL}) b WHERE q_id < {PQ_NQ}),
ivfpq AS (SELECT q_id, vec_id FROM ({_ivf_pq_sql()}) v)
SELECT b.q_id,
       COUNT(*) AS k_brute,
       CAST(SUM(CASE WHEN v.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       ROUND(CAST(SUM(CASE WHEN v.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 4) AS recall_at_10
FROM brute b LEFT JOIN ivfpq v ON b.q_id = v.q_id AND b.vec_id = v.vec_id
GROUP BY 1 ORDER BY 1
"""


register(
    QuerySpec(
        "ivf_pq_recall_at_10",
        ivf_pq_recall_at_10,
        _ivf_pq_recall_sql(),
        doc="recall@10 of IVF-PQ vs exact brute force — probe misses + code distortion in one gate",
        cites="composes ann_cosine_topk + ivf_pq_adc_topk; the continuous serving-index quality gate",
        tags=("vector", "eval", "ann", "iterative"),
    )
)
