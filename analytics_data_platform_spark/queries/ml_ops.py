"""Distributed classical-ML operators expressed as DataFrame plans.

A training-data platform needs more than ETL: clustering for corpus
bucketing, a cheap trainable classifier for quality/domain routing,
closed-form regression for trend fitting, survival analysis for
retention, and smoothing for time series. Each of these is implemented
here as a *declarative* Spark plan (joins + aggregations Catalyst can
optimize), never a driver-side loop over rows, and each has a DuckDB
oracle that recomputes the identical result.

Bit-stability strategy (what makes iterative ML oracle-able at all):

- **k-means** runs on integer-quantized components (`round(x*1000)`),
  so distances and centroid sums are exact BIGINT arithmetic; the only
  float op per iteration is one `floor(sum/count + 0.5)` on an exactly
  representable rational — bit-identical across engines.
- **naive Bayes** quantizes per-token log-probabilities to integer
  micro-nats once; scores are then pure integer sums, so the argmax is
  deterministic (no float-sum reassociation risk).
- **OLS** accumulates integer moments (exact), solves the 3×3 normal
  equations with one textually-mirrored Cramer expression per side.
- **EWMA** uses a dyadic decay (α=1/2): every weight is a power of two,
  so weight·value products are exact scalings and the 16-term sum has a
  fixed left-to-right association in both engines.

Reference scope: the reference platform stops at SQL transforms
(warehouses/*/models); these operators extend the same declarative
contract to the ML primitives its users run downstream.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from analytics_data_platform_spark.operators.ordered import with_global_order
from analytics_data_platform_spark.queries import QuerySpec, register
from analytics_data_platform_spark.sources.testdata import load_table

# --------------------------------------------------------------------------
# Distributed Lloyd's k-means on quantized embeddings
# --------------------------------------------------------------------------

KM_K = 8
KM_ITERS = 3
KM_SCALE = 1000
KM_DIM = 64


def _km_quantize(e: DataFrame) -> DataFrame:
    """(vec_id, pos, xq): embeddings as exact integers at 1e-3 resolution.

    ``round(float*1000)`` can never hit an exact .5 boundary (a dyadic
    float times 1000 has denominator 2^k·125 in lowest terms), so the
    quantization is engine-independent.
    """
    return e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id",
        "pos",
        F.round(F.col("x").cast("double") * KM_SCALE).cast("bigint").alias("xq"),
    )


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, 3 fixed iterations) over the embeddings table,
    entirely in integer arithmetic.

    Each iteration is two shuffles: a fan-out join of the corpus against
    the k·dim-row centroid table (broadcast — centroids are *data*, not
    plan literals, so nlist can grow without plan blowup) aggregated to
    per-(vector, centroid) squared distances with an argmin window, then
    a groupBy recomputing centroid sums. Per-round work is O(n·k·dim)
    map-side with partial aggregation; no driver action inside the loop.
    Empty clusters keep their previous position (left-join coalesce).

    Output is integer-only (sizes, inertia, quantized centroid norms) —
    the DuckDB oracle unrolls the same three iterations as CTEs and
    matches bit-for-bit.
    """
    e = load_table(spark, sf_dir, "embeddings")
    data = _km_quantize(e)
    cent = (
        data.where(F.col("vec_id") < KM_K)
        .select(F.col("vec_id").alias("cid"), "pos", F.col("xq").alias("cq"))
    )

    def assign(centroids: DataFrame) -> DataFrame:
        d2 = (
            data.join(F.broadcast(centroids), "pos")
            .groupBy("vec_id", "cid")
            .agg(F.sum((F.col("xq") - F.col("cq")) * (F.col("xq") - F.col("cq"))).alias("d2"))
        )
        w = Window.partitionBy("vec_id").orderBy("d2", "cid")
        return (
            d2.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "cid", "d2")
        )

    for _ in range(KM_ITERS):
        asg = assign(cent)
        sums = (
            asg.join(data, "vec_id")
            .groupBy("cid", "pos")
            .agg(F.sum("xq").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        cent = (
            cent.join(sums, ["cid", "pos"], "left")
            .select(
                "cid",
                "pos",
                F.coalesce(
                    F.floor(F.col("s") / F.col("n") + F.lit(0.5)).cast("bigint"),
                    F.col("cq"),
                ).alias("cq"),
            )
            # truncate per round: centroids are k×dims rows, but without
            # this each round nests the previous round's full assignment
            # into one deep multi-scan plan (54 exchanges at 3 iters)
            .localCheckpoint(eager=True)
        )

    final = assign(cent)
    stats = final.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_assigned"), F.sum("d2").alias("inertia")
    )
    norms = cent.groupBy("cid").agg(F.sum(F.col("cq") * F.col("cq")).alias("centroid_norm2"))
    return (
        norms.join(stats, "cid", "left")
        .select(
            "cid",
            F.coalesce("n_assigned", F.lit(0)).alias("n_assigned"),
            F.coalesce("inertia", F.lit(0)).alias("inertia"),
            "centroid_norm2",
        )
    )


def _kmeans_sql() -> str:
    parts = [
        f"""WITH data AS (
  SELECT vec_id, i AS pos,
         CAST(ROUND(CAST(embedding[i + 1] AS DOUBLE) * {KM_SCALE}) AS BIGINT) AS xq
  FROM embeddings, range(0, {KM_DIM}) t(i)
),
cent0 AS (
  SELECT vec_id AS cid, pos, xq AS cq FROM data WHERE vec_id < {KM_K}
)"""
    ]
    for i in range(1, KM_ITERS + 1):
        parts.append(
            f""",
asg{i} AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT d.vec_id, c.cid, SUM((d.xq - c.cq) * (d.xq - c.cq)) AS d2,
           ROW_NUMBER() OVER (
             PARTITION BY d.vec_id
             ORDER BY SUM((d.xq - c.cq) * (d.xq - c.cq)), c.cid) AS rn
    FROM data d JOIN cent{i - 1} c ON d.pos = c.pos
    GROUP BY d.vec_id, c.cid
  ) WHERE rn = 1
),
sums{i} AS (
  SELECT a.cid, d.pos, SUM(d.xq) AS s, COUNT(*) AS n
  FROM asg{i} a JOIN data d ON a.vec_id = d.vec_id
  GROUP BY a.cid, d.pos
),
cent{i} AS (
  SELECT p.cid, p.pos,
         COALESCE(CAST(FLOOR(CAST(s.s AS DOUBLE) / s.n + 0.5) AS BIGINT), p.cq) AS cq
  FROM cent{i - 1} p LEFT JOIN sums{i} s ON p.cid = s.cid AND p.pos = s.pos
)"""
        )
    parts.append(
        f""",
finalasg AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT d.vec_id, c.cid, SUM((d.xq - c.cq) * (d.xq - c.cq)) AS d2,
           ROW_NUMBER() OVER (
             PARTITION BY d.vec_id
             ORDER BY SUM((d.xq - c.cq) * (d.xq - c.cq)), c.cid) AS rn
    FROM data d JOIN cent{KM_ITERS} c ON d.pos = c.pos
    GROUP BY d.vec_id, c.cid
  ) WHERE rn = 1
),
stats AS (
  SELECT cid, COUNT(*) AS n_assigned, SUM(d2) AS inertia FROM finalasg GROUP BY cid
),
norms AS (
  SELECT cid, SUM(cq * cq) AS centroid_norm2 FROM cent{KM_ITERS} GROUP BY cid
)
SELECT n.cid,
       CAST(COALESCE(s.n_assigned, 0) AS BIGINT) AS n_assigned,
       CAST(COALESCE(s.inertia, 0) AS BIGINT) AS inertia,
       CAST(n.centroid_norm2 AS BIGINT) AS centroid_norm2
FROM norms n LEFT JOIN stats s ON n.cid = s.cid"""
    )
    return "".join(parts)


register(
    QuerySpec(
        "kmeans_embeddings",
        kmeans_embeddings,
        _kmeans_sql(),
        doc="distributed Lloyd's k-means (3 iterations, integer-exact) on embeddings",
        cites="iterative-ML family; queries/vector_ops.py pq_adc_topk trains codebooks the same way",
        tags=("ml", "iterative", "vector"),
    )
)


# --------------------------------------------------------------------------
# Multinomial naive Bayes: predict document source from tokens
# --------------------------------------------------------------------------

NB_LOG_SCALE = 1_000_000  # micro-nats


def naive_bayes_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a multinomial naive-Bayes classifier on 80% of the corpus
    (doc_id % 5 != 0) and emit the confusion matrix on the held-out 20%.

    Training is ONE aggregation pass: per-(source, token) counts with
    Laplace smoothing over the train vocabulary. Log-probabilities are
    quantized once to integer micro-nats, so the per-document score
    Σ count·logp is an exact integer sum — the argmax cannot be flipped
    by float reassociation, which is what makes the confusion matrix
    hash-stable against the oracle. Scoring is doc-tokens ⋈ (broadcast
    source dim) left-⋈ the trained table; at corpus scale that is one
    shuffle of (doc, token) pairs against a model table bounded by
    |vocab|·|classes|.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("token")
    ).where(F.col("token") != "")
    train_tok = tok.where(F.col("doc_id") % 5 != 0)
    test_tok = tok.where(F.col("doc_id") % 5 == 0)

    vocab = train_tok.select("token").distinct()
    v_size = vocab.agg(F.count(F.lit(1)).alias("v")).select("v")
    # class totals: token count per source + doc count per source
    totals = train_tok.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    docs_per_src = (
        d.where(F.col("doc_id") % 5 != 0).groupBy("source").agg(F.count(F.lit(1)).alias("docs_s"))
    )
    n_train_docs = d.where(F.col("doc_id") % 5 != 0).agg(
        F.count(F.lit(1)).alias("docs_total")
    )

    logp_int = F.round(
        F.log((F.col("c_st") + F.lit(1.0)) / (F.col("n_s") + F.col("v"))) * NB_LOG_SCALE
    ).cast("bigint")
    model = (
        train_tok.groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c_st"))
        .join(F.broadcast(totals), "source")
        .crossJoin(F.broadcast(v_size))
        .select("source", "token", logp_int.alias("logp_q"))
    )
    default_q = F.round(
        F.log(F.lit(1.0) / (F.col("n_s") + F.col("v"))) * NB_LOG_SCALE
    ).cast("bigint")
    prior_q = F.round(
        F.log(F.col("docs_s") / F.col("docs_total")) * NB_LOG_SCALE
    ).cast("bigint")
    classes = (
        totals.join(F.broadcast(docs_per_src), "source")
        .crossJoin(F.broadcast(n_train_docs))
        .crossJoin(F.broadcast(v_size))
        .select(
            F.col("source").alias("cls"),
            default_q.alias("default_q"),
            prior_q.alias("prior_q"),
        )
    )

    doc_counts = (
        test_tok.join(vocab.hint("broadcast"), "token")  # drop OOV tokens
        .groupBy("doc_id", "source", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    scored = (
        doc_counts.crossJoin(F.broadcast(classes))
        .join(
            model.withColumnRenamed("source", "cls").hint("broadcast"),
            ["cls", "token"],
            "left",
        )
        .groupBy("doc_id", "source", "cls")
        .agg(
            (
                F.first("prior_q")
                + F.sum(F.col("cnt") * F.coalesce(F.col("logp_q"), F.col("default_q")))
            ).alias("score_q")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_q"), "cls")
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("source").alias("actual"), F.col("cls").alias("predicted"))
    )
    return pred.groupBy("actual", "predicted").agg(F.count(F.lit(1)).alias("n_docs"))


NB_SQL = f"""
WITH tok AS (
  SELECT doc_id, source, t.token
  FROM (SELECT doc_id, source, UNNEST(string_split(text, ' ')) AS token FROM documents) t(doc_id, source, token)
  WHERE t.token <> ''
),
train_tok AS (SELECT * FROM tok WHERE doc_id % 5 <> 0),
test_tok AS (SELECT * FROM tok WHERE doc_id % 5 = 0),
vocab AS (SELECT DISTINCT token FROM train_tok),
vsize AS (SELECT COUNT(*) AS v FROM vocab),
totals AS (SELECT source, COUNT(*) AS n_s FROM train_tok GROUP BY source),
docs_src AS (
  SELECT source, COUNT(*) AS docs_s FROM documents WHERE doc_id % 5 <> 0 GROUP BY source
),
docs_tot AS (SELECT COUNT(*) AS docs_total FROM documents WHERE doc_id % 5 <> 0),
model AS (
  SELECT c.source, c.token,
         CAST(ROUND(LN((c.c_st + 1.0) / (t.n_s + v.v)) * {NB_LOG_SCALE}) AS BIGINT) AS logp_q
  FROM (SELECT source, token, COUNT(*) AS c_st FROM train_tok GROUP BY source, token) c
  JOIN totals t ON c.source = t.source CROSS JOIN vsize v
),
classes AS (
  SELECT t.source AS cls,
         CAST(ROUND(LN(1.0 / (t.n_s + v.v)) * {NB_LOG_SCALE}) AS BIGINT) AS default_q,
         CAST(ROUND(LN(CAST(d.docs_s AS DOUBLE) / dt.docs_total) * {NB_LOG_SCALE}) AS BIGINT) AS prior_q
  FROM totals t JOIN docs_src d ON t.source = d.source
  CROSS JOIN docs_tot dt CROSS JOIN vsize v
),
doc_counts AS (
  SELECT s.doc_id, s.source, s.token, COUNT(*) AS cnt
  FROM test_tok s JOIN vocab USING (token)
  GROUP BY s.doc_id, s.source, s.token
),
scored AS (
  SELECT dc.doc_id, dc.source, k.cls,
         ANY_VALUE(k.prior_q)
         + SUM(dc.cnt * COALESCE(m.logp_q, k.default_q)) AS score_q
  FROM doc_counts dc CROSS JOIN classes k
  LEFT JOIN model m ON m.source = k.cls AND m.token = dc.token
  GROUP BY dc.doc_id, dc.source, k.cls
),
pred AS (
  SELECT doc_id, source AS actual, cls AS predicted FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score_q DESC, cls) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT actual, predicted, COUNT(*) AS n_docs FROM pred GROUP BY actual, predicted
"""

register(
    QuerySpec(
        "naive_bayes_source",
        naive_bayes_source,
        NB_SQL,
        doc="multinomial naive Bayes train/score (integer micro-nat log-probs), confusion matrix",
        cites="classifier-routing family for corpus pipelines",
        tags=("ml", "text"),
    )
)


# --------------------------------------------------------------------------
# Closed-form multiple regression via exact integer moments
# --------------------------------------------------------------------------


def ols_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit o_totalprice ~ b0 + b1·n_lines + b2·sum_qty per order with the
    normal equations, accumulated as ONE pass of exact integer moments.

    X'X and X'y entries are BIGINT sums of small integers (quantities are
    integral in this schema; price is rounded to whole units), so every
    moment is exact and the downstream Cramer solve — a textually
    identical double expression in both engines — is bit-stable. This is
    the multi-feature upgrade of `ols_daily_revenue_trend` and the
    pattern scales to any feature count: one wide aggregation, k×k
    driver-free algebra in the projection.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    feats = (
        li.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("x1"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("x2"),
        )
        .join(o.select("o_orderkey", "o_totalprice"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select("x1", "x2", F.round("o_totalprice").cast("bigint").alias("y"))
    )
    m = feats.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # Cramer's rule on A = [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]], c = [sy,s1y,s2y]
    d = m.selectExpr(
        "CAST(n AS DOUBLE) AS n_d",
        "CAST(s1 AS DOUBLE) AS s1_d",
        "CAST(s2 AS DOUBLE) AS s2_d",
        "CAST(sy AS DOUBLE) AS sy_d",
        "CAST(s11 AS DOUBLE) AS s11_d",
        "CAST(s12 AS DOUBLE) AS s12_d",
        "CAST(s22 AS DOUBLE) AS s22_d",
        "CAST(s1y AS DOUBLE) AS s1y_d",
        "CAST(s2y AS DOUBLE) AS s2y_d",
        "CAST(syy AS DOUBLE) AS syy_d",
        "n AS n_orders",
    )
    det = (
        "(n_d*(s11_d*s22_d - s12_d*s12_d) - s1_d*(s1_d*s22_d - s12_d*s2_d)"
        " + s2_d*(s1_d*s12_d - s11_d*s2_d))"
    )
    det0 = (
        "(sy_d*(s11_d*s22_d - s12_d*s12_d) - s1_d*(s1y_d*s22_d - s12_d*s2y_d)"
        " + s2_d*(s1y_d*s12_d - s11_d*s2y_d))"
    )
    det1 = (
        "(n_d*(s1y_d*s22_d - s12_d*s2y_d) - sy_d*(s1_d*s22_d - s12_d*s2_d)"
        " + s2_d*(s1_d*s2y_d - s1y_d*s2_d))"
    )
    det2 = (
        "(n_d*(s11_d*s2y_d - s1y_d*s12_d) - s1_d*(s1_d*s2y_d - s1y_d*s2_d)"
        " + sy_d*(s1_d*s12_d - s11_d*s2_d))"
    )
    b0, b1, b2 = f"({det0}/{det})", f"({det1}/{det})", f"({det2}/{det})"
    sse = f"(syy_d - {b0}*sy_d - {b1}*s1y_d - {b2}*s2y_d)"
    sst = "(syy_d - sy_d*sy_d/n_d)"
    return d.selectExpr(
        "n_orders",
        f"round({b0}, 4) AS b0",
        f"round({b1}, 4) AS b1",
        f"round({b2}, 4) AS b2",
        f"round(1.0 - {sse}/{sst}, 6) AS r2",
    )


def _ols_sql() -> str:
    det = (
        "(n_d*(s11_d*s22_d - s12_d*s12_d) - s1_d*(s1_d*s22_d - s12_d*s2_d)"
        " + s2_d*(s1_d*s12_d - s11_d*s2_d))"
    )
    det0 = (
        "(sy_d*(s11_d*s22_d - s12_d*s12_d) - s1_d*(s1y_d*s22_d - s12_d*s2y_d)"
        " + s2_d*(s1y_d*s12_d - s11_d*s2y_d))"
    )
    det1 = (
        "(n_d*(s1y_d*s22_d - s12_d*s2y_d) - sy_d*(s1_d*s22_d - s12_d*s2_d)"
        " + s2_d*(s1_d*s2y_d - s1y_d*s2_d))"
    )
    det2 = (
        "(n_d*(s11_d*s2y_d - s1y_d*s12_d) - s1_d*(s1_d*s2y_d - s1y_d*s2_d)"
        " + sy_d*(s1_d*s12_d - s11_d*s2_d))"
    )
    b0, b1, b2 = f"({det0}/{det})", f"({det1}/{det})", f"({det2}/{det})"
    sse = f"(syy_d - {b0}*sy_d - {b1}*s1y_d - {b2}*s2y_d)"
    sst = "(syy_d - sy_d*sy_d/n_d)"
    return f"""
WITH feats AS (
  SELECT f.x1, f.x2, CAST(ROUND(o.o_totalprice) AS BIGINT) AS y
  FROM (
    SELECT l_orderkey, COUNT(*) AS x1, SUM(CAST(l_quantity AS BIGINT)) AS x2
    FROM lineitem GROUP BY l_orderkey
  ) f JOIN orders o ON f.l_orderkey = o.o_orderkey
),
m AS (
  SELECT COUNT(*) AS n, SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
         SUM(x1*x1) AS s11, SUM(x1*x2) AS s12, SUM(x2*x2) AS s22,
         SUM(x1*y) AS s1y, SUM(x2*y) AS s2y, SUM(y*y) AS syy
  FROM feats
),
d AS (
  SELECT CAST(n AS DOUBLE) AS n_d, CAST(s1 AS DOUBLE) AS s1_d, CAST(s2 AS DOUBLE) AS s2_d,
         CAST(sy AS DOUBLE) AS sy_d, CAST(s11 AS DOUBLE) AS s11_d, CAST(s12 AS DOUBLE) AS s12_d,
         CAST(s22 AS DOUBLE) AS s22_d, CAST(s1y AS DOUBLE) AS s1y_d, CAST(s2y AS DOUBLE) AS s2y_d,
         CAST(syy AS DOUBLE) AS syy_d, CAST(n AS BIGINT) AS n_orders
  FROM m
)
SELECT n_orders,
       ROUND({b0}, 4) AS b0,
       ROUND({b1}, 4) AS b1,
       ROUND({b2}, 4) AS b2,
       ROUND(1.0 - {sse}/{sst}, 6) AS r2
FROM d
"""


register(
    QuerySpec(
        "ols_order_price",
        ols_order_price,
        _ols_sql(),
        doc="multi-feature OLS via exact integer normal equations + Cramer solve",
        cites="statistics family; extends ols_daily_revenue_trend to k features",
        tags=("ml", "statistics"),
    )
)


# --------------------------------------------------------------------------
# Kaplan-Meier survival over user activity lifetimes
# --------------------------------------------------------------------------

KM_CENSOR_DAYS = 7


def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of user lifetime (days from first
    to last event). Users whose last event falls within 7 days of the
    corpus end are right-censored — the textbook churn formulation.

    Two shuffles total: one groupBy(user_id) for lifetimes, then a tiny
    per-day aggregate (bounded by the day range, not the user count)
    carrying the at-risk reverse-cumulative and the survival product as
    an ordered ln-sum window. Integer day/CNT math everywhere; the one
    float surface (exp of the running ln sum) is rounded to 6.
    """
    e = load_table(spark, sf_dir, "events")
    spans = e.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )
    max_us = e.agg(F.max(F.unix_micros("ts")).alias("max_us"))
    day_us = 86_400_000_000
    lifetimes = spans.crossJoin(F.broadcast(max_us)).select(
        F.expr(f"(last_us - first_us) div {day_us}").alias("dur_day"),
        (F.col("last_us") <= F.col("max_us") - KM_CENSOR_DAYS * day_us)
        .cast("int")
        .alias("observed"),
    )
    per_day = lifetimes.groupBy("dur_day").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("observed").alias("n_deaths"),
    )
    w_risk = Window.orderBy(F.desc("dur_day")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_surv = Window.orderBy("dur_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    at_risk = per_day.withColumn("n_risk", F.sum("n_total").over(w_risk))
    # if ever everyone at risk dies on one day (only possible at the max
    # duration), survival is exactly 0 from there on; guard explicitly so
    # the engines cannot diverge on ln(0) semantics (Spark -> NULL,
    # DuckDB -> -inf)
    died_out = F.max(
        (F.col("n_deaths") >= F.col("n_risk")).cast("int")
    ).over(w_surv)
    ln_sum = F.sum(
        F.when(
            F.col("n_deaths") < F.col("n_risk"),
            F.log((F.col("n_risk") - F.col("n_deaths")) / F.col("n_risk")),
        ).otherwise(F.lit(0.0))
    ).over(w_surv)
    surv = at_risk.withColumn(
        "km_survival",
        F.when(died_out == 1, F.lit(0.0)).otherwise(F.round(F.exp(ln_sum), 6)),
    )
    return surv.select(
        "dur_day",
        "n_risk",
        "n_deaths",
        (F.col("n_total") - F.col("n_deaths")).alias("n_censored"),
        "km_survival",
    )


KM_SURV_SQL = f"""
WITH spans AS (
  SELECT user_id,
         MIN(epoch_us(ts)) AS first_us,
         MAX(epoch_us(ts)) AS last_us
  FROM events GROUP BY user_id
),
mx AS (SELECT MAX(epoch_us(ts)) AS max_us FROM events),
lifetimes AS (
  SELECT (last_us - first_us) // 86400000000 AS dur_day,
         CAST(last_us <= max_us - {KM_CENSOR_DAYS} * 86400000000 AS INT) AS observed
  FROM spans CROSS JOIN mx
),
per_day AS (
  SELECT dur_day, COUNT(*) AS n_total, SUM(observed) AS n_deaths
  FROM lifetimes GROUP BY dur_day
),
at_risk AS (
  SELECT *, SUM(n_total) OVER (ORDER BY dur_day DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
  FROM per_day
)
SELECT dur_day, CAST(n_risk AS BIGINT) AS n_risk, CAST(n_deaths AS BIGINT) AS n_deaths,
       CAST(n_total - n_deaths AS BIGINT) AS n_censored,
       CASE WHEN MAX(CASE WHEN n_deaths >= n_risk THEN 1 ELSE 0 END) OVER w = 1
            THEN 0.0
            ELSE ROUND(EXP(SUM(
                   CASE WHEN n_deaths < n_risk
                        THEN LN(CAST(n_risk - n_deaths AS DOUBLE) / n_risk)
                        ELSE 0.0 END) OVER w), 6)
       END AS km_survival
FROM at_risk
WINDOW w AS (ORDER BY dur_day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

register(
    QuerySpec(
        "kaplan_meier_retention",
        kaplan_meier_retention,
        KM_SURV_SQL,
        doc="Kaplan-Meier survival curve of user lifetimes with right censoring",
        cites="survival-analysis family over the events table",
        tags=("ml", "statistics", "window"),
    )
)


# --------------------------------------------------------------------------
# EWMA smoothing with a dyadic decay (bit-exact 16-lag formulation)
# --------------------------------------------------------------------------

EWMA_LAGS = 16


def ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of `value` with decay α=1/2 truncated at 16 lags.

    The recursion y_t = α·x_t + (1-α)·y_{t-1} is unrolled into its
    16-term convolution; with α=1/2 every weight 2^-j is a power of two,
    so each product is an exact double scaling and the left-associated
    sum evaluates identically in any engine. One shuffle (the user_id
    sort window) serves all 16 lag expressions — Catalyst collapses them
    into a single Window node, which a plan test asserts.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for j in range(EWMA_LAGS):
        x = F.lag("value", j).over(w)
        wgt = 2.0 ** (-j)
        num = num + F.when(x.isNotNull(), x * F.lit(wgt)).otherwise(F.lit(0.0))
        den = den + F.when(x.isNotNull(), F.lit(wgt)).otherwise(F.lit(0.0))
    return e.select(
        "event_id", "user_id", F.round(num / den, 6).alias("ewma_value")
    )


def _ewma_sql() -> str:
    num_terms, den_terms = [], []
    for j in range(EWMA_LAGS):
        lag = f"LAG(value, {j}) OVER w"
        wgt = repr(2.0 ** (-j))
        num_terms.append(
            f"CASE WHEN {lag} IS NOT NULL THEN {lag} * {wgt} ELSE 0.0 END"
        )
        den_terms.append(f"CASE WHEN {lag} IS NOT NULL THEN {wgt} ELSE 0.0 END")
    num = " + ".join(num_terms)
    den = " + ".join(den_terms)
    return f"""
SELECT event_id, user_id, ROUND((0.0 + {num}) / (0.0 + {den}), 6) AS ewma_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


register(
    QuerySpec(
        "ewma_user_values",
        ewma_user_values,
        _ewma_sql(),
        doc="per-user EWMA (dyadic α=1/2, 16-lag unrolled convolution, bit-exact)",
        cites="time-series smoothing family",
        tags=("ml", "window", "timeseries"),
    )
)


# --------------------------------------------------------------------------
# One-pass k-fold cross-validation for the OLS model
# --------------------------------------------------------------------------

CV_FOLDS = 5


def _cramer_exprs(p: str) -> tuple[str, str, str]:
    """Cramer solve for A·b = c with A=[[n,s1,s2],[s1,s11,s12],[s2,s12,s22]],
    c=[sy,s1y,s2y]; `p` prefixes the moment column names."""
    det = (
        f"({p}n*({p}s11*{p}s22 - {p}s12*{p}s12) - {p}s1*({p}s1*{p}s22 - {p}s12*{p}s2)"
        f" + {p}s2*({p}s1*{p}s12 - {p}s11*{p}s2))"
    )
    det0 = (
        f"({p}sy*({p}s11*{p}s22 - {p}s12*{p}s12) - {p}s1*({p}s1y*{p}s22 - {p}s12*{p}s2y)"
        f" + {p}s2*({p}s1y*{p}s12 - {p}s11*{p}s2y))"
    )
    det1 = (
        f"({p}n*({p}s1y*{p}s22 - {p}s12*{p}s2y) - {p}sy*({p}s1*{p}s22 - {p}s12*{p}s2)"
        f" + {p}s2*({p}s1*{p}s2y - {p}s1y*{p}s2))"
    )
    det2 = (
        f"({p}n*({p}s11*{p}s2y - {p}s1y*{p}s12) - {p}s1*({p}s1*{p}s2y - {p}s1y*{p}s2)"
        f" + {p}sy*({p}s1*{p}s12 - {p}s11*{p}s2))"
    )
    return f"({det0}/{det})", f"({det1}/{det})", f"({det2}/{det})"


_CV_MOMENTS = ["n", "s1", "s2", "sy", "s11", "s12", "s22", "s1y", "s2y", "syy"]


def cross_validate_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation of the order-price OLS model in ONE pass
    over the data.

    Per-fold integer moments are the only data-sized aggregation; the
    train-side moments are totals-minus-fold (a window sum over 5 rows),
    and the held-out SSE expands algebraically from the fold moments —
    SSE = Σyy + b'Ab - 2b'c — so no second scan scores the held-out rows.
    Folds are md5-assigned (rerun-stable). Everything before the final
    Cramer/SSE algebra is exact BIGINT; the algebra is one textually
    mirrored expression per side.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    feats = (
        li.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("x1"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("x2"),
        )
        .join(o.select("o_orderkey", "o_totalprice"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.conv(F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 8), 16, 10)
             .cast("bigint") % CV_FOLDS).alias("fold"),
            "x1",
            "x2",
            F.round("o_totalprice").cast("bigint").alias("y"),
        )
    )
    fm = feats.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    train = fm.select(
        "fold",
        *[F.col(m).alias(f"f_{m}") for m in _CV_MOMENTS],
        *[(F.sum(m).over(w_all) - F.col(m)).cast("double").alias(f"t_{m}") for m in _CV_MOMENTS],
    )
    b0, b1, b2 = _cramer_exprs("t_")
    sse = (
        f"(f_syy + {b0}*{b0}*f_n + {b1}*{b1}*f_s11 + {b2}*{b2}*f_s22"
        f" + 2*{b0}*{b1}*f_s1 + 2*{b0}*{b2}*f_s2 + 2*{b1}*{b2}*f_s12"
        f" - 2*{b0}*f_sy - 2*{b1}*f_s1y - 2*{b2}*f_s2y)"
    )
    return train.selectExpr(
        "fold",
        "CAST(f_n AS BIGINT) AS n_holdout",
        f"round({b0}, 4) AS b0",
        f"round({b1}, 4) AS b1",
        f"round({b2}, 4) AS b2",
        f"round(sqrt({sse}/f_n), 4) AS rmse_holdout",
    )


def _cv_sql() -> str:
    b0, b1, b2 = _cramer_exprs("t_")
    sse = (
        f"(f_syy + {b0}*{b0}*f_n + {b1}*{b1}*f_s11 + {b2}*{b2}*f_s22"
        f" + 2*{b0}*{b1}*f_s1 + 2*{b0}*{b2}*f_s2 + 2*{b1}*{b2}*f_s12"
        f" - 2*{b0}*f_sy - 2*{b1}*f_s1y - 2*{b2}*f_s2y)"
    )
    t_cols = ",\n         ".join(
        f"CAST(SUM({m}) OVER () - {m} AS DOUBLE) AS t_{m}" for m in _CV_MOMENTS
    )
    f_cols = ",\n         ".join(f"CAST({m} AS DOUBLE) AS f_{m}" for m in _CV_MOMENTS)
    return f"""
WITH feats AS (
  SELECT ('0x' || substr(md5(CAST(f.l_orderkey AS VARCHAR)), 1, 8))::BIGINT % {CV_FOLDS} AS fold,
         f.x1, f.x2, CAST(ROUND(o.o_totalprice) AS BIGINT) AS y
  FROM (
    SELECT l_orderkey, COUNT(*) AS x1, SUM(CAST(l_quantity AS BIGINT)) AS x2
    FROM lineitem GROUP BY l_orderkey
  ) f JOIN orders o ON f.l_orderkey = o.o_orderkey
),
fm AS (
  SELECT fold, COUNT(*) AS n, SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
         SUM(x1*x1) AS s11, SUM(x1*x2) AS s12, SUM(x2*x2) AS s22,
         SUM(x1*y) AS s1y, SUM(x2*y) AS s2y, SUM(y*y) AS syy
  FROM feats GROUP BY fold
),
train AS (
  SELECT fold,
         {f_cols},
         {t_cols}
  FROM fm
)
SELECT fold, CAST(f_n AS BIGINT) AS n_holdout,
       ROUND({b0}, 4) AS b0,
       ROUND({b1}, 4) AS b1,
       ROUND({b2}, 4) AS b2,
       ROUND(sqrt({sse}/f_n), 4) AS rmse_holdout
FROM train
"""


register(
    QuerySpec(
        "cross_validate_ols",
        cross_validate_ols,
        _cv_sql(),
        doc="one-pass 5-fold CV: train moments = totals-minus-fold, holdout SSE by moment algebra",
        cites="ML-diagnostics family; extends ols_order_price",
        tags=("ml", "statistics"),
    )
)


def learning_curve_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R² of the order-price OLS fit as the training set grows from 10%
    to 100% (md5-decile nesting), from ONE aggregation pass: per-decile
    moments accumulate through an ordered window, and each prefix's
    Cramer solve + R² is closed-form algebra over those running sums.
    The whole curve costs one shuffle more than a single fit.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    feats = (
        li.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("x1"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("x2"),
        )
        .join(o.select("o_orderkey", "o_totalprice"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.conv(F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 8), 16, 10)
             .cast("bigint") % 10).alias("decile"),
            "x1",
            "x2",
            F.round("o_totalprice").cast("bigint").alias("y"),
        )
    )
    dm = feats.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    w_run = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run = dm.select(
        "decile",
        *[F.sum(m).over(w_run).cast("double").alias(f"t_{m}") for m in _CV_MOMENTS],
    )
    b0, b1, b2 = _cramer_exprs("t_")
    sse = (
        f"(t_syy + {b0}*{b0}*t_n + {b1}*{b1}*t_s11 + {b2}*{b2}*t_s22"
        f" + 2*{b0}*{b1}*t_s1 + 2*{b0}*{b2}*t_s2 + 2*{b1}*{b2}*t_s12"
        f" - 2*{b0}*t_sy - 2*{b1}*t_s1y - 2*{b2}*t_s2y)"
    )
    sst = "(t_syy - t_sy*t_sy/t_n)"
    return run.selectExpr(
        "(decile + 1) * 10 AS train_pct",
        "CAST(t_n AS BIGINT) AS n_train",
        f"round(1.0 - {sse}/{sst}, 6) AS r2",
    )


def _lc_sql() -> str:
    b0, b1, b2 = _cramer_exprs("t_")
    sse = (
        f"(t_syy + {b0}*{b0}*t_n + {b1}*{b1}*t_s11 + {b2}*{b2}*t_s22"
        f" + 2*{b0}*{b1}*t_s1 + 2*{b0}*{b2}*t_s2 + 2*{b1}*{b2}*t_s12"
        f" - 2*{b0}*t_sy - 2*{b1}*t_s1y - 2*{b2}*t_s2y)"
    )
    sst = "(t_syy - t_sy*t_sy/t_n)"
    t_cols = ",\n         ".join(
        f"CAST(SUM({m}) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS t_{m}"
        for m in _CV_MOMENTS
    )
    return f"""
WITH feats AS (
  SELECT ('0x' || substr(md5(CAST(f.l_orderkey AS VARCHAR)), 1, 8))::BIGINT % 10 AS decile,
         f.x1, f.x2, CAST(ROUND(o.o_totalprice) AS BIGINT) AS y
  FROM (
    SELECT l_orderkey, COUNT(*) AS x1, SUM(CAST(l_quantity AS BIGINT)) AS x2
    FROM lineitem GROUP BY l_orderkey
  ) f JOIN orders o ON f.l_orderkey = o.o_orderkey
),
dm AS (
  SELECT decile, COUNT(*) AS n, SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
         SUM(x1*x1) AS s11, SUM(x1*x2) AS s12, SUM(x2*x2) AS s22,
         SUM(x1*y) AS s1y, SUM(x2*y) AS s2y, SUM(y*y) AS syy
  FROM feats GROUP BY decile
),
run AS (
  SELECT decile,
         {t_cols}
  FROM dm
)
SELECT (decile + 1) * 10 AS train_pct,
       CAST(t_n AS BIGINT) AS n_train,
       ROUND(1.0 - {sse}/{sst}, 6) AS r2
FROM run
"""


register(
    QuerySpec(
        "learning_curve_ols",
        learning_curve_ols,
        _lc_sql(),
        doc="OLS learning curve (R² vs nested md5-decile train sizes) from one pass",
        cites="ML-diagnostics family",
        tags=("ml", "statistics", "window"),
    )
)


# --------------------------------------------------------------------------
# Distributed logistic regression (fixed-round IRLS)
# --------------------------------------------------------------------------

IRLS_ROUNDS = 2
_Z_CLAMP = 30.0
_W_FLOOR = 1e-6
