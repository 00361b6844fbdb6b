"""Training-data pipeline operators, round 2: packing, contamination,
mixture sampling, vocabulary, deterministic shuffle, quantization.

Each operator is the Spark-first formulation of a step every large-scale
LLM data pipeline runs between "raw corpus" and "tokenized shards". All
are registered with full DuckDB oracles — including the sequential-state
packer, whose greedy policy the oracle replays with a recursive CTE.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from analytics_data_platform_spark.functions.expr import bind, spread
from analytics_data_platform_spark.operators.packing import pack_greedy
from analytics_data_platform_spark.queries import QuerySpec, register
from analytics_data_platform_spark.sources.testdata import load_table

PACK_BUDGET = 256  # tokens per packed training sequence
NGRAM = 8  # contamination shingle width


def _tokens(col: str = "text"):
    return F.split(F.trim(col), r"\s+")


# ---------------------------------------------------------------------------
# pack_sequences — greedy first-fit token packing (operators/packing.py)
# ---------------------------------------------------------------------------


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy first-fit packing of documents into 256-token sequences.

    Token counting is a JVM expression; only (source, doc_id, n_tokens)
    crosses the Arrow boundary into the per-group packer. Parallelism =
    #groups — at 100 TB, pack by (source, shard) with a hashed shard
    column to bound group size.
    """
    d = load_table(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    slim = d.select("source", "doc_id", F.size(_tokens()).alias("n_tokens"))
    return pack_greedy(
        slim,
        group_cols=["source"],
        order_col="doc_id",
        token_col="n_tokens",
        budget=PACK_BUDGET,
    )


PACK_SQL = f"""
WITH RECURSIVE toks AS (
  SELECT source, doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
  WHERE length(trim(text)) > 0
),
packed AS (
  SELECT source, doc_id, n_tokens, rn, 1 AS pack_id, n_tokens AS acc
  FROM toks WHERE rn = 1
  UNION ALL
  SELECT t.source, t.doc_id, t.n_tokens, t.rn,
         CASE WHEN p.acc + t.n_tokens > {PACK_BUDGET} THEN p.pack_id + 1 ELSE p.pack_id END,
         CASE WHEN p.acc + t.n_tokens > {PACK_BUDGET} THEN t.n_tokens ELSE p.acc + t.n_tokens END
  FROM toks t JOIN packed p ON t.source = p.source AND t.rn = p.rn + 1
)
SELECT source, doc_id, n_tokens, pack_id FROM packed
"""

register(
    QuerySpec(
        "pack_sequences",
        pack_sequences,
        PACK_SQL,
        doc=f"greedy first-fit packing into {PACK_BUDGET}-token training sequences",
        cites="training-data ops: sequence packing for fixed-context pre-training",
        tags=("text", "packing"),
    )
)


# ---------------------------------------------------------------------------
# contamination_ngrams — train/eval benchmark-overlap detection
# ---------------------------------------------------------------------------


def contamination_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-gram overlap between an eval subset (doc_id%50==0) and the train set.

    The standard benchmark-contamination check: shingle both sides, join on
    the shingle, count distinct contaminating train docs / shared shingles
    per eval doc. One shuffle, keyed on the n-gram. At 100 TB the join key
    would be ``xxhash64(ngram)`` (8 bytes instead of ~50 chars) and the
    hot stop-phrase shingles salted; text keys are kept here so the DuckDB
    oracle sees identical values.
    """
    d = load_table(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    toks = _tokens()
    # let-bound token array: the split runs once per doc, not once per gram
    grams = bind(
        toks,
        lambda t: F.when(
            F.size(t) >= NGRAM,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (NGRAM - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, NGRAM)),
            ),
        ),
    )
    flat = (
        spread(d.select("doc_id", "text"))
        .select("doc_id", F.explode(grams).alias("g"))
        .distinct()
    )
    eval_g = flat.where(F.col("doc_id") % 50 == 0).withColumnRenamed("doc_id", "eval_doc_id")
    train_g = flat.where(F.col("doc_id") % 50 != 0).withColumnRenamed("doc_id", "train_doc_id")
    hits = eval_g.join(train_g, "g")
    return (
        eval_g.select("eval_doc_id")
        .distinct()
        .join(hits, "eval_doc_id", "left")
        .groupBy("eval_doc_id")
        .agg(
            F.countDistinct("train_doc_id").alias("n_contaminating_docs"),
            F.countDistinct("g").alias("n_shared_ngrams"),
        )
    )


CONTAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
  FROM documents WHERE length(trim(text)) > 0
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+{NGRAM - 1}], ' ') AS g
  FROM toks CROSS JOIN generate_series(1, 2000) AS s(i)
  WHERE i + {NGRAM - 1} <= len(t)
),
eval_g AS (SELECT doc_id AS eval_doc_id, g FROM grams WHERE doc_id % 50 = 0),
train_g AS (SELECT doc_id AS train_doc_id, g FROM grams WHERE doc_id % 50 <> 0),
hits AS (SELECT e.eval_doc_id, t.train_doc_id, e.g FROM eval_g e JOIN train_g t USING (g))
SELECT e.eval_doc_id,
       COUNT(DISTINCT h.train_doc_id) AS n_contaminating_docs,
       COUNT(DISTINCT h.g) AS n_shared_ngrams
FROM (SELECT DISTINCT eval_doc_id FROM eval_g) e
LEFT JOIN hits h ON e.eval_doc_id = h.eval_doc_id
GROUP BY e.eval_doc_id
"""

register(
    QuerySpec(
        "contamination_ngrams",
        contamination_ngrams,
        CONTAM_SQL,
        doc=f"train/eval {NGRAM}-gram contamination detection",
        cites="training-data ops: benchmark-contamination scan",
        tags=("text", "dedup"),
    )
)


# ---------------------------------------------------------------------------
# domain_mixture_sample — per-source downsampling to a target token share
# ---------------------------------------------------------------------------


def domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample every source toward an equal 1/(2·n_sources) token share.

    Two aggregations + one broadcast join: per-source token totals (tiny)
    are broadcast back onto the corpus, and the keep-decision is the
    deterministic ``doc_id % 10000 < threshold`` coin — reproducible
    across runs/engines, no RNG state, trivially scale-invariant. Output
    is the per-source audit the pipeline would log.
    """
    d = load_table(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    docs = d.select("source", "doc_id", F.size(_tokens()).alias("n_tokens"))
    totals = docs.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    grand = totals.agg(
        F.sum("src_tokens").alias("grand_tokens"),
        F.count("*").alias("n_sources"),
    )
    thr = F.least(
        F.lit(10000).cast("bigint"),
        F.floor(F.lit(10000.0) * F.col("grand_tokens") / (2 * F.col("n_sources")) / F.col("src_tokens")),
    )
    weighted = totals.crossJoin(F.broadcast(grand)).select(
        "source", "src_tokens", thr.alias("sample_permyriad")
    )
    sampled = (
        docs.join(F.broadcast(weighted), "source")
        .where(F.col("doc_id") % 10000 < F.col("sample_permyriad"))
        .groupBy("source")
        .agg(
            F.count("*").alias("sampled_docs"),
            F.sum("n_tokens").alias("sampled_tokens"),
        )
    )
    return weighted.join(sampled, "source", "left").select(
        "source",
        "src_tokens",
        "sample_permyriad",
        F.coalesce("sampled_docs", F.lit(0)).alias("sampled_docs"),
        F.coalesce("sampled_tokens", F.lit(0)).alias("sampled_tokens"),
    )


MIXTURE_SQL = """
WITH docs AS (
  SELECT source, doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens
  FROM documents WHERE length(trim(text)) > 0
),
totals AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens FROM docs GROUP BY source),
grand AS (SELECT CAST(SUM(src_tokens) AS BIGINT) AS grand_tokens, COUNT(*) AS n_sources FROM totals),
weighted AS (
  SELECT source, src_tokens,
         LEAST(10000, CAST(FLOOR(10000.0 * grand_tokens / (2 * n_sources) / src_tokens) AS BIGINT))
           AS sample_permyriad
  FROM totals CROSS JOIN grand
),
sampled AS (
  SELECT d.source, COUNT(*) AS sampled_docs, CAST(SUM(d.n_tokens) AS BIGINT) AS sampled_tokens
  FROM docs d JOIN weighted w ON d.source = w.source
  WHERE d.doc_id % 10000 < w.sample_permyriad
  GROUP BY d.source
)
SELECT w.source, w.src_tokens, w.sample_permyriad,
       COALESCE(s.sampled_docs, 0) AS sampled_docs,
       COALESCE(s.sampled_tokens, 0) AS sampled_tokens
FROM weighted w LEFT JOIN sampled s ON w.source = s.source
"""

register(
    QuerySpec(
        "domain_mixture_sample",
        domain_mixture_sample,
        MIXTURE_SQL,
        doc="deterministic per-source downsampling to a target token share",
        cites="training-data ops: domain mixture reweighting",
        tags=("sampling",),
    )
)


# ---------------------------------------------------------------------------
# vocab_top_terms — corpus vocabulary / token-frequency top-k
# ---------------------------------------------------------------------------


def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 terms by frequency (freq desc, term asc tie-break).

    explode → groupBy(term) partial-aggregates map-side; the final
    ``orderBy().limit()`` compiles to TakeOrderedAndProject — Spark's
    built-in two-phase top-k (per-partition heads, then a merge of ≤100
    rows per partition), never a global sort.
    """
    d = load_table(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    counts = (
        d.select(F.explode(_tokens()).alias("tok"))
        .where(F.col("tok") != "")
        .select(F.lower("tok").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    top = counts.orderBy(F.desc("freq"), F.asc("term")).limit(100)
    w = Window.orderBy(F.desc("freq"), F.asc("term"))
    return top.withColumn("rank", F.row_number().over(w))


VOCAB_SQL = """
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents WHERE length(trim(text)) > 0
),
counts AS (
  SELECT lower(tok) AS term, COUNT(*) AS freq
  FROM toks WHERE tok <> '' GROUP BY lower(tok)
),
top AS (SELECT term, freq FROM counts ORDER BY freq DESC, term LIMIT 100)
SELECT term, freq, ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rank FROM top
"""

register(
    QuerySpec(
        "vocab_top_terms",
        vocab_top_terms,
        VOCAB_SQL,
        doc="token-frequency vocabulary top-k (two-phase TakeOrdered)",
        cites="training-data ops: vocabulary construction",
        tags=("text", "topk"),
    )
)


# ---------------------------------------------------------------------------
# train_order_shuffle — deterministic sharded global shuffle
# ---------------------------------------------------------------------------


def train_order_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle into 16 hex shards.

    Epoch-reproducible global shuffles order by a salted cryptographic
    hash, not an RNG. Sharding first (md5 leading hex nibble) keeps the
    ordering window per-shard — parallelism = #shards (thousands at real
    scale), never a single global row_number task.
    """
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("shuffle-epoch-42:"), F.col("doc_id").cast("string")))
    sharded = d.select("doc_id", key.alias("shuffle_key")).withColumn(
        "shard", F.substring("shuffle_key", 1, 1)
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return sharded.select(
        "doc_id", "shard", F.row_number().over(w).alias("shard_pos")
    )


SHUFFLE_SQL = """
WITH keyed AS (
  SELECT doc_id,
         md5('shuffle-epoch-42:' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
)
SELECT doc_id, substring(h, 1, 1) AS shard,
       ROW_NUMBER() OVER (PARTITION BY substring(h, 1, 1) ORDER BY h, doc_id) AS shard_pos
FROM keyed
"""

register(
    QuerySpec(
        "train_order_shuffle",
        train_order_shuffle,
        SHUFFLE_SQL,
        doc="deterministic sharded training-order shuffle (salted md5)",
        cites="training-data ops: epoch-reproducible corpus shuffling",
        tags=("sampling",),
    )
)


# ---------------------------------------------------------------------------
# embedding_quantize_int8 — per-dimension abs-max scalar quantization
# ---------------------------------------------------------------------------


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization with per-dimension abs-max scales.

    Pass 1 computes the 64 per-dim scales (posexplode → max|x|, a tiny
    aggregate); pass 2 broadcasts them back, codes each value to int8 and
    measures reconstruction error per label. Both passes are pure JVM
    expressions; at 100 TB pass 1 is one map-side-combined aggregation
    and pass 2 a broadcast join — no wide shuffle of vector data.
    """
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "fval")
    ).select("vec_id", "label", "pos", F.col("fval").cast("double").alias("val"))
    scales = flat.groupBy("pos").agg(F.max(F.abs("val")).alias("scale"))
    coded = flat.join(F.broadcast(scales), "pos").select(
        "label",
        F.when(
            F.col("scale") > 0, F.round(F.col("val") / F.col("scale") * 127).cast("int")
        )
        .otherwise(F.lit(0))
        .alias("code"),
        "scale",
        "val",
    )
    err = F.abs(F.col("val") - F.col("code") * F.col("scale") / 127)
    return (
        coded.select("label", err.alias("err"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vals"),
            F.round(F.avg("err"), 6).alias("avg_abs_err"),
            F.round(F.max("err"), 6).alias("max_abs_err"),
        )
    )


QUANT_SQL = """
WITH flat AS (
  SELECT vec_id, label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
),
scales AS (SELECT pos, MAX(ABS(val)) AS scale FROM flat GROUP BY pos),
coded AS (
  SELECT f.label,
         CASE WHEN s.scale > 0 THEN CAST(round(f.val / s.scale * 127) AS INT) ELSE 0 END AS code,
         s.scale, f.val
  FROM flat f JOIN scales s ON f.pos = s.pos
),
errs AS (SELECT label, ABS(val - code * scale / 127) AS err FROM coded)
SELECT label, COUNT(*) AS n_vals,
       ROUND(AVG(err), 6) AS avg_abs_err,
       ROUND(MAX(err), 6) AS max_abs_err
FROM errs GROUP BY label
"""

register(
    QuerySpec(
        "embedding_quantize_int8",
        embedding_quantize_int8,
        QUANT_SQL,
        doc="int8 abs-max scalar quantization with reconstruction-error audit",
        cites="training-data ops: embedding compression for ANN serving",
        tags=("vector",),
    )
)


# ---------------------------------------------------------------------------
# per_source_doc_sample — deterministic k-per-group sampling
# ---------------------------------------------------------------------------


def per_source_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-per-source document sample (group-wise reservoir
    analogue): order within each source by a salted md5 of the doc id and
    keep the first k. Reproducible across runs and engines — the audit /
    eyeball sample every corpus pipeline logs. One shuffle on source."""
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("sample-7:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(key, "doc_id")
    return (
        d.select("source", "doc_id", "n_chars", F.row_number().over(w).alias("pick"))
        .where(F.col("pick") <= 3)
    )


SAMPLE_SQL = """
SELECT source, doc_id, n_chars, pick FROM (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5('sample-7:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS pick
  FROM documents
) WHERE pick <= 3
"""

register(
    QuerySpec(
        "per_source_doc_sample",
        per_source_doc_sample,
        SAMPLE_SQL,
        doc="deterministic k-per-group sample (salted-hash order)",
        cites="training-data ops: reproducible audit sampling",
        tags=("sampling",),
    )
)


# ---------------------------------------------------------------------------
# train_val_test_split — deterministic hash-based corpus split
# ---------------------------------------------------------------------------


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/5/5 train/val/test split by salted md5 bucket (portable, seeded,
    rerun-stable — membership is a pure function of doc_id, so adding
    documents never reshuffles existing assignments). The whole split is
    one narrow projection + one tiny groupBy: no shuffle of the corpus
    itself, which is exactly how a 100 TB split must run."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split-42:"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


SPLIT_SQL = """
WITH assigned AS (
  SELECT CASE
           WHEN ('0x' || substr(md5('split-42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'train'
           WHEN ('0x' || substr(md5('split-42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 95 THEN 'val'
           ELSE 'test'
         END AS split,
         n_chars
  FROM documents
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM assigned GROUP BY split
"""

register(
    QuerySpec(
        "train_val_test_split",
        train_val_test_split,
        SPLIT_SQL,
        doc="deterministic hash-bucketed train/val/test split (90/5/5)",
        cites="training-data ops: reproducible corpus splitting",
        tags=("sampling",),
    )
)


def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    per source, keep the 3 docs with the largest u^(1/w), where w is the
    doc length (longer docs proportionally likelier) and u is a
    DETERMINISTIC uniform from md5(doc_id) — so the "random" draw is
    reproducible across runs, engines, and cluster sizes (unlike
    rand(seed), whose stream depends on partitioning).

    The A-ES key makes weighted reservoir sampling a plain top-k: at
    100 TB it's one scan + the two-phase top-k per group, and the keys
    are mergeable across partitions (max survives union) just like the
    sketch registers. Ranked on round(key, 10) with doc_id tie-break.
    """
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(1)) / F.lit(4294967296.0)  # (0, 1], exact dyadic
    key = F.round(F.pow(u, F.lit(1.0) / F.col("n_chars")), 10)
    w = Window.partitionBy("source").orderBy(F.desc("sample_key"), "doc_id")
    return (
        d.select("source", "doc_id", "n_chars", key.alias("sample_key"))
        .withColumn("pick", F.row_number().over(w))
        .where(F.col("pick") <= 3)
        .select("source", "pick", "doc_id", "n_chars", "sample_key")
    )


WEIGHTED_SAMPLE_SQL = """
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         ROUND(power(
           ((('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
            / 4294967296.0),
           1.0 / n_chars), 10) AS sample_key
  FROM documents
)
SELECT source, pick, doc_id, n_chars, sample_key
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY sample_key DESC, doc_id) AS pick
  FROM keyed
)
WHERE pick <= 3
"""

register(
    QuerySpec(
        "weighted_sample_docs",
        weighted_sample_docs,
        WEIGHTED_SAMPLE_SQL,
        doc="Efraimidis-Spirakis weighted sample (deterministic md5 uniform)",
        cites="training-data ops: weighted corpus subsampling",
        tags=("training", "sampling"),
    )
)


# --------------------------------------------------------------------------
# Distributed BPE tokenizer training (fixed merge rounds)
# --------------------------------------------------------------------------

BPE_MERGES = 5


def _best_pair(pairs: DataFrame) -> DataFrame:
    """Argmax over the pair-count table: max by (cnt DESC, a ASC, b ASC).

    One `min_by` scalar aggregate over struct(-cnt, a, b) instead of a
    global `row_number()` sort window: no WindowExec and no global sort —
    the single-partition sort exchange is traded for a partial+final
    aggregate exchange whose final reduce sees only map-side partial
    maxima (the measured ledger shows MORE exchanges overall, but each is
    a scalar-aggregate exchange, never a data-ordering one). The input is
    the vocab-bounded aggregated pair table (never corpus-linear).

    An EMPTY pair table (degenerate corpus that cannot support another
    merge) must yield ZERO rows — a bare scalar aggregate would emit one
    all-null row and the merge loop would broadcast a null pair — hence
    the isNotNull filter.
    """
    return (
        pairs.agg(
            F.min_by(
                F.struct("a", "b", "cnt"),
                F.struct(
                    (-F.col("cnt")).alias("nc"),
                    F.col("a").alias("a"),
                    F.col("b").alias("b"),
                ),
            ).alias("m")
        )
        .select(
            F.col("m.a").alias("a"), F.col("m.b").alias("b"), F.col("m.cnt").alias("cnt")
        )
        .where(F.col("a").isNotNull())
    )


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 5 BPE merges from the corpus, fully distributed.

    The classic frequency-compression trick makes this cheap: the corpus
    collapses to a (word, freq) table ONCE (one shuffle over tokens), and
    every merge round runs over that |vocab|-sized table — pair counting
    is an explode + weighted count, the argmax pair broadcasts back, and
    the merge itself is a plain string replace over an engine-portable
    representation: symbols joined by DOUBLE spaces with double-space
    boundaries, merged by replacing ' a  b ' with ' ab '. The single
    outer spaces the pattern consumes restore the invariant, and plain
    leftmost non-overlapping replace() IS textbook greedy BPE (e.g.
    'a a a' merges its first pair only) — identically in both engines,
    which is what makes a trained tokenizer hash-verifiable.

    Rounds are fixed so the DuckDB oracle unrolls them as CTEs; the
    selection key (count DESC, pair ASC) is integer/string-deterministic.
    """
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.concat(
                F.lit("  "),
                F.array_join(F.split(F.col("word"), ""), "  "),
                F.lit("  "),
            ).alias("w"),
            "freq",
        )
        # the corpus-sized token explode must run once, not once per
        # unrolled round (each best{i} roots its own lineage chain)
        .localCheckpoint(eager=False)
    )
    merges = []
    for step in range(1, BPE_MERGES + 1):
        syms = words.select(
            "freq", F.split(F.trim(F.col("w")), "  ").alias("s")
        )
        pairs = syms.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(slice(s, 1, size(s) - 1),"
                    " (x, i) -> struct(x AS a, s[i + 1] AS b))"
                )
            ).alias("p"),
        ).groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
            F.sum("freq").alias("cnt")
        )
        best = _best_pair(pairs).select(F.lit(step).alias("step"), "a", "b", "cnt")
        merges.append(best)
        words = (
            words.crossJoin(F.broadcast(best.select("a", "b")))
            .select(
                F.expr(
                    "replace(w, ' ' || a || '  ' || b || ' ', ' ' || a || b || ' ')"
                ).alias("w"),
                "freq",
            )
            # vocab-sized: checkpointing bounds the per-round recompute the
            # final 5-way union would otherwise trigger
            .localCheckpoint(eager=False)
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.select("step", F.col("a").alias("merge_left"),
                      F.col("b").alias("merge_right"), F.col("cnt").alias("pair_count"))


def _bpe_sql() -> str:
    parts = [
        """WITH words0 AS (
  SELECT '  ' || array_to_string(string_split(word, ''), '  ') || '  ' AS w,
         COUNT(*) AS freq
  FROM (
    SELECT UNNEST(string_split(text, ' ')) AS word FROM documents
  ) t(word)
  WHERE word <> ''
  GROUP BY word
)"""
    ]
    for i in range(1, BPE_MERGES + 1):
        parts.append(
            f""",
pairs{i} AS (
  SELECT s[i] AS a, s[i + 1] AS b, SUM(freq) AS cnt
  FROM (
    SELECT string_split(trim(w), '  ') AS s, freq FROM words{i - 1}
  ), range(1, 1000) r(i)
  WHERE i < len(s)
  GROUP BY s[i], s[i + 1]
),
best{i} AS (
  SELECT {i} AS step, a, b, CAST(cnt AS BIGINT) AS cnt FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, a, b) AS rn FROM pairs{i}
  ) WHERE rn = 1
),
words{i} AS (
  SELECT replace(w, ' ' || x.a || '  ' || x.b || ' ', ' ' || x.a || x.b || ' ') AS w,
         freq
  FROM words{i - 1} CROSS JOIN best{i} x
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT step, a AS merge_left, b AS merge_right, cnt AS pair_count FROM best{i}"
        for i in range(1, BPE_MERGES + 1)
    )
    parts.append("\n" + union)
    return "".join(parts)


register(
    QuerySpec(
        "bpe_train_merges",
        bpe_train_merges,
        _bpe_sql(),
        doc="distributed BPE tokenizer training: first 5 merges via freq-compressed words",
        cites="training-data ops: tokenizer training (Sennrich et al. BPE)",
        tags=("training", "text", "iterative"),
    )
)


def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus compression from applying the 5 learned BPE merges: total
    token count and symbol-vocabulary size before vs after. The encode
    side of bpe_train_merges — same freq-compressed iteration, final
    aggregate instead of the merge list."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.concat(
                F.lit("  "),
                F.array_join(F.split(F.col("word"), ""), "  "),
                F.lit("  "),
            ).alias("w"),
            "freq",
        )
        .localCheckpoint(eager=False)
    )

    def stats(ws: DataFrame, label: str) -> DataFrame:
        syms = ws.select("freq", F.split(F.trim(F.col("w")), "  ").alias("s"))
        return syms.select(
            F.lit(label).alias("stage"),
            F.explode("s").alias("sym"),
            "freq",
        ).groupBy("stage").agg(
            F.sum("freq").alias("total_tokens"),
            F.count_distinct("sym").alias("vocab_size"),
        )

    before = stats(words, "before")
    for _ in range(BPE_MERGES):
        syms = words.select("freq", F.split(F.trim(F.col("w")), "  ").alias("s"))
        pairs = syms.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(slice(s, 1, size(s) - 1),"
                    " (x, i) -> struct(x AS a, s[i + 1] AS b))"
                )
            ).alias("p"),
        ).groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
            F.sum("freq").alias("cnt")
        )
        best = _best_pair(pairs).select("a", "b")
        words = (
            words.crossJoin(F.broadcast(best))
            .select(
                F.expr(
                    "replace(w, ' ' || a || '  ' || b || ' ', ' ' || a || b || ' ')"
                ).alias("w"),
                "freq",
            )
            .localCheckpoint(eager=False)
        )
    return before.unionByName(stats(words, "after"))


def _bpe_encode_sql() -> str:
    # reuse the merge-round CTE chain (words0..words5), swap the final
    # projection: one unnested row per symbol occurrence, so SUM(freq)
    # IS the corpus token count (mirrors the Spark explode + sum)
    full = _bpe_sql()
    chain = full[: full.find("\nSELECT step, a AS merge_left")]
    return (
        chain
        + f"""
SELECT stage, CAST(total_tokens AS BIGINT) AS total_tokens,
       CAST(vocab_size AS BIGINT) AS vocab_size
FROM (
  SELECT 'before' AS stage, SUM(freq) AS total_tokens,
         COUNT(DISTINCT sym) AS vocab_size
  FROM (SELECT freq, UNNEST(string_split(trim(w), '  ')) AS sym FROM words0)
  UNION ALL
  SELECT 'after', SUM(freq), COUNT(DISTINCT sym)
  FROM (SELECT freq, UNNEST(string_split(trim(w), '  ')) AS sym FROM words{BPE_MERGES})
)"""
    )


register(
    QuerySpec(
        "bpe_encode_stats",
        bpe_encode_stats,
        _bpe_encode_sql(),
        doc="corpus token/vocab compression from the 5 learned BPE merges",
        cites="training-data ops: tokenizer encode statistics",
        tags=("training", "text"),
    )
)


# ---- Hamilton-apportioned stratified sampling ------------------------------

_QUOTA_PCT = 10  # sample budget = 10% of the corpus


def stratified_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with EXACT largest-remainder (Hamilton) quotas.

    `domain_mixture_sample` draws each stratum independently (hash-mod
    coin), so realized stratum sizes drift from the target mixture by
    ±O(√n). A curated training mix wants exact apportionment: total
    budget B = ⌊corpus·10%⌋ split as quotaₛ = ⌊B·nₛ/N⌋ plus one extra doc
    for the (B − Σ⌊·⌋) largest remainders (B·nₛ mod N, ties by source id)
    — quotas sum to B exactly, all in BIGINT arithmetic. Within each
    stratum the quota picks the smallest md5(doc_id) keys: deterministic,
    rerun-safe, order-independent.

    Scale shape: the allocation runs on the per-source count table
    (|sources| rows); the only corpus-sized work is one md5 rank window
    per source — the same single sort-shuffle any per-group top-k costs.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(
        F.sum("n_docs").alias("n_total"), F.count(F.lit(1)).alias("n_sources")
    )
    alloc = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr(f"(n_total * {_QUOTA_PCT}) div 100").alias("budget"),
        F.expr(f"(((n_total * {_QUOTA_PCT}) div 100) * n_docs) div n_total").alias("base"),
        F.expr(f"(((n_total * {_QUOTA_PCT}) div 100) * n_docs) % n_total").alias("rem"),
    )
    w = Window.orderBy(F.col("rem").desc(), F.col("source"))
    wsum = Window.partitionBy()
    quotas = alloc.select(
        "source",
        "n_docs",
        (
            F.col("base")
            + (F.row_number().over(w) <= (F.col("budget") - F.sum("base").over(wsum))).cast(
                "bigint"
            )
        ).alias("quota"),
    )
    ranked = d.select(
        "source", "doc_id", "n_chars", F.md5(F.col("doc_id").cast("string")).alias("h")
    ).withColumn("rn", F.row_number().over(Window.partitionBy("source").orderBy("h", "doc_id")))
    picked = ranked.join(F.broadcast(quotas), "source").where(F.col("rn") <= F.col("quota"))
    return picked.groupBy("source").agg(
        F.min("n_docs").alias("n_docs"),
        F.min("quota").alias("quota"),
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("n_chars").alias("sampled_chars"),
    )


QUOTA_SQL = f"""
WITH counts AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM counts),
alloc AS (
  SELECT source, n_docs,
         (n_total * {_QUOTA_PCT}) // 100 AS budget,
         (((n_total * {_QUOTA_PCT}) // 100) * n_docs) // n_total AS base,
         (((n_total * {_QUOTA_PCT}) // 100) * n_docs) % n_total AS rem
  FROM counts, tot
),
quotas AS (
  SELECT source, n_docs,
         base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source)
                      <= budget - CAST(SUM(base) OVER () AS BIGINT)
                THEN 1 ELSE 0 END AS quota
  FROM alloc
),
ranked AS (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
)
SELECT r.source,
       MIN(q.n_docs) AS n_docs,
       MIN(q.quota) AS quota,
       COUNT(*) AS n_sampled,
       CAST(SUM(r.n_chars) AS BIGINT) AS sampled_chars
FROM ranked r JOIN quotas q ON r.source = q.source
WHERE r.rn <= q.quota
GROUP BY 1
"""


register(
    QuerySpec(
        "stratified_quota_sample",
        stratified_quota_sample,
        QUOTA_SQL,
        doc="Hamilton largest-remainder stratified sampling: exact integer quotas, md5-keyed picks",
        cites="training mixture curation; exact-apportionment twin of domain_mixture_sample",
        tags=("training", "sampling"),
    )
)


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): hashed n-gram importance weights, exact-integer form
# ---------------------------------------------------------------------------

DSIR_LANG = "en"  # target distribution: English docs; raw = whole corpus
DSIR_LOGSCALE = 1_000_000  # fixed-point micro-log units


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights over hashed n-gram features: score every
    document by how target-like (here: the ``en`` slice) its hashed
    unigram+bigram profile is, and surface the top-20.

    Scale/determinism design:
    - features are md5-prefix buckets (``substr(md5(gram),1,2)`` → 256
      string keys) — both engines derive the SAME buckets independently,
      no shared literal table and no engine-specific hash;
    - the bucket log-ratio ln((c_t+1)(N_r+256) / ((c_r+1)(N_t+256))) is
      computed ONCE per bucket (≤256 lns), then fixed-pointed to integer
      micro-logs — per-document weights are EXACT integer dot products
      (order-free: no float re-association across 100 TB of documents);
    - shuffles: one gram-keyed groupBy for bucket counts (map-side
      partials), one bucket-keyed join back (vs a BROADCAST ≤256-row
      ratio table), one doc-keyed agg; top-20 via orderBy+limit
      (TakeOrderedAndProject — never a global window).

    At 100 TB the ratio table is still 256 rows — the whole "model" is a
    broadcast variable, which is exactly why DSIR scales where trained
    quality classifiers need GPU fleets.
    """
    d = load_table(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    toks = d.select("doc_id", "lang", _tokens().alias("t"))
    bigrams = F.zip_with(
        "t",
        F.expr("slice(t, 2, greatest(size(t) - 1, 0))"),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    grams = toks.select(
        "doc_id",
        "lang",
        F.explode(F.concat(F.col("t"), F.filter(bigrams, lambda g: g.contains(" ")))).alias(
            "gram"
        ),
    ).select("doc_id", "lang", F.substring(F.md5("gram"), 1, 2).alias("bucket"))

    per_bucket = grams.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum((F.col("lang") == DSIR_LANG).cast("bigint")).alias("c_tgt"),
    )
    totals = per_bucket.agg(
        F.sum("c_raw").alias("n_raw"), F.sum("c_tgt").alias("n_tgt")
    )
    ratios = per_bucket.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            F.log(
                # cast factors BEFORE multiplying: the int64 product overflows
                # at corpus scale (n_raw ~ total gram count); double*double is
                # IEEE-identical in both engines
                (F.col("c_tgt") + 1).cast("double") * (F.col("n_raw") + 256).cast("double")
                / ((F.col("c_raw") + 1).cast("double") * (F.col("n_tgt") + 256).cast("double"))
            )
            * DSIR_LOGSCALE
        )
        .cast("bigint")
        .alias("lr"),
    )
    doc_buckets = grams.groupBy("doc_id", "lang", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    weights = (
        doc_buckets.join(F.broadcast(ratios), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("n").alias("n_grams"),
            F.sum(F.col("n") * F.col("lr")).alias("w_micro"),
        )
    )
    return (
        weights.select("doc_id", "lang", "n_grams", "w_micro")
        .orderBy(F.desc("w_micro"), "doc_id")
        .limit(20)
    )


DSIR_SQL = f"""
WITH d AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS t
           FROM documents WHERE length(trim(text)) > 0),
grams AS (
  SELECT doc_id, lang, substr(md5(g), 1, 2) AS bucket FROM (
    SELECT doc_id, lang, unnest(t) AS g FROM d
    UNION ALL
    SELECT doc_id, lang,
           unnest(list_transform(list_zip(t, list_slice(t, 2, len(t))),
                                 x -> x[1] || ' ' || x[2])) AS g
    FROM d
  )
  WHERE g IS NOT NULL
),
per_bucket AS (
  SELECT bucket, COUNT(*) AS c_raw,
         SUM(CASE WHEN lang = '{DSIR_LANG}' THEN 1 ELSE 0 END) AS c_tgt
  FROM grams GROUP BY bucket
),
totals AS (SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt FROM per_bucket),
ratios AS (
  SELECT bucket,
         CAST(ROUND(LN((CAST(c_tgt + 1 AS DOUBLE) * CAST(n_raw + 256 AS DOUBLE))
                       / (CAST(c_raw + 1 AS DOUBLE) * CAST(n_tgt + 256 AS DOUBLE)))
                    * {DSIR_LOGSCALE}) AS BIGINT) AS lr
  FROM per_bucket CROSS JOIN totals
),
doc_buckets AS (
  SELECT doc_id, lang, bucket, COUNT(*) AS n FROM grams GROUP BY 1, 2, 3
)
SELECT doc_id, lang,
       CAST(SUM(n) AS BIGINT) AS n_grams,
       CAST(SUM(n * lr) AS BIGINT) AS w_micro
FROM doc_buckets JOIN ratios USING (bucket)
GROUP BY doc_id, lang
ORDER BY w_micro DESC, doc_id
LIMIT 20
"""

register(
    QuerySpec(
        "dsir_importance_weights",
        dsir_importance_weights,
        DSIR_SQL,
        doc="DSIR hashed-ngram importance weights (target=en), exact-integer micro-log dot products",
        cites="training-data ops: data selection via importance resampling (Xie et al. 2023, arXiv:2302.03169)",
        tags=("training", "sampling", "quality"),
    )
)


# ---------------------------------------------------------------------------
# packing_efficiency_sweep — padding waste vs context budget
# ---------------------------------------------------------------------------

PACK_SWEEP_BUDGETS = (128, 256, 512)


def packing_efficiency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding waste of greedy first-fit packing at three context budgets —
    the decision table a training pipeline reads before fixing its sequence
    length: small contexts waste little padding but truncate long docs'
    packing freedom; large contexts invert the trade. One row per budget:
    pack count, used tokens, capacity, waste fraction (exact integers, one
    terminal division).

    Runs the same pack_greedy operator three times (the sweep IS the
    product — each run is the linear per-group pass pack_sequences
    documents); results union to a 3-row frame.
    """
    d = load_table(spark, sf_dir, "documents").where(F.length(F.trim("text")) > 0)
    slim = d.select("source", "doc_id", F.size(_tokens()).alias("n_tokens"))
    out = None
    for budget in PACK_SWEEP_BUDGETS:
        packed = pack_greedy(
            slim,
            group_cols=["source"],
            order_col="doc_id",
            token_col="n_tokens",
            budget=budget,
        )
        agg = (
            packed.groupBy("source", "pack_id")
            .agg(F.sum("n_tokens").alias("pack_tokens"))
            .agg(
                F.count(F.lit(1)).alias("n_packs"),
                F.sum("pack_tokens").alias("used_tokens"),
            )
            .select(
                F.lit(budget).alias("budget"),
                "n_packs",
                "used_tokens",
                (F.col("n_packs") * budget).alias("capacity"),
                F.round(
                    (F.col("n_packs") * budget - F.col("used_tokens")).cast("double")
                    / (F.col("n_packs") * budget).cast("double"),
                    6,
                ).alias("waste_frac"),
            )
        )
        out = agg if out is None else out.unionByName(agg)
    return out.orderBy("budget")


def _pack_sweep_sql() -> str:
    def one(budget: int) -> str:
        return f"""SELECT * FROM (
WITH RECURSIVE toks AS (
  SELECT source, doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
  WHERE length(trim(text)) > 0
),
packed AS (
  SELECT source, doc_id, n_tokens, rn, 1 AS pack_id, n_tokens AS acc
  FROM toks WHERE rn = 1
  UNION ALL
  SELECT t.source, t.doc_id, t.n_tokens, t.rn,
         CASE WHEN p.acc + t.n_tokens > {budget} THEN p.pack_id + 1 ELSE p.pack_id END,
         CASE WHEN p.acc + t.n_tokens > {budget} THEN t.n_tokens ELSE p.acc + t.n_tokens END
  FROM toks t JOIN packed p ON t.source = p.source AND t.rn = p.rn + 1
),
per_pack AS (
  SELECT source, pack_id, SUM(n_tokens) AS pack_tokens
  FROM packed GROUP BY 1, 2
)
SELECT {budget} AS budget,
       CAST(COUNT(*) AS BIGINT) AS n_packs,
       CAST(SUM(pack_tokens) AS BIGINT) AS used_tokens,
       CAST(COUNT(*) * {budget} AS BIGINT) AS capacity,
       ROUND(CAST(COUNT(*) * {budget} - SUM(pack_tokens) AS DOUBLE)
             / CAST(COUNT(*) * {budget} AS DOUBLE), 6) AS waste_frac
FROM per_pack
)"""

    return "\nUNION ALL\n".join(one(b) for b in PACK_SWEEP_BUDGETS) + "\nORDER BY budget"


register(
    QuerySpec(
        "packing_efficiency_sweep",
        packing_efficiency_sweep,
        _pack_sweep_sql(),
        doc="padding-waste table for greedy packing at 128/256/512-token budgets",
        cites="training-data ops: context-length selection; composes operators/packing.py",
        tags=("training", "packing"),
    )
)


def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language — subword tokens emitted per word
    — for the 5 globally-learned BPE merges: the standard multilingual
    tokenizer-quality metric (a tokenizer trained on a skewed mix
    fragments under-represented languages; fertility by lang is how that
    is measured and monitored in training-data pipelines).

    The merges are learned once on GLOBAL pair counts (identical merges
    to bpe_train_merges: the per-(lang, word) frequency table sums to
    the global word table, and pair counting aggregates over lang), then
    applied to every language's words; fertility is the exact integer
    ratio Σ freq·|subwords| / Σ freq per lang, surfaced as a rounded
    double with both exact integer terms kept alongside.

    Scale shape: identical to bpe_encode_stats — the corpus collapses to
    a |vocab|-sized frequency table once, every merge round runs over
    that table with a broadcast 1-row argmax; the lang key multiplies
    vocab rows by ≤|langs|, never re-scanning the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select("lang", F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "lang",
            F.concat(
                F.lit("  "),
                F.array_join(F.split(F.col("word"), ""), "  "),
                F.lit("  "),
            ).alias("w"),
            "freq",
        )
        .localCheckpoint(eager=False)
    )
    for _ in range(BPE_MERGES):
        syms = words.select("freq", F.split(F.trim(F.col("w")), "  ").alias("s"))
        pairs = syms.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(slice(s, 1, size(s) - 1),"
                    " (x, i) -> struct(x AS a, s[i + 1] AS b))"
                )
            ).alias("p"),
        ).groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
            F.sum("freq").alias("cnt")
        )
        best = _best_pair(pairs).select("a", "b")
        words = (
            words.crossJoin(F.broadcast(best))
            .select(
                "lang",
                F.expr(
                    "replace(w, ' ' || a || '  ' || b || ' ', ' ' || a || b || ' ')"
                ).alias("w"),
                "freq",
            )
            .localCheckpoint(eager=False)
        )
    return (
        words.select(
            "lang", "freq", F.size(F.split(F.trim(F.col("w")), "  ")).alias("n_sub")
        )
        .groupBy("lang")
        .agg(
            F.sum("freq").alias("n_words"),
            F.sum(F.col("freq") * F.col("n_sub")).alias("n_subwords"),
        )
        .select(
            "lang",
            "n_words",
            "n_subwords",
            F.round(F.col("n_subwords") / F.col("n_words"), 6).alias("fertility"),
        )
        .orderBy("lang")
    )


def _bpe_fertility_sql() -> str:
    parts = [
        """WITH words0 AS (
  SELECT lang,
         '  ' || array_to_string(string_split(word, ''), '  ') || '  ' AS w,
         COUNT(*) AS freq
  FROM (
    SELECT lang, UNNEST(string_split(text, ' ')) AS word FROM documents
  ) t(lang, word)
  WHERE word <> ''
  GROUP BY lang, word
)"""
    ]
    for i in range(1, BPE_MERGES + 1):
        parts.append(
            f""",
pairs{i} AS (
  SELECT s[i] AS a, s[i + 1] AS b, SUM(freq) AS cnt
  FROM (
    SELECT string_split(trim(w), '  ') AS s, freq FROM words{i - 1}
  ), range(1, 1000) r(i)
  WHERE i < len(s)
  GROUP BY s[i], s[i + 1]
),
best{i} AS (
  SELECT a, b FROM (
    SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, a, b) AS rn FROM pairs{i}
  ) WHERE rn = 1
),
words{i} AS (
  SELECT lang,
         replace(w, ' ' || x.a || '  ' || x.b || ' ', ' ' || x.a || x.b || ' ') AS w,
         freq
  FROM words{i - 1} CROSS JOIN best{i} x
)"""
        )
    parts.append(
        f"""
SELECT lang,
       CAST(SUM(freq) AS BIGINT) AS n_words,
       CAST(SUM(freq * n_sub) AS BIGINT) AS n_subwords,
       ROUND(CAST(SUM(freq * n_sub) AS DOUBLE) / SUM(freq), 6) AS fertility
FROM (
  SELECT lang, freq, len(string_split(trim(w), '  ')) AS n_sub FROM words{BPE_MERGES}
)
GROUP BY lang
ORDER BY lang"""
    )
    return "".join(parts)


register(
    QuerySpec(
        "tokenizer_fertility_by_lang",
        tokenizer_fertility_by_lang,
        _bpe_fertility_sql(),
        doc="per-language subwords-per-word fertility of the globally-learned BPE merges",
        cites="training-data ops: multilingual tokenizer quality (fertility); shares the bpe_train_merges recipe",
        tags=("training", "text", "iterative"),
    )
)
