"""Approximate large-scale operators exposed to the driver — WITH oracles.

MinHash/SimHash/LSH/IVF were rows-only in round 1 ("not ANSI-SQL-
expressible"). They are, with two moves:

1. **Portable hash family** (operators.dedup): signatures derive from
   md5 — ``conv(substr(md5(s),1,8),16,10)`` in Spark ≡
   ``('0x'||substr(md5(s),1,8))::BIGINT`` in DuckDB — plus a seeded
   affine family / seeded hyperplanes whose literals are embedded in the
   generated oracle SQL below. Both engines then compute the SAME
   signatures, bands, buckets and candidate pairs independently.
2. **Round-before-rank** (operators.similarity ``score_round``): cosine
   scores are rounded to 4dp BEFORE the top-k window (id tie-break), so
   float ulp differences between the two engines' fold orders cannot
   reorder the result.

The IVF registry query uses the first-``NLIST`` vectors as deterministic
coarse centroids (natural init) so the oracle can reproduce cell
assignment; the k-means training path stays covered by
tests/test_operators.py recall tests.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from analytics_data_platform_spark.operators import dedup, similarity
from analytics_data_platform_spark.queries import QuerySpec, register
from analytics_data_platform_spark.sources.testdata import load_table

# ---- shared SQL fragments -------------------------------------------------

# mirrors functions.text.normalized_text
_NORM_TOKS = (
    r"list_filter(string_split(trim(regexp_replace(regexp_replace(lower(text),"
    r" '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')), ' '), t -> t <> '')"
)

# mirrors functions.vectors.cosine (dot / (norm * norm), doubles)
def _cos_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
        f" / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        f" * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
    )


_H32 = "('0x' || substr(md5({s}), 1, 8))::BIGINT"
_H32B = "('0x' || substr(md5({s}), 9, 8))::BIGINT"


# ---- near_dup_minhash -----------------------------------------------------

_MH_HASHES, _MH_BANDS, _MH_SEED = 32, 16, 42


def near_dup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates (portable md5-affine family) verified by
    exact Jaccard ≥ 0.5. Same banding topology as the xxhash64 production
    path; the hash family is engine-portable so the DuckDB oracle
    recomputes the identical candidate set from scratch."""
    d = load_table(spark, sf_dir, "documents")
    cands = dedup.minhash_lsh_candidates_portable(
        d, num_hashes=_MH_HASHES, bands=_MH_BANDS, seed=_MH_SEED
    )
    return (
        dedup.exact_jaccard_pairs(d, cands)
        .where(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def _minhash_sql(pair_predicate: str = "TRUE") -> str:
    a, b = dedup.affine_params(_MH_HASHES, _MH_SEED)
    r = _MH_HASHES // _MH_BANDS
    mins = ",\n         ".join(
        f"list_min(list_transform(h, x -> ({a[i]} * x + {b[i]}) % {dedup.MERSENNE_P})) AS m{i}"
        for i in range(_MH_HASHES)
    )
    buckets = ", ".join(
        "concat_ws(',', {0}, {1})".format(
            bnd, ", ".join(f"m{bnd * r + j}" for j in range(r))
        )
        for bnd in range(_MH_BANDS)
    )
    return f"""
WITH norm AS (SELECT doc_id, {_NORM_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_distinct(list_transform(range(1, len(toks) - 1),
                                                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
              ELSE [] END AS sh
  FROM norm
),
hs AS (SELECT doc_id, list_transform(sh, s -> {_H32.format(s='s')}) AS h
       FROM sh WHERE len(sh) > 0),
sig AS (SELECT doc_id,
         {mins}
        FROM hs),
banded AS (SELECT doc_id, UNNEST([{buckets}]) AS bucket FROM sig),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(len(list_intersect(sa.sh, sb.sh)) * 1.0
             / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4) AS jaccard
FROM cand
JOIN sh sa ON sa.doc_id = id_a
JOIN sh sb ON sb.doc_id = id_b
WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0
      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.5
  AND ({pair_predicate})
"""


register(
    QuerySpec(
        "near_dup_minhash",
        near_dup_minhash,
        _minhash_sql(),
        doc="MinHash-LSH near-dup candidates + exact-Jaccard verification (portable family)",
        cites="training-data ops: MinHash+LSH dedup (shingle→minhash→band→bucket-join)",
        tags=("dedup", "approx"),
    )
)


# ---- incremental_minhash_dedup -------------------------------------------

_NEW_MOD = 5  # docs with doc_id % 5 == 4 play the "incoming batch"


def incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs for an INCOMING batch against a persisted LSH index.

    The production incremental-ingest shape: the corpus's band rows
    (dedup.minhash_band_rows) are a bucket-keyed index table written once;
    each new batch shingles/hashes ONLY its own documents and equi-joins
    the index, so daily dedup cost scales with the batch, not the corpus.
    Here docs with doc_id % 5 == 4 play the new batch; emitted pairs are
    exactly the full batch run's pairs that touch a new document (the
    equivalence is pinned by tests/test_operators.py)."""
    d = load_table(spark, sf_dir, "documents")
    is_new = (F.col("doc_id") % _NEW_MOD) == (_NEW_MOD - 1)
    kw = dict(num_hashes=_MH_HASHES, bands=_MH_BANDS, seed=_MH_SEED)
    index_rows = dedup.minhash_band_rows(d.where(~is_new), **kw)
    new_rows = dedup.minhash_band_rows(d.where(is_new), **kw)
    cands = dedup.incremental_minhash_candidates(index_rows, new_rows)
    return (
        dedup.exact_jaccard_pairs(d, cands)
        .where(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


register(
    QuerySpec(
        "incremental_minhash_dedup",
        incremental_minhash_dedup,
        _minhash_sql(
            f"(id_a % {_NEW_MOD} = {_NEW_MOD - 1} OR id_b % {_NEW_MOD} = {_NEW_MOD - 1})"
        ),
        doc="incremental MinHash dedup: new batch vs persisted band index",
        cites="training-data ops: incremental corpus dedup (index join, no re-LSH)",
        tags=("dedup", "approx", "incremental"),
    )
)


# ---- simhash_near_dups ----------------------------------------------------


def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sigs = dedup.simhash_signatures_portable(d)
    return dedup.simhash_near_pairs_portable(sigs, max_hamming=3)


def _simhash_sql() -> str:
    def half(src: str) -> str:
        terms = " + ".join(
            f"CASE WHEN COALESCE(list_sum(list_transform({src}, "
            f"h -> CASE WHEN (h & {1 << j}) <> 0 THEN 1 ELSE -1 END)), 0) > 0 "
            f"THEN {1 << j} ELSE 0 END"
            for j in range(32)
        )
        return f"CAST({terms} AS BIGINT)"

    return f"""
WITH norm AS (SELECT doc_id, {_NORM_TOKS} AS toks FROM documents),
hs AS (SELECT doc_id,
        list_transform(toks, t -> {_H32.format(s='t')}) AS h1,
        list_transform(toks, t -> {_H32B.format(s='t')}) AS h2
       FROM norm),
sig AS (SELECT doc_id, {half('h1')} AS sim_lo, {half('h2')} AS sim_hi FROM hs),
banded AS (
  SELECT doc_id, sim_lo, sim_hi, UNNEST([
    concat_ws(',', 0, sim_lo & 65535),
    concat_ws(',', 1, (sim_lo >> 16) & 65535),
    concat_ws(',', 2, sim_hi & 65535),
    concat_ws(',', 3, (sim_hi >> 16) & 65535)]) AS bucket
  FROM sig
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sim_lo AS lo_a, a.sim_hi AS hi_a, b.sim_lo AS lo_b, b.sim_hi AS hi_b
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS BIGINT) AS hamming
FROM pairs
WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 3
"""


register(
    QuerySpec(
        "simhash_near_dups",
        simhash_near_dups,
        _simhash_sql(),
        doc="SimHash 2×32-bit near-dup pairs via 16-bit banding (portable, pure-JVM)",
        cites="training-data ops: SimHash dedup",
        tags=("dedup", "approx"),
    )
)


# ---- ann_lsh_topk ---------------------------------------------------------

_LSH_BITS, _LSH_DIM, _LSH_SEED = 8, 64, 42


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (the scale path of ann_cosine_topk).
    Scores rounded to 4dp before ranking → oracle-stable ordering."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    out = similarity.lsh_topk(
        e, q, k=10, n_bits=_LSH_BITS, dim=_LSH_DIM, seed=_LSH_SEED, score_round=4
    )
    return out.select("q_id", "vec_id", "cos_sim", "rank")


def _lsh_sql() -> str:
    planes = similarity._hyperplanes(_LSH_DIM, _LSH_BITS, _LSH_SEED)

    def sig(vec: str) -> str:
        bits = []
        for p in planes:
            lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
            bits.append(
                f"CASE WHEN list_sum(list_transform(list_zip({vec}, {lit}), "
                f"x -> CAST(x[1] AS DOUBLE) * x[2])) >= 0 THEN '1' ELSE '0' END"
            )
        return " || ".join(bits)

    return f"""
WITH sigs AS (SELECT vec_id, embedding, {sig('embedding')} AS sig FROM embeddings),
q AS (SELECT vec_id AS q_id, embedding AS q_emb, sig AS qsig FROM sigs WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, c.vec_id, ROUND({_cos_sql('q.q_emb', 'c.embedding')}, 4) AS cos_sim
  FROM sigs c JOIN q ON c.sig = q.qsig AND c.vec_id <> q.q_id
)
SELECT q_id, vec_id, cos_sim, rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM scored)
WHERE rank <= 10
"""


register(
    QuerySpec(
        "ann_lsh_topk",
        ann_lsh_topk,
        _lsh_sql(),
        doc="random-hyperplane LSH approximate top-k",
        cites="training-data ops: similarity search scale path",
        tags=("vector", "approx"),
    )
)


# ---- ann_ivf_topk ---------------------------------------------------------

_IVF_NLIST, _IVF_NPROBE = 8, 4


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k with deterministic natural-init centroids
    (the first NLIST vectors), nprobe=4 — the oracle reproduces cell
    assignment exactly; k-means-trained centroids are exercised by the
    operator tests instead."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    rows = (
        e.where(F.col("vec_id") < _IVF_NLIST).orderBy("vec_id").select("embedding").collect()
    )
    cents = [[float(x) for x in r["embedding"]] for r in rows]
    out = similarity.ivf_topk(e, q, cents, k=10, nprobe=_IVF_NPROBE, score_round=4)
    return out.select("q_id", "vec_id", "cos_sim", "rank")


def _ivf_sql() -> str:
    dist = (
        "list_sum(list_transform(list_zip(e.embedding, c.cemb), "
        "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))"
        " * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))"
    )
    return f"""
WITH c AS (SELECT vec_id AS cell, embedding AS cemb FROM embeddings WHERE vec_id < {_IVF_NLIST}),
d AS (
  SELECT e.vec_id, e.embedding, c.cell, {dist} AS dist
  FROM embeddings e CROSS JOIN c
),
assign AS (
  SELECT vec_id, embedding, cell
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS rn FROM d)
  WHERE rn = 1
),
qc AS (
  SELECT vec_id AS q_id, embedding AS q_emb, cell AS qcell
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS rn
        FROM d WHERE vec_id < 5)
  WHERE rn <= {_IVF_NPROBE}
),
scored AS (
  SELECT qc.q_id, a.vec_id, ROUND({_cos_sql('qc.q_emb', 'a.embedding')}, 4) AS cos_sim
  FROM assign a JOIN qc ON a.cell = qc.qcell AND a.vec_id <> qc.q_id
)
SELECT q_id, vec_id, cos_sim, rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM scored)
WHERE rank <= 10
"""


register(
    QuerySpec(
        "ann_ivf_topk",
        ann_ivf_topk,
        _ivf_sql(),
        doc="IVF coarse-quantized approximate top-k (deterministic centroids)",
        cites="training-data ops: similarity search (IVF partition-pruned path)",
        tags=("vector", "approx"),
    )
)


class _DirIvfIndex:
    """Minimal io adapter for operators/similarity.py::ivf_table_topk over a
    cell-partitioned parquet DIRECTORY (the temp-dir registry pattern; a
    real deployment passes TableIO and a catalog table instead)."""

    def __init__(self, spark: SparkSession, path: str):
        self._spark = spark
        self._path = path

    def read(self, table: str) -> DataFrame:  # noqa: ARG002 - io protocol
        return self._spark.read.parquet(self._path)


def ivf_index_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ANN index maintenance — the production serving pattern:
    the IVF index is created once on the initial corpus (centroids PINNED
    there), and later embedding batches are ASSIGNED to the existing cells
    and appended as new partition files — no retraining, no re-assignment
    of the resident corpus, no index rebuild.

    Two arrival ticks: the initial corpus (even vec_ids plus the centroid
    ids) is written as a cell-partitioned index; the remaining vectors are
    assigned with the pinned centroids and APPENDED partition-wise. The
    serving join (operators/similarity.py::ivf_table_topk) then probes
    nprobe cells per query with dynamic partition pruning.

    Because assignment is a per-row pure function of (vector, pinned
    centroids) and the centroid vectors are the same rows the one-shot
    formulation picks, the incremental index provably equals the one-shot
    build — so the oracle IS ann_ivf_topk's SQL. A stale cell file, a
    batch assigned against drifted centroids, or an append that re-wrote
    resident partitions hash-diverges.

    Scale shape per tick: one broadcast fan-out of NLIST centroid
    literals over the new batch only, then a partition-aligned append —
    O(batch), corpus never rescanned. Reference analogue: the incremental
    append machinery of elt-common/src/elt_common/runner.py:67-107.
    """
    import shutil as _shutil
    import tempfile as _tempfile

    e = load_table(spark, sf_dir, "embeddings")
    rows = (
        e.where(F.col("vec_id") < _IVF_NLIST).orderBy("vec_id").select("embedding").collect()
    )
    cents = [[float(x) for x in r["embedding"]] for r in rows]

    idx_dir = _tempfile.mkdtemp(prefix="adps-ivf-incr-")
    try:
        cell = similarity.assign_centroid_col("embedding", cents).cast("int")
        # tick 0: initial corpus -> index creation (centroid ids live here)
        tick0 = e.where((F.col("vec_id") % 2 == 0) | (F.col("vec_id") < _IVF_NLIST))
        tick0.withColumn("_cell", cell).write.partitionBy("_cell").mode(
            "overwrite"
        ).parquet(idx_dir)
        # tick 1: new batch -> assign with PINNED centroids, append
        tick1 = e.where((F.col("vec_id") % 2 == 1) & (F.col("vec_id") >= _IVF_NLIST))
        tick1.withColumn("_cell", cell).write.partitionBy("_cell").mode(
            "append"
        ).parquet(idx_dir)

        q = e.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
        )
        out = similarity.ivf_table_topk(
            _DirIvfIndex(spark, idx_dir),
            "ivf_index",
            q,
            cents,
            k=10,
            nprobe=_IVF_NPROBE,
            score_round=4,
        ).select("q_id", "vec_id", "cos_sim", "rank")
        res = out.collect()  # bounded: 5 queries x 10
        schema = out.schema
    finally:
        _shutil.rmtree(idx_dir, ignore_errors=True)
    return spark.createDataFrame(res, schema)


def _ivf_incremental_internal(spark, sf_dir):
    """The per-tick plan the materialized result hides from the ledger:
    pinned-centroid assignment of the NEW batch (broadcast literal fan-out
    over the batch only — zero shuffles is the CORRECT count here; the
    write is partition-aligned). The serving probe's dynamic-partition-
    pruning plan is separately guarded by tests/test_ivf_incremental.py."""
    e = load_table(spark, sf_dir, "embeddings")
    rows = (
        e.where(F.col("vec_id") < _IVF_NLIST)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    cents = [[float(x) for x in r["embedding"]] for r in rows]
    cell = similarity.assign_centroid_col("embedding", cents).cast("int")
    tick1 = e.where((F.col("vec_id") % 2 == 1) & (F.col("vec_id") >= _IVF_NLIST))
    return [("assign_batch", tick1.withColumn("_cell", cell))]


register(
    QuerySpec(
        "ivf_index_incremental_topk",
        ivf_index_incremental_topk,
        _ivf_sql(),
        doc="incremental IVF index maintenance: pinned-centroid batch assignment + partition-wise append; provably equals the one-shot build (oracle = ann_ivf_topk SQL)",
        cites="operators/similarity.py ivf_table_topk; ref elt-common/src/elt_common/runner.py:67-107 incremental append machinery",
        tags=("vector", "approx", "incremental", "scale", "multi_tick"),
        internal_plan=_ivf_incremental_internal,
    )
)


# ---- embedding_near_dups --------------------------------------------------

# 8 bits/band = 256 buckets per band: with 4 bits (16 buckets) a random
# pair matched some band with prob ~0.40 — effectively the all-pairs scan
# the banding exists to avoid (at sf0.1 the query ran 45 s; worse with n).
# At 8 bits a random pair matches ~0.4%, while true near-dups
# (cos ≥ 0.9, per-bit agreement ~0.86) still collide with P ≈ 0.99.
_ND_BANDS, _ND_BITS, _ND_SEED, _ND_THRESHOLD = 8, 8, 7, 0.4


def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: banded-LSH candidates
    (any-band match, OR-construction) verified by exact cosine ≥ 0.4.
    The oracle recomputes candidates from the same seeded hyperplanes, so
    both engines derive identical pair sets independently."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_near_dup_pairs(
        e,
        threshold=_ND_THRESHOLD,
        n_bands=_ND_BANDS,
        bits_per_band=_ND_BITS,
        dim=64,
        seed=_ND_SEED,
        score_round=4,
    )


def _near_dup_sql() -> str:
    planes = similarity._hyperplanes(64, _ND_BANDS * _ND_BITS, _ND_SEED)

    def bit(vec: str, p: list[float]) -> str:
        lit = "[" + ", ".join(repr(float(x)) for x in p) + "]"
        return (
            f"CASE WHEN list_sum(list_transform(list_zip({vec}, {lit}), "
            f"x -> CAST(x[1] AS DOUBLE) * x[2])) >= 0 THEN '1' ELSE '0' END"
        )

    bands = ", ".join(
        "concat_ws(',', '{0}', {1})".format(
            b, " || ".join(bit("embedding", p) for p in planes[b * _ND_BITS : (b + 1) * _ND_BITS])
        )
        for b in range(_ND_BANDS)
    )
    return f"""
WITH banded AS (
  SELECT vec_id, UNNEST([{bands}]) AS bucket FROM embeddings
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, ROUND({_cos_sql('ea.embedding', 'eb.embedding')}, 4) AS cos_sim
FROM cand
JOIN embeddings ea ON ea.vec_id = id_a
JOIN embeddings eb ON eb.vec_id = id_b
WHERE ROUND({_cos_sql('ea.embedding', 'eb.embedding')}, 4) >= {_ND_THRESHOLD}
"""


register(
    QuerySpec(
        "embedding_near_dups",
        embedding_near_dups,
        _near_dup_sql(),
        doc="embedding-cosine near-dup pairs (banded LSH candidates + exact verify)",
        cites="training-data ops: embedding-cosine near-dup dedup",
        tags=("dedup", "vector", "approx"),
    )
)


# ---- setsim_jaccard_join --------------------------------------------------

_SS_THRESHOLD = 0.6


def setsim_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shingle-Jaccard similarity self-join (>= 0.6) via prefix
    filtering (PPJoin family) — the deterministic, no-false-negative
    complement to the MinHash path: candidates only from rare prefix
    tokens, never an all-pairs stage. The oracle brute-forces all pairs
    (viable only at oracle scale), so this row PROVES the pruned join
    returns exactly the all-pairs answer."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.setsim_join_prefix(d, threshold=_SS_THRESHOLD, shingle_k=3).select(
        "id_a", "id_b", "jaccard"
    )


SETSIM_SQL = f"""
WITH norm AS (SELECT doc_id, {_NORM_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_distinct(list_transform(range(1, len(toks) - 1),
                                                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
              ELSE [] END AS sh
  FROM norm
),
ne AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         ROUND(len(list_intersect(a.sh, b.sh)) * 1.0
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
  FROM ne a JOIN ne b ON a.doc_id < b.doc_id
)
WHERE jaccard >= {_SS_THRESHOLD}
"""

register(
    QuerySpec(
        "setsim_jaccard_join",
        setsim_jaccard_join,
        SETSIM_SQL,
        doc="exact set-similarity join via prefix filtering vs an all-pairs oracle",
        cites="operators/dedup.py setsim_join_prefix (PPJoin, Xiao et al.)",
        tags=("dedup", "join"),
    )
)


# ---- end-to-end corpus canonicalization ------------------------------------


def dedup_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup dedup pipeline as ONE query: MinHash-LSH
    candidates → exact-Jaccard verify (≥ 0.5) → large-star/small-star
    connected components → canonical doc per cluster (minimum doc_id),
    with the byte savings a dedup pass would realize.

    This is the end-to-end contract the individual registry rows
    (near_dup_minhash, connected_components) verify piecewise; the oracle
    rebuilds the identical pair set from scratch and closes it with a
    recursive transitive closure. Scale: pairs come from the banded
    equi-join (never all-pairs), CC is O(|E| log n) rounds — the closure
    shape exists only on the oracle side.
    """
    from analytics_data_platform_spark.operators.dedup import cluster_duplicates_star

    pairs = near_dup_minhash(spark, sf_dir).select("id_a", "id_b")
    cc = cluster_duplicates_star(pairs, a_col="id_a", b_col="id_b")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    joined = cc.join(d, "doc_id")
    return joined.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - 1).alias("n_dropped"),
        F.sum(
            F.when(F.col("doc_id") != F.col("cluster_id"), F.col("n_chars")).otherwise(
                F.lit(0)
            )
        ).alias("chars_dropped"),
    ).select(
        F.col("cluster_id").alias("canonical_doc"), "n_docs", "n_dropped", "chars_dropped"
    )


def _canonical_sql() -> str:
    from analytics_data_platform_spark.queries import REGISTRY

    pair_sql = REGISTRY["near_dup_minhash"].oracle
    return f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({pair_sql}) q
),
cedges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(a, b) AS (
  SELECT src AS a, src AS b FROM cedges
  UNION
  SELECT r.a, e.dst AS b FROM reach r JOIN cedges e ON r.b = e.src
),
cc AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a)
SELECT cc.cluster_id AS canonical_doc,
       COUNT(*) AS n_docs,
       COUNT(*) - 1 AS n_dropped,
       CAST(SUM(CASE WHEN cc.doc_id != cc.cluster_id THEN d.n_chars ELSE 0 END) AS BIGINT)
         AS chars_dropped
FROM cc JOIN documents d ON cc.doc_id = d.doc_id
GROUP BY 1
"""


register(
    QuerySpec(
        "dedup_canonical_corpus",
        dedup_canonical_corpus,
        _canonical_sql(),
        doc="end-to-end near-dup dedup: LSH candidates -> Jaccard verify -> star CC -> canonical pick",
        cites="operators/dedup.py minhash_lsh_candidates_portable + cluster_duplicates_star",
        tags=("dedup", "graph", "scale"),
    )
)


# ---- MinHash estimator calibration -----------------------------------------


def minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration of the MinHash Jaccard ESTIMATOR against ground truth:
    for every LSH candidate pair, bucket by the number of agreeing
    signature components (estimate = k/32) and compare with the exact
    shingle-set Jaccard — pooled (Σ∩ / Σ∪) plus the min/max pair values
    per bucket. A well-behaved estimator puts pooled-exact ≈ k/32 in
    every bucket; drift tells you the shingle distribution violates the
    permutation-uniformity assumption. Aggregates are chosen to stay
    deterministic: pooled ratios come from exact integer sums and min/max
    are order-free — a float mean of ratios would reassociate."""
    d = load_table(spark, sf_dir, "documents")
    cands = dedup.minhash_lsh_candidates_portable(
        d, num_hashes=_MH_HASHES, bands=_MH_BANDS, seed=_MH_SEED
    )
    sigs = d.select(
        "doc_id",
        dedup.minhash_signature_portable(
            dedup.shingle_tokens("text"), _MH_HASHES, _MH_SEED
        ).alias("sig"),
    ).where(F.col("sig").isNotNull())
    sh = d.select("doc_id", dedup.shingle_tokens("text").alias("sh"))
    j = (
        cands.join(sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sa")), "id_a")
        .join(sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sb")), "id_b")
        .join(sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("ha")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("hb")), "id_b")
        .select(
            F.expr(
                "aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1, 0)), 0, (a, v) -> a + v)"
            ).alias("n_match"),
            F.size(F.array_intersect("ha", "hb")).cast("bigint").alias("inter"),
            (
                F.size("ha") + F.size("hb") - F.size(F.array_intersect("ha", "hb"))
            ).cast("bigint").alias("uni"),
        )
    )
    return (
        j.groupBy("n_match")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("inter").alias("si"),
            F.sum("uni").alias("su"),
            F.min(F.col("inter").cast("double") / F.col("uni")).alias("mn"),
            F.max(F.col("inter").cast("double") / F.col("uni")).alias("mx"),
        )
        .selectExpr(
            "n_match",
            "n_pairs",
            f"round(CAST(n_match AS DOUBLE) / {_MH_HASHES}, 4) AS est_jaccard",
            "round(CAST(si AS DOUBLE) / su, 4) AS pooled_exact",
            "round(mn, 4) AS min_exact",
            "round(mx, 4) AS max_exact",
        )
        .orderBy("n_match")
    )


def _minhash_calibration_sql() -> str:
    a, b = dedup.affine_params(_MH_HASHES, _MH_SEED)
    r = _MH_HASHES // _MH_BANDS
    mins = ",\n         ".join(
        f"list_min(list_transform(h, x -> ({a[i]} * x + {b[i]}) % {dedup.MERSENNE_P})) AS m{i}"
        for i in range(_MH_HASHES)
    )
    buckets = ", ".join(
        "concat_ws(',', {0}, {1})".format(
            bnd, ", ".join(f"m{bnd * r + j}" for j in range(r))
        )
        for bnd in range(_MH_BANDS)
    )
    agree = " + ".join(
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(_MH_HASHES)
    )
    return f"""
WITH norm AS (SELECT doc_id, {_NORM_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3
              THEN list_distinct(list_transform(range(1, len(toks) - 1),
                                                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
              ELSE [] END AS sh
  FROM norm
),
hs AS (SELECT doc_id, list_transform(sh, s -> {_H32.format(s='s')}) AS h
       FROM sh WHERE len(sh) > 0),
sig AS (SELECT doc_id,
         {mins}
        FROM hs),
banded AS (SELECT doc_id, UNNEST([{buckets}]) AS bucket FROM sig),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
j AS (
  SELECT ({agree}) AS n_match,
         CAST(len(list_intersect(ha.sh, hb.sh)) AS BIGINT) AS inter,
         CAST(len(ha.sh) + len(hb.sh) - len(list_intersect(ha.sh, hb.sh)) AS BIGINT) AS uni
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b
  JOIN sh ha ON ha.doc_id = c.id_a
  JOIN sh hb ON hb.doc_id = c.id_b
)
SELECT n_match, COUNT(*) AS n_pairs,
       ROUND(CAST(n_match AS DOUBLE) / {_MH_HASHES}, 4) AS est_jaccard,
       ROUND(CAST(CAST(SUM(inter) AS BIGINT) AS DOUBLE) / CAST(SUM(uni) AS BIGINT), 4)
         AS pooled_exact,
       ROUND(MIN(CAST(inter AS DOUBLE) / uni), 4) AS min_exact,
       ROUND(MAX(CAST(inter AS DOUBLE) / uni), 4) AS max_exact
FROM j GROUP BY 1 ORDER BY 1
"""


register(
    QuerySpec(
        "minhash_calibration",
        minhash_calibration,
        _minhash_calibration_sql(),
        doc="MinHash estimator calibration: signature-agreement buckets vs exact Jaccard (pooled + extremes)",
        cites="self-evaluation family with ann_recall_at_10; dedup.minhash_signature_portable",
        tags=("dedup", "eval", "approx"),
    )
)


# --- entity resolution: blocked record linkage with known ground truth -----

_RL_CLONE_OFFSET = 10_000_000
_RL_THRESHOLD = 6.0


def record_linkage_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end, self-evaluating: every 7th customer
    gets a synthetic duplicate (name truncated by one char, balance
    +0.01), then blocking → field-similarity scoring → threshold
    matching runs WITHOUT knowing which rows are clones, and the known
    ground truth scores the result (pairs found / precision / recall).

    Blocking key = (nationkey, digits 1-7 of the name tail): selectivity
    grows with the key space, so block sizes — and the per-block pair
    quadratic — stay bounded as the table grows; the score is a
    Fellegi-Sunter-style weighted agreement (Levenshtein name similarity,
    segment equality, balance-within-2-units on integer cents)."""
    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nat"), F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
    )
    clones = base.where(F.col("id") % 7 == 0).select(
        (F.col("id") + _RL_CLONE_OFFSET).alias("id"),
        F.expr("substring(name, 1, length(name) - 1)").alias("name"),
        "nat", "seg", (F.col("cents") + 1).alias("cents"),
    )
    dirty = base.unionByName(clones).withColumn(
        "blk", F.concat(F.col("nat").cast("string"), F.lit("|"), F.expr("substring(name, 10, 7)"))
    )
    a, b = dirty.alias("a"), dirty.alias("b")
    cand = a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
    name_sim = F.lit(1.0) - F.levenshtein(F.col("a.name"), F.col("b.name")) / F.greatest(
        F.length("a.name"), F.length("b.name")
    )
    score = (
        F.lit(4.0) * name_sim
        + F.lit(2.0) * (F.col("a.seg") == F.col("b.seg")).cast("double")
        + F.lit(1.0) * (F.abs(F.col("a.cents") - F.col("b.cents")) <= 200).cast("double")
    )
    scored = cand.select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), score.alias("score"),
        (F.col("b.id") - F.col("a.id") == _RL_CLONE_OFFSET).cast("bigint").alias("is_true"),
    )
    matches = scored.where(F.col("score") >= _RL_THRESHOLD)
    truth_n = clones.count()  # bounded metadata count for the report denominator
    return matches.agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.sum("is_true").alias("true_found"),
        F.sum(1 - F.col("is_true")).alias("false_matches"),
        F.lit(truth_n).alias("n_true_pairs"),
        F.round(F.sum("is_true") / F.count(F.lit(1)), 4).alias("precision"),
        F.round(F.sum("is_true") / F.lit(float(truth_n)), 4).alias("recall"),
    )


RL_SQL = f"""
WITH base AS (
  SELECT c_custkey AS id, c_name AS name, c_nationkey AS nat, c_mktsegment AS seg,
         CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
),
clones AS (
  SELECT id + {_RL_CLONE_OFFSET} AS id, substr(name, 1, length(name) - 1) AS name,
         nat, seg, cents + 1 AS cents
  FROM base WHERE id % 7 = 0
),
dirty AS (
  SELECT *, CAST(nat AS VARCHAR) || '|' || substr(name, 10, 7) AS blk
  FROM (SELECT * FROM base UNION ALL SELECT * FROM clones)
),
cand AS (
  SELECT a.id AS id_a, b.id AS id_b,
         4.0 * (1.0 - levenshtein(a.name, b.name)
                / CAST(GREATEST(length(a.name), length(b.name)) AS DOUBLE))
         + 2.0 * CASE WHEN a.seg = b.seg THEN 1.0 ELSE 0.0 END
         + 1.0 * CASE WHEN ABS(a.cents - b.cents) <= 200 THEN 1.0 ELSE 0.0 END AS score,
         CASE WHEN b.id - a.id = {_RL_CLONE_OFFSET} THEN 1 ELSE 0 END AS is_true
  FROM dirty a JOIN dirty b ON a.blk = b.blk AND a.id < b.id
),
matches AS (SELECT * FROM cand WHERE score >= {_RL_THRESHOLD})
SELECT COUNT(*) AS n_matches,
       CAST(SUM(is_true) AS BIGINT) AS true_found,
       CAST(SUM(1 - is_true) AS BIGINT) AS false_matches,
       (SELECT COUNT(*) FROM clones) AS n_true_pairs,
       ROUND(SUM(is_true) / CAST(COUNT(*) AS DOUBLE), 4) AS precision,
       ROUND(SUM(is_true) / CAST((SELECT COUNT(*) FROM clones) AS DOUBLE), 4) AS recall
FROM matches
"""

register(
    QuerySpec(
        "record_linkage_blocked",
        record_linkage_blocked,
        RL_SQL,
        doc="entity resolution: blocking + weighted field scoring, precision/recall vs planted truth",
        cites="dedup/linkage family; self-evaluating like ann_recall_at_10",
        tags=("dedup", "join", "scale"),
    )
)


# ---- leakage-safe train/val/test split -------------------------------------


LEAK_SALT = "leak-42:"


def leak_split_of(key_col):
    """train/val/test (90/5/5) by salted md5 of a key — the SINGLE split
    rule shared by leakage_safe_split and pipelines/training_corpus.py."""
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(LEAK_SALT), key_col.cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    return F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split: assign each document's whole
    near-duplicate CLUSTER to one split, so a test document can never
    have a train-set near-copy (the eval-contamination failure mode of
    naive per-doc splitting — Lee et al. 2022 measured inflated eval
    scores from exactly this leak).

    Composition: LSH candidate pairs → exact-Jaccard verify →
    large-star/small-star CC (all existing registry operators) → split by
    md5 of the cluster REPRESENTATIVE (singletons: the doc itself), the
    same salted-hash rule as train_val_test_split, so membership stays a
    pure function of content relationships and adding docs never
    reshuffles existing assignments.

    Output: per-split sizes plus two global audit columns —
    ``leaked_pairs_grouped`` (near-dup pairs straddling splits under THIS
    split; provably 0 because both endpoints hash the same rep) and
    ``leaked_pairs_naive`` (what the per-doc split would have leaked).
    Scale: the corpus itself never shuffles for assignment (a narrow
    projection); only the dedup graph (pairs ≪ docs) joins back.
    """
    # pairs feed BOTH the CC build and the leak audit — materialize the
    # LSH+verify pipeline once (cluster_duplicates_star's own input
    # checkpoint then copies these blocks); cc is pair-node-sized (≪
    # corpus) and referenced three times below, so it materializes too
    pairs = (
        near_dup_minhash(spark, sf_dir)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    cc = dedup.cluster_duplicates_star(pairs, a_col="id_a", b_col="id_b")
    cc = cc.localCheckpoint(eager=False)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    rep = d.join(cc, "doc_id", "left").select(
        "doc_id",
        "n_chars",
        F.coalesce("cluster_id", F.col("doc_id")).alias("rep"),
    )

    assigned = rep.select(
        "doc_id",
        "n_chars",
        "rep",
        leak_split_of(F.col("rep")).alias("split"),
    )
    # the leak audit touches only PAIR ENDPOINTS, and every endpoint is in
    # cc by construction (CC covers exactly the edge-touched nodes, and
    # its rep equals assigned's coalesce for them) — so both audit joins
    # are pair-sized against the tiny cc table; the documents table never
    # enters the leak side. The naive split needs no lookup at all: it is
    # a pure hash of the endpoint id.
    ca = cc.select(
        F.col("doc_id").alias("id_a"),
        leak_split_of(F.col("cluster_id")).alias("split_a"),
    )
    cb = cc.select(
        F.col("doc_id").alias("id_b"),
        leak_split_of(F.col("cluster_id")).alias("split_b"),
    )
    leaks = (
        pairs.join(ca, "id_a")
        .join(cb, "id_b")
        .agg(
            F.sum((F.col("split_a") != F.col("split_b")).cast("bigint")).alias(
                "leaked_pairs_grouped"
            ),
            F.sum(
                (leak_split_of(F.col("id_a")) != leak_split_of(F.col("id_b"))).cast(
                    "bigint"
                )
            ).alias("leaked_pairs_naive"),
        )
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.count_distinct("rep").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leaks))
        .orderBy("split")
    )


def _leakage_split_sql() -> str:
    from analytics_data_platform_spark.queries import REGISTRY

    pair_sql = REGISTRY["near_dup_minhash"].oracle
    split_case = (
        "CASE WHEN ('0x' || substr(md5('leak-42:' || CAST({k} AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'train' "
        "WHEN ('0x' || substr(md5('leak-42:' || CAST({k} AS VARCHAR)), 1, 8))::BIGINT % 100 < 95 THEN 'val' "
        "ELSE 'test' END"
    )
    return f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({pair_sql}) q
),
cedges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(a, b) AS (
  SELECT src AS a, src AS b FROM cedges
  UNION
  SELECT r.a, e.dst AS b FROM reach r JOIN cedges e ON r.b = e.src
),
cc AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
assigned AS (
  SELECT d.doc_id, d.n_chars,
         COALESCE(cc.cluster_id, d.doc_id) AS rep,
         {split_case.format(k="COALESCE(cc.cluster_id, d.doc_id)")} AS split,
         {split_case.format(k="d.doc_id")} AS naive_split
  FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
),
leaks AS (
  SELECT CAST(SUM(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS BIGINT)
           AS leaked_pairs_grouped,
         CAST(SUM(CASE WHEN a.naive_split <> b.naive_split THEN 1 ELSE 0 END) AS BIGINT)
           AS leaked_pairs_naive
  FROM pairs p JOIN assigned a ON p.id_a = a.doc_id
               JOIN assigned b ON p.id_b = b.doc_id
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters,
       leaked_pairs_grouped, leaked_pairs_naive
FROM assigned CROSS JOIN leaks
GROUP BY split, leaked_pairs_grouped, leaked_pairs_naive
ORDER BY split
"""


register(
    QuerySpec(
        "leakage_safe_split",
        leakage_safe_split,
        _leakage_split_sql(),
        doc="near-dup-cluster-aware train/val/test split with a contamination audit vs the naive split",
        cites="training-data ops: eval decontamination (Lee et al. 2022); composes near_dup_minhash + star CC",
        tags=("training", "dedup", "sampling", "scale"),
    )
)


def vector_index_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERASURE over the persistent IVF index (operators/vector_index.py):
    the cell-partitioned index is built with the deterministic pinned
    quantizer (first NLIST vectors — the oracle-reproducible rule
    ``ann_ivf_topk`` uses), the vec_id % 5 == 3 vectors are taken down as
    a merge-on-read id sidecar (O(deleted) write — no cell file
    rewritten), and nprobe-pruned serving must equal the in-memory IVF
    formulation over the SURVIVING corpus under the same centroids —
    before AND after ``apply_deletes`` materializes the rewrite behind
    its atomic directory swap.

    The oracle is the ann_ivf_topk SQL with the assignment restricted to
    survivors (queries and the pinned quantizer still come from the full
    table — erasing an indexed vector must not move anyone's cell or the
    probe order): a delete that lingers in some probed cell, a sidecar
    anti-join lost by the swap, or an apply that drops a survivor all
    hash-diverge on the ranked cut.
    """
    import shutil as _shutil
    import tempfile as _tempfile

    from analytics_data_platform_spark.operators.vector_index import VectorIndex

    e = load_table(spark, sf_dir, "embeddings")
    rows = (
        e.where(F.col("vec_id") < _IVF_NLIST).orderBy("vec_id").select("embedding").collect()
    )
    cents = [[float(x) for x in r["embedding"]] for r in rows]
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    root = _tempfile.mkdtemp(prefix="adps-vecidx-erase-")
    try:
        vx = VectorIndex(spark, root, nlist=_IVF_NLIST, nprobe=_IVF_NPROBE)
        vx.build(e, centroids=cents)
        vx.delete_vecs(e.where(F.col("vec_id") % 5 == 3).select("vec_id"))
        served = vx.topk(q, k=10).select("q_id", "vec_id", "cos_sim", "rank")
        schema = served.schema
        out = sorted(tuple(r) for r in served.collect())
        vx.apply_deletes()
        after = sorted(
            tuple(r)
            for r in vx.topk(q, k=10).select("q_id", "vec_id", "cos_sim", "rank").collect()
        )
        assert after == out, "apply_deletes changed the served ranking"
    finally:
        _shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(out, schema)


def _vector_erasure_internal_plans(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    rows = (
        e.where(F.col("vec_id") < _IVF_NLIST).orderBy("vec_id").select("embedding").collect()
    )
    cents = [[float(x) for x in r["embedding"]] for r in rows]
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    survivors = e.where(F.col("vec_id") % 5 != 3)
    return [
        (
            "serve",
            similarity.ivf_topk(
                survivors, q, cents, k=10, nprobe=_IVF_NPROBE, score_round=4
            ).select("q_id", "vec_id", "cos_sim", "rank"),
        )
    ]


def _vector_erasure_sql() -> str:
    sql = _ivf_sql()
    assert sql.count("WHERE rn = 1") == 1, "ann_ivf_topk oracle shape changed"
    return sql.replace("WHERE rn = 1", "WHERE rn = 1 AND vec_id % 5 <> 3")


register(
    QuerySpec(
        "vector_index_erasure",
        vector_index_erasure,
        _vector_erasure_sql(),
        doc="merge-on-read erasure over the cell-partitioned IVF index: pruned serving equals the in-memory IVF over survivors, before and after apply_deletes",
        cites="operators/vector_index.py; GDPR takedown for the ANN serving tier; quantizer stays pinned across erasure",
        tags=("vector", "approx", "scale", "governance", "multi_tick"),
        internal_plan=_vector_erasure_internal_plans,
    )
)
