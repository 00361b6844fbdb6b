"""Similarity search over embedding columns: brute-force baseline,
LSH-bucketed and IVF (coarse-quantized) scale paths.

Scale design (100 TB / billions of vectors):
- brute force: one corpus pass per query batch, broadcast queries,
  TWO-PHASE top-k — per-input-partition local top-k (map-parallel,
  parallelism = #partitions), then a global top-k window whose input is
  bounded by k × numPartitions rows per query. The naive single window
  over all scored candidates funnels the whole corpus for one query
  through one task; the two-phase form never does.
- random-hyperplane LSH: deterministic projection matrix (seeded numpy);
  signature = sign-bit string; probing joins query buckets to corpus
  buckets — only bucket collisions are scored.
- IVF: k-means coarse centroids (seeded); corpus partitioned by nearest
  centroid (nprobe-nearest centroids scanned per query). Centroid
  assignment has two physical strategies:
    * n_centroids ≤ 32 — pure-JVM literal-array argmin (zero Python);
    * larger nlist (Faiss-realistic 1024-65536) — an Arrow-batched
      pandas_udf doing one numpy matmul per batch; the centroid matrix
      travels once per executor in the serialized function (closure
      broadcast), keeping the plan O(1) in n_centroids instead of
      O(n_centroids × dim) literal nodes that blow up the analyzer.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from analytics_data_platform_spark.functions.expr import spread
from analytics_data_platform_spark.functions.vectors import cosine, dot

# literal-argmin plan nodes grow O(n_centroids × dim); past this the
# pandas_udf path is both smaller-plan and faster (one BLAS matmul/batch)
MAX_LITERAL_CENTROIDS = 32


# --- two-phase top-k -------------------------------------------------------


def local_topk(
    scored: DataFrame,
    k: int,
    q_id_col: str = "q_id",
    id_col: str = "vec_id",
    score_col: str = "cos_sim",
) -> DataFrame:
    """Phase 1: top-k per (input partition, query).

    groupBy(spark_partition_id(), q_id) keeps every group inside the map
    task that produced it, so the heavy sort+slice runs with parallelism
    = #input-partitions (not #queries), and at most k rows per
    (partition, query) survive into phase 2.

    The candidate struct leads with the NEGATED score (nulls → +inf) so
    plain ascending ``array_sort`` yields score DESC NULLS LAST, id ASC —
    the exact total order of ``Window.orderBy(desc_nulls_last, asc)`` —
    through codegen'd struct comparison instead of a per-comparison
    interpreted lambda (a comparator HOF here measured ~2× slower on the
    whole query).
    """
    neg = -F.coalesce(F.col(score_col).cast("double"), F.lit(float("-inf")))
    packed = scored.select(
        F.spark_partition_id().alias("_pid"),
        F.col(q_id_col),
        F.struct(
            neg.alias("nscore"),
            F.col(id_col).alias("id"),
            F.col(score_col).alias("score"),
        ).alias("_cand"),
    )
    return (
        packed.groupBy("_pid", q_id_col)
        .agg(F.slice(F.array_sort(F.collect_list("_cand")), 1, k).alias("_top"))
        .select(q_id_col, F.explode("_top").alias("_t"))
        .select(q_id_col, F.col("_t.id").alias(id_col), F.col("_t.score").alias(score_col))
    )


def topk_per_query(
    scored: DataFrame,
    k: int,
    q_id_col: str = "q_id",
    id_col: str = "vec_id",
    score_col: str = "cos_sim",
    rank_col: str = "rank",
) -> DataFrame:
    """Exact top-k per query in two phases.

    Phase 2's window sees ≤ k × numPartitions rows per query — a few KB —
    so the single-task-per-query sort that kills the naive plan at scale
    is over a bounded, tiny input. Result is identical to the one-window
    form (same total order, including tie-breaks).
    """
    pruned = local_topk(scored, k, q_id_col, id_col, score_col)
    w = Window.partitionBy(q_id_col).orderBy(
        F.desc_nulls_last(score_col), F.asc(id_col)
    )
    return pruned.withColumn(rank_col, F.row_number().over(w)).where(F.col(rank_col) <= k)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_emb",
) -> DataFrame:
    """Exact cosine top-k per query. Queries broadcast; corpus streams;
    two-phase top-k keeps parallelism at #partitions."""
    scored = spread(corpus).join(F.broadcast(queries), F.col(id_col) != F.col(q_id_col)).select(
        q_id_col, id_col, cosine(q_vec_col, vec_col).alias("cos_sim")
    )
    return topk_per_query(scored, k, q_id_col, id_col, "cos_sim")


def _hyperplanes(dim: int, n_bits: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_bits, dim).round(6).tolist()


def lsh_signature_col(vec_col: str, planes: list[list[float]]):
    """Sign-bit signature string, e.g. '1011…' — computed with JVM
    higher-order functions against literal plane arrays (n_bits is small,
    so the literal form stays compact; see signature_udf for huge dims)."""
    bits = [
        F.when(dot(F.col(vec_col), F.array(*[F.lit(float(x)) for x in p])) >= 0, "1").otherwise("0")
        for p in planes
    ]
    return F.concat(*bits)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_bits: int = 12,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_emb",
    seed: int = 42,
    score_round: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only same-bucket (equal signature) vectors.

    Recall/cost tradeoff via n_bits (bucket count ≈ 2^n_bits). Multi-probe
    (flipping low-confidence bits) is the standard extension; single-probe
    keeps the plan one equi-join. Final selection is the same two-phase
    top-k as the brute-force path. ``score_round`` rounds cos_sim BEFORE
    ranking (with the id tie-break) so an external oracle computing the
    same rounded score ranks identically despite float ulp differences.
    """
    planes = _hyperplanes(dim, n_bits, seed)
    c = spread(corpus).withColumn("_sig", lsh_signature_col(vec_col, planes))
    q = queries.withColumn("_qsig", lsh_signature_col(q_vec_col, planes))
    score = cosine(q_vec_col, vec_col)
    if score_round is not None:
        score = F.round(score, score_round)
    scored = c.join(
        F.broadcast(q),
        (F.col("_sig") == F.col("_qsig")) & (F.col(id_col) != F.col(q_id_col)),
    ).select(q_id_col, id_col, score.alias("cos_sim"))
    return topk_per_query(scored, k, q_id_col, id_col, "cos_sim")


# --- IVF ------------------------------------------------------------------


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    max_iter: int = 10,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> list[list[float]]:
    """Seeded k-means on the driver over a bounded sample.

    Coarse-quantizer training needs only a corpus sample (Faiss trains IVF
    on ~30-256 vectors/centroid) — sampling keeps driver memory O(sample),
    independent of corpus size.
    """
    if sample_fraction is None:
        vecs = np.array(corpus.select(vec_col).limit(n_centroids * 256).toPandas()[vec_col].tolist())
    else:
        vecs = np.array(
            corpus.select(vec_col).sample(sample_fraction, seed=seed).toPandas()[vec_col].tolist()
        )
    rng = np.random.RandomState(seed)
    cents = vecs[rng.choice(len(vecs), size=min(n_centroids, len(vecs)), replace=False)].astype(
        np.float64
    )
    for _ in range(max_iter):
        d = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cents)):
            members = vecs[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents.round(6).tolist()


def assign_centroid_col(vec_col: str, centroids: list[list[float]]):
    """argmin over literal centroid array — pure JVM expression.

    Plan size is O(n_centroids × dim) literal nodes: right choice up to
    ~32 centroids (zero Python boundary), analyzer blowup past that — the
    caller switches to :func:`assign_centroid_udf` above
    ``MAX_LITERAL_CENTROIDS``.
    """
    dists = [
        F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(float(x)) for x in c]),
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for c in centroids
    ]
    arr = F.array(*dists)
    return F.array_position(arr, F.array_min(arr)) - 1


def assign_centroid_udf(centroids: list[list[float]]):
    """Vectorized nearest-centroid assignment for realistic nlist.

    One numpy matmul per Arrow batch: argmin ‖v−c‖² = argmin(‖c‖² − 2v·c).
    The (nlist × dim) centroid matrix ships once per executor inside the
    serialized function — the plan itself stays O(1) regardless of nlist.
    Distances computed in float64; first-min-index tie-break matches the
    literal path's array_position semantics.
    """
    cents = np.asarray(centroids, dtype=np.float64)
    cn = (cents**2).sum(axis=1)

    @F.pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        m = np.asarray(vecs.tolist(), dtype=np.float64)
        d = cn[None, :] - 2.0 * (m @ cents.T)
        return pd.Series(d.argmin(axis=1).astype("int32"))

    return _assign


def nprobe_cells_udf(centroids: list[list[float]], nprobe: int):
    """Per-query nprobe nearest cells (array<int>), vectorized like
    :func:`assign_centroid_udf`; stable argsort ties by cell index asc —
    the same order as the literal struct-sort path."""
    cents = np.asarray(centroids, dtype=np.float64)
    cn = (cents**2).sum(axis=1)
    n = min(nprobe, len(centroids))

    @F.pandas_udf("array<int>")
    def _cells(vecs: pd.Series) -> pd.Series:
        m = np.asarray(vecs.tolist(), dtype=np.float64)
        d = cn[None, :] - 2.0 * (m @ cents.T)
        idx = np.argsort(d, axis=1, kind="stable")[:, :n].astype("int32")
        return pd.Series(list(idx))

    return _cells


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_emb",
    score_round: int | None = None,
) -> DataFrame:
    """IVF search: scan only the nprobe nearest centroid cells per query.

    At scale the corpus is written partitioned by `_cell` (partition
    pruning turns each probe into a file-skip scan). Cell assignment is
    pure-JVM literals for small nlist, an Arrow-batched matmul UDF for
    Faiss-scale nlist (plan stays O(1)); final selection is two-phase
    top-k.
    """
    if len(centroids) > MAX_LITERAL_CENTROIDS:
        c = spread(corpus).withColumn("_cell", assign_centroid_udf(centroids)(F.col(vec_col)))
    else:
        c = spread(corpus).withColumn("_cell", assign_centroid_col(vec_col, centroids))
    q = _probe_queries(queries, centroids, nprobe, q_id_col, q_vec_col)
    score = cosine(q_vec_col, vec_col)
    if score_round is not None:
        # round BEFORE ranking (id tie-break) — oracle-stable ordering
        score = F.round(score, score_round)
    scored = c.join(
        F.broadcast(q), (F.col("_cell") == F.col("_qcell")) & (F.col(id_col) != F.col(q_id_col))
    ).select(q_id_col, id_col, score.alias("cos_sim"))
    return topk_per_query(scored, k, q_id_col, id_col, "cos_sim")


def _probe_queries(
    queries: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    q_id_col: str,
    q_vec_col: str,
) -> DataFrame:
    """(q_id, q_vec, _qcell) with one row per probed cell — literal-
    distance struct-sort for small nlist, Arrow matmul above
    MAX_LITERAL_CENTROIDS (identical cell order either way)."""
    if len(centroids) > MAX_LITERAL_CENTROIDS:
        return queries.select(
            q_id_col,
            q_vec_col,
            F.explode(nprobe_cells_udf(centroids, nprobe)(F.col(q_vec_col))).alias("_qcell"),
        )
    dists = [
        F.aggregate(
            F.zip_with(
                F.col(q_vec_col),
                F.array(*[F.lit(float(x)) for x in cent]),
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias(f"d{i}")
        for i, cent in enumerate(centroids)
    ]
    q = queries.select(q_id_col, q_vec_col, F.array(*dists).alias("_qd"))
    cells = F.slice(
        F.transform(
            F.array_sort(
                F.transform(
                    F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
                    lambda i: F.struct(F.element_at("_qd", i + 1).alias("d"), i.alias("cell")),
                )
            ),
            lambda s: s["cell"],
        ),
        1,
        nprobe,
    )
    return q.select(q_id_col, q_vec_col, F.explode(cells).alias("_qcell"))


def sq8_codes(vec_col: str):
    """Per-vector symmetric int8 quantization: scale = max|x_i|, code_i =
    round(x_i·127/scale) ∈ [-127, 127] — the Faiss ScalarQuantizer
    QT_8bit analog (per-vector scale travels implicitly: the cosine of
    the codes is scale-invariant). The scale is let-bound (one evaluation
    per row — functions/expr.py::bind) so CollapseProject cannot re-run
    the array_max per element. Scoring then happens on INTEGER codes,
    which is what makes cross-engine parity robust: the quantized cosine
    is a pure function of exact ints."""
    from analytics_data_platform_spark.functions.expr import bind

    c = F.col(vec_col)
    scale = F.array_max(F.transform(c, lambda x: F.abs(x.cast("double"))))
    return bind(
        scale,
        lambda s: F.when(
            s > 0,
            F.transform(c, lambda x: F.round(x.cast("double") * 127.0 / s).cast("int")),
        ).otherwise(F.transform(c, lambda x: F.lit(0))),
    )


def int_sq_norm(col):
    """Exact integer squared norm of an int-code array (long fold)."""
    return F.aggregate(
        F.transform(col, lambda x: (x * x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def sq8_cosine(q_codes: str, c_codes: str, q_sq: str, c_sq: str):
    """Cosine over int8 codes: integer dot product / sqrt of the exact
    integer squared norms — the only float ops are two sqrts and one
    division over exact ints, so rounded rankings cannot drift across
    engines. NULL (excluded by rank's NULLS LAST) on zero vectors."""
    idot = F.aggregate(
        F.zip_with(q_codes, c_codes, lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.when(
        (F.col(q_sq) > 0) & (F.col(c_sq) > 0),
        idot
        / (F.sqrt(F.col(q_sq).cast("double")) * F.sqrt(F.col(c_sq).cast("double"))),
    )


def ivf_table_topk_sq8(
    io,
    table: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_emb",
    score_round: int | None = 4,
) -> DataFrame:
    """IVF search against a CODED table layout (rows carry ``codes`` +
    ``c_sq`` instead of the float vector — the Faiss IVF,SQ8 storage):
    queries probe with full-precision centroid distances (standard
    layout — coarse-quantize originals, compress residents), are
    quantized with the SAME rule, and score as integer dot products over
    only the probed cells (dynamic partition pruning on ``_cell``, same
    contract as :func:`ivf_table_topk`)."""
    c = io.read(table)
    q = _probe_queries(queries, centroids, nprobe, q_id_col, q_vec_col)
    q = q.select(
        q_id_col, "_qcell", sq8_codes(q_vec_col).alias("_q_codes")
    ).withColumn("_q_sq", int_sq_norm("_q_codes"))
    score = sq8_cosine("_q_codes", "codes", "_q_sq", "c_sq")
    if score_round is not None:
        score = F.round(score, score_round)
    scored = c.join(
        F.broadcast(q),
        (F.col("_cell") == F.col("_qcell")) & (F.col(id_col) != F.col(q_id_col)),
    ).select(q_id_col, id_col, score.alias("cos_sim"))
    return topk_per_query(scored, k, q_id_col, id_col, "cos_sim")


def ivf_table_topk(
    io,
    table: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_emb",
    score_round: int | None = None,
) -> DataFrame:
    """IVF search against a cell-partitioned table layout (one ``_cell``
    partition per centroid, as ``VectorIndex`` writes it).

    The probe side (queries × nprobe cells) broadcasts; joining it to the
    table on the PARTITION column lets dynamic partition pruning skip
    every unprobed cell directory at scan time — the executed plan reads
    only nprobe/nlist of the data, which a plan test asserts. Results are
    identical to :func:`ivf_topk` over the raw corpus with the same
    centroids (same assignment, same probe order, same two-phase top-k).
    """
    c = io.read(table)
    q = _probe_queries(queries, centroids, nprobe, q_id_col, q_vec_col)
    score = cosine(q_vec_col, vec_col)
    if score_round is not None:
        score = F.round(score, score_round)
    scored = c.join(
        F.broadcast(q), (F.col("_cell") == F.col("_qcell")) & (F.col(id_col) != F.col(q_id_col))
    ).select(q_id_col, id_col, score.alias("cos_sim"))
    return topk_per_query(scored, k, q_id_col, id_col, "cos_sim")


# --- embedding-cosine near-dup pairs --------------------------------------


def lsh_band_keys(
    vec_col: str, planes: list[list[float]], n_bands: int, bits_per_band: int
) -> Column:
    """Array of banded signature keys ('band,bitstring') — a pair is a
    near-dup CANDIDATE when ANY band matches (the OR-construction:
    P[candidate] = 1 − (1 − p^r)^b for per-bit agreement p)."""
    # one F.expr SQL string: the fluent build spent seconds of DRIVER
    # py4j time constructing n_bits×dim literal Columns. The expression
    # is semantically identical — in particular the dot product stays the
    # ORDERED zip_with+aggregate fold, so sign bits remain bit-stable
    # against the oracle's sequential list_sum.
    def bit_sql(p: list[float]) -> str:
        arr = "array(" + ", ".join(f"{float(x)!r}D" for x in p) + ")"
        d = (
            f"aggregate(zip_with({vec_col}, {arr}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        return f"IF({d} >= 0.0D, '1', '0')"

    bands = []
    for b in range(n_bands):
        bits = ", ".join(
            bit_sql(p) for p in planes[b * bits_per_band : (b + 1) * bits_per_band]
        )
        bands.append(f"concat_ws(',', '{b}', concat({bits}))")
    return F.expr("array(" + ", ".join(bands) + ")")


def lsh_near_dup_pairs(
    corpus: DataFrame,
    threshold: float,
    n_bands: int = 8,
    bits_per_band: int = 8,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_round: int | None = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: banded-LSH candidates +
    exact cosine verification.

    Scale design: candidates come from an any-band equi-join —
    O(Σ bucket²) not O(n²) — and the exact cosine runs on candidate pairs
    only (two semi-joins back to the corpus). The all-pairs form this
    replaces is the classic 100 TB anti-pattern. ``score_round`` rounds
    before the threshold so an external oracle filters identically.
    """
    planes = _hyperplanes(dim, n_bands * bits_per_band, seed)
    keys = lsh_band_keys(vec_col, planes, n_bands, bits_per_band)
    # both sides of the candidate self-join reference the banding; the
    # n_bands·bits_per_band interpreted projections are the expensive part,
    # so materialize them once instead of evaluating per join side
    banded = (
        spread(corpus)
        .select(F.col(id_col), F.explode(keys).alias("_bucket"))
        .localCheckpoint(eager=False)
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._bucket") == F.col("b._bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    ea = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_emb_a"))
    eb = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_emb_b"))
    score = cosine("_emb_a", "_emb_b")
    if score_round is not None:
        score = F.round(score, score_round)
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", score.alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def self_nearest_neighbor(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact cosine 1-NN for EVERY vector (corpus against itself) with
    the fused Arrow scorer — the embedding data-quality screen shape.

    The JVM formulation of all-pairs 1-NN is a non-equi self-join
    (BroadcastNestedLoopJoin) evaluating an interpreted HOF fold per
    pair: n² folds (30 s for n=2000 at sf0.1). Here the id-ASCENDING
    corpus matrix rides the serialized closure (one copy per executor —
    the same boundedness assumption the BNLJ's broadcast side already
    made), each Arrow batch does ONE b×d @ d×n BLAS matmul, rounds to
    4dp, masks self, and emits exactly one row per vector; because
    columns sit in ascending-id order, numpy's first-argmax IS the
    min-id tie-break on the rounded score. Only n rows ever shuffle.

    Beyond closure-broadcast size, screen with LSH/IVF candidate pairs +
    exact refine (the lsh/ivf paths above) — this exact variant is the
    oracle baseline, the same split as brute_force vs IVF top-k.
    """
    rows = corpus.select(id_col, vec_col).orderBy(id_col).collect()
    ids = np.array([r[0] for r in rows])
    M = np.asarray([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(M, axis=1)
    norms[norms == 0.0] = np.inf
    Mt = (M / norms[:, None]).T  # d×n, unit columns in ascending-id order

    fields = {f.name: f.dataType.simpleString() for f in corpus.schema.fields}
    out_schema = ", ".join(
        [f"{id_col} {fields[id_col]}"]
        + [f"{c} {fields[c]}" for c in carry_cols]
        + ["nn_id " + fields[id_col], "nn_sim double"]
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            qn = np.linalg.norm(Q, axis=1)
            qn[qn == 0.0] = np.inf
            S = (Q / qn[:, None]) @ Mt  # b×n
            np.round(S, 4, out=S)
            qids = pdf[id_col].to_numpy()
            pos = np.searchsorted(ids, qids)
            hit = (pos < len(ids)) & (ids[np.minimum(pos, len(ids) - 1)] == qids)
            S[np.arange(len(qids))[hit], pos[hit]] = -np.inf  # mask self
            best = S.argmax(axis=1)
            out = pdf[[id_col, *carry_cols]].copy()
            out["nn_id"] = ids[best]
            out["nn_sim"] = S[np.arange(len(qids)), best]
            yield out

    slim = corpus.select(id_col, *carry_cols, vec_col)
    return spread(slim).mapInPandas(score, out_schema)
