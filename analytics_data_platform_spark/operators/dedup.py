"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (100 TB documents):
- exact: one shuffle on the fingerprint hash; keep min(doc_id) per group.
- MinHash+LSH: band rows come from one Arrow-batched pass
  (:func:`minhash_band_rows`), then candidates come from a band-bucket
  equi-join: cost is O(sum of bucket sizes²) not O(n²). Bands are
  exploded to (band, bucket) rows so the join shuffles on the bucket key
  and AQE handles skewed buckets.
- SimHash: 64-bit signature as two 32-bit halves, voted in one codegen'd
  aggregation; near-dup = signatures within k Hamming bits, found by
  4-way table-split banding (each 16-bit chunk exact-matches at least
  once when hamming ≤ 3 per pigeonhole at 4 chunks).
- exact n-gram Jaccard verification of candidate pairs only.
"""

from __future__ import annotations

import warnings

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from analytics_data_platform_spark.functions.expr import bind, spread
from analytics_data_platform_spark.functions.text import normalized_text


def fingerprint_col(text: Column | str) -> Column:
    return F.md5(normalized_text(text))


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative row (min id) per exact normalized text.

    Single hash-shuffle; at scale prefer this over dropDuplicates on the
    raw text (hash keys are 32 bytes vs document-size shuffle payloads).
    """
    fp = fingerprint_col(text_col).alias("_fp")
    keep = (
        df.select(F.col(id_col), fp)
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .drop("_fp")
    )
    return df.join(keep, on=id_col, how="left_semi")


# --- MinHash + LSH --------------------------------------------------------


def shingle_tokens(text: Column | str, k: int = 3) -> Column:
    """Distinct token k-gram shingles as an array (JVM-side).

    The token array is let-bound (functions.expr.bind): without it the
    normalize+split subtree is re-evaluated for EVERY shingle inside the
    per-index lambda — O(tokens × full-regex-pass) per document, a ~100×
    hidden blowup that made shingling the hottest expression in the repo.
    """
    toks = F.split(normalized_text(text), " ")
    return bind(
        toks,
        lambda t: F.when(
            F.size(t) >= k,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - (k - 1)),
                    lambda i: F.concat_ws(" ", F.slice(t, i, k)),
                )
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def exact_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    broadcast_candidates: bool = False,
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard.

    Shingles are computed ONLY for documents that appear in a candidate
    pair (semi-join first): at 100 TB candidates are a vanishing fraction
    of the corpus, so the expensive re-shingling touches almost nothing.

    ``broadcast_candidates`` pins the semi-join to a broadcast of the
    candidate-id set — the incremental-tick path, where candidates are
    batch-bounded and the corpus side must stream map-side (no exchange)
    instead of shuffling on the id key. Leave False when the candidate
    set itself is corpus-scale (a full one-shot LSH run).
    """
    # one evaluation of the candidate subtree for the id set (explode,
    # not a 2-branch union that would run the LSH pipeline twice)
    cand_ids = candidates.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).distinct()
    if broadcast_candidates:
        cand_ids = F.broadcast(cand_ids)
    # under broadcast_candidates the semi join adds no exchange, so its
    # output partitioning IS the corpus side's — probe that slim frame
    # instead of physically planning the join tree (driver-side cost;
    # spread() docstring)
    probe = df.select(id_col, text_col) if broadcast_candidates else None
    sh = spread(
        df.join(cand_ids, id_col, "left_semi").select(id_col, text_col),
        probe=probe,
    ).select(
        F.col(id_col), shingle_tokens(text_col, k).alias("sh")
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    # the pair frame is keys-only — under broadcast_candidates pin it as
    # the build side so the shingle frames stream (the remaining id_b
    # exchange is candidate-bounded either way)
    cand = F.broadcast(candidates) if broadcast_candidates else candidates
    joined = cand.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return joined.select(
        "id_a",
        "id_b",
        F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0)).alias("jaccard"),
    )


# --- duplicate clusters ---------------------------------------------------


def cluster_duplicates_star(
    pairs: DataFrame,
    max_iter: int = 20,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Connected components via alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond"): the
    min member id becomes the cluster id, in O(log n) rounds instead of
    min-label propagation's O(diameter), so a billion-edge duplicate graph
    with deep chains converges in a handful of shuffles.

    Each round is two grouped aggregations on the node id; the fixpoint
    test compares (edge count, hash checksum) of the round's output — one
    cheap scalar aggregate, no driver-side edge collection.
    """
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        # round 1 references this twice (symmetrize + aggregate) and the
        # input is typically an expensive pair build — materialize once
        .localCheckpoint(eager=False)
    )

    def _signature(e: DataFrame) -> tuple[int, int]:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: a sum of 64-bit hashes overflows long
            # under ANSI semantics
            F.coalesce(F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    prev = None
    for _ in range(max_iter):
        # large-star: every strictly-larger neighbor of u links to the
        # minimum of u's closed neighborhood
        sym = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            sym.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: edges now point larger→smaller; relink each node's
        # smaller neighbors (and itself) to their minimum
        mstar = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mstar, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mstar.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()  # truncate iterative lineage
        )
        sig = _signature(small)
        edges = small
        if sig == prev:
            break
        prev = sig
    else:
        warnings.warn(
            f"cluster_duplicates_star did not reach an edge fixpoint in "
            f"{max_iter} rounds; result may split deep clusters.",
            RuntimeWarning,
            stacklevel=2,
        )
    # converged star graph: every edge points a node at its cluster min;
    # the mins themselves are their own cluster ids
    return edges.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")).unionByName(
        edges.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id")).distinct()
    )


# --- cross-engine portable hash family ------------------------------------
# xxhash64 is Spark-only; for conformance checking against external SQL
# engines (the driver's DuckDB oracle, or any warehouse) the signatures
# below use an md5-derived 32-bit base hash — `conv(substr(md5(s),1,8),
# 16,10)` here ≡ `('0x'||substr(md5(s),1,8))::BIGINT` in DuckDB — and a
# seeded affine family  h_i(x) = (a_i·x + b_i) mod (2^31−1).  This is
# CHEAPER per shingle than the xxhash64 path (one md5 + k affine mods vs
# k full hashes) at the cost of weaker mixing; both paths share the exact
# same banding/join topology, so the oracle exercises the production plan.

MERSENNE_P = 2_147_483_647  # 2^31 − 1; a_i·h + b_i < 2^63 — no overflow


def portable_hash32(col: Column | str, offset: int = 1) -> Column:
    """md5-derived 32-bit hash reproducible in any engine with md5().

    ``offset`` selects the hex window (1 → bytes 0-3, 9 → bytes 4-7), so
    two independent 32-bit hashes come from one md5 evaluation.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), offset, 8), 16, 10).cast("long")


def affine_params(num_hashes: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """Seeded (a_i, b_i) for the affine MinHash family — the same numpy
    stream an offline mirror (or generated oracle SQL) uses."""
    import numpy as np

    rng = np.random.RandomState(seed)
    a = [int(x) for x in rng.randint(1, MERSENNE_P, size=num_hashes)]
    b = [int(x) for x in rng.randint(0, MERSENNE_P, size=num_hashes)]
    return a, b


def minhash_signature_portable(
    shingles: Column, num_hashes: int = 32, seed: int = 42
) -> Column:
    """MinHash signature under the portable family (pure JVM expressions).

    One md5 per shingle, then ``num_hashes`` affine transforms inside a
    nested higher-order lambda — zero Python boundary, and bit-identical
    to the DuckDB mirror in queries/scale_ops.py.
    """
    a, b = affine_params(num_hashes, seed)
    params = F.array(*[F.array(F.lit(ai), F.lit(bi)) for ai, bi in zip(a, b)])
    # nested let-bindings: the shingle array evaluates once (the emptiness
    # guard would otherwise re-run tokenization), each shingle md5-hashes
    # once, and the num_hashes affine folds reuse the hashed array
    return bind(
        shingles,
        lambda sh: bind(
            F.when(F.size(sh) > 0, F.transform(sh, lambda s: portable_hash32(s))),
            lambda h: F.when(
                h.isNotNull(),
                F.transform(
                    params,
                    lambda p: F.array_min(
                        F.transform(h, lambda x: (p[0] * x + p[1]) % MERSENNE_P)
                    ),
                ),
            ),
        ),
    )


def _band_buckets_col(text_col: str, num_hashes: int, bands: int, seed: int) -> Column:
    """Portable pure-Catalyst band-bucket array: the reference that
    tests/test_minhash_native.py holds :func:`_band_rows_arrow` bit-equal
    to."""
    r = num_hashes // bands
    # let-bound signature → every band bucket references the once-evaluated
    # array (see functions.expr.bind; unbound, projection collapse
    # re-evaluates the whole md5 signature per band)
    return bind(
        minhash_signature_portable(shingle_tokens(text_col), num_hashes, seed),
        lambda sig: F.when(
            sig.isNotNull(),
            F.array(
                *[
                    F.concat_ws(
                        ",",
                        F.lit(str(bnd)),
                        *[F.element_at(sig, bnd * r + j + 1) for j in range(r)],
                    )
                    for bnd in range(bands)
                ]
            ),
        ),
    )


def _band_rows_arrow(
    base: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """Native twin of the HOF band-bucket pipeline (guide §4.2): one
    ``mapInArrow`` pass that normalizes, shingles, md5-hashes and
    affine-folds whole batches with hashlib/numpy instead of interpreted
    per-element Catalyst lambdas. BIT-IDENTICAL to the portable HOF
    formulation by construction, and pinned by
    tests/test_minhash_native.py (exact frame equality on adversarial
    shapes + the testdata corpus):

    - normalization replicates functions.text.normalized_text with Java's
      ASCII ``\\s`` class (NOT Python's Unicode ``\\s``);
    - the 32-bit hash is the first 4 md5 bytes big-endian, exactly
      ``conv(substring(md5(s), 1, 8), 16, 10)``;
    - the affine fold (a·h + b) % MERSENNE_P stays in uint64 — max
      product < 2^63, so no wraparound;
    - docs with null text or fewer than k tokens emit no rows, matching
      ``explode`` over the null bucket array.
    """
    import re as _re

    from pyspark.sql.types import StringType, StructField, StructType

    out_schema = StructType(
        [base.schema[id_col], StructField("bucket", StringType())]
    )
    a_params, b_params = affine_params(num_hashes, seed)
    r = num_hashes // bands
    k = 3  # shingle_tokens default — the only width the portable family uses

    def compute(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        a_np = np.asarray(a_params, dtype=np.uint64).reshape(-1, 1)
        b_np = np.asarray(b_params, dtype=np.uint64).reshape(-1, 1)
        p_np = np.uint64(MERSENNE_P)
        # Java regex \s == [ \t\n\x0B\f\r] (ASCII); Python's \s is Unicode
        strip_re = _re.compile(r"[^a-z0-9 \t\n\x0b\f\r]")
        ws_re = _re.compile(r"[ \t\n\x0b\f\r]+")
        md5 = hashlib.md5
        band_slices = [(bnd, bnd * r, (bnd + 1) * r) for bnd in range(bands)]

        for batch in batches:
            ids = batch.column(id_col)
            texts = batch.column(text_col).to_pylist()
            out_idx: list[int] = []
            out_buckets: list[str] = []
            for i, t in enumerate(texts):
                if t is None:
                    continue
                toks = ws_re.sub(" ", strip_re.sub("", t.lower())).strip(" ").split(" ")
                if len(toks) < k:
                    continue
                shingles = {" ".join(toks[j : j + k]) for j in range(len(toks) - k + 1)}
                h = np.fromiter(
                    (
                        int.from_bytes(md5(s.encode("utf-8")).digest()[:4], "big")
                        for s in shingles
                    ),
                    dtype=np.uint64,
                    count=len(shingles),
                )
                sig = ((a_np * h + b_np) % p_np).min(axis=1)
                out_idx.extend([i] * bands)
                out_buckets.extend(
                    f"{bnd}," + ",".join(str(int(v)) for v in sig[lo:hi])
                    for bnd, lo, hi in band_slices
                )
            yield pa.RecordBatch.from_arrays(
                [ids.take(pa.array(out_idx, type=pa.int32())), pa.array(out_buckets, type=pa.string())],
                names=[id_col, "bucket"],
            )

    return base.mapInArrow(compute, out_schema)


def minhash_band_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    seed: int = 42,
    assume_wide: bool = False,
) -> DataFrame:
    """(id, bucket): the LSH band-bucket rows for a document set.

    This IS the persistable dedup index — a production pipeline writes
    these rows to a lakehouse table keyed by bucket, so later ingest
    batches can join against them without re-shingling the corpus
    (see :func:`incremental_minhash_candidates`).

    The rows come from one ``mapInArrow`` pass that hands whole batches
    to hashlib/numpy (guide §4.2 — the interpreted md5 × 32-affine HOF
    fold was the largest per-row compute left in the engine, ~4.8 s per
    sf0.1 bootstrap). tests/test_minhash_native.py pins it bit-equal to
    the pure-Catalyst reference :func:`_band_buckets_col`.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    base = df.select(id_col, text_col)
    # spread()'s partition probe physically PLANS the input tree — on the
    # incremental tick's deep delta trees that is seconds of driver-side
    # analysis for a deterministically no-op answer. Callers whose input
    # is downstream of a shuffle (width = spark.sql.shuffle.partitions >=
    # defaultParallelism by session construction) pass assume_wide=True
    # to skip the probe outright (guide §1.2: driver-side cost is real).
    if not assume_wide:
        base = spread(base)
    return _band_rows_arrow(base, text_col, id_col, num_hashes, bands, seed)


def incremental_minhash_candidates(
    index_rows: DataFrame,
    new_rows: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate pairs for an INCOMING batch against an existing corpus.

    The production dedup shape at 100 TB: the corpus's band rows
    (:func:`minhash_band_rows`) already sit in a bucket-keyed index
    table; only the new batch is shingled/hashed, and the bucket
    equi-join prunes the corpus side to colliding buckets. Emits exactly
    the pairs the full batch run would emit that TOUCH a new document:
    new×index (canonicalized to id_a < id_b) plus new×new (a < b — each
    unordered pair counted once).

    Both inputs must use the same (num_hashes, bands, seed).
    """
    a = new_rows.alias("a")
    old = index_rows.alias("b")
    new_old = a.join(old, F.col("a.bucket") == F.col("b.bucket")).select(
        F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
        F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
    )
    b_new = new_rows.alias("b")
    new_new = a.join(
        b_new,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    return (
        new_old.unionByName(new_new)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared_bands"))
    )


def minhash_lsh_candidates_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """MinHash LSH candidate pairs under the portable hash family.

    Band rows explode to (band, bucket), a band-bucket equi-join yields
    the pairs and a pair groupBy counts shared bands; the bucket key is
    the band's value string, so an external engine reproduces the exact
    pairs.
    """
    banded = minhash_band_rows(df, text_col, id_col, num_hashes, bands, seed)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


def simhash_signatures_portable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash as two 32-bit halves — pure JVM, engine-portable.

    Each token hashes once via md5; halves of the digest give two
    independent 32-bit hashes. The per-bit majority vote is an unrolled
    `aggregate` per bit (constant plan size, whole-stage codegen) with NO
    Python boundary; the DuckDB oracle mirrors it.
    Columns: (id, sim_lo, sim_hi) — signed-safe 32-bit values in longs.
    """
    # explode tokens, then take the 64 per-bit majority votes as ONE
    # codegen'd conditional aggregation — the earlier formulation walked
    # each hash array with 32 interpreted `aggregate` lambdas per half
    # (tokens × 64 interpreted steps per doc: ~6 s for 5k docs at sf0.1;
    # this groupBy shape runs the same votes in whole-stage codegen).
    # explode_outer keeps token-less docs (their votes are all 0 → sig 0,
    # matching the empty-array fold and the oracle).
    toks = F.filter(F.split(normalized_text(text_col), " "), lambda t: t != "")
    rows = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.explode_outer(toks).alias("__tok"),
    ).select(
        id_col,
        portable_hash32(F.col("__tok"), 1).alias("__h1"),
        portable_hash32(F.col("__tok"), 9).alias("__h2"),
    )
    votes = rows.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(CASE WHEN __h{half} IS NULL THEN 0 "
                f"WHEN (__h{half} & {1 << j}) <> 0 THEN 1 ELSE -1 END)"
            ).alias(f"v{half}_{j}")
            for half in (1, 2)
            for j in range(32)
        ]
    )
    def sig(half: int) -> str:
        return " + ".join(
            f"IF(v{half}_{j} > 0, CAST({1 << j} AS BIGINT), 0L)" for j in range(32)
        )

    return votes.select(
        F.col(id_col),
        F.expr(sig(1)).alias("sim_lo"),
        F.expr(sig(2)).alias("sim_hi"),
    )


def simhash_near_pairs_portable(
    sigs: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near pairs over split (sim_lo, sim_hi) signatures: 4×16-bit banding
    equi-joins (pigeonhole: ≤3 differing bits over 4 chunks leave one
    chunk equal), Hamming =
    popcount(lo⊕lo′) + popcount(hi⊕hi′)."""
    chunks = [
        F.shiftrightunsigned(F.col("sim_lo"), 0).bitwiseAND(F.lit(0xFFFF)).alias("c0"),
        F.shiftrightunsigned(F.col("sim_lo"), 16).bitwiseAND(F.lit(0xFFFF)).alias("c1"),
        F.shiftrightunsigned(F.col("sim_hi"), 0).bitwiseAND(F.lit(0xFFFF)).alias("c2"),
        F.shiftrightunsigned(F.col("sim_hi"), 16).bitwiseAND(F.lit(0xFFFF)).alias("c3"),
    ]
    banded = sigs.select(id_col, "sim_lo", "sim_hi", *chunks).select(
        id_col,
        "sim_lo",
        "sim_hi",
        F.explode(
            F.array(
                *[F.struct(F.lit(i).alias("band"), F.col(f"c{i}").alias("chunk")) for i in range(4)]
            )
        ).alias("bb"),
    ).select(id_col, "sim_lo", "sim_hi", F.col("bb.band").alias("band"), F.col("bb.chunk").alias("chunk"))
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sim_lo").alias("lo_a"),
            F.col("a.sim_hi").alias("hi_a"),
            F.col("b.sim_lo").alias("lo_b"),
            F.col("b.sim_hi").alias("hi_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))) + F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    )
    return pairs.select("id_a", "id_b", hamming.cast("long").alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def setsim_join_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    shingle_k: int | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join (token Jaccard >= threshold) via
    prefix filtering — the PPJoin family (Xiao et al., "Efficient
    Similarity Joins for Near Duplicate Detection"), complementing the
    probabilistic MinHash path with a no-false-negative algorithm.

    Each document's distinct tokens are ordered by ascending global
    document frequency (rarest first); two sets with Jaccard >= t MUST
    share a token within each one's first |x| - ceil(t*|x|) + 1 tokens,
    so candidates come from an equi-join on prefix tokens only — the
    frequency order makes those prefixes the rarest tokens, collapsing
    candidate counts by orders of magnitude vs joining on all tokens.
    Exact Jaccard then verifies candidates. Every shuffle is keyed on a
    token or an id; no all-pairs stage exists at any scale.

    ``shingle_k`` switches the compared sets from distinct normalized
    unigrams to distinct token k-gram shingles (the right granularity for
    near-dup text, where shared vocabulary makes unigram sets collide).
    """
    if shingle_k:
        toks_col = shingle_tokens(text_col, shingle_k)
    else:
        toks_col = F.array_distinct(
            F.filter(F.split(normalized_text(text_col), " "), lambda x: x != "")
        )
    toks = (
        df.select(F.col(id_col).alias("_id"), toks_col.alias("_toks"))
        .where(F.size("_toks") > 0)
        .localCheckpoint(eager=False)  # reused by prefix build AND verification
    )
    tok = toks.select("_id", F.explode("_toks").alias("_t"))
    freq = tok.groupBy("_t").agg(F.count("*").alias("_df"))
    ranked = (
        tok.join(freq, "_t")
        .groupBy("_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_df"), F.col("_t")))
            ).alias("_ordered")
        )
        .select(
            "_id",
            F.transform("_ordered", lambda s: s["_t"]).alias("_ord_toks"),
        )
    )
    n = F.size("_ord_toks")
    prefix_len = (n - F.ceil(F.lit(threshold) * n) + 1).cast("int")
    prefixes = ranked.select(
        "_id", F.explode(F.slice("_ord_toks", 1, prefix_len)).alias("_t")
    )
    a, b = prefixes.alias("a"), prefixes.alias("b")
    cand = (
        a.join(b, (F.col("a._t") == F.col("b._t")) & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    ta = toks.select(F.col("_id").alias("id_a"), F.col("_toks").alias("_toks_a"))
    tb = toks.select(F.col("_id").alias("id_b"), F.col("_toks").alias("_toks_b"))
    inter = F.size(F.array_intersect("_toks_a", "_toks_b"))
    union = F.size("_toks_a") + F.size("_toks_b") - inter
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
