"""The native (hashlib/numpy mapInArrow) MinHash band rows, the only
runtime path, must be BIT-IDENTICAL to the portable HOF reference
expression ``dedup._band_buckets_col``: the bucket strings feed
the LSH equi-join AND the generated DuckDB oracle SQL, so a single
differing hash desynchronizes the dedup family. Adversarial shapes cover
every place the two runtimes could disagree: Java-vs-Python regex ``\\s``
semantics, Unicode lowercasing, md5 byte windows, affine overflow,
null/short/empty documents."""

from __future__ import annotations

import pyspark.sql.functions as F

from analytics_data_platform_spark.operators import dedup
from analytics_data_platform_spark.sources.testdata import load_table

ADVERSARIAL = [
    (0, None),  # null text -> no rows (explode over null bucket array)
    (1, ""),  # empty -> [""] token, < k
    (2, "   \t\n  "),  # whitespace-only -> collapses to ""
    (3, "!!! ??? ..."),  # punctuation-only -> strips to ""
    (4, "one two"),  # < k tokens -> no rows
    (5, "one two three"),  # exactly k tokens -> one shingle
    (6, "a  b\tc\nd\x0be\ff\rg"),  # every Java \s char as separator
    (7, "dup dup dup dup dup"),  # all shingles identical -> one distinct
    (8, "Éé İstanbul ẞß STRASSE croissant déjà vu encore"),  # Unicode lower
    (9, "MixedCASE Text With 123 Numbers And Symbols #$%^& plus more words"),
    (10, " leading and trailing spaces padded out to enough tokens here "),
    (11, "x " * 40 + "y z w"),  # long run of repeated tokens
    (12, "😀 emoji 🎉 stripped 🚀 entirely leaving only ascii tokens here"),
    (13, "Ω≈ç√∫˜µ≤ mixed σymbολ sουp with some real english words too"),
]


def _rows(df, impl, text_col="text", id_col="doc_id", num_hashes=32, bands=16, seed=42):
    """Sorted (id, bucket) rows from the runtime path (``arrow``) or the
    pure-Catalyst reference expression (``hof``)."""
    if impl == "hof":
        buckets = dedup._band_buckets_col(text_col, num_hashes, bands, seed)
        out = df.select(id_col, F.explode(buckets).alias("bucket"))
    else:
        out = dedup.minhash_band_rows(
            df, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
            bands=bands, seed=seed,
        )
    return sorted(map(tuple, out.collect()))


def test_adversarial_shapes_bit_identical(spark):
    df = spark.createDataFrame(ADVERSARIAL, "doc_id long, text string")
    hof = _rows(df, "hof")
    arrow = _rows(df, "arrow")
    assert hof == arrow, (
        f"HOF/native divergence: only-hof={set(hof) - set(arrow)} "
        f"only-native={set(arrow) - set(hof)}"
    )
    # shape sanity: null/short/empty docs emit nothing, the rest emit
    # exactly `bands` rows each
    emitted = {r[0] for r in arrow}
    assert emitted.isdisjoint({0, 1, 2, 3, 4})
    from collections import Counter

    counts = Counter(r[0] for r in arrow)
    assert all(v == 16 for v in counts.values()), counts


def test_corpus_bit_identical(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    assert _rows(d, "hof") == _rows(d, "arrow")


def test_alternate_family_params_and_id_column(spark):
    df = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta tok{i % 3} epsilon") for i in range(40)],
        "uid int, text string",
    ).withColumn("text", F.concat("text", F.lit(" zeta eta theta")))
    kw = dict(id_col="uid", num_hashes=24, bands=8, seed=7)
    assert _rows(df, "hof", **kw) == _rows(df, "arrow", **kw)
