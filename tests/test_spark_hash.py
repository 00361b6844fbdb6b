"""The driver-side port of Spark's string hash
(``search_ops.spark_string_hash``) must be BIT-IDENTICAL to ``F.hash``:
an index lookup routes its terms to bucket directories with the port,
while the build wrote them with ``pmod(hash(term), buckets)``, so one
differing hash makes a lookup read the wrong directory and silently miss
every posting of that term. The shapes cover every place a port can
disagree: the 4-byte body vs the sign-extended 1-3 byte tail, UTF-8
widths 1-4, NUL bytes, long inputs and negative results.

``test_pinned_vectors`` needs no Spark (values recorded from ``F.hash``
on Spark 4.1.2) and runs in ``tools/preflight.py``'s structural gate."""

from __future__ import annotations

import random

import pyspark.sql.functions as F

from analytics_data_platform_spark.queries.search_ops import (
    spark_string_hash,
    term_buckets,
)

_LONG = "ab€😀" * 1100  # 9,900 UTF-8 bytes, over the 4 KB mark

PINNED = [
    ("", 142593372),
    ("a", 1485273170),
    ("ab", -97053317),
    ("abc", 1322437556),
    ("abcd", -396302900),
    ("abcde", 814637928),
    ("table", -1119444163),
    ("merge", 874345773),
    ("\x00", -783713497),
    ("a\x00b", -1008589700),
    ("é", 2119106806),
    ("€", -1809688618),
    ("😀", 1877935379),
    ("naïve café", -1533585548),
    ("日本語", -1143049834),
    ("x😀", -1821035175),
    (_LONG, -1739649215),
]


def test_pinned_vectors():
    got = [(s, spark_string_hash(s)) for s, _ in PINNED]
    assert got == PINNED
    # every tail length and a negative hash are among the pins
    assert {len(s.encode()) % 4 for s, _ in PINNED} == {0, 1, 2, 3}
    assert any(h < 0 for _, h in PINNED)
    assert term_buckets(["ab", "ab", "a"], 64) == sorted({-97053317 % 64, 1485273170 % 64})


def _adversarial(n: int = 3000, seed: int = 7) -> list[str]:
    alphabet = ["a", "z", " ", "\x00", "\x7f", "é", "ß", "€", "日", "😀", "𝄞"]
    rnd = random.Random(seed)
    out = ["", _LONG, "x" * 4097, "😀" * 1025]
    for _ in range(n):
        out.append("".join(rnd.choice(alphabet) for _ in range(rnd.randint(0, 40))))
    return out


def test_port_equals_spark_hash(spark):
    import pyarrow as pa

    strs = _adversarial()
    assert {len(s.encode()) % 4 for s in strs} == {0, 1, 2, 3}
    rows = (
        spark.createDataFrame(pa.table({"s": strs}))
        .select(
            "s",
            F.hash("s").alias("h"),
            F.pmod(F.hash("s"), F.lit(64)).alias("b64"),
            F.pmod(F.hash("s"), F.lit(1000)).alias("b1000"),
        )
        .collect()
    )
    assert len(rows) == len(strs)
    bad = [
        r.s[:40]
        for r in rows
        if (r.h, r.b64, r.b1000)
        != (spark_string_hash(r.s), *(term_buckets([r.s], b)[0] for b in (64, 1000)))
    ]
    assert not bad, f"port diverges from F.hash on {len(bad)} strings: {bad[:5]}"
    assert any(r.h < 0 for r in rows) and any(r.h > 0 for r in rows)
