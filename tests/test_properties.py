"""Property-based tests (hypothesis) for engine invariants.

Spark-involving properties batch all generated examples into ONE job per
test (a DataFrame of examples compared against a pure-Python model) —
per-example Spark jobs would be prohibitively slow.
"""

from __future__ import annotations

import datetime as dt
import re

import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from analytics_data_platform_spark.elt.extract import Watermark
from analytics_data_platform_spark.sources.jdbc import sql_literal
from analytics_data_platform_spark.tables.partition import PartitionField
from analytics_data_platform_spark.tables.schema_policy import (
    SchemaEvolutionError,
    diff_schemas,
)

# --- pure-python properties ----------------------------------------------


@given(
    st.text(min_size=1, max_size=30),
    st.one_of(
        st.integers(min_value=-(2**62), max_value=2**62),
        st.text(max_size=50),
        st.datetimes(min_value=dt.datetime(1970, 1, 1), max_value=dt.datetime(2100, 1, 1)),
    ),
)
def test_watermark_json_roundtrip(column, value):
    wm = Watermark(column, value)
    back = Watermark.from_json(wm.to_json())
    assert back.column == column
    if isinstance(value, dt.datetime):
        assert dt.datetime.fromisoformat(back.value) == value
    else:
        assert back.value == value


@given(st.text(max_size=60))
def test_sql_literal_quote_escaping(s):
    lit = sql_literal(s)
    assert lit.startswith("'") and lit.endswith("'")
    # the interior has every single-quote doubled → no unescaped quote runs
    interior = lit[1:-1]
    assert re.fullmatch(r"(?:[^']|'')*", interior), f"bad escaping: {lit!r}"


FIELD_TYPES = ["int", "bigint", "string", "double", "boolean", "date", "timestamp"]


@settings(deadline=None)  # JVM warm-up makes first-example timing unreliable
@given(
    st.dictionaries(
        st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True),
        st.sampled_from(FIELD_TYPES),
        min_size=1,
        max_size=6,
    ),
    st.dictionaries(
        st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True),
        st.sampled_from(FIELD_TYPES),
        min_size=0,
        max_size=6,
    ),
)
def test_schema_diff_properties(spark, table_cols, batch_cols):
    from pyspark.sql.types import StructType

    t = StructType.fromDDL(", ".join(f"`{k}` {v}" for k, v in table_cols.items()) or "x int")
    conflict = any(k in table_cols and table_cols[k] != v for k, v in batch_cols.items())
    b_ddl = ", ".join(f"`{k}` {v}" for k, v in batch_cols.items())
    b = StructType.fromDDL(b_ddl) if b_ddl else StructType()
    if conflict:
        try:
            diff_schemas(t, b)
            assert False, "type conflict not rejected"
        except SchemaEvolutionError:
            pass
    else:
        delta = diff_schemas(t, b)
        assert {f.name for f in delta.added} == set(batch_cols) - set(table_cols)
        assert set(delta.missing) == set(t.fieldNames()) - set(batch_cols)
        # self-diff is always empty
        same = diff_schemas(t, t)
        assert not same.added and not same.missing


# --- Spark-batched properties --------------------------------------------


@settings(max_examples=1, deadline=None)
@given(st.just(0))
def test_month_transform_matches_python(spark, _):
    """month() partition value == year*100+month for 300 deterministic
    timestamps spanning year boundaries and leap days."""
    base = dt.datetime(1999, 11, 30, 22, 0, 0)
    stamps = [base + dt.timedelta(hours=7 * i, minutes=11 * i) for i in range(300)]
    df = spark.createDataFrame([(t,) for t in stamps], "ts timestamp")
    expr = PartitionField("ts", "month").expr()
    got = [r["m"] for r in df.select(expr.alias("m")).collect()]
    want = [t.year * 100 + t.month for t in stamps]
    assert got == want


@settings(max_examples=1, deadline=None)
@given(st.just(0))
def test_text_functions_match_python_model(spark, _):
    """token_count == regex model; fingerprint == md5(normalized model);
    batch of adversarial strings through one Spark job."""
    import hashlib

    strings = [
        "", " ", "a", "a b", "  a   b  ", "tab\tsep", "nl\nsep", "punct, here!",
        "ALL CAPS", "123 456", "mixed 123 abc", "trailing space ", " leading",
        "many     spaces", "unicode café naïve", "quote'quote", 'double"quote',
        "a-b-c", "under_score", "x" * 500,
    ]
    df = spark.createDataFrame([(s,) for s in strings], "text string")
    from analytics_data_platform_spark.functions.text import fingerprint, token_count

    rows = df.select(
        "text", token_count("text").alias("tc"), fingerprint("text").alias("fp")
    ).collect()
    for r in rows:
        s = r["text"]
        assert r["tc"] == len(re.findall(r"\S+", s)), repr(s)
        norm = re.sub(r"\s+", " ", re.sub(r"[^a-z0-9\s]", "", s.lower())).strip()
        assert r["fp"] == hashlib.md5(norm.encode()).hexdigest(), repr(s)


@settings(max_examples=1, deadline=None)
@given(st.just(0))
def test_dialect_minutes_match_python(spark, _):
    """date_diff_minutes == floor of elapsed seconds/60 (incl. negatives)."""
    from analytics_data_platform_spark.functions.dialect import date_diff_minutes

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    pairs = [
        (base, base + dt.timedelta(seconds=s))
        for s in [0, 1, 59, 60, 61, 3599, 3600, -1, -59, -60, -61, 90061]
    ]
    df = spark.createDataFrame(pairs, "a timestamp, b timestamp")
    rows = df.select("a", "b", date_diff_minutes(F.col("a"), F.col("b")).alias("m")).collect()
    for r in rows:
        secs = (r["b"] - r["a"]).total_seconds()
        want = int(secs / 60)  # truncation toward zero (Trino date_diff)
        assert r["m"] == want, f"{secs}s -> {r['m']} != {want}"


# --- stateful-fold equivalence (one Spark job, many generated walks) -------


@given(
    st.lists(
        st.lists(st.integers(min_value=-10_000, max_value=10_000), min_size=1, max_size=40),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=1, deadline=None)
def test_floor_balance_fold_matches_python_model(spark, walks):
    """The aggregate-HOF floor-at-zero fold (user_running_balance) must
    replay EXACTLY like the sequential Python model, for arbitrary delta
    sequences — all examples batched into one Spark job."""
    rows = [(i, ds) for i, ds in enumerate(walks)]
    df = spark.createDataFrame(rows, "wid long, ds array<long>")
    fold = (
        "aggregate(ds, named_struct('bal', 0L, 'mx', 0L, 'floors', 0L), "
        "(a, d) -> named_struct("
        "'bal', greatest(0L, a.bal + d), "
        "'mx', greatest(a.mx, greatest(0L, a.bal + d)), "
        "'floors', a.floors + IF(a.bal + d < 0, 1L, 0L)))"
    )
    got = {
        r.wid: (r.acc.bal, r.acc.mx, r.acc.floors)
        for r in df.select("wid", F.expr(fold).alias("acc")).collect()
    }
    for wid, ds in rows:
        bal = mx = floors = 0
        for d in ds:
            if bal + d < 0:
                floors += 1
            bal = max(0, bal + d)
            mx = max(mx, bal)
        assert got[wid] == (bal, mx, floors), f"walk {wid}: {ds}"


@given(
    st.lists(st.integers(min_value=1, max_value=10_000), min_size=1, max_size=30),
    st.integers(min_value=1, max_value=99),
)
@settings(max_examples=25, deadline=None)
def test_hamilton_apportionment_invariants(counts, pct):
    """Largest-remainder quotas (stratified_quota_sample's allocation):
    quotas sum EXACTLY to the budget and each is within 1 of the exact
    proportional share — pure-python mirror of the SQL arithmetic."""
    n_total = sum(counts)
    budget = n_total * pct // 100
    base = [budget * c // n_total for c in counts]
    rem = [(budget * c) % n_total for c in counts]
    extra = budget - sum(base)
    order = sorted(range(len(counts)), key=lambda i: (-rem[i], i))
    quota = list(base)
    for i in order[:extra]:
        quota[i] += 1
    assert sum(quota) == budget
    for c, q in zip(counts, quota):
        exact = budget * c / n_total
        assert exact - 1 <= q <= exact + 1
        assert q <= c or budget > n_total  # never oversample a stratum at <=100%
