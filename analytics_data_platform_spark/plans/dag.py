"""Mini model-DAG runner — the Spark replacement for the reference's
dbt-on-Trino transform layer (SURVEY.md §3.3).

A :class:`Model` is a named build function over ``ref()``/``source()``
inputs with a materialization (view|table), optional Iceberg-style
partition/sort specs, and attached data tests (not_null / unique /
accepted_values / relationships / expression — the dbt + dbt_utils
data-test surface the reference uses, e.g. cycles.yml:5-21). The runner topologically orders models, builds each
as a DataFrame, materializes tables through TableIO, and evaluates data
tests distributed (one aggregate pass per model, no collect of data rows).

Unit-test parity: dbt unit tests override ``ref()`` inputs with fixtures
(stg_opralogweb__mcr_equipment_downtime.yml:8-41); ``run(overrides=...)``
does exactly that, letting golden-row tests feed fixture DataFrames.

Selection parity: the reference's cron runs
``dbt run --select 'models/staging/<domain>/*<source>*+'`` (downstream
closure); ``run(select=..., downstream=True)`` mirrors that.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from analytics_data_platform_spark.tables.io import TableIO


@dataclass(frozen=True)
class DataTest:
    kind: str  # not_null | unique | accepted_values | relationships | expression
    column: str
    values: tuple | None = None
    to: str | None = None  # relationships: target model name
    to_column: str | None = None
    expr: str | None = None  # expression: SQL predicate every row must satisfy


def not_null(column: str) -> DataTest:
    return DataTest("not_null", column)


def unique(column: str) -> DataTest:
    return DataTest("unique", column)


def accepted_values(column: str, values: list) -> DataTest:
    return DataTest("accepted_values", column, tuple(values))


def relationships(column: str, to: str, to_column: str) -> DataTest:
    """dbt ``relationships`` (referential integrity): every non-null value
    of ``column`` must exist in ``to.to_column`` (``to`` is a model name
    or, at report time, any DataFrame bound under that name)."""
    return DataTest("relationships", column, to=to, to_column=to_column)


def expression(name: str, expr: str) -> DataTest:
    """dbt_utils ``expression_is_true``: rows violating the SQL predicate
    count as failures. ``name`` labels the check in reports."""
    return DataTest("expression", name, expr=expr)


class Refs:
    """Resolver passed to model build functions: ``ref(name)`` and
    ``source(schema, table)`` return DataFrames."""

    def __init__(
        self,
        built: dict[str, DataFrame],
        sources: dict[tuple[str, str], DataFrame],
    ):
        self._built = built
        self._sources = sources

    def ref(self, name: str) -> DataFrame:
        if name not in self._built:
            raise KeyError(f"model {name!r} not built yet — missing from deps?")
        return self._built[name]

    def source(self, schema: str, table: str) -> DataFrame:
        key = (schema, table)
        if key not in self._sources:
            raise KeyError(f"source {schema}.{table} not provided")
        return self._sources[key]


@dataclass
class Model:
    name: str
    build: Callable[[SparkSession, Refs], DataFrame]
    deps: tuple[str, ...] = ()
    sources: tuple[tuple[str, str], ...] = ()
    materialization: str = "view"  # view | table (dbt_project.yml:33-42)
    partition: dict[str, str] | None = None
    sort: list[str] | None = None
    tests: list[DataTest] = field(default_factory=list)


@dataclass
class TestFailure:
    model: str
    test: DataTest
    failing_rows: int

    def __str__(self) -> str:
        t = self.test
        extra = f" (accepted: {list(t.values)})" if t.values else ""
        return f"{self.model}.{t.column}: {t.kind}{extra} — {self.failing_rows} failing rows"


class DataTestError(AssertionError):
    def __init__(self, failures: list[TestFailure]):
        super().__init__("; ".join(map(str, failures)))
        self.failures = failures


class TransformDag:
    def __init__(self) -> None:
        self.models: dict[str, Model] = {}

    def add(self, model: Model) -> Model:
        if model.name in self.models:
            raise ValueError(f"duplicate model {model.name}")
        self.models[model.name] = model
        return model

    def model(self, name: str, **kwargs):
        """Decorator: ``@dag.model('stg_x', deps=('base_y',), ...)``."""

        def wrap(fn: Callable[[SparkSession, Refs], DataFrame]) -> Model:
            return self.add(Model(name=name, build=fn, **kwargs))

        return wrap

    # -- ordering ----------------------------------------------------------

    def order(self, select: list[str] | None = None, downstream: bool = True) -> list[str]:
        ts = TopologicalSorter({n: set(m.deps) for n, m in self.models.items()})
        full = list(ts.static_order())
        if select is None:
            return full
        wanted = set(select)
        if downstream:
            for name in full:  # topo order guarantees deps seen first
                if wanted & set(self.models[name].deps):
                    wanted.add(name)
        # plus upstream closure so selected models can build
        changed = True
        while changed:
            changed = False
            for name in list(wanted):
                for d in self.models[name].deps:
                    if d not in wanted:
                        wanted.add(d)
                        changed = True
        return [n for n in full if n in wanted]

    # -- execution ---------------------------------------------------------

    def run(
        self,
        spark: SparkSession,
        sources: dict[tuple[str, str], DataFrame] | None = None,
        overrides: dict[str, DataFrame] | None = None,
        select: list[str] | None = None,
        downstream: bool = True,
        target_namespace: str | None = None,
        io: TableIO | None = None,
        run_tests: bool = True,
    ) -> dict[str, DataFrame]:
        """Build models in dependency order; returns name → DataFrame.

        ``overrides`` short-circuits a model with a fixture DataFrame (dbt
        unit-test semantics). With ``target_namespace``, table-materialized
        models are written through TableIO (replace semantics, partition +
        write-sort specs) and downstream models read the written table.
        """
        built: dict[str, DataFrame] = dict(overrides or {})
        io = io or (TableIO(spark) if target_namespace else None)
        if target_namespace and io:
            io.ensure_namespace(target_namespace)

        failures: list[TestFailure] = []
        for name in self.order(select, downstream):
            if name in built:
                continue
            model = self.models[name]
            df = model.build(spark, Refs(built, sources or {}))
            if model.materialization == "table" and target_namespace and io:
                table = f"{target_namespace}.{name}"
                io.write_table(
                    df,
                    table,
                    mode="replace",
                    partition_spec=model.partition,
                    sort_spec=model.sort,
                )
                df = io.read(table)
            built[name] = df
            if run_tests and model.tests:
                failures.extend(self._test_model(model, df, built))
        if failures:
            raise DataTestError(failures)
        return built

    def required_sources(self, select: list[str] | None = None) -> set[tuple[str, str]]:
        return {
            src
            for name in self.order(select)
            for src in self.models[name].sources
        }

    def _test_model(
        self, model: Model, df: DataFrame, built: dict[str, DataFrame] | None = None
    ) -> Iterator[TestFailure]:
        """All of a model's in-row tests in ONE aggregate pass (single job);
        each ``relationships`` test adds one anti-join count against its
        (already-built) target model."""
        report = self._model_report_df(model.name, model.tests, df, built or {})
        for row in report.where(F.col("violations") > 0).collect():
            t = model.tests[row["test_idx"]]
            yield TestFailure(model.name, t, int(row["violations"]))

    def _model_report_df(
        self,
        model_name: str,
        tests: list[DataTest],
        df: DataFrame,
        built: dict[str, DataFrame],
    ) -> DataFrame:
        """Lazy (model, check, column, violations) rows for one model:
        every in-row test folds into a single wide aggregation (then
        explodes to one row per test); each relationships test is one
        anti-join aggregate unioned in. Nothing here is an action — the
        report composes into larger plans (the dq_expectations registry
        query) or is collected by run()'s gate."""
        inrow: list[tuple[int, DataTest]] = []
        rels: list[tuple[int, DataTest]] = []
        for i, t in enumerate(tests):
            (rels if t.kind == "relationships" else inrow).append((i, t))

        parts: list[DataFrame] = []
        if inrow:
            aggs = []
            for i, t in inrow:
                c = F.col(t.column)
                if t.kind == "not_null":
                    aggs.append(F.sum(F.when(c.isNull(), 1).otherwise(0)).alias(f"t{i}"))
                elif t.kind == "unique":
                    aggs.append((F.count(c) - F.count_distinct(c)).alias(f"t{i}"))
                elif t.kind == "accepted_values":
                    bad = ~c.isin(list(t.values or ())) & c.isNotNull()
                    aggs.append(F.sum(F.when(bad, 1).otherwise(0)).alias(f"t{i}"))
                elif t.kind == "expression":
                    aggs.append(
                        F.sum(F.when(~F.expr(t.expr or "true"), 1).otherwise(0)).alias(f"t{i}")
                    )
                else:
                    raise ValueError(f"unknown data test kind {t.kind!r}")
            wide = df.agg(*aggs)
            rows = F.array(
                *[
                    F.struct(
                        F.lit(i).alias("test_idx"),
                        F.lit(model_name).alias("model"),
                        F.lit(t.kind).alias("check"),
                        F.lit(t.column).alias("column"),
                        F.coalesce(F.col(f"t{i}"), F.lit(0)).cast("long").alias("violations"),
                    )
                    for i, t in inrow
                ]
            )
            parts.append(wide.select(F.explode(rows).alias("r")).select("r.*"))
        for i, t in rels:
            if t.to not in built:
                raise KeyError(
                    f"relationships target {t.to!r} not available for {model_name}"
                )
            target = built[t.to].select(F.col(t.to_column).alias(t.column)).distinct()
            orphans = (
                df.where(F.col(t.column).isNotNull())
                .join(target, t.column, "left_anti")
                .agg(F.count(F.lit(1)).cast("long").alias("violations"))
                .select(
                    F.lit(i).alias("test_idx"),
                    F.lit(model_name).alias("model"),
                    F.lit("relationships").alias("check"),
                    F.lit(f"{t.column}->{t.to}.{t.to_column}").alias("column"),
                    "violations",
                )
            )
            parts.append(orphans)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def test_report(
        self,
        tables: dict[str, DataFrame],
        tests: dict[str, list[DataTest]],
    ) -> DataFrame:
        """dbt-`test`-style report over arbitrary bound tables: one row per
        check — (model, check, column, violations) — passes included, all
        lazy (unions of per-table aggregates; counts never touch the
        driver)."""
        parts = [
            self._model_report_df(name, ts, tables[name], tables)
            for name, ts in tests.items()
            if ts
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select("model", "check", "column", "violations")
