"""Strict additive schema-evolution policy.

Mirrors the reference's pyiceberg evolution rules
(reference: elt-common/src/elt_common/iceberg/schema.py:117-159):

- NEW columns in the incoming batch → accepted (added to the table).
- REMOVED source columns → accepted; the table keeps the column and new
  rows carry NULL (tested in the reference at
  elt-common/tests/e2e_tests/.../test_pyiceberg_pipeline.py:470-499).
- TYPE changes / nullability tightening → rejected with an explicit error.

Spark can silently mergeSchema; the reference's value is the *strictness* —
incompatible drift fails loudly instead of corrupting the table. This check
is driver-side metadata only (no data pass), so it costs nothing at 100 TB.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql.types import StructField, StructType


class SchemaEvolutionError(ValueError):
    """Incompatible schema drift between incoming batch and target table."""


@dataclass
class SchemaDelta:
    added: list[StructField] = field(default_factory=list)
    missing: list[str] = field(default_factory=list)  # in table, absent from batch → nulls


def diff_schemas(table_schema: StructType, batch_schema: StructType) -> SchemaDelta:
    """Validate batch vs table schema under the additive-only policy.

    Returns the delta to apply (columns to add), or raises
    :class:`SchemaEvolutionError` on a type or nullability conflict.
    Comparison is by name (case-sensitive, like Iceberg's union_by_name).
    """
    table_fields = {f.name: f for f in table_schema.fields}
    batch_fields = {f.name: f for f in batch_schema.fields}

    errors: list[str] = []
    for name, bf in batch_fields.items():
        tf = table_fields.get(name)
        if tf is None:
            continue
        if tf.dataType != bf.dataType:
            errors.append(
                f"column {name!r}: type change {tf.dataType.simpleString()} -> "
                f"{bf.dataType.simpleString()} is not allowed"
            )
        elif not tf.nullable and bf.nullable:
            errors.append(f"column {name!r}: cannot relax required column to optional")
    if errors:
        raise SchemaEvolutionError("; ".join(errors))

    return SchemaDelta(
        added=[bf for name, bf in batch_fields.items() if name not in table_fields],
        missing=[name for name in table_fields if name not in batch_fields],
    )
