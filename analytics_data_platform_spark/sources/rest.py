"""REST/JSON source with nested-record normalization (SURVEY §2.1 S6, §2.3 J3).

The reference ingests the status-display ``cycles`` endpoint two ways:
legacy dlt (normalizes nested JSON into parent/child tables with
``_dlt_id``/``_dlt_parent_id`` lineage) and a newer requests+pyarrow path
(elt-pipelines/facility_ops/ingest/accelerator/statusdisplay/statusdisplay.py:23-56).

Here: an injectable ``fetcher`` (defaults to requests.get) pulls records,
and :func:`normalize_nested` reproduces the dlt parent/child split with
**deterministic** lineage ids (md5 of canonical parent JSON) so re-runs and
the transform layer's parent/child join (J3) behave identically.
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def default_fetcher(url: str, timeout: int = 30) -> list[dict]:
    import requests

    resp = requests.get(url, timeout=timeout)
    resp.raise_for_status()
    payload = resp.json()
    return payload if isinstance(payload, list) else [payload]


def lineage_id(record: dict) -> str:
    """Deterministic replacement for dlt's random ``_dlt_id``."""
    canon = json.dumps(record, sort_keys=True, separators=(",", ":"), default=str)
    return hashlib.md5(canon.encode()).hexdigest()[:16]


def fetch_records(url: str, fetcher: Callable[[str], list[dict]] = default_fetcher) -> list[dict]:
    return fetcher(url)


def normalize_nested(
    spark: SparkSession, records: list[dict], root_name: str
) -> dict[str, DataFrame]:
    """dlt-style normalization: nested lists-of-dicts become child tables.

    Returns ``{root_name: parent_df, f"{root_name}__{key}": child_df, ...}``
    with ``_dlt_id`` on parents and ``_dlt_parent_id`` on children —
    the shape base_statusdisplay__cycles(.sql) expects.
    """
    parents: list[dict] = []
    children: dict[str, list[dict]] = {}
    for rec in records:
        pid = lineage_id(rec)
        flat = {}
        for k, v in rec.items():
            if isinstance(v, list) and v and all(isinstance(x, dict) for x in v):
                rows = children.setdefault(f"{root_name}__{k}", [])
                for child in v:
                    rows.append({**child, "_dlt_parent_id": pid})
            else:
                flat[k] = v
        flat["_dlt_id"] = pid
        parents.append(flat)

    out = {root_name: spark.createDataFrame(parents)}
    for name, rows in children.items():
        out[name] = spark.createDataFrame(rows)
    return out
