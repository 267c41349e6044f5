"""Mapping-spec → select-plan compiler + formatter registry.

The reference's formatter surface is (a) mapping specs
``[{"from": src, "to": dst}]`` compiled into per-row callables
(``formatters/base.py:39-80``) stored in a registry keyed by id
(``formatters/base.py:14-23``, ``app/api.py:166-214``), and (b)
arbitrary Python callables applied per record (``core/utils.py:51-64``).

Spark-first re-expression:

- A mapping spec compiles to a **column projection** —
  ``df.select(col(src).alias(dst), ...)`` — which stays entirely inside
  Catalyst (column pruning reaches the parquet scan, no Python in the
  hot path). Dotted ``from`` paths resolve nested struct fields.
"""

from __future__ import annotations

import uuid
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MappingSpec = Sequence[Mapping[str, str]]

# Registry of named mapping specs (the reference rebuilds callables from
# FORMATTER_REGISTRY at run time — app/api.py:225-321).
FORMATTER_REGISTRY: dict[str, MappingSpec] = {}


def register_formatter(mapping: MappingSpec, formatter_id: str | None = None) -> str:
    fid = formatter_id or str(uuid.uuid4())
    FORMATTER_REGISTRY[fid] = list(mapping)
    return fid


def build_mapping_projection(mapping: MappingSpec) -> list[Column]:
    """Compile ``[{"from": src, "to": dst}]`` into aliased Columns.

    Missing source columns surface as an AnalysisException at plan time
    (the reference silently yields ``None`` via ``getattr(obj, src,
    None)`` — formatters/base.py:77; we prefer failing loudly, callers
    can pass ``lit(None)`` mappings explicitly).
    """
    return [F.col(m["from"]).alias(m["to"]) for m in mapping]


def apply_mapping(df: DataFrame, mapping: MappingSpec) -> DataFrame:
    return df.select(*build_mapping_projection(mapping))

