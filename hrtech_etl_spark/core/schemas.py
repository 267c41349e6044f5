"""Canonical StructType schemas.

Three layers, mirroring the reference's model stack:

1. **Native** warehouse rows (jobs/profiles — reference
   ``connectors/warehouse_a/models.py:19-140``),
2. **Unified** normalized rows (``core/models.py:160-304,427-554``),
3. **Events** (``core/models.py:15-30``).

Plus the driver-generated testdata tables (TESTDATA.md / FIXTURES.md §2).

Query-capability metadata (which the reference attaches per field via
``json_schema_extra`` — cursor modes, prefilter operator whitelists,
search/in bindings; ``core/models.py:167-250``) is carried in
``StructField.metadata`` so the expression compiler can validate
pushability the same way (see :mod:`hrtech_etl_spark.core.expressions`).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Capability metadata keys (StructField.metadata)
# ---------------------------------------------------------------------------

META_CURSOR = "cursor"  # value: one of CursorMode values
META_PREFILTER = "prefilter_operators"  # value: list of Operator values
META_SEARCH_BINDING = "search_binding"  # value: {"search_field","field_join","value_join"}
META_IN_BINDING = "in_binding"  # value: {"query_field","formatter"}


def _f(name, dtype, nullable=True, **meta):
    return T.StructField(name, dtype, nullable, metadata=meta or None)


# ---------------------------------------------------------------------------
# Native layer (warehouse rows)
# ---------------------------------------------------------------------------

JOB_SCHEMA = T.StructType(
    [
        _f("job_id", T.StringType(), False, **{META_CURSOR: "uid", META_PREFILTER: ["eq", "in", "contains"]}),
        _f("title", T.StringType(), False, **{META_PREFILTER: ["eq", "contains"]}),
        _f("created_at", T.TimestampType(), False, **{META_CURSOR: "created_at", META_PREFILTER: ["gte", "lte"]}),
        _f("updated_at", T.TimestampType(), False, **{META_CURSOR: "updated_at", META_PREFILTER: ["gte", "lte"]}),
        _f("payload", T.StringType()),  # open map as a JSON string column
    ]
)

PROFILE_SCHEMA = T.StructType(
    [
        _f("profile_id", T.StringType(), False, **{META_CURSOR: "uid", META_PREFILTER: ["eq", "in", "contains"]}),
        _f("full_name", T.StringType(), False, **{META_PREFILTER: ["eq", "contains"]}),
        _f("created_at", T.TimestampType(), False, **{META_CURSOR: "created_at", META_PREFILTER: ["gte", "lte"]}),
        _f("updated_at", T.TimestampType(), False, **{META_CURSOR: "updated_at", META_PREFILTER: ["gte", "lte"]}),
        _f("payload", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Unified layer (nested/array types)
# ---------------------------------------------------------------------------

LOCATION = T.StructType(
    [
        _f("text", T.StringType()),
        _f("lat", T.DoubleType()),
        _f("lng", T.DoubleType()),
    ]
)

SKILL = T.StructType(
    [_f("name", T.StringType()), _f("type", T.StringType()), _f("value", T.StringType())]
)

GENERAL_ENTITY = T.StructType([_f("name", T.StringType()), _f("value", T.StringType())])

RANGE_FLOAT = T.StructType(
    [
        _f("name", T.StringType()),
        _f("value_min", T.DoubleType()),
        _f("value_max", T.DoubleType()),
        _f("unit", T.StringType()),
    ]
)

UNIFIED_JOB_SCHEMA = T.StructType(
    [
        _f("id", T.StringType()),
        _f("origin", T.StringType(), False),
        _f("key", T.StringType(), False, **{META_PREFILTER: ["eq"]}),
        _f("reference", T.StringType(), **{META_PREFILTER: ["eq"]}),
        _f(
            "board_key",
            T.StringType(),
            False,
            **{META_PREFILTER: ["eq", "in"], META_IN_BINDING: {"query_field": "board_keys", "formatter": "array"}},
        ),
        _f("created_at", T.TimestampType(), **{META_CURSOR: "created_at", META_PREFILTER: ["gte", "lte"]}),
        _f("updated_at", T.TimestampType(), False, **{META_CURSOR: "updated_at", META_PREFILTER: ["gte", "lte"]}),
        _f("archived_at", T.TimestampType()),
        _f(
            "name",
            T.StringType(),
            False,
            **{
                META_PREFILTER: ["eq", "contains"],
                META_SEARCH_BINDING: {"search_field": "names", "field_join": "OR", "value_join": "OR"},
            },
        ),
        _f(
            "text",
            T.StringType(),
            False,
            **{
                META_PREFILTER: ["contains"],
                META_SEARCH_BINDING: {"search_field": "text_keywords", "field_join": "AND", "value_join": "AND"},
            },
        ),
        _f("location", LOCATION),
        _f("skills", T.ArrayType(SKILL)),
        _f("tags", T.ArrayType(GENERAL_ENTITY), **{META_PREFILTER: ["in"]}),
        _f("ranges_float", T.ArrayType(RANGE_FLOAT)),
        _f("payload", T.StringType()),
    ]
)

EXPERIENCE = T.StructType(
    [
        _f("title", T.StringType()),
        _f("company", T.StringType()),
        _f("date_start", T.TimestampType()),
        _f("date_end", T.TimestampType()),
        _f("skills", T.ArrayType(SKILL)),
    ]
)

EDUCATION = T.StructType(
    [
        _f("title", T.StringType()),
        _f("school", T.StringType()),
        _f("date_start", T.TimestampType()),
        _f("date_end", T.TimestampType()),
    ]
)

PROFILE_INFO = T.StructType(
    [
        _f("full_name", T.StringType()),
        _f("first_name", T.StringType()),
        _f("last_name", T.StringType()),
        _f("email", T.StringType()),
        _f("location", LOCATION),
    ]
)

UNIFIED_PROFILE_SCHEMA = T.StructType(
    [
        _f("id", T.StringType()),
        _f("origin", T.StringType(), False),
        _f("key", T.StringType(), False, **{META_PREFILTER: ["eq"]}),
        _f(
            "source_key",
            T.StringType(),
            False,
            **{META_PREFILTER: ["eq", "in"], META_IN_BINDING: {"query_field": "source_keys", "formatter": "array"}},
        ),
        _f("created_at", T.TimestampType(), False, **{META_CURSOR: "created_at", META_PREFILTER: ["gte", "lte"]}),
        _f("updated_at", T.TimestampType(), False, **{META_CURSOR: "updated_at", META_PREFILTER: ["gte", "lte"]}),
        _f("archived_at", T.TimestampType()),
        _f("info", PROFILE_INFO),
        _f(
            "text",
            T.StringType(),
            False,
            **{
                META_PREFILTER: ["contains"],
                META_SEARCH_BINDING: {"search_field": "text_keywords", "field_join": "AND", "value_join": "AND"},
            },
        ),
        _f("experiences_duration", T.DoubleType()),
        _f("experiences", T.ArrayType(EXPERIENCE)),
        _f("educations", T.ArrayType(EDUCATION)),
        _f("skills", T.ArrayType(SKILL)),
        _f("tags", T.ArrayType(GENERAL_ENTITY)),
        _f("payload", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Driver testdata tables (FIXTURES.md §2)
# ---------------------------------------------------------------------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def export_schema_fields(schema: T.StructType) -> list[dict]:
    """Schema introspection for UIs/CLIs (reference
    ``core/ui_schema.py:7-104`` / ``GET /api/schema/...``): one dict
    per field with its type and query-capability metadata — which
    operators push down, whether it can drive a cursor, and its
    search/in bindings."""
    out = []
    for f_ in schema.fields:
        meta = f_.metadata or {}
        out.append(
            {
                "name": f_.name,
                "type": f_.dataType.simpleString(),
                "nullable": f_.nullable,
                "cursor": meta.get(META_CURSOR),
                "prefilter_operators": meta.get(META_PREFILTER),
                "search_binding": meta.get(META_SEARCH_BINDING),
                "in_binding": meta.get(META_IN_BINDING),
            }
        )
    return out


def prefilter_operators(schema: T.StructType, field: str) -> list[str] | None:
    """Pushdown-capability whitelist for a field (None = unrestricted)."""
    for f_ in schema.fields:
        if f_.name == field:
            return (f_.metadata or {}).get(META_PREFILTER)
    raise KeyError(f"unknown field {field!r}")
