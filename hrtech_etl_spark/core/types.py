"""Typed query algebra: the engine's logical "IR".

Mirrors the reference's capability surface (Resource / Cursor /
Condition / Operator / event & push enums — see reference
``src/hrtech_etl/core/types.py:8-85``) as plain dataclasses. These are
*logical* descriptions only; compilation to Spark ``Column``
expressions lives in :mod:`hrtech_etl_spark.core.expressions`.
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field
from typing import Any, Optional


class Resource(str, enum.Enum):
    """Entity kind every pipeline call is parameterized by."""

    JOB = "job"
    PROFILE = "profile"


class CursorMode(str, enum.Enum):
    """Which column drives an incremental range scan."""

    UID = "uid"
    CREATED_AT = "created_at"
    UPDATED_AT = "updated_at"


class SortOrder(str, enum.Enum):
    ASC = "asc"
    DESC = "desc"


class Operator(str, enum.Enum):
    """Predicate operators of the Condition algebra.

    Reference semantics (``core/utils.py:80-99``):
    - ordered ops (GT/GTE/LT/LTE) fail on NULL operands,
    - EQ is plain equality,
    - IN is membership in ``value or []``,
    - CONTAINS is substring containment on *stringified* operands.
    """

    EQ = "eq"
    GT = "gt"
    LT = "lt"
    GTE = "gte"
    LTE = "lte"
    IN = "in"
    CONTAINS = "contains"


class BoolJoin(str, enum.Enum):
    """Boolean composition used by full-text search bindings."""

    AND = "AND"
    OR = "OR"


class JobEventType(str, enum.Enum):
    CREATED = "created"
    UPDATED = "updated"
    DELETED = "deleted"
    ARCHIVED = "archived"
    UPSERTED = "upserted"


class ProfileEventType(str, enum.Enum):
    CREATED = "created"
    UPDATED = "updated"
    DELETED = "deleted"
    ARCHIVED = "archived"
    UPSERTED = "upserted"


class PushMode(str, enum.Enum):
    RESOURCES = "resources"
    EVENTS = "events"


@dataclass(frozen=True)
class Condition:
    """One predicate atom: ``field <op> value``."""

    field: str
    op: Operator
    value: Any = None

    def __post_init__(self) -> None:
        if not isinstance(self.op, Operator):
            object.__setattr__(self, "op", Operator(self.op))


@dataclass
class Cursor:
    """Incremental-scan state.

    ``start`` is the resume point (exclusive, paired with ``start_uid``
    for deterministic tie-breaking — see SURVEY.md §7.3); ``end`` is the
    new resume point produced by a completed scan.
    """

    mode: CursorMode = CursorMode.UPDATED_AT
    start: Optional[Any] = None
    end: Optional[Any] = None
    sort_by: SortOrder = SortOrder.ASC
    # Lexicographic tie-break key: rows with cursor_col == start and
    # uid <= start_uid are considered already consumed.
    start_uid: Optional[Any] = None
    end_uid: Optional[Any] = None

    def __post_init__(self) -> None:
        if not isinstance(self.mode, CursorMode):
            self.mode = CursorMode(self.mode)
        if not isinstance(self.sort_by, SortOrder):
            self.sort_by = SortOrder(self.sort_by)


@dataclass
class PushResult:
    """Counter aggregates produced by a push pipeline run."""

    total_events: int = 0
    total_resources_fetched: int = 0
    total_resources_pushed: int = 0
    skipped_missing: int = 0
    skipped_having: int = 0
    errors: list[str] = field(default_factory=list)
