"""Cursor checkpoint store.

The reference returns the advanced ``Cursor`` from ``pull()`` and
leaves persistence to the caller (``core/pipeline.py:77``). Here the
cursor is durable engine state: a tiny JSON document per (pipeline,
resource) pair, written atomically. The store uses the driver's local
filesystem API (``os``), so its root must be a local or POSIX-mounted
path (on a cluster, a shared mount the driver sees); HDFS/S3 URIs are
not supported. The document is a few bytes of driver-side state, never
data.

Tie-safety: cursors are the lexicographic pair ``(cursor_col, uid)``
(SURVEY.md §7.3) so a resume with ties on e.g. ``updated_at`` neither
loses nor duplicates rows.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import asdict
from typing import Optional

from hrtech_etl_spark.core.types import Cursor, CursorMode, SortOrder


def cursor_to_json(cursor: Cursor) -> str:
    d = asdict(cursor)
    d["mode"] = cursor.mode.value
    d["sort_by"] = cursor.sort_by.value
    return json.dumps(d, default=str)


def cursor_from_json(payload: str) -> Cursor:
    d = json.loads(payload)
    return Cursor(
        mode=CursorMode(d["mode"]),
        start=d.get("start"),
        end=d.get("end"),
        sort_by=SortOrder(d.get("sort_by", "asc")),
        start_uid=d.get("start_uid"),
        end_uid=d.get("end_uid"),
    )


class CursorStore:
    """Atomic JSON-file checkpoint store keyed by pipeline name."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, key: str) -> str:
        return os.path.join(self.root, f"{key}.cursor.json")

    def load(self, key: str) -> Optional[Cursor]:
        path = self._path(key)
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return cursor_from_json(fh.read())

    def save(self, key: str, cursor: Cursor) -> None:
        path = self._path(key)
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as fh:
                fh.write(cursor_to_json(cursor))
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)


def resume_cursor(
    store: Optional[CursorStore], key: str, fallback: Cursor
) -> Cursor:
    """The resume contract shared by every entry point (CLI, HTTP
    facade): load the checkpoint and promote its ``(end, end_uid)`` to
    the new ``(start, start_uid)``; a checkpoint without an end resumes
    as-is; no checkpoint → ``fallback``."""
    cursor = store.load(key) if store else None
    if cursor is not None and cursor.end is not None:
        return Cursor(
            mode=cursor.mode,
            start=cursor.end,
            start_uid=cursor.end_uid,
            sort_by=cursor.sort_by,
        )
    return cursor if cursor is not None else fallback
