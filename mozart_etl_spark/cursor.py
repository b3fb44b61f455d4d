"""Incremental high-watermark cursor store.

The reference declares incremental extraction (``base.py:70-73``:
``WHERE incremental_column > :last_value``) but never persists or
passes a cursor, so every "incremental" run re-extracts everything
(SURVEY.md intro, defect 2). This store implements the *intended*
semantics: a per-(tenant, table) high watermark, updated only after a
successful load, persisted atomically (write-temp + rename) so a
crashed run can never record a watermark for data it didn't load.

Values round-trip as ISO strings for date/timestamp cursors, as exact
string-encoded decimals for DECIMAL cursors (Oracle NUMBER et al. —
float would lose precision and break the ``>`` pushdown boundary),
and as plain ints/floats/strings otherwise.

``set`` and ``clear`` are a load -> modify -> replace cycle; a lock per
absolute file path serialises that cycle across threads, so tables
loading concurrently (and several store instances on one file) never
lose each other's watermarks. ``get`` needs no lock: the replace is
atomic, so a reader sees the old file or the new one.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import os
import tempfile
import threading
from dataclasses import dataclass
from typing import Any


def _encode(value: Any) -> Any:
    if isinstance(value, dt.datetime):
        return {"$type": "datetime", "v": value.isoformat()}
    if isinstance(value, dt.date):
        return {"$type": "date", "v": value.isoformat()}
    if isinstance(value, decimal.Decimal):
        return {"$type": "decimal", "v": str(value)}
    return value


def _decode(value: Any) -> Any:
    if isinstance(value, dict) and "$type" in value:
        if value["$type"] == "datetime":
            return dt.datetime.fromisoformat(value["v"])
        if value["$type"] == "date":
            return dt.date.fromisoformat(value["v"])
        if value["$type"] == "decimal":
            return decimal.Decimal(value["v"])
    return value


#: absolute store path -> the lock serialising its read-modify-write
_PATH_LOCKS: dict[str, threading.Lock] = {}


@dataclass
class CursorStore:
    """JSON-file-backed watermark store, keyed ``tenant/table``."""

    path: str

    def _load(self) -> dict[str, Any]:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return {k: _decode(v) for k, v in json.load(f).items()}

    def _write(self, state: dict[str, Any]) -> None:
        """Atomic write-temp + rename, temp cleaned up on any failure
        (shared by set/clear so neither can leak temp files)."""
        parent = os.path.dirname(os.path.abspath(self.path))
        os.makedirs(parent, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=parent)
        try:
            with os.fdopen(fd, "w") as f:
                json.dump({k: _encode(v) for k, v in state.items()}, f)
            os.replace(tmp, self.path)  # atomic on POSIX
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise

    def _lock(self) -> threading.Lock:
        # setdefault is atomic, so two threads always get the same lock
        return _PATH_LOCKS.setdefault(os.path.abspath(self.path), threading.Lock())

    def get(self, tenant_id: str, table: str) -> Any | None:
        return self._load().get(f"{tenant_id}/{table}")

    def set(self, tenant_id: str, table: str, value: Any) -> None:
        with self._lock():
            state = self._load()
            state[f"{tenant_id}/{table}"] = value
            self._write(state)

    def clear(self, tenant_id: str, table: str) -> None:
        with self._lock():
            state = self._load()
            if state.pop(f"{tenant_id}/{table}", None) is not None:
                self._write(state)
