"""Output checks: row count plus an order-insensitive value digest.

Spark's collected output and the expected relation (usually a DuckDB query
over the same staged parquet) are normalized cell by cell, sorted, and
hashed; a check fails when the counts or the digests differ.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

import numpy as np
import pandas as pd


def _cell(v):
    if v is None:
        return "null"
    if isinstance(v, (float, np.floating)):
        return "null" if math.isnan(v) else f"{round(float(v), 6):.10g}"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer, decimal.Decimal)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        return str(v.tz_localize(None).value // 1000 if v.tz else v.value // 1000)
    if isinstance(v, datetime.datetime):
        return str(int(pd.Timestamp(v).value // 1000))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if v is pd.NaT:
        return "null"
    return str(v)


def rows(df: pd.DataFrame, columns) -> list:
    """Sorted normalized row tuples of ``df`` over ``columns``."""
    cols = [df[c].astype(object).where(df[c].notna(), None).tolist() for c in columns]
    return sorted(tuple(_cell(v) for v in row) for row in zip(*cols))


def digest(df: pd.DataFrame, columns) -> tuple:
    """(row count, order-insensitive value digest) of ``df``."""
    h = hashlib.sha1()
    for row in rows(df, columns):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return len(df), h.hexdigest()


class Checker:
    """Runs a workload's checks and keeps their outcome per operation.

    An operation is the part of a check's name before its first dot
    (``diff.added`` and ``diff.removed`` check one ``compare_dataframes``
    call), so a wrong output counts once however many checks see it.
    """

    def __init__(self, con):
        self.con = con
        self.checked: set = set()
        self.failed: dict = {}

    @property
    def messages(self) -> list:
        return [m for ms in self.failed.values() for m in ms]

    def _result(self, name, ok: bool, message: str) -> None:
        op = name.split(".")[0]
        self.checked.add(op)
        if not ok:
            self.failed.setdefault(op, []).append(f"{name}: {message}")

    def frame(self, name, got: pd.DataFrame, sql: str = None, expected: pd.DataFrame = None):
        """Compare ``got`` with ``expected`` (or the result of ``sql``) on
        the expected relation's columns."""
        if expected is None:
            expected = self.con.execute(sql).df()
        columns = list(expected.columns)
        missing = [c for c in columns if c not in got.columns]
        if missing:
            self._result(name, False, f"output lacks columns {missing}")
            return
        g, e = digest(got, columns), digest(expected, columns)
        self._result(name, g == e, f"rows/digest {g} != expected {e}")

    def equal(self, name, got, expected):
        self._result(name, got == expected, f"{got!r:.200} != expected {expected!r:.200}")

    def true(self, name, ok: bool, detail: str = ""):
        self._result(name, ok, detail or "check failed")
