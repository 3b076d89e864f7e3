"""Guarded driver collect, and the notes channel operators report through.

Several operators solve a small relation faster on the driver (union-find,
Kahn, minimax heap, pointer-doubling replay) than in relational rounds,
which cost a fixed few Spark jobs each regardless of row count.  The probe
pulls at most max_rows + 1 rows in ONE job: a short result IS the
relation; an overflow tells the caller to run its distributed rounds (or
to refuse, where it has none).  Call it as `guard.collect_small(...)` so a
test can monkeypatch this one name to force every distributed branch.

Operators report how a call went (`path`, `rows`, `rounds`, counts they
already hold) with `note(op, ...)`; a caller that wants the numbers opens
`recording()`.  A note runs no Spark job, and with no recording open it
keeps nothing.
"""
from __future__ import annotations

import contextlib
import contextvars
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

_RECORDINGS: contextvars.ContextVar[tuple[dict, ...]] = contextvars.ContextVar(
    "guard_recordings", default=()
)


def note(op: str, **fields) -> None:
    """Merge `fields` into `op`'s entry of every open recording; a field
    noted again takes the later value."""
    for rec in _RECORDINGS.get():
        rec.setdefault(op, {}).update(fields)


@contextlib.contextmanager
def recording() -> Iterator[dict]:
    """Collect the notes made in this context (not other threads') while
    open, as {op: {field: value}}.  Nested recordings each receive them."""
    rec: dict = {}
    token = _RECORDINGS.set(_RECORDINGS.get() + (rec,))
    try:
        yield rec
    finally:
        _RECORDINGS.reset(token)


def collect_small(df: DataFrame, max_rows: int, op: str) -> pd.DataFrame | None:
    """`df` as a pandas frame when it holds at most `max_rows` rows, else
    None — one limit(max_rows + 1) job either way.  Notes `op`'s path:
    "driver" with the row count, or "distributed"."""
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) <= max_rows:
        note(op, path="driver", rows=len(pdf))
        return pdf
    note(op, path="distributed")
    return None
