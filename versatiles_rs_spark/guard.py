"""Guarded driver collect: the limit probe every driver-solve site shares.

Several operators solve a small relation faster on the driver (union-find,
Kahn, minimax heap, pointer-doubling replay) than in relational rounds,
which cost a fixed few Spark jobs each regardless of row count.  The probe
pulls at most max_rows + 1 rows in ONE job: a short result IS the
relation; an overflow tells the caller to run its distributed rounds (or
to refuse, where it has none).  Call it as `guard.collect_small(...)` so a
test can monkeypatch this one name to force every distributed branch.
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame


def collect_small(df: DataFrame, max_rows: int) -> pd.DataFrame | None:
    """`df` as a pandas frame when it holds at most `max_rows` rows, else
    None — one limit(max_rows + 1) job either way."""
    pdf = df.limit(max_rows + 1).toPandas()
    return pdf if len(pdf) <= max_rows else None
