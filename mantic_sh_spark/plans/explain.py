"""Physical-plan inspection helpers — the O-series guarantees of
SURVEY.md §4 made checkable.

Catalyst gives predicate pushdown, column pruning, and broadcast
selection for free *if* the plan is expressed declaratively; these
helpers let tests (and bench reports) assert the plan actually has
them, instead of trusting that it should."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if a parquet scan carries a pushed filter mentioning fragment."""
    plan = explain_str(df)
    return any("PushedFilters" in line and fragment in line for line in plan.splitlines())


def has_broadcast_join(df: DataFrame) -> bool:
    plan = explain_str(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from the (first) parquet scan — the
    column-pruning check."""
    plan = explain_str(df)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            cols = line.split("struct<", 1)[-1].rstrip(">").split(",")
            return [c.split(":")[0].strip() for c in cols if ":" in c]
    return []

