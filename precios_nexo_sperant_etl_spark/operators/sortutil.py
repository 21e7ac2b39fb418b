"""Shared final-presentation sort with a scale guardrail.

Every audit-sized query result is total-ordered with
``repartition(1).sortWithinPartitions(...)`` instead of ``orderBy``:
``orderBy`` plans an ``Exchange rangepartitioning`` whose
partition-bounds SAMPLING job re-executes the child subtree — with an
opaque Python stage in the child, every expensive batch runs twice per
action (measured 3.39 s orderBy vs 1.67 s this shape on an 8×1 s map;
OPTIMIZATION_r11.md). The single output partition is the documented
audit-scale gear: results here are reports, pair relations, and top-k
tables, not corpus-sized relations.

The guardrail (r12, VERDICT item 8): nothing structural used to stop a
future call site from feeding a corpus-sized relation into
``repartition(1)`` — at 100 TB that serializes the sort on one task.
``SPARK_GRAFT_SERIAL_SORT_GUARD=<row bound>`` turns on a debug check:
the helper counts the child first and falls back to a parallel
``orderBy`` range sort above the bound (and the count makes the
violation visible in the UI as its own job). The count executes the
child subtree once more, so the guard is a DEBUG/CI mode, not a
production default — production keeps the zero-overhead serial shape
and the code-review contract that call sites are audit-sized. The
fallback (not an assert) is deliberate: a guarded run still returns
the same totally-ordered rows, so parity suites can run entirely under
the guard. The bound is read and validated once, at import: a value that
is not a non-negative integer fails the import with a message naming the
variable, instead of a bare ``int()`` error in the middle of a plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def _serial_sort_guard() -> int | None:
    raw = os.environ.get("SPARK_GRAFT_SERIAL_SORT_GUARD", "")
    if not raw:
        return None
    if not raw.strip().isdecimal():
        raise ValueError(
            "SPARK_GRAFT_SERIAL_SORT_GUARD must be a non-negative integer "
            f"row bound, got {raw!r}")
    return int(raw)


_GUARD = _serial_sort_guard()


def final_sort(df: DataFrame, *cols: str) -> DataFrame:
    if _GUARD is not None and df.count() > _GUARD:
        return df.orderBy(*cols)
    return df.repartition(1).sortWithinPartitions(*cols)
