"""Row-set comparison between a Spark result and a DuckDB result."""

from __future__ import annotations

import math


def _cell(v):
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _rows(cols, rows) -> list[tuple]:
    """Rows with columns in name order, sorted by their string form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple("\0" if c is None else str(c) for c in r))
    return out


def diff(s_cols, s_rows, d_cols, d_rows) -> list[str]:
    """Problems found comparing two unordered results: column names, row
    count and every cell, exactly (NaN counts as NULL)."""
    if sorted(s_cols) != sorted(d_cols):
        return [f"columns: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"]
    if len(s_rows) != len(d_rows):
        return [f"rows: spark={len(s_rows)} duckdb={len(d_rows)}"]
    bad = sum(1 for sr, dr in zip(_rows(s_cols, s_rows), _rows(d_cols, d_rows))
              for a, b in zip(sr, dr) if a != b)
    return [f"values: {bad} cells differ"] if bad else []
