"""KPI/records extraction (python_json.py, SURVEY §3.2): standardized
records dump + the nested KPI document {cards, by_proyecto, by_estado}.

The heavy work (counts, means, exact medians, value counts) happens in
one Spark ``cube`` aggregate — grouped, one shuffle. Only its tiny
per-group rows are collected to assemble the nested dict, which is a
serving-layer document, not a dataset (at 100 TB the aggregate output is
still ≤ |projects| × |states| rows).
"""

from __future__ import annotations

import datetime as dt
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import davg


def records(df: DataFrame, prefer: list[str] | None = None) -> DataFrame:
    """Stage 4 (python_json.py:192-205): ordered projection of the
    columns present, ready for ``df.write.json`` (Spark emits NULL for
    null doubles natively — the NaN→None hygiene pass is free)."""
    if prefer is None:
        prefer = ["Proyecto", "Numero de inmueble", "Precio de lista",
                  "Precio de lista_num", "Estado de inmueble", "Tipologia",
                  "Area techada", "Area techada_num", "Area total",
                  "Area total_num", "Dormitorios", "Dormitorios_num", "Piso"]
    cols = [c for c in prefer if c in df.columns]
    return df.select(*cols)


def kpi_document(df: DataFrame, price_col: str, project_col: str = "Proyecto",
                 state_col: str = "Estado de inmueble",
                 generated_at: str | None = None) -> dict[str, Any]:
    """Stage 5 (python_json.py:133-166): the nested KPI tree.

    Matches the reference's shape and rounding (``round(x, 2)`` half-even
    → ``bround``); per-state counts are ordered count-desc exactly like
    ``value_counts()``.

    Every number comes from ONE ``cube(project, state)`` aggregate and one
    collect. Its ``grouping_id`` tells the grouping sets apart, which a
    NULL project alone could not: 0 = (project, state) counts, 1 =
    per-project cards, 2 = per-state counts, 3 = the global cards. A cube
    over empty input returns no rows at all (unlike ``df.agg``), hence
    the ``unidades_totales: 0`` default.
    """
    now = generated_at or dt.datetime.now().isoformat(timespec="seconds")
    price = F.col(price_col)
    estado = F.coalesce(F.col(state_col).cast("string"), F.lit("__NA__"))
    rows = (df.cube(F.col(project_col).alias("proyecto"), estado.alias("estado"))
              .agg(F.grouping_id().alias("gid"),
                   F.count(F.lit(1)).alias("n"),
                   davg(price).alias("avg"),
                   F.median(price).alias("median"))
              .collect())
    sets: dict[int, list] = {0: [], 1: [], 2: [], 3: []}
    for r in rows:
        sets[r["gid"]].append(r)

    def stats(r, count_key: str) -> dict[str, Any]:
        rec: dict[str, Any] = {count_key: r["n"]}
        if r["avg"] is not None:
            rec["precio_promedio"] = float(round(r["avg"], 2))
            rec["precio_median"] = float(round(r["median"], 2))
        return rec

    def count_desc(pairs) -> dict[str, int]:
        return dict(sorted(pairs, key=lambda kv: (-kv[1], kv[0])))

    state_counts: dict[Any, list[tuple[str, int]]] = {}
    for r in sets[0]:
        state_counts.setdefault(r["proyecto"], []).append((r["estado"], r["n"]))
    by_proyecto: dict[Any, dict[str, Any]] = {}
    for r in sorted(sets[1], key=lambda r: str(r["proyecto"])):
        rec = stats(r, "unidades")
        rec["por_estado"] = count_desc(state_counts[r["proyecto"]])
        by_proyecto[r["proyecto"]] = rec
    return {
        "generated_at": now,
        "cards": (stats(sets[3][0], "unidades_totales") if sets[3]
                  else {"unidades_totales": 0}),
        "by_proyecto": by_proyecto,
        "by_estado": count_desc((r["estado"], r["n"]) for r in sets[2]),
    }
