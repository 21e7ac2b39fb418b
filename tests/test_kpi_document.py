"""``kpi_document`` against a DuckDB oracle: every count, mean and median
is recomputed independently, and the document's key order — projects by
name, states count-desc then name — is compared level by level, not just
its dict equality."""

import duckdb
import pandas as pd

from precios_nexo_sperant_etl_spark.plans.kpi_pipeline import kpi_document

SCHEMA = "Proyecto string, `Estado de inmueble` string, Precio double"
ROWS = [
    ("Alfa", "Disponible", 100.10),
    ("Alfa", "Disponible", 200.25),
    ("Alfa", "Vendido", 300.00),
    ("Alfa", "Vendido", 150.50),
    ("Alfa", None, None),
    # every price NULL: the project gets no precio_* keys
    ("Beta", "Disponible", None),
    ("Beta", None, None),
    (None, "Separado", 90.00),
    (None, "Disponible", 95.55),
    ("Ñandú", "Vendido", 10.01),
]
GENERATED = "2025-01-01T00:00:00"


def _ordered(x):
    """Dicts as (key, value) lists, recursively, so == also checks order."""
    if isinstance(x, dict):
        return [(k, _ordered(v)) for k, v in x.items()]
    return x


def _stats(count_key, n, avg, median):
    rec = {count_key: n}
    if avg is not None:
        rec["precio_promedio"] = float(round(avg, 2))
        rec["precio_median"] = float(round(median, 2))
    return rec


def _oracle(rows):
    con = duckdb.connect()
    try:
        con.register("t", pd.DataFrame(rows, columns=["p", "e", "v"]))
        agg = ("count(*), avg(v::DECIMAL(18,2))::DOUBLE, "
               "median(v)::DOUBLE")
        cards = con.sql(f"SELECT {agg} FROM t").fetchone()
        projects = con.sql(
            f"SELECT p, {agg} FROM t GROUP BY p "
            "ORDER BY coalesce(p, 'None')").fetchall()
        states = con.sql(
            "SELECT p, coalesce(e, '__NA__') AS s, count(*) AS n FROM t "
            "GROUP BY ALL ORDER BY n DESC, s").fetchall()
        by_estado = con.sql(
            "SELECT coalesce(e, '__NA__') AS s, count(*) AS n FROM t "
            "GROUP BY s ORDER BY n DESC, s").fetchall()
    finally:
        con.close()
    by_proyecto = {}
    for p, n, avg, median in projects:
        rec = _stats("unidades", n, avg, median)
        rec["por_estado"] = {s: c for q, s, c in states if q == p}
        by_proyecto[p] = rec
    return {"generated_at": GENERATED,
            "cards": _stats("unidades_totales", *cards),
            "by_proyecto": by_proyecto,
            "by_estado": dict(by_estado)}


def test_kpi_document_matches_duckdb(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    doc = kpi_document(df, "Precio", generated_at=GENERATED)
    expected = _oracle(ROWS)
    assert _ordered(doc) == _ordered(expected)
    # the fixture exercises what it is meant to
    assert list(doc["by_proyecto"]) == ["Alfa", "Beta", None, "Ñandú"]
    assert doc["by_proyecto"]["Beta"] == {
        "unidades": 2, "por_estado": {"Disponible": 1, "__NA__": 1}}
    assert list(doc["by_proyecto"]["Alfa"]["por_estado"]) == [
        "Disponible", "Vendido", "__NA__"]
    assert list(doc["by_estado"]) == ["Disponible", "Vendido", "__NA__",
                                      "Separado"]


def test_kpi_document_empty_input(spark):
    df = spark.createDataFrame([], SCHEMA)
    doc = kpi_document(df, "Precio", generated_at=GENERATED)
    assert _ordered(doc) == _ordered({
        "generated_at": GENERATED, "cards": {"unidades_totales": 0},
        "by_proyecto": {}, "by_estado": {}})
