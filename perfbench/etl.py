"""``etl_refresh``: the reference's cron job, one full refresh per op.

A refresh reads the Sperant CRM workbook, fans the project workbooks in
with ``ingest_project_files_distributed``, builds ``update_prices`` and
writes every artifact: the per-project partitioned table, the 3-sheet
audit workbook, the JSON records dump and the KPI document.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import duckdb
from precios_nexo_sperant_etl_spark.plans.kpi_pipeline import (kpi_document,
                                                                records)
from precios_nexo_sperant_etl_spark.plans.reference_pipeline import \
    update_prices
from precios_nexo_sperant_etl_spark.sources.excel import read_xlsx_rows
from precios_nexo_sperant_etl_spark.sources.ingest import (
    COL_ESTADO, COL_NUMERO, COL_PRECIO, ingest_project_files_distributed)
from precios_nexo_sperant_etl_spark.sources.sinks import (
    write_audit_workbook, write_json_document, write_json_records,
    write_partitioned)

import gen
from harness import Tracer
from xlsx import read_sheet

WORKER_MODULES = ("precios_nexo_sperant_etl_spark.sources.ingest",
                  "precios_nexo_sperant_etl_spark.sources.excel")
N_PROJECTS = 6
N_ROWS = 189
TRUTH_FIELDS = ("Registros", "Con_Match", "Sin_Match", "Cambios_Precio",
                "Cambios_Estado")
CRM_SCHEMA = ("nombre_proyecto string, nombre string, precio_lista double, "
              "estado_comercial string, fecha_actualizacion string, _ord long")


def prepare(work: str, seed: int) -> dict:
    """Generate (or reuse) this seed's inputs; generation is not set-up."""
    d = os.path.join(work, "inputs", f"etl-s{seed}-p{N_PROJECTS}-r{N_ROWS}")
    manifest = os.path.join(d, "manifest.json")
    if not os.path.exists(manifest):
        shutil.rmtree(d, ignore_errors=True)
        gen.etl_inputs(d + ".tmp", seed, N_PROJECTS, N_ROWS)
        os.replace(d + ".tmp", d)
    with open(manifest, encoding="utf-8") as f:
        m = json.load(f)
    m["archivos"] = {p: os.path.join(d, f) for p, f in m["archivos"].items()}
    m["crm"] = os.path.join(d, m["crm"])
    m["out"] = os.path.join(work, "out", "etl")
    return m


def setup(spark, inputs: dict) -> dict:
    return {"inputs": inputs, "spark": spark}


def _timed_reader(read, seconds, rows):
    """Executor-side ``reader=`` wrapper: time and rows per workbook come
    back to the Spark driver through accumulators."""
    def reader(path):
        t0 = time.perf_counter()
        out = read(path)
        seconds.add(time.perf_counter() - t0)
        rows.add(len(out))
        return out
    return reader


def op(state: dict, tracer: Tracer, op_id: str) -> dict:
    spark, m = state["spark"], state["inputs"]
    out = m["out"]
    reader = read_xlsx_rows
    acc = None
    if tracer.enabled:
        sc = spark.sparkContext
        acc = (sc.accumulator(0.0), sc.accumulator(0))
        reader = _timed_reader(read_xlsx_rows, *acc)
    skips: list[str] = []
    with tracer.operation(op_id):
        with tracer.span("read_crm", "sources.excel", group="excel"):
            t0 = time.perf_counter()
            rows = read_xlsx_rows(m["crm"], sheet_name=gen.CRM_SHEET)
            crm_s, crm_rows = time.perf_counter() - t0, len(rows)
            sperant = spark.createDataFrame(
                [(str(r[0]), str(r[1]), None if r[2] is None else float(r[2]),
                  r[3], r[4], i) for i, r in enumerate(rows[1:])], CRM_SCHEMA)
        with tracer.span("ingest_project_files_distributed", "sources.ingest",
                         group="ingest"):
            nexo = ingest_project_files_distributed(
                spark, m["archivos"], reader=reader,
                on_skip=lambda project, reason: skips.append(project))
        with tracer.span("update_prices", "plans.reference_pipeline",
                         group="refpipe"):
            res = update_prices(nexo, sperant)
        front = ("Proyecto", COL_NUMERO, COL_PRECIO, COL_ESTADO)
        with tracer.span("write_partitioned", "sources.sinks", group="sinks"):
            write_partitioned(res["updated"], os.path.join(out, "tablas"),
                              front_cols=front)
        with tracer.span("write_audit_workbook", "sources.sinks", group="sinks"):
            write_audit_workbook(res["resumen"], res["solo_nexo"],
                                 res["solo_sperant"],
                                 os.path.join(out, "Auditoria", "Resumen.xlsx"))
        with tracer.span("write_json_records", "sources.sinks", group="sinks"):
            write_json_records(records(res["updated"], prefer=list(front)),
                               os.path.join(out, "records"))
        with tracer.span("kpi_document", "plans.kpi_pipeline", group="kpi"):
            doc = kpi_document(res["updated"], COL_PRECIO,
                               generated_at="2025-01-01T00:00:00")
        with tracer.span("write_json_document", "sources.sinks", group="sinks"):
            write_json_document(doc, os.path.join(out, "kpis.json"))
    result = {"skips": sorted(skips), "unidades": doc["cards"]["unidades_totales"]}
    if tracer.enabled:
        attempted = len(m["archivos"])
        self_s = tracer.self_times(op_id)
        result["layers"] = {
            "excel.read_s": acc[0].value + crm_s,
            "excel.rows": acc[1].value + crm_rows,
            "ingest.fanin_s": self_s["sources.ingest"],
            "ingest.files_ok_frac": (attempted - len(skips)) / attempted,
            "refpipe.build_s": self_s["plans.reference_pipeline"],
            "sinks.write_s": self_s["sources.sinks"],
            "sinks.bytes_written": _tree_bytes(out),
            "kpi.doc_s": self_s["plans.kpi_pipeline"],
        }
    return result


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def check_op(state: dict, result: dict) -> list[str]:
    """Cheap per-refresh checks: skip set and the KPI card row count."""
    m = state["inputs"]
    problems = []
    if result["skips"] != m["skipped"]:
        problems.append(f"skipped {result['skips']} != {m['skipped']}")
    if result["unidades"] != m["rows"]:
        problems.append(f"unidades_totales {result['unidades']} != {m['rows']}")
    return problems


def check_artifacts(state: dict) -> list[str]:
    """The last refresh's artifacts against the generator's truth: the
    audit workbook's Resumen and Solo sheets, and the row counts of the
    partitioned table and the JSON records dump."""
    m = state["inputs"]
    out = m["out"]
    problems = []
    book = os.path.join(out, "Auditoria", "Resumen.xlsx")
    sheet = read_sheet(book, "Resumen")
    header, body = sheet[0], sheet[1:]
    got = {r[header.index("Proyecto")]: {k: r[header.index(k)] for k in TRUTH_FIELDS}
           for r in body}
    if got != m["truth"]:
        bad = sorted(p for p in set(got) | set(m["truth"])
                     if got.get(p) != m["truth"].get(p))
        problems.append(f"resumen differs from truth for {bad[:5]}")
    solo = [r[0] for r in read_sheet(book, "Solo_en_sperant")[1:]]
    if solo != m["solo_sperant"]:
        problems.append(f"Solo_en_sperant {solo} != {m['solo_sperant']}")
    if len(read_sheet(book, "Solo_en_df_total")) > 1:
        problems.append("Solo_en_df_total is not empty")
    con = duckdb.connect()
    try:
        n_parquet = con.sql(
            f"SELECT count(*) FROM read_parquet('{out}/tablas/*/*.parquet')"
        ).fetchone()[0]
        n_json = con.sql(
            f"SELECT count(*) FROM read_json_auto('{out}/records/*.json')"
        ).fetchone()[0]
    finally:
        con.close()
    for name, n in (("partitioned table", n_parquet), ("records", n_json)):
        if n != m["rows"]:
            problems.append(f"{name} has {n} rows, expected {m['rows']}")
    return problems


def warmup(state: dict) -> list[str]:
    """No untimed refresh: each cron invocation pays its first refresh in a
    fresh JVM, so that refresh is the one measured."""
    return []


def check(state: dict, results: list[dict]) -> list[str]:
    """Every timed refresh's skip set and KPI count, and the artifacts
    the last one wrote."""
    problems = [p for r in results if "skips" in r for p in check_op(state, r)]
    return problems + check_artifacts(state)
