"""``registry_suite``: one pass over a fixed set of registered queries,
each constructed with ``queries()[name](spark, sf)`` and then written
once to the ``noop`` sink. The seed sets the order, the same in every
pass of a run.

The set covers eager construction (the ``operators.graph`` connected
components loop and a ``streaming`` run), the from-scratch codec kernels
behind the Python/Arrow seam, and the dashboard operators
(``operators.serve``, ``pivot``, ``kpi``) as the registry exposes them.

The tables are the repository's sf0.01 fixture (seed 42), vendored under
``data/`` for the four tables these queries read; the other tables are
written empty with their fixture schema, because ``load_tables`` opens
every table. They are fixed, so the seed changes only the query order.
"""

from __future__ import annotations

import os
import random
import shutil
import traceback

import duckdb

from harness import Tracer
from oracle import diff

HERE = os.path.dirname(os.path.abspath(__file__))
QUERIES = (
    # eager construction: hash-min connected components, streaming run
    "neardup_clusters", "streaming_cms_counters",
    # codec kernels behind the Python/Arrow seam
    "aes_gcm_envelope_roundtrip", "bz2_multistream_extract",
    "deflate_dynamic_roundtrip", "jpeg_decode_roundtrip",
    # dashboard operators
    "a6_kpi_by_group", "a8_pivot_counts", "o2_o4_sort_page",
    "p8_p9_filter_search",
)
VENDORED = ("documents", "embeddings", "customer", "orders")
EMPTY = {
    "region": "r_regionkey INTEGER, r_name VARCHAR",
    "nation": "n_nationkey INTEGER, n_name VARCHAR, n_regionkey INTEGER",
    "supplier": "s_suppkey BIGINT, s_name VARCHAR, s_nationkey INTEGER, "
                "s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name VARCHAR, p_brand VARCHAR, p_type VARCHAR, "
            "p_size INTEGER, p_retailprice DOUBLE",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
                "l_linenumber INTEGER, l_quantity DOUBLE, l_extendedprice DOUBLE, "
                "l_discount DOUBLE, l_tax DOUBLE, l_returnflag VARCHAR, "
                "l_linestatus VARCHAR, l_shipdate TIMESTAMP",
    "events": "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type VARCHAR, "
              "value DOUBLE, props VARCHAR",
}
#: The query modules load in the workers during the untimed check pass.
WORKER_MODULES: tuple[str, ...] = ()


def prepare(work: str, seed: int) -> dict:
    sf = os.path.join(work, "inputs", "sf0.01")
    if not os.path.isdir(sf):
        os.makedirs(sf + ".tmp", exist_ok=True)
        for t in VENDORED:
            shutil.copy(os.path.join(HERE, "data", f"{t}.parquet"), sf + ".tmp")
        con = duckdb.connect()
        try:
            for t, cols in EMPTY.items():
                con.sql(f"CREATE TABLE {t} ({cols})")
                con.sql(f"COPY {t} TO '{sf}.tmp/{t}.parquet' (FORMAT PARQUET)")
        finally:
            con.close()
        os.replace(sf + ".tmp", sf)
    return {"sf": sf, "seed": seed}


def setup(spark, inputs: dict) -> dict:
    from precios_nexo_sperant_etl_spark.registry import oracle_sql, queries

    qs, oracles = queries(), oracle_sql()
    missing = [q for q in QUERIES if q not in oracles]
    if missing:
        raise ValueError(f"suite queries without an oracle: {missing}")
    order = list(QUERIES)
    random.Random(inputs["seed"]).shuffle(order)
    return {"spark": spark, "sf": inputs["sf"], "seed": inputs["seed"],
            "queries": {q: qs[q] for q in QUERIES},
            "oracles": {q: oracles[q] for q in QUERIES}, "order": order}


def op(state: dict, tracer: Tracer, op_id: str) -> dict:
    spark, sf = state["spark"], state["sf"]
    failed = 0
    order = state["order"]
    with tracer.operation(op_id):
        for name in order:
            try:
                with tracer.span(f"construct {name}", "registry", group="construct"):
                    df = state["queries"][name](spark, sf)
                with tracer.span(f"exec {name}", "engine", group="exec"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 - a failed query is counted, the pass goes on
                traceback.print_exc()
                failed += 1
            spark.catalog.clearCache()
    result = {"attempted": len(order), "failed": failed}
    if tracer.enabled:
        from harness import spark_counters
        self_s = tracer.self_times(op_id)
        result["layers"] = {
            "registry.construct_s": self_s.get("registry", 0.0),
            "registry.exec_s": self_s.get("engine", 0.0),
            "registry.construct_jobs": spark_counters(
                spark, tracer.group_ids(op_id, "construct"))["spark.jobs"],
        }
    return result


def warmup(state: dict) -> list[str]:
    """Each query once, collected and compared with its DuckDB oracle over
    the same parquet (untimed; it also warms the JVM and the workers)."""
    spark, sf = state["spark"], state["sf"]
    order = list(QUERIES)
    random.Random(state["seed"] + 1_000_003).shuffle(order)
    con = duckdb.connect()
    problems = []
    try:
        for t in (*VENDORED, *EMPTY):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        for name in order:
            df = state["queries"][name](spark, sf)
            rel = con.sql(state["oracles"][name])
            problems += [f"{name}: {p}" for p in diff(
                df.columns, [tuple(r) for r in df.collect()],
                rel.columns, rel.fetchall())]
            spark.catalog.clearCache()
    finally:
        con.close()
    return problems


def check(state: dict, results: list[dict]) -> list[str]:
    """Timed passes write to ``noop``; their queries were checked in
    :func:`warmup`, and failures are counted per query."""
    return []
