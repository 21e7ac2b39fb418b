"""The reference's price-update pipeline on reference-shaped data
(Actualizar_Precios_de_Nexo.py stages 2-11, SURVEY §3.1) — the same spine
as ``price_pipeline`` but with the real Nexo/Sperant column vocabulary,
update rules, and audit outputs, so a user of the reference can run their
actual workload on this engine.

Materialized once, read many times. A refresh runs up to nine actions over
these outputs (the partitioned table, three audit sheets, the records dump,
the KPI document). Left lazy, each of them would re-plan and re-run the
whole plan: the CRM dedup, the enrich join and the flag stages, and — for a
CRM frame built from a driver-side list — re-fork Python workers to
re-pickle the CRM rows. ``update_prices`` therefore ``localCheckpoint``s
two relations, eagerly:

- the CRM input, which the dedup and both project set-differences read;
- the flagged frame (enriched, updated, match- and change-flagged), which
  ``updated``, ``resumen`` and ``detalle`` read.

A local checkpoint stores its blocks ``MEMORY_AND_DISK`` on the executors
and truncates the lineage, so it degrades to disk at scale rather than
failing. It registers nothing with the ``CacheManager``: the blocks are
released by the ContextCleaner once the returned frames (and any frame
derived from them) are garbage-collected, so no cache entry outlives the
refresh. The Sperant dimension is deduped then broadcast; the Nexo fact
side never shuffles before the final per-project aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.normalize import intlike_canon, norm_key
from ..operators.audit import audit_summary, change_flags
from ..operators.dedup import dedup_keep_latest
from ..operators.join import key_set_difference, left_enrich
from ..operators.update import coalesce_update, tower_prefix
from ..sources.ingest import COL_ESTADO, COL_NUMERO, COL_PRECIO

SPERANT_KEYS = ("nombre_proyecto", "nombre")
SPERANT_VALS = ("precio_lista", "estado_comercial", "fecha_actualizacion")


def prepare_nexo(nexo: DataFrame) -> DataFrame:
    """Stages 4/2.5: unit-number canonicalization (F6/F7, APN:243-250),
    tower prefix (P11), join keys (F1, APN:325-326)."""
    df = nexo.withColumn(COL_NUMERO, intlike_canon(F.col(COL_NUMERO)))
    if "Tipología" in df.columns:
        df = tower_prefix(df, project_col="Proyecto", typology_col="Tipología",
                          unit_col=COL_NUMERO)
    return (df.withColumn("_key_proy", norm_key(F.col("Proyecto")))
              .withColumn("_key_num", norm_key(F.col(COL_NUMERO))))


def prepare_sperant(sperant: DataFrame,
                    dedup_rule: str = "max_fecha") -> DataFrame:
    """Stage 5 (APN:305-335): null backfill for missing columns, string
    casts, key derivation, projection, W1 dedup (latest
    ``fecha_actualizacion`` wins; pandas sorts NaT *last*, so an undated
    row beats any dated one — reproduced via desc_nulls_first; ``_ord``
    is the positional tiebreak). A *string* ``fecha_actualizacion`` (the
    usual Sperant-export shape) is coerced via F8
    (``pd.to_datetime(errors="coerce")``, APN:137): junk → NULL."""
    from pyspark.sql.types import StringType

    from ..functions.dates import to_datetime_coerce

    df = sperant
    for c in (*SPERANT_KEYS, *SPERANT_VALS):
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast(
                "timestamp" if c == "fecha_actualizacion" else "string"))
    if isinstance(df.schema["fecha_actualizacion"].dataType, StringType):
        df = df.withColumn("fecha_actualizacion",
                           to_datetime_coerce(F.col("fecha_actualizacion")))
    if "_ord" not in df.columns:
        df = df.withColumn("_ord", F.monotonically_increasing_id())
    df = (df.withColumn("_key_proy", norm_key(F.col("nombre_proyecto")))
            .withColumn("_key_num", norm_key(F.col("nombre")))
            .select("_key_proy", "_key_num", "precio_lista", "estado_comercial",
                    "fecha_actualizacion", "_ord"))
    if dedup_rule == "max_fecha":
        return dedup_keep_latest(df, ["_key_proy", "_key_num"],
                                 "fecha_actualizacion", tiebreak="_ord")
    return dedup_keep_latest(df, ["_key_proy", "_key_num"], "_ord")


def update_prices(nexo: DataFrame, sperant: DataFrame,
                  mode: str = "preferir_nuevo",
                  dedup_rule: str = "max_fecha") -> dict[str, DataFrame]:
    """Stages 4-11 end-to-end. Returns the reference's output artifacts:

    - ``updated``  — every Nexo row with post-rule price/state (stage 9)
    - ``resumen``  — per-project audit summary with ratios (stage 11)
    - ``detalle``  — changed rows with ``_Antes``/``_Despues`` columns
    - ``solo_nexo`` / ``solo_sperant`` — project set differences (J4)
    """
    sperant = sperant.localCheckpoint(eager=True)
    left = prepare_nexo(nexo)
    right = prepare_sperant(sperant, dedup_rule)

    merged = left_enrich(
        left,
        right.select("_key_proy", "_key_num", "precio_lista", "estado_comercial"),
        on=["_key_proy", "_key_num"])

    to_num = F.col(COL_PRECIO).cast("double")
    merged = (merged
              .withColumn("_precio_antes", to_num)
              .withColumn("_estado_antes", F.col(COL_ESTADO))
              .withColumn(COL_PRECIO,
                          coalesce_update(to_num,
                                          F.col("precio_lista").cast("double"), mode))
              .withColumn(COL_ESTADO,
                          coalesce_update(F.col(COL_ESTADO),
                                          F.col("estado_comercial"), mode))
              .drop("precio_lista", "estado_comercial"))

    # Match flag mirrors the reference exactly: membership of the key pair
    # in the deduped Sperant set (APN:422-424), not value non-nullness
    # (a matching Sperant row may carry null price AND state).
    marker = right.select("_key_proy", "_key_num").withColumn("_m", F.lit(1))
    merged = (merged
              .join(broadcast(marker), ["_key_proy", "_key_num"], "left")
              .withColumn("tiene_match", F.col("_m").isNotNull())
              .withColumn("Sin_Match", ~F.col("tiene_match"))
              .drop("_m"))

    flagged = change_flags(
        merged.withColumn("_precio_despues", F.col(COL_PRECIO).cast("double"))
              .withColumn("_estado_despues", F.col(COL_ESTADO)),
        price_before="_precio_antes", price_after="_precio_despues",
        state_before="_estado_antes", state_after="_estado_despues"
    ).localCheckpoint(eager=True)

    resumen = audit_summary(flagged, group_col="Proyecto").orderBy("Proyecto")

    detalle = (flagged.filter(F.col("Cambio_PrecioLista") | F.col("Cambio_Estado"))
               .select("Proyecto", COL_NUMERO,
                       F.col("_precio_antes").alias("Precio_Antes"),
                       F.col("_precio_despues").alias("Precio_Despues"),
                       F.col("_estado_antes").alias("Estado_Antes"),
                       F.col("_estado_despues").alias("Estado_Despues"),
                       "Cambio_PrecioLista", "Cambio_Estado"))

    updated = flagged.drop("_precio_antes", "_estado_antes", "_precio_despues",
                           "_estado_despues", "_key_proy", "_key_num")

    solo_nexo = key_set_difference(
        nexo.select(F.trim(F.col("Proyecto").cast("string")).alias("p")),
        sperant.select(F.trim(F.col("nombre_proyecto").cast("string")).alias("p")),
        "p", "p").withColumnRenamed("key", "Proyecto_solo_df_total")
    solo_sperant = key_set_difference(
        sperant.select(F.trim(F.col("nombre_proyecto").cast("string")).alias("p")),
        nexo.select(F.trim(F.col("Proyecto").cast("string")).alias("p")),
        "p", "p").withColumnRenamed("key", "Proyecto_solo_df_sperant")

    return {"updated": updated, "resumen": resumen, "detalle": detalle,
            "solo_nexo": solo_nexo, "solo_sperant": solo_sperant}
