"""Dedup scale-stress: explode the sf0.1 documents table ×k and verify
the banded-LSH cost model holds as the corpus grows.

Each replica is an ISOMORPHIC copy of the corpus's duplicate structure:
``doc_id → doc_id*k + rep`` keeps ids unique, and a per-replica
character substitution (every vowel 'e' → a replica-specific digit)
rewrites most word shingles, so replicas are neither exact nor near
duplicates of each other — true pairs, bucket population, and
Σ bucket² all scale ×k, NOT ×k². If the banding plan is really a
bucketed equi-join (and not something quadratic hiding behind one),
wall time and candidate counts must track that linear growth.

Reports per k: corpus size, LSH candidate pairs (Σ C(bucket,2) over
(band, bucket) groups — the exact join fan-out the plan pays), verified
pairs out, and wall for the two headline paths:

- ``minhash_dedup_pairs_prod`` shape (128 perms × 16 bands), and
- the full ``prep_pipeline`` composition (exact dedup → MinHash →
  connected components → gates → split → pack), re-composed here from
  the same public operators ``queries_scale_part1._prep_pipeline`` uses.

Usage: python tools/scale_stress.py [sf_dir] [k ...]   (default 1 3 10)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from precios_nexo_sperant_etl_spark.session import get_spark  # noqa: E402


def exploded_docs(spark, sf_dir: str, k: int) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    if k == 1:
        return docs.repartition(32, "doc_id")
    rep = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("rep")
    out = docs.select("*", rep)
    # Every 'e' becomes a replica-specific digit: most word shingles
    # change, so replicas are not near-dups of each other — the dup
    # structure replicates instead of densifying into ×k cliques.
    return (out.select(
        (F.col("doc_id") * k + F.col("rep")).alias("doc_id"),
        F.replace(F.col("text"), F.lit("e"),
                  F.col("rep").cast("string")).alias("text"),
        "lang", "source")
        .repartition(32, "doc_id"))


def candidate_count(docs: DataFrame) -> int:
    """Σ C(n,2) over (band, bucket-hash) groups — the exact number of
    candidate pairs the banded generator emits before dedup/verify.
    Uses the SAME band fold as ``minhash_band_pairs`` (131-fold mod
    HASH_P over each band's signature rows) so the count is the real
    fan-out, not a proxy."""
    from precios_nexo_sperant_etl_spark.operators.dedup_fuzzy import (
        HASH_P, minhash_signatures)
    sig = minhash_signatures(docs, n_perms=128)
    n_bands, n_per_band = 16, 8
    folds = []
    for b in range(n_bands):
        expr = F.lit(0).cast("long")
        for j in range(n_per_band):
            expr = (expr * 131 + F.col(f"mh_{b * n_per_band + j}")) % HASH_P
        folds.append(F.struct(F.lit(b).alias("band"), expr.alias("bh")))
    buckets = (sig.select(F.explode(F.array(*folds)).alias("_b"))
               .select("_b.band", "_b.bh"))
    total = (buckets.groupBy("band", "bh").count()
             .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
             .first()[0])
    return int(total or 0)


def run_minhash(docs: DataFrame) -> tuple[float, int]:
    from precios_nexo_sperant_etl_spark.operators.dedup_fuzzy import (
        minhash_dedup_pairs)
    t0 = time.time()
    n = minhash_dedup_pairs(docs, threshold=0.2, n_perms=128,
                            n_bands=16).count()
    return time.time() - t0, n


def run_prep(spark, docs: DataFrame) -> tuple[float, int]:
    """The prep_pipeline composition (queries_scale_part1._prep_pipeline) on an
    arbitrary documents frame."""
    from precios_nexo_sperant_etl_spark.operators.dedup_fuzzy import (
        exact_dedup_survivors, minhash_dedup_pairs)
    from precios_nexo_sperant_etl_spark.operators.graph import (
        cluster_assignment)
    from precios_nexo_sperant_etl_spark.operators.packing import (
        pack_sequences)
    from precios_nexo_sperant_etl_spark.operators.serve import hash_split
    from precios_nexo_sperant_etl_spark.operators.text import (
        BPE_ISH_PATTERN, lang_pred_expr, quality_expr)
    t0 = time.time()
    surv = exact_dedup_survivors(docs)
    pairs = minhash_dedup_pairs(surv, threshold=0.2)
    keepers = (cluster_assignment(surv, pairs)
               .filter(F.col("doc_id") == F.col("cluster_id"))
               .select("doc_id"))
    clean = surv.join(keepers, "doc_id")
    gated = (clean.select(
                "doc_id", "lang",
                quality_expr(F.col("text")).alias("quality"),
                lang_pred_expr(F.col("text")).alias("lang_pred"),
                F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
                 .cast("long").alias("n_tokens"))
             .filter((F.col("quality") >= 0.5)
                     & (F.col("lang_pred") != "und")))
    train = (hash_split(gated).filter(F.col("split") == "train")
             .select("lang", "doc_id", "n_tokens"))
    n = pack_sequences(train, budget=512).count()
    return time.time() - t0, n


def run_exact_substring(docs: DataFrame) -> tuple[float, int]:
    """ExactSubstr window-hash coverage on an arbitrary documents frame.
    The replica substitution rewrites windows, so cross-doc collisions
    (and therefore the interval-merge input) replicate ×k — wall must
    track linear growth if the collision test is really one combinable
    agg and never an all-pairs comparison."""
    from precios_nexo_sperant_etl_spark.operators.text import (
        exact_substring_coverage)
    t0 = time.time()
    n = (exact_substring_coverage(docs, window=8)
         .filter(F.col("n_dup_windows") > 0).count())
    return time.time() - t0, n


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    ks = [int(a) for a in args[1:]] or [1, 3, 10]
    spark = get_spark(app_name="scale-stress")
    # Warmup: first Spark job pays JVM/codegen startup; keep it out of
    # the k=1 baseline that every growth ratio divides by.
    warm = exploded_docs(spark, sf_dir, 1).localCheckpoint()
    run_minhash(warm)
    spark.catalog.clearCache()
    results = []
    for k in ks:
        docs = exploded_docs(spark, sf_dir, k).localCheckpoint()
        n_docs = docs.count()
        cand = candidate_count(docs)
        mh_wall, mh_pairs = run_minhash(docs)
        spark.catalog.clearCache()
        prep_wall, prep_rows = run_prep(spark, docs)
        spark.catalog.clearCache()
        xs_wall, xs_docs = run_exact_substring(docs)
        spark.catalog.clearCache()
        row = {"k": k, "n_docs": n_docs, "lsh_candidates": cand,
               "minhash_pairs": mh_pairs, "minhash_wall_s": round(mh_wall, 2),
               "prep_rows": prep_rows, "prep_wall_s": round(prep_wall, 2),
               "xs_dup_docs": xs_docs, "xs_wall_s": round(xs_wall, 2)}
        results.append(row)
        print(json.dumps(row))
    base = results[0]
    for r in results[1:]:
        print(json.dumps({
            "k": r["k"],
            "candidates_growth": round(r["lsh_candidates"]
                                       / max(base["lsh_candidates"], 1), 2),
            "pairs_growth": round(r["minhash_pairs"]
                                  / max(base["minhash_pairs"], 1), 2),
            "minhash_wall_growth": round(r["minhash_wall_s"]
                                         / base["minhash_wall_s"], 2),
            "prep_wall_growth": round(r["prep_wall_s"]
                                      / base["prep_wall_s"], 2),
            "xs_dup_docs_growth": round(r["xs_dup_docs"]
                                        / max(base["xs_dup_docs"], 1), 2),
            "xs_wall_growth": round(r["xs_wall_s"]
                                    / base["xs_wall_s"], 2)}))


if __name__ == "__main__":
    main()
