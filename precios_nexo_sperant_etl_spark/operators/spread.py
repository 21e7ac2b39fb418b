"""Pre-partitioning rules ahead of CPU-dense and grouped Python stages.

``fanout``/``fanout_by`` are the scale-adaptive pre-spread for
CPU-dense narrow stages; ``group_spread`` pins the width of a grouped
Python stage against AQE coalescing.

At bench scale every base table is ONE parquet file, so a tokenize /
fold / codec projection that runs before the first exchange executes in
a single task (guide §2.5 "input skew: one huge unsplittable file —
repartition immediately after the read"). On a real deployment the scan
already has ≥ cores splits and the two fanouts are a NO-OP — the
condition keeps the extra exchange out of fleet-scale plans instead of
hard-coding a local[32] shape.

``fanout_by`` additionally KEYS the spread so downstream groupings /
windows clustered by (a superset of) the key run exchange-free on top
of it — the clustered-pipeline shape of ``dedup_fuzzy.shingle_hashes``
and ``retrieval.bm25_topk``. The explicit width (not a bare
``repartition(col)``) stops AQE from coalescing the CPU-dense stage
into one task; cost is per row, not per byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _is_narrow(df: DataFrame, width: int) -> bool:
    # Prefer inputFiles(): it reads the (cached) file index without the
    # .rdd plan translation, which costs ~0.5-1 s of driver time per
    # probe on a fresh plan. One file can still split into several
    # scan partitions, so this can fan out a big single file that
    # didn't strictly need it — one linear narrow shuffle, exactly
    # what a CPU-dense consumer wants anyway. Non-file-backed frames
    # (cached/derived inputs) fall back to the RDD probe.
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        return len(files) < width
    return df.rdd.getNumPartitions() < width


def fanout(df: DataFrame) -> DataFrame:
    width = df.sparkSession.sparkContext.defaultParallelism
    if not _is_narrow(df, width):
        return df
    return df.repartition(width)


def fanout_by(df: DataFrame, *cols: str) -> DataFrame:
    width = df.sparkSession.sparkContext.defaultParallelism
    if not _is_narrow(df, width):
        return df
    return df.repartition(width, *cols)


def group_spread(df: DataFrame, key: str, n_groups: int) -> DataFrame:
    """Pre-partition by the group key ahead of ``groupBy(key)
    .applyInPandas``. AQE's byte-targeted coalescing folds tiny
    per-group shuffle partitions into ONE and serializes grouped
    Python stages (cost per GROUP, not per byte: 16 sleep(2) groups
    measured 38.8s coalesced vs 5.5s not). A user-specified
    ``repartition(n, key)`` is exempt from coalescing and the
    downstream grouping REUSES the partitioning (no second Exchange),
    so the Python work parallelizes while every other stage in the
    query keeps coalescing's small-task savings — the per-site fix the
    session keeps coalescing ON for (see ``session.configure``).
    Width is exactly ``n_groups``: hash collisions leave ~2 groups in
    a few tasks, but measured A/B (avro shards at width 1×/2×/4× =
    0.95/1.24/1.74 s) shows task overhead beats the tail-parallelism
    gain at larger widths."""
    return df.repartition(int(n_groups), key)
