"""Adaptive scan spreading — fix the single-task input floor.

A parquet file with one row group reads as ONE task no matter how many
cores the cluster has (Spark splits files by byte ranges, but a row group
is indivisible), so every CPU-heavy map pass downstream of such a scan —
per-row md5/minhash signatures, n-gram explodes, scoring folds, vector
arithmetic — serializes on one core. Measured on this host at sf0.1
(documents/part/embeddings are each one row group): hll_ngrams 3.19 s → 0.95 s,
dsir_select 1.28 → 0.66 once the scan is spread
to the session's parallelism; at a 4× synthetic scale the un-spread
hll_ngrams degraded superlinearly (35 s) because 4× the work still ran on
one task.

``spread_scan`` is the scale-adaptive answer (guide §2: partitioning must
derive from the data, not a constant): repartition round-robin ONLY when
the scan's partition count is below the session's default parallelism.
At production scale inputs arrive in thousands of row groups/files, the
condition is false, and NO exchange is added — the spread exists exactly
when the file layout, not the plan, is the bottleneck. Round-robin
repartition cannot change any value computed downstream (all consumers are
partitioning-independent: aggregates, joins, folds).

NOT applied where measured neutral-or-negative (the exchange outweighs the
parallelism when the heavy pass is already behind a shuffle or carries
array payloads): countmin_audit (+12%), bloom_decontaminate (+4%),
domain_cap (+83%), url_canonicalize (+8%).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_scan(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ``df`` to the session's default parallelism
    iff it currently has fewer partitions (no-op otherwise, and for
    streaming frames). Values are unaffected; only task fan-out changes."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
