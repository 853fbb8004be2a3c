"""Shared bounded managed-persist pool for operator scan tables.

Several operators consume an expensive scan (md5-heavy shingle/feature
construction, Bloom map passes, banded-LSH projections) from MULTIPLE
consumers in one query plan. Spark reuses exchanges, not scans, so without a
persist the scan recomputes once per consumer (guide §5 "Caching": reuse +
recompute-cost is exactly the case where persist pays). The pool is
bounded: each operator call evicts the blocks of the previous call before
persisting its own, so a long-lived driver looping queries never
accumulates storage blocks.

``persist_scan``  — evict every pooled frame, persist ``df``, track it (the
                    one-slot contract ``operators/dedup.py`` shipped in r2).
``persist_extra`` — persist ``df`` WITHOUT evicting: for an operator that
                    legitimately needs a second cached frame alive within the
                    same call (e.g. the prefix-join's shingle table + its
                    windowed rank table). Both are evicted by the NEXT
                    ``persist_scan`` call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_POOL: list[DataFrame] = []


def _evict_all() -> None:
    while _POOL:
        stale = _POOL.pop()
        try:
            stale.unpersist()
        except Exception:
            pass  # stale frame's session may already be stopped


def persist_scan(df: DataFrame) -> DataFrame:
    """Evict the previous operator call's cached frames, persist ``df``."""
    _evict_all()
    p = df.persist()
    _POOL.append(p)
    return p


def persist_extra(df: DataFrame) -> DataFrame:
    """Persist an ADDITIONAL frame for the current operator call (evicted by
    the next ``persist_scan``). Callers must persist their primary scan via
    ``persist_scan`` first so the pool stays bounded per call."""
    p = df.persist()
    _POOL.append(p)
    return p
