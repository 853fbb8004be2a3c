"""Relation-taxonomy stage (SURVEY §2.7 M6 + §2.3 J2).

The reference collects the global distinct set of free-text relation words
(A1), has the LLM classify each into the 4-class taxonomy, memoizes the map
as JSON, and rewrites every triple's relation through it
(``CommonCrawl/data/train/postprecess.py:270-347,91-128``).

Scale shape: ``score_taxonomy`` is a pure map over single words, so no
global barrier is needed. ``remap_step`` is a per-document step of the
extraction chain (``operators/steps.py``): each worker keeps a memo of the
words it has classified, calls the scorer once per Arrow batch for the
words it has not seen yet, and rewrites each triple's relation through the
memo, with the same order-preserving re-dedup as before.

``build_taxonomy``/``remap_relations`` are the old barrier form (a global
distinct + collect, then a map-literal ``transform``). The pipeline no
longer runs them; the benchmark's traced layer sweep still stages them.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField

from ..scorers import deterministic
from .parse import TERNARY_DT
from .steps import Step

#: worker-local {raw word: class}; lives as long as the Python worker, so a
#: reused worker classifies each word once
_MEMO: dict[str, str] = {}


def build_taxonomy(parsed: DataFrame, annotators=("gemini", "gpt")) -> dict[str, str]:
    """Global distinct relation words → {raw: class} map (driver-side dict;
    bounded small — the reference memoizes the identical structure)."""
    cols = [f"{ann}_relations" for ann in annotators]
    distinct_rows = (
        parsed.select(F.explode(F.flatten(F.array(*[F.col(c) for c in cols]))).alias("raw"))
        .distinct()
        .collect()
    )
    raws = sorted(r["raw"] for r in distinct_rows)
    return deterministic.score_taxonomy(raws)


def remap_relations(parsed: DataFrame, taxonomy: dict[str, str], cols=("gemini_ternary", "gpt_ternary")) -> DataFrame:
    """Rewrite each ternary array's ``rel`` through the taxonomy map and
    re-dedup (two raw words in one class may collapse). Unknown words → 其他
    (the reference's fallback class)."""
    if taxonomy:
        map_lit = F.create_map(*[F.lit(x) for x in chain.from_iterable(taxonomy.items())])
    else:
        map_lit = F.create_map()
    df = parsed
    for col in cols:
        remapped = F.array_distinct(
            F.transform(
                F.col(col),
                lambda t: F.struct(
                    t["subj"].alias("subj"),
                    t["obj"].alias("obj"),
                    F.coalesce(map_lit[t["rel"]], F.lit("其他")).alias("rel"),
                ),
            )
        )
        df = df.withColumn(col, remapped)
    return df


def remap_step(cols: tuple[str, ...] = ("gemini_ternary", "gpt_ternary")) -> Step:
    """Rewrite each ternary array's ``rel`` through the taxonomy and
    re-dedup (two raw words in one class may collapse), per document — the
    values ``remap_relations(parsed, build_taxonomy(parsed))`` gives."""

    def classify_new(*columns):
        new = {t["rel"] for col in columns for terns in col for t in terns or ()} - _MEMO.keys()
        if new:
            _MEMO.update(deterministic.score_taxonomy(sorted(new)))

    def remap(*terns):
        out = []
        for col in terns:
            if col is None:
                out.append(None)
                continue
            kept = dict.fromkeys((t["subj"], t["obj"], _MEMO.get(t["rel"], "其他")) for t in col)
            out.append([{"subj": s, "obj": o, "rel": r} for s, o, r in kept])
        return out

    emits = tuple(StructField(c, TERNARY_DT) for c in cols)
    return Step("remap", tuple(cols), emits, remap, prepare=classify_new)
