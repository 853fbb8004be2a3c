"""NER-driven expansion stage (SURVEY §2.7 M7–M9, §2.6 F8–F10, §2.3 J3),
with the dual-NER golden variants.

Reference flow (``sota_ner/ckip_expansion.py:236-244``): on docs with a
non-empty consensus — (1) person NER over the trad document, (2) density
classification with the per-doc work caps (≤105 extra pairs, ≤1.9 names/100
chars — the skew/fan-out guard), (3) candidate pairs minus already-labeled
pairs (anti-join) with both names present in the 4000-char doc, (4) one
batched 5-way relation prompt per doc for all its extra pairs, (5) merge with
consensus preferring consensus per pair + hallucination filter, (6) 1024-char
truncation-survival golden variant.

NER sources (reference ``README.md:54-85`` columns 20–31):
- ``ckip``  → density / expansion_ternary / merge_label{,_1024}
  (``sota_ner/ckip_expansion.py``)
- ``gemini`` → gemini_ner / gemini_expansion_ternary /
  gemini_expansion_merge_label{,_1024} (``sota_ner/gemini_expansion.py:44-144``
  find_re + :165-198 merge_label + :226-241 truncation_label)
- ``union`` → (gemini+ckip) entity union → union_expansion_ternary /
  union_expansion_merge_label{,_1024} (``README.md:77-84`` cols 29–31)

Spark shape: steps 1–6 for ALL requested sources are ONE per-document step
(``expand_step``) of the extraction chain, run inside the chain's single
``mapInArrow`` crossing (``operators/steps.py``). Per-doc pair generation
stays bounded by the F10 caps (≤105 pairs per source, so no quadratic
self-join is ever needed). A doc with an empty ``consensus_label`` gets
null expansion columns; ``plans/pipeline.py:expanded_frame`` drops it (the
reference's expansion gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from ..functions.analysis import expansion_pairs
from ..functions.chinese import s2t
from ..functions.parse import parse_five_class_answers
from ..scorers import deterministic
from .parse import TERNARY_DT
from .steps import Step, run_steps

_PAIR_DT = ArrayType(
    StructType([StructField("p1", StringType()), StructField("p2", StringType())])
)

NER_SOURCES = ("ckip", "gemini", "union")

#: per-source output column names; the ckip family keeps the reference's
#: unprefixed names (README.md cols 20–24), the others its prefixed ones.
_FIELDS_BY_SOURCE = {
    "ckip": ("ckip_entity", "density", "extra_pairs", "expansion_ternary",
             "expansion_failed", "merge_label"),
    "gemini": ("gemini_ner", "gemini_density", "gemini_extra_pairs",
               "gemini_expansion_ternary", "gemini_expansion_failed",
               "gemini_expansion_merge_label"),
    "union": ("union_entity", "union_density", "union_extra_pairs",
              "union_expansion_ternary", "union_expansion_failed",
              "union_expansion_merge_label"),
}


def _expand_fields(sources: tuple[str, ...]) -> list[StructField]:
    fields = [StructField("trad_text", StringType())]
    for src in sources:
        ent, den, pairs, tern, failed, _merge = _FIELDS_BY_SOURCE[src]
        fields += [
            StructField(ent, ArrayType(StringType())),
            StructField(den, StringType()),
            StructField(pairs, _PAIR_DT),
            StructField(tern, TERNARY_DT),
            StructField(failed, BooleanType()),
        ]
    return fields


def source_entities(mod, trad_text: str, src: str, cache: dict) -> list[str]:
    """NER entity list per source; ``union`` = ckip order + new gemini names
    (shared with the parity oracle)."""
    if src not in cache:
        if src == "ckip":
            cache[src] = mod.score_ner(trad_text)
        elif src == "gemini":
            cache[src] = mod.score_ner_llm(trad_text)
        else:
            ck = source_entities(mod, trad_text, "ckip", cache)
            gm = source_entities(mod, trad_text, "gemini", cache)
            cache[src] = ck + [e for e in gm if e not in ck]
    return cache[src]


def expand_one_source(mod, trad_text, already, entities) -> dict:
    """Steps 2–4 for one (doc, entity list): density, extra pairs, batched
    5-way scoring (shared with the parity oracle). Returns unprefixed keys."""
    density, extra = expansion_pairs(entities, already, trad_text)
    ternary: list[dict] = []
    failed = False
    if density == "middle" and extra:
        answer = mod.score_expansion_pairs(trad_text, extra)
        classes = parse_five_class_answers(answer, len(extra))
        if classes is None:  # count mismatch → doc fails expansion (M9)
            failed = True
        else:
            ternary = [
                {"subj": a, "obj": b, "rel": cls}
                for (a, b), cls in zip(extra, classes)
                if cls != "沒有"
            ]
    return {
        "entity": entities,
        "density": density,
        "extra_pairs": [{"p1": a, "p2": b} for a, b in extra],
        "expansion_ternary": ternary,
        "expansion_failed": failed,
    }


def _expand_one(mod, text, gemini_trad, gpt_trad, sources) -> dict:
    trad_text = s2t(text) if text is not None else ""
    already = {
        (t["subj"], t["obj"])
        for t in (list(gemini_trad) if gemini_trad is not None else [])
        + (list(gpt_trad) if gpt_trad is not None else [])
    }
    cache: dict = {}
    out = {"trad_text": trad_text}
    for src in sources:
        ents = source_entities(mod, trad_text, src, cache)
        res = expand_one_source(mod, trad_text, already, ents)
        ent, den, pairs, tern, failed, _merge = _FIELDS_BY_SOURCE[src]
        out[ent] = res["entity"]
        out[den] = res["density"]
        out[pairs] = res["extra_pairs"]
        out[tern] = res["expansion_ternary"]
        out[failed] = res["expansion_failed"]
    return out


def _merge(consensus_label, trad_text, density, ternary) -> tuple[list, list]:
    """Steps 5–6: merge with consensus preferring consensus per pair +
    hallucination filter (reference merge_label :159-192), then the
    1024-truncation-survival variant (:218-234)."""
    kept = [t for t in consensus_label if t["subj"] in trad_text and t["obj"] in trad_text]
    covered = {(t["subj"], t["obj"]) for t in kept}
    extra = [t for t in ternary if (t["subj"], t["obj"]) not in covered]
    merge = [] if density == "high" else kept + extra
    head = trad_text[:1024]
    return merge, [t for t in merge if t["subj"] in head and t["obj"] in head]


def expand_step(sources: tuple[str, ...] = ("ckip",)) -> Step:
    """Adds per requested source: entity list, density, extra_pairs,
    expansion_ternary, expansion_failed, merge label + _1024 variant
    (column names per ``_FIELDS_BY_SOURCE``), plus ``trad_text``; all null
    for a doc with an empty ``consensus_label``."""
    for src in sources:
        if src not in NER_SOURCES:
            raise ValueError(f"unknown NER source {src!r}; have {NER_SOURCES}")

    fields = _expand_fields(sources)
    merges = [_FIELDS_BY_SOURCE[src][5] for src in sources]
    merge_cols = [c for m in merges for c in (m, f"{m}_1024")]
    emits = (*fields, *(StructField(c, TERNARY_DT) for c in merge_cols))
    not_expanded = (None,) * len(emits)

    def expand(text, g_trad, p_trad, consensus_label):
        if not consensus_label:
            return not_expanded
        row = _expand_one(deterministic, text, g_trad, p_trad, sources)
        out = [row[f.name] for f in fields]
        for src in sources:
            _ent, den, _pairs, tern, _failed, _merge_col = _FIELDS_BY_SOURCE[src]
            out += _merge(consensus_label, row["trad_text"], row[den], row[tern])
        return out

    reads = ("text", "gemini_ternary_trad", "gpt_ternary_trad", "consensus_label")
    return Step("expand", reads, emits, expand)


def expansion_stage(
    consensus_df: DataFrame,
    ner_sources: tuple[str, ...] = ("ckip",),
) -> DataFrame:
    """Input: consensus stage output; a doc with an empty ``consensus_label``
    is kept with null expansion columns (``plans/pipeline.py:expanded_frame``
    applies the reference's gate, ``ckip_expansion.py:238-239``, as a filter
    above the crossing)."""
    return run_steps(consensus_df, [expand_step(tuple(ner_sources))])
