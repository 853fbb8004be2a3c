"""Plain-Python (pandas-free) faithful re-execution of the reference's stage
logic — the parity oracle of SURVEY §5.2.

This is NOT the Spark pipeline: it replays the reference's per-row control
flow (stage order, sentinel handling, set-based comparison, trad-keyed dedup)
doc by doc with the same deterministic scorers, producing the triple set the
reference *would* emit on the synthetic corpus. The parity tests assert the
Spark pipeline reproduces it exactly (set equality).

Stage order mirrors entry point B (SURVEY §3.2):
extractor → relation_classifier → update_relation → cross_comparison →
union_label → ckip expansion (find_re → merge_label → truncation_label).
"""

from __future__ import annotations

from ..functions.chinese import s2t
from ..functions.parse import (
    HAS_RELATION,
    parse_triples,
    parse_verdicts,
)
from ..operators.expansion import expand_one_source, source_entities
from ..operators.re_replay import replay_one_doc
from ..scorers import get_scorer


def run_reference_logic(
    docs: list[dict],
    scorer: str = "deterministic",
    annotators: tuple[str, ...] = ("gemini", "gpt"),
    strict_verify_failure: bool = False,
) -> dict[str, list]:
    """docs: [{url, text, lang}] → {"merge": [(url,subj,obj,rel)...],
    "merge_1024": [...], "consensus": [...], "re_replay": [...],
    "gen_replay": [...]} — the reference's emitted sets (entry points B + C).

    ``annotators`` generalizes the detection/cross-comparison to k models
    (a triple is consensus-correct when ANY other annotator emitted it; the
    expansion already-labeled set stays (gemini, gpt) like the Spark
    expansion stage — the reference's 2-annotator shape).
    ``strict_verify_failure=True`` replays the test-corpus semantics: a
    驗證過程有誤 on any annotator zeroes the whole document's labels
    (reference ``test/postprecess_other.py:24-31``) instead of the train
    path's per-triple removal (``train/postprecess.py:36-44``)."""
    mod = get_scorer(scorer)
    merge_rows, merge_1024_rows, consensus_rows = [], [], []
    gemini_merge_rows, gemini_merge_1024_rows = [], []
    union_merge_rows, union_merge_1024_rows = [], []
    replay_rows, gen_rows = [], []

    for doc in docs:
        if doc["lang"] != "zh":
            continue
        url, text = doc["url"], doc["text"]

        # --- detection + extraction (M1/M2 + F1) ---
        ternary = {}
        for ann in annotators:
            status, output = mod.score_detect(text, ann)
            if status != HAS_RELATION:
                ternary[ann] = None  # reference leaves NaN
                continue
            triples, _rels, _ents, err = parse_triples(output, tolerant=True)
            ternary[ann] = None if err else triples  # sentinel → skipped later

        # --- taxonomy remap (M6 + J2), per-doc application of global map ---
        def remap(triples):
            if triples is None:
                return None
            seen, out = set(), []
            for s, o, r in triples:
                cls = mod.score_taxonomy([r])[r]
                if (s, o, cls) not in seen:
                    seen.add((s, o, cls))
                    out.append((s, o, cls))
            return out

        ternary = {ann: remap(t) for ann, t in ternary.items()}

        # --- cross-comparison on trad triples (train/postprecess.py:151-188) ---
        def to_trad(triples):
            if triples is None:
                return None
            out = []
            for s, o, r in triples:
                ts, to_ = s2t(s), s2t(o)
                lo, hi = sorted([ts, to_])
                out.append((lo, hi, s2t(r)))
            return out

        trad = {ann: to_trad(t) for ann, t in ternary.items()}
        checked: dict[str, list] = {}
        doc_verify_err = False
        for ann in annotators:
            mine = trad[ann]
            theirs: set = set()
            for other in annotators:
                if other != ann and trad[other]:
                    theirs |= set(trad[other])
            if mine is None:
                checked[ann] = []
                continue
            correct = [t for t in mine if t in theirs]
            wrong = [t for t in mine if t not in theirs]
            passed = []
            if wrong:
                answer = mod.score_verify(text, wrong)
                verdicts = parse_verdicts(answer, len(wrong))
                if verdicts is not None:  # else 驗證過程有誤 → none pass
                    passed = [w for w, ok in zip(wrong, verdicts) if ok]
                else:
                    doc_verify_err = True
            checked[ann] = correct + passed

        # --- union_label (train/postprecess.py:26-81) ---
        consensus, seen_keys = [], set()
        for ann in annotators:
            for s, o, r in checked[ann]:
                lo, hi = sorted([s, o])
                key = (lo, hi, r)
                if key not in seen_keys and lo != hi:
                    seen_keys.add(key)
                    consensus.append(key)
        if strict_verify_failure and doc_verify_err:
            consensus = []  # test-corpus path: whole doc zeroed
        if not consensus:
            continue
        consensus_rows.extend((url, s, o, r) for s, o, r in consensus)

        # --- expansion (ckip/gemini/union: find_re + merge + truncation;
        # shared per-doc helpers from operators/expansion.py) ---
        trad_text = s2t(text)
        already = {
            (s, o) for t in (trad["gemini"] or []) + (trad["gpt"] or []) for s, o in [(t[0], t[1])]
        }
        head = trad_text[:1024]
        cache: dict = {}
        merged_by_src: dict[str, list] = {}
        for src in ("ckip", "gemini", "union"):
            ents = source_entities(mod, trad_text, src, cache)
            res = expand_one_source(mod, trad_text, already, ents)
            expansion = [
                (t["subj"], t["obj"], t["rel"]) for t in res["expansion_ternary"]
            ]
            merged: list = []
            if res["density"] != "high":  # high → dropped (merge_label :165-166)
                pair_seen = set()
                for s, o, r in consensus:
                    if s in trad_text and o in trad_text:  # hallucination filter
                        merged.append((s, o, r))
                        pair_seen.add((s, o))
                for s, o, r in expansion:
                    if (s, o) not in pair_seen:
                        merged.append((s, o, r))
                        pair_seen.add((s, o))
            merged_by_src[src] = merged

        entities = cache["ckip"]
        merged_1024 = []
        for s, o, r in merged_by_src["ckip"]:
            merge_rows.append((url, s, o, r))
            if s in head and o in head:
                merge_1024_rows.append((url, s, o, r))
                merged_1024.append((s, o, r))
        for src, rows_full, rows_1024 in (
            ("gemini", gemini_merge_rows, gemini_merge_1024_rows),
            ("union", union_merge_rows, union_merge_1024_rows),
        ):
            for s, o, r in merged_by_src[src]:
                rows_full.append((url, s, o, r))
                if s in head and o in head:
                    rows_1024.append((url, s, o, r))

        # --- entry point C replay (re_inference.py → postprecess extractor;
        # inference gate = non-empty merge_label_1024, re_inference.py:117) ---
        if merged_1024:
            rp = replay_one_doc(mod, trad_text, entities, max_length=1024)
            triples, _, _, err = parse_triples(rp["output"], tolerant=True)
            if rp["has_relation"] == HAS_RELATION and not err:
                replay_rows.extend((url, s, o, r) for s, o, r in triples)
            gen_out = mod.score_generate(text[:1024])
            gtriples, _, _, gerr = parse_triples(gen_out, tolerant=True)
            if gen_out.startswith(HAS_RELATION) and not gerr:
                gen_rows.extend((url, s, o, r) for s, o, r in gtriples)

    return {
        "merge": merge_rows,
        "merge_1024": merge_1024_rows,
        "consensus": consensus_rows,
        "gemini_merge": gemini_merge_rows,
        "gemini_merge_1024": gemini_merge_1024_rows,
        "union_merge": union_merge_rows,
        "union_merge_1024": union_merge_1024_rows,
        "re_replay": replay_rows,
        "gen_replay": gen_rows,
    }
