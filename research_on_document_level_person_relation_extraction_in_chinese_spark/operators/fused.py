"""The annotate and consensus steps of the per-document extraction chain.

Each pipelined Python node in a Spark stage gets its own worker process per
concurrent task, and cold worker creation is paid per (node × core). Measured
on local[32]: a 6-node chain costs ~60 s of pure spawn overhead before any
work happens. Extraction is therefore a chain of plain-Python steps
(``operators/steps.py``) that ``run_steps`` runs in ONE ``mapInArrow``
crossing per document:

  annotate:  detection scoring + triple parse (M1/M2 + F1/F2)
  remap:     relation taxonomy (M6, in taxonomy.py)
  consensus: trad conversion + cross-comparison + verification
             (F6 + U2/U3 + M5) + merge/dedup/strict zeroing + entities
  expand:    NER + density + pair expansion scoring + merge labels
             (M7–M9, in expansion.py)

Explode/distinct, linking and the graph stay JVM-side.

Set-op semantics here replicate Spark's ``array_intersect``/``array_except``
(left-to-right order, distinct) and mirror the reference's ``set()``-equality
comparison (``CommonCrawl/data/train/postprecess.py:168-188``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, BooleanType, IntegerType, StringType, StructField

from ..functions.chinese import s2t
from ..functions.parse import parse_verdicts
from ..scorers import deterministic
from .parse import PARSED_DT, TERNARY_DT, _parse_cell
from .steps import Step, run_steps

_ANNOTATE_PARTS = (
    ("has_relation", StringType()),
    ("output", StringType()),
    ("attempts", IntegerType()),
    *((f.name, f.dataType) for f in PARSED_DT.fields),
)


def annotate_step(
    tolerant: bool = True,
    annotators: tuple[str, ...] = ("gemini", "gpt"),
) -> Step:
    """All requested annotators scored AND parsed per doc (2 by default;
    M3 ``taide`` / M4 ``fewshot`` variants compose a 3+-annotator shape).
    ``attempts`` counts the retry/re-instruction loop (M1)."""

    def annotate(text):
        out = []
        for ann in annotators:
            status, output, attempts = deterministic.score_detect_with_attempts(text, ann)
            parsed = _parse_cell(output, status, tolerant)
            out += [status, output, attempts, *(parsed[f.name] for f in PARSED_DT.fields)]
        return out

    emits = tuple(
        StructField(f"{ann}_{part}", typ) for ann in annotators for part, typ in _ANNOTATE_PARTS
    )
    return Step("annotate", ("text",), emits, annotate)


def annotate_parse_stage(
    docs: DataFrame,
    tolerant: bool = True,
    annotators: tuple[str, ...] = ("gemini", "gpt"),
) -> DataFrame:
    return run_steps(docs, [annotate_step(tolerant, annotators)])


def _trad(triples) -> list[tuple[str, str, str]]:
    out = []
    for t in triples if triples is not None else []:
        p1, p2, rel = s2t(t["subj"]), s2t(t["obj"]), s2t(t["rel"])
        lo, hi = sorted([p1, p2])
        tup = (lo, hi, rel)
        if tup not in out:
            out.append(tup)
    return out


def _as_dicts(triples) -> list[dict]:
    return [{"subj": s, "obj": o, "rel": r} for s, o, r in triples]


def consensus_step(
    annotators: tuple[str, ...] = ("gemini", "gpt"),
    strict_verify_failure: bool = False,
) -> Step:
    """Trad conversion, intersect/xor (array_intersect/array_except
    semantics), and verification of disagreed triples — generalized to k
    annotators: a triple is 'correct' when ANY other annotator also emitted
    it (for k=2 this is exactly the reference's pairwise cross-comparison,
    ``train/postprecess.py:151-188``); only nobody-else's triples go to
    verification. Then the merge: the distinct concat of every annotator's
    checked triples minus self-pairs → ``consensus_label``, and its distinct
    people → ``consensus_entities``. A doc whose ternaries are all empty
    calls no scorer."""

    def consensus(text, *terns):
        trad = [_trad(t) for t in terns]
        sets = [set(v) for v in trad]
        out: list = []
        merged: list = []
        any_err = False
        for k, mine in enumerate(trad):
            theirs = set().union(*(s for j, s in enumerate(sets) if j != k))
            correct = [x for x in mine if x in theirs]
            wrong = [x for x in mine if x not in theirs]
            passed, failed, err = [], [], False
            if wrong:
                answer = deterministic.score_verify(text, wrong)
                verdicts = parse_verdicts(answer, len(wrong))
                if verdicts is None:  # 驗證過程有誤
                    failed, err = wrong, True
                else:
                    passed = [w for w, ok in zip(wrong, verdicts) if ok]
                    failed = [w for w, ok in zip(wrong, verdicts) if not ok]
            checked = correct + passed
            out += [_as_dicts(mine), _as_dicts(checked), _as_dicts(failed), err]
            merged += checked
            any_err |= err
        if strict_verify_failure and any_err:
            label = []
        else:
            label = [t for t in dict.fromkeys(merged) if t[0] != t[1]]
        entities = list(dict.fromkeys(p for t in label for p in t[:2]))
        return out + [_as_dicts(label), entities]

    emits = tuple(
        StructField(f"{ann}_{part}", typ)
        for ann in annotators
        for part, typ in (
            ("ternary_trad", TERNARY_DT),
            ("checked", TERNARY_DT),
            ("not_pass", TERNARY_DT),
            ("verify_error", BooleanType()),
        )
    ) + (
        StructField("consensus_label", TERNARY_DT),
        StructField("consensus_entities", ArrayType(StringType())),
    )
    reads = ("text", *(f"{ann}_ternary" for ann in annotators))
    return Step("consensus", reads, emits, consensus)


def fused_consensus_stage(
    parsed: DataFrame,
    annotators: tuple[str, ...] = ("gemini", "gpt"),
    strict_verify_failure: bool = False,
) -> DataFrame:
    """Cross-comparison + verification + merge → ``consensus_label`` per doc.

    ``strict_verify_failure=False`` is the train-corpus semantics: an
    annotator's unverifiable triples are dropped per-triple
    (reference ``train/postprecess.py:36-44``). ``True`` is the test-corpus
    semantics: 驗證過程有誤 on ANY annotator zeroes the WHOLE document's
    consensus label (reference ``test/postprecess_other.py:24-31`` — SURVEY
    §3.2 calls out the divergence)."""
    return run_steps(parsed, [consensus_step(annotators, strict_verify_failure)])
