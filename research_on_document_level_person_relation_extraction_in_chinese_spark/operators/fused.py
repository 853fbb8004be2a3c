"""Fused Python nodes for the end-to-end pipeline.

Each pipelined Python node in a Spark stage gets its own worker process per
concurrent task, and cold worker creation is paid per (node × core). Measured
on local[32]: a 6-node chain costs ~60 s of pure spawn overhead before any
work happens. The pipeline therefore fuses Python work into the minimum
number of Arrow crossings:

  node 1: detection scoring + triple parse (M1/M2 + F1/F2)
  node 2: trad conversion + cross-comparison + verification (F6 + U2/U3 + M5)
  node 3: NER + density + pair expansion scoring (M7–M9, in expansion.py)

Everything else (taxonomy remap, consensus merge/dedup, hallucination filter,
truncation, explode/distinct, joins) stays JVM-side.

Set-op semantics here replicate Spark's ``array_intersect``/``array_except``
(left-to-right order, distinct) and mirror the reference's ``set()``-equality
comparison (``CommonCrawl/data/train/postprecess.py:168-188``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, IntegerType, StringType, StructField, StructType

from ..functions.chinese import s2t
from ..functions.parse import parse_verdicts
from ..scorers import get_scorer
from .parse import PARSED_DT, TERNARY_DT, _parse_cell

def _annotate_parse_dt(annotators: tuple[str, ...]) -> StructType:
    return StructType(
        [
            StructField(f"{ann}_{part}", typ)
            for ann in annotators
            for part, typ in (
                ("has_relation", StringType()),
                ("output", StringType()),
                ("attempts", IntegerType()),
                ("parsed", PARSED_DT),
            )
        ]
    )


def make_annotate_parse_udf(
    scorer: str = "deterministic",
    tolerant: bool = True,
    annotators: tuple[str, ...] = ("gemini", "gpt"),
):
    """Node 1: all requested annotators scored AND parsed in one Arrow
    crossing (2 by default; M3 ``taide`` / M4 ``fewshot`` variants compose a
    3+-annotator shape)."""
    mod = get_scorer(scorer)

    # the retry/re-instruction loop (M1) surfaces its attempt counter when
    # the scorer provides it; plain (status, output) scorers report 1
    with_attempts = getattr(mod, "score_detect_with_attempts", None)

    @pandas_udf(_annotate_parse_dt(annotators))
    def annotate_parse_udf(text: pd.Series) -> pd.DataFrame:
        # column-major construction: per-column lists → pd.DataFrame(dict)
        # skips pandas' per-row dict alignment (measured ~25% of node time
        # on 4096-doc batches; identical output)
        cols: dict[str, list] = {
            f"{ann}_{part}": []
            for ann in annotators
            for part in ("has_relation", "output", "attempts", "parsed")
        }
        for t in text.tolist():
            for ann in annotators:
                if with_attempts is not None:
                    status, output, attempts = with_attempts(t, ann)
                else:
                    status, output = mod.score_detect(t, ann)
                    attempts = 1
                cols[f"{ann}_has_relation"].append(status)
                cols[f"{ann}_output"].append(output)
                cols[f"{ann}_attempts"].append(attempts)
                cols[f"{ann}_parsed"].append(_parse_cell(output, status, tolerant))
        return pd.DataFrame(cols)

    return annotate_parse_udf


def annotate_parse_stage(
    docs: DataFrame,
    scorer: str = "deterministic",
    tolerant: bool = True,
    annotators: tuple[str, ...] = ("gemini", "gpt"),
) -> DataFrame:
    udf = make_annotate_parse_udf(scorer, tolerant, annotators)
    df = docs.withColumn("_ap", udf(F.col("text")))
    for ann in annotators:
        df = df.withColumn(f"{ann}_has_relation", F.col(f"_ap.{ann}_has_relation"))
        df = df.withColumn(f"{ann}_output", F.col(f"_ap.{ann}_output"))
        df = df.withColumn(f"{ann}_attempts", F.col(f"_ap.{ann}_attempts"))
        for field in ("ternary", "relations", "entities", "parse_error"):
            df = df.withColumn(f"{ann}_{field}", F.col(f"_ap.{ann}_parsed.{field}"))
    return df.drop("_ap")


def _consensus_dt(annotators: tuple[str, ...]) -> StructType:
    return StructType(
        [
            StructField(f"{ann}_{part}", typ)
            for ann in annotators
            for part, typ in (
                ("ternary_trad", TERNARY_DT),
                ("checked", TERNARY_DT),
                ("not_pass", TERNARY_DT),
                ("verify_error", BooleanType()),
            )
        ]
    )


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


def make_consensus_udf(
    scorer: str = "deterministic", annotators: tuple[str, ...] = ("gemini", "gpt")
):
    """Node 2: trad conversion, intersect/xor (array_intersect/array_except
    semantics), and verification of disagreed triples — generalized to k
    annotators: a triple is 'correct' when ANY other annotator also emitted
    it (for k=2 this is exactly the reference's pairwise cross-comparison,
    ``train/postprecess.py:151-188``); only nobody-else's triples go to
    verification. The annotators' ternary arrays arrive packed in ONE struct
    column so the Arrow crossing stays a single node at any k."""
    mod = get_scorer(scorer)

    @pandas_udf(_consensus_dt(annotators))
    def consensus_udf(text: pd.Series, terns: pd.DataFrame) -> pd.DataFrame:
        # column-major output + .tolist() input access (no per-row .iloc) —
        # same values, less pandas indexing overhead per batch
        tern_lists = {ann: terns[ann].tolist() for ann in annotators}
        cols: dict[str, list] = {
            f"{ann}_{part}": []
            for ann in annotators
            for part in ("ternary_trad", "checked", "not_pass", "verify_error")
        }
        for i, t in enumerate(text.tolist()):
            trad = {ann: _trad(tern_lists[ann][i]) for ann in annotators}
            sets = {ann: set(v) for ann, v in trad.items()}
            for ann in annotators:
                mine = trad[ann]
                theirs: set = set()
                for other in annotators:
                    if other != ann:
                        theirs |= sets[other]
                correct = [x for x in mine if x in theirs]
                wrong = [x for x in mine if x not in theirs]
                passed, failed, err = [], [], False
                if wrong:
                    answer = mod.score_verify(t, wrong)
                    verdicts = parse_verdicts(answer, len(wrong))
                    if verdicts is None:  # 驗證過程有誤
                        failed, err = wrong, True
                    else:
                        passed = [w for w, ok in zip(wrong, verdicts) if ok]
                        failed = [w for w, ok in zip(wrong, verdicts) if not ok]
                cols[f"{ann}_ternary_trad"].append(_as_dicts(mine))
                cols[f"{ann}_checked"].append(_as_dicts(correct + passed))
                cols[f"{ann}_not_pass"].append(_as_dicts(failed))
                cols[f"{ann}_verify_error"].append(err)
        return pd.DataFrame(cols)

    return consensus_udf


def fused_consensus_stage(
    parsed: DataFrame,
    scorer: str = "deterministic",
    annotators: tuple[str, ...] = ("gemini", "gpt"),
    strict_verify_failure: bool = False,
) -> DataFrame:
    """Cross-comparison + verification → ``consensus_label`` per doc;
    merge/dedup/entities stay JVM-side.

    ``strict_verify_failure=False`` is the train-corpus semantics: an
    annotator's unverifiable triples are dropped per-triple
    (reference ``train/postprecess.py:36-44``). ``True`` is the test-corpus
    semantics: 驗證過程有誤 on ANY annotator zeroes the WHOLE document's
    consensus label (reference ``test/postprecess_other.py:24-31`` — SURVEY
    §3.2 calls out the divergence)."""
    udf = make_consensus_udf(scorer, annotators)
    packed = F.struct(*[F.col(f"{ann}_ternary").alias(ann) for ann in annotators])
    df = parsed.withColumn("_cons", udf(F.col("text"), packed))
    for field in _consensus_dt(annotators).fieldNames():
        df = df.withColumn(field, F.col(f"_cons.{field}"))
    df = df.drop("_cons")

    merged = F.array_distinct(
        F.concat(*[F.col(f"{ann}_checked") for ann in annotators])
    )
    merged = F.filter(merged, lambda t: t["subj"] != t["obj"])
    if strict_verify_failure:
        any_err = None
        for ann in annotators:
            col = F.col(f"{ann}_verify_error")
            any_err = col if any_err is None else (any_err | col)
        merged = F.when(any_err, F.slice(merged, 1, 0)).otherwise(merged)
    df = df.withColumn("consensus_label", merged)
    return df.withColumn(
        "consensus_entities",
        F.array_distinct(
            F.flatten(
                F.transform(F.col("consensus_label"), lambda t: F.array(t["subj"], t["obj"]))
            )
        ),
    )
