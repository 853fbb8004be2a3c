"""Entry point C — the fine-tuned-model replay pipelines (SURVEY §3.3).

Reference flow (``README.md:17-19``):
- NER→RE decomposed path: per-pair 5-way inference over all NER-entity pairs
  surviving in ``trad_raw_content[:1024]`` (``re_inference.py:27-66``), then
  per-doc reassembly into detection-schema answer text
  ``有 ('p1', 'p2', 'rel'), ...`` (``re_inference.py:67-79``), then re-parse
  through the SAME tolerant F1 kernel (``postprecess.py:338-339`` runs
  ``extractor(path, 'mt5')``), then triple P/R/F1 vs ``merge_label_1024``.
- Generation path: one doc-level generation per document
  (``inference.py:11-65``) emitting the triples text directly; identical
  post-processing.

Spark shape: pair generation + per-pair scoring + reassembly are ONE
per-document step run by ``run_steps`` (one ``mapInArrow`` crossing, which
no downstream filter can clone; per-doc fan-out is bounded
by the same C(n,2) combinatorics the reference has — NER entity lists are
small by the F10 density guard upstream). The re-parse stays in the shared
kernel (``functions/parse.py``) so predictions round-trip through exactly
the textual schema the annotators used. Inference granularity is per-pair
like the reference, but batched per Arrow batch instead of one model/HTTP
call per pair.

The deterministic scorer stand-ins score the Traditional-converted head
(the reference prompts the raw head but checks containment on the trad head,
``re_inference.py:33-41``; using the trad head on both the Spark and the
parity-port side keeps the replay deterministic and script-consistent).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType, StringType, StructField

from ..functions.analysis import generate_pairs
from ..functions.parse import (
    HAS_RELATION,
    assemble_relation_answer,
    parse_single_class,
)
from ..scorers import deterministic
from ..scorers.rules import strip_title
from .parse import TERNARY_DT, _parse_cell
from .steps import Step, run_steps

RETRY_BUDGET = 2  # reference re_inference.py:50 retry_count


def replay_one_doc(mod, trad_text: str, entities: list[str], max_length: int) -> dict:
    """Plain-Python replay of one document — shared verbatim by the Spark UDF
    below and the parity oracle (plans/reference_port.py).

    Mentions are normalized (title-suffix strip, the entity-linking rule)
    before pair generation: the reference replays raw NER surface forms
    (``re_inference.py:36-41``), which systematically mismatches the golden
    labels whenever NER caught a title-suffixed alias — exactly the alias
    problem the north rule's canonicalization stage exists to fix, so the
    rebuild applies it here too. The textual answer schema is unchanged."""
    head = (trad_text or "")[:max_length]
    names: list[str] = []
    for e in list(entities) if entities is not None else []:
        c = strip_title(e)
        if c not in names:
            names.append(c)
    answers: list[tuple[str, str, str]] = []
    scored = skipped = 0
    for pair in generate_pairs(names):
        if pair[0] not in head or pair[1] not in head:
            continue  # truncation-survival gate (re_inference.py:41)
        scored += 1
        cls = None
        for _ in range(RETRY_BUDGET):
            cls = parse_single_class(mod.score_re_pair(head, pair[0], pair[1]))
            if cls is not None:
                break
        if cls is None:
            skipped += 1  # unparseable after retries → pair silently dropped
        elif cls != "沒有":
            answers.append((pair[0], pair[1], cls))
    status, output = assemble_relation_answer(answers)
    return {
        "has_relation": status,
        "output": output,
        "n_pairs_scored": scored,
        "n_pairs_skipped": skipped,
    }


def re_replay_stage(
    expanded: DataFrame,
    max_length: int = 1024,
    model_name: str = "mt5",
) -> DataFrame:
    """Docs with non-empty ``merge_label_1024`` (the reference's inference
    gate, ``re_inference.py:117``) → + ``{model}_has_relation``,
    ``{model}_output``, ``{model}_pairs_scored``, ``{model}_pairs_skipped``.
    """

    def replay(trad_text, entities):
        r = replay_one_doc(deterministic, trad_text, entities, max_length)
        return r["has_relation"], r["output"], r["n_pairs_scored"], r["n_pairs_skipped"]

    emits = tuple(
        StructField(f"{model_name}_{part}", typ)
        for part, typ in (
            ("has_relation", StringType()),
            ("output", StringType()),
            ("pairs_scored", IntegerType()),
            ("pairs_skipped", IntegerType()),
        )
    )
    step = Step("replay", ("trad_text", "ckip_entity"), emits, replay)
    return run_steps(expanded.filter(F.size("merge_label_1024") > 0), [step])


def re_pair_predictions(
    pairs: DataFrame,
    max_length: int = 1024,
) -> DataFrame:
    """Per-pair predictions over the exploded RE table
    (``operators.training.re_training_pairs`` output): + ``pred_label``
    (沒有 when the answer stays unparseable after retries). Feeds
    ``evaluate_re_micro`` — the reference's ``evalute_re`` consumer
    (``evalute.py:200-218`` scores exactly this pred-vs-golden column pair).
    """

    @pandas_udf(StringType())
    def pred_udf(text: pd.Series, subj: pd.Series, obj: pd.Series) -> pd.Series:
        out = []
        for t, s, o in zip(text, subj, obj):
            head = (t or "")[:max_length]
            cls = None
            for _ in range(RETRY_BUDGET):
                cls = parse_single_class(deterministic.score_re_pair(head, s, o))
                if cls is not None:
                    break
            out.append(cls if cls is not None else "沒有")
        return pd.Series(out)

    return pairs.withColumn("pred_label", pred_udf(F.col("text"), F.col("subj"), F.col("obj")))


def generation_replay_stage(
    expanded: DataFrame,
    max_length: int = 1024,
    model_name: str = "gen",
) -> DataFrame:
    """Doc-level generation replay (M11): one answer text per document over
    the raw text head (reference ``inference.py:90-109`` scores
    ``raw_content[:1024]``; the model emits Traditional triples)."""

    def generate(text):
        output = deterministic.score_generate((text or "")[:max_length])
        return output, HAS_RELATION if output.startswith(HAS_RELATION) else output[:1]

    emits = (
        StructField(f"{model_name}_output", StringType()),
        StructField(f"{model_name}_has_relation", StringType()),
    )
    step = Step("generate", ("text",), emits, generate)
    return run_steps(expanded.filter(F.size("merge_label_1024") > 0), [step])


def replay_triples(replayed: DataFrame, model_name: str = "mt5") -> DataFrame:
    """Re-parse the reassembled answers through the tolerant F1 kernel
    (reference ``postprecess.py:338-339``) → (url, subj, obj, rel)."""

    def parse(output, has):
        return (_parse_cell(output, has, True)["ternary"],)

    out, has = f"{model_name}_output", f"{model_name}_has_relation"
    step = Step("reparse", (out, has), (StructField("_ternary", TERNARY_DT),), parse)
    return (
        run_steps(replayed.select("url", out, has), [step])
        .select("url", F.explode("_ternary").alias("t"))
        .select("url", "t.subj", "t.obj", "t.rel")
        .distinct()
    )
