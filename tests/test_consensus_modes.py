"""Entry-B strict verify-failure semantics (reference
``test/postprecess_other.py:24-31`` whole-doc zeroing vs the train path's
per-triple removal at ``train/postprecess.py:36-44``) and the k-annotator
consensus generalization (3-annotator cross-verification — reference studied
TAIDE as a third annotator, ``CommonCrawl/taideAPI.py``)."""

from pyspark.sql import functions as F

from research_on_document_level_person_relation_extraction_in_chinese_spark.functions.parse import (
    parse_verdicts,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.operators.fused import (
    annotate_parse_stage,
    fused_consensus_stage,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.plans.pipeline import (
    expanded_frame,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.plans.reference_port import (
    run_reference_logic,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.scorers import (
    deterministic as det,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.corpus import (
    generate_corpus,
)

N = 400

#: tea_follow template: gemini and fewshot see it, gpt is blind (BLIND_TIDS)
_TEA = "林怡君多年來師從張惠茹研習書法。"


def _find_verify_error_docs(n_want: int = 3) -> list[str]:
    """Deterministic fixture docs: one gpt-blind tea_follow instance, clean
    detect statuses for all three annotators, and a verify-miscount hit (the
    one wrong triple's verification answer loses its line → 驗證過程有誤)."""
    found = []
    i = 0
    while len(found) < n_want and i < 500_000:
        doc = _TEA + f"市場分析指出，近期物價持續上漲。備註編號{i}。"
        i += 1
        head = doc[: det.MAX_DETECT_CHARS]
        if det._detect_bad_attempts(head, "gemini") != 0:
            continue
        if det._detect_bad_attempts(head, "gpt") != 0:
            continue
        if det._bucket(head, "fewshot:status", 199) == 0:
            continue
        if det._bucket(head, "verify:miscount", 41) != 0:
            continue
        found.append(doc)
    assert len(found) == n_want, f"only {len(found)} fixture docs found"
    return found


def test_verify_miscount_produces_sentinel():
    """The deterministic miscount noise genuinely reaches the 驗證過程有誤
    path: the answer has one fewer line than queried triples."""
    doc = _find_verify_error_docs(1)[0]
    wrong = [("張惠茹", "林怡君", "師從")]
    answer = det.score_verify(doc, wrong)
    assert parse_verdicts(answer, len(wrong)) is None


def test_strict_mode_parity_and_divergence(spark):
    """Port: train vs strict modes diverge on exactly the verify-error docs;
    Spark strict consensus == port strict consensus triple-for-triple
    (P = R = 1.0)."""
    docs = generate_corpus(spark, N, seed=42)
    rows = [r.asDict() for r in docs.select("url", "text", "lang").collect()]
    ref_train = run_reference_logic(rows)
    ref_strict = run_reference_logic(rows, strict_verify_failure=True)
    train_set = set(ref_train["consensus"])
    strict_set = set(ref_strict["consensus"])
    # the fixture contains ≥1 verify-error doc → the two modes differ, and
    # strict only ever REMOVES (whole docs), never adds
    assert strict_set < train_set
    dropped_urls = {u for (u, *_rest) in train_set - strict_set}
    assert len(dropped_urls) >= 1

    exp = expanded_frame(docs, strict_verify_failure=True)
    spark_cons = {
        (r["url"], r["subj"], r["obj"], r["rel"])
        for r in exp.select("url", F.explode("consensus_label").alias("t"))
        .select("url", "t.subj", "t.obj", "t.rel")
        .collect()
    }
    assert spark_cons == strict_set  # exact parity in strict mode

    # and the train-mode Spark run matches the train-mode port
    exp_train = expanded_frame(docs, strict_verify_failure=False)
    spark_train = {
        (r["url"], r["subj"], r["obj"], r["rel"])
        for r in exp_train.select("url", F.explode("consensus_label").alias("t"))
        .select("url", "t.subj", "t.obj", "t.rel")
        .collect()
    }
    assert spark_train == train_set


def test_three_annotator_consensus_recovers_verify_error(spark):
    """k-annotator consensus: a gpt-blind triple whose verification fails is
    LOST in the 2-annotator run but KEPT with fewshot as a third annotator
    (two annotators agree → no verification needed)."""
    fixture = _find_verify_error_docs(3)
    df = spark.createDataFrame(
        [(f"https://synth.example/zh/fix{i}", t) for i, t in enumerate(fixture)],
        "url string, text string",
    )
    two = fused_consensus_stage(annotate_parse_stage(df))
    three = fused_consensus_stage(
        annotate_parse_stage(df, annotators=("gemini", "gpt", "fewshot")),
        annotators=("gemini", "gpt", "fewshot"),
    )
    n_two = two.agg(F.sum(F.size("consensus_label"))).collect()[0][0]
    n_three = three.agg(F.sum(F.size("consensus_label"))).collect()[0][0]
    assert n_two == 0  # verify error killed the lone disagreed triple
    assert n_three == 3 * 1  # fewshot agreement rescued it per doc
    trip = three.select(F.explode("consensus_label").alias("t")).select(
        "t.subj", "t.obj", "t.rel"
    ).distinct().collect()
    assert {(r["subj"], r["obj"], r["rel"]) for r in trip} == {
        ("張惠茹", "林怡君", "師從")
    }
    # verify was never consulted in the 3-annotator run for these docs
    assert (
        three.where(
            F.col("gemini_verify_error")
            | F.col("gpt_verify_error")
            | F.col("fewshot_verify_error")
        ).count()
        == 0
    )


def test_three_annotator_port_agrees(spark):
    """The generalized reference port reproduces the 3-annotator rescue
    (relations class-valued after its taxonomy remap)."""
    fixture = _find_verify_error_docs(2)
    rows = [
        {"url": f"u{i}", "text": t, "lang": "zh"} for i, t in enumerate(fixture)
    ]
    two = run_reference_logic(rows)
    three = run_reference_logic(
        rows, annotators=("gemini", "gpt", "fewshot")
    )
    assert two["consensus"] == []
    assert {(u, s, o, r) for (u, s, o, r) in three["consensus"]} == {
        (f"u{i}", "張惠茹", "林怡君", "師生") for i in range(2)
    }
