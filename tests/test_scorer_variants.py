"""M3 (TAIDE) / M4 (few-shot) annotator variants:
variant answers flow through the shared parse kernel, agree with the
standard annotators on non-blind templates, and compose a 3-annotator
detection stage in Spark."""

from pyspark.sql import functions as F

from research_on_document_level_person_relation_extraction_in_chinese_spark.functions.parse import (
    HAS_RELATION,
    NO_RELATION,
    STATUS_RETRY,
    STATUS_UNRECOGNIZED,
    parse_triples,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.operators.fused import (
    annotate_parse_stage,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.scorers import (
    deterministic as det,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.corpus import (
    generate_corpus,
)

KIN = "陳大文是陳小明的長子。今天的天氣非常晴朗，適合出門散步。"
BLIND_FOR_TAIDE = "陳大文與林美玲在記者會上初次見面。"  # oth_meet — taide-blind
EMPTY = "市場分析指出，近期物價持續上漲。"


def test_taide_detects_non_blind_kinship():
    status, output = det.score_detect(KIN, "taide")
    g_status, _ = det.score_detect(KIN, "gemini")
    assert status == g_status == HAS_RELATION
    assert len(output) <= 20  # max_tokens cut (taideAPI.py:46)


def test_taide_blind_and_empty():
    status, _ = det.score_detect(BLIND_FOR_TAIDE, "taide")
    assert status == NO_RELATION
    g_status, _ = det.score_detect(BLIND_FOR_TAIDE, "gemini")
    assert g_status == HAS_RELATION  # genuinely weaker annotator
    assert det.score_detect(EMPTY, "taide")[0] == NO_RELATION


def test_fewshot_answers_parse_through_f1():
    status, output = det.score_detect(KIN, "fewshot")
    assert status == HAS_RELATION
    assert output.startswith("Relations:有")
    assert "Explanation:" in output
    triples, _, _, err = parse_triples(output, tolerant=True)
    assert not err
    assert ("陳大文", "陳小明", "長子") in triples


def test_fewshot_agrees_with_gemini_on_non_blind(spark):
    """test_fused_equivalence-style parity: on docs with no fewshot-blind
    template, the fewshot parse equals the gemini parse."""
    docs = generate_corpus(spark, 120, seed=42)
    ann = annotate_parse_stage(
        docs.filter(F.col("lang") == "zh").select("url", "text"),
        annotators=("gemini", "fewshot"),
    )
    rows = ann.select(
        "url", "gemini_has_relation", "gemini_ternary",
        "fewshot_has_relation", "fewshot_ternary", "text",
    ).collect()
    checked = 0
    for r in rows:
        # skip fewshot-blind templates and either side's status-noise docs
        if "初次見面" in r["text"]:
            continue
        if r["gemini_has_relation"] in (STATUS_RETRY, STATUS_UNRECOGNIZED):
            continue
        if r["fewshot_has_relation"] in (STATUS_RETRY, STATUS_UNRECOGNIZED):
            continue
        g = {(t["subj"], t["obj"]) for t in (r["gemini_ternary"] or [])}
        f = {(t["subj"], t["obj"]) for t in (r["fewshot_ternary"] or [])}
        # gemini adds deterministic quote/sep noise but no extra pairs;
        # fewshot sees the same instances → identical pair sets
        assert g == f, r["url"]
        checked += 1
    assert checked > 50


def test_three_annotator_stage(spark):
    """3-annotator detection in one Arrow crossing; majority consensus on
    the status column is expressible as a plain column expression."""
    docs = generate_corpus(spark, 120, seed=42)
    ann = annotate_parse_stage(
        docs.filter(F.col("lang") == "zh").select("url", "text"),
        annotators=("gemini", "gpt", "taide"),
    )
    for a in ("gemini", "gpt", "taide"):
        assert f"{a}_ternary" in ann.columns
    votes = sum(
        F.when(F.col(f"{a}_has_relation") == HAS_RELATION, 1).otherwise(0)
        for a in ("gemini", "gpt", "taide")
    )
    agg = ann.withColumn("majority", (votes >= 2).cast("int")).agg(
        F.sum("majority").alias("n_majority"), F.count("*").alias("n")
    ).collect()[0]
    assert 0 < agg["n_majority"] < agg["n"]


def test_detect_retry_reinstruction_loop():
    """M1 retry loop (reference multi_thread_gemini_api.py:148-183): a doc
    whose first answer is malformed recovers on attempt 2 with the SAME
    well-formed answer a clean doc would get; 請重新嘗試 is reserved for
    retry exhaustion (all 5 tries malformed)."""
    from research_on_document_level_person_relation_extraction_in_chinese_spark.functions.parse import (
        check_detection_format,
    )

    doc_retry = doc_exhaust = None
    for i in range(200_000):
        doc = KIN + f"備註編號{i}。"
        bad = det._detect_bad_attempts(doc[: det.MAX_DETECT_CHARS], "gemini")
        if bad == 1 and doc_retry is None:
            doc_retry = doc
        elif bad == det.DETECT_MAX_TRIES and doc_exhaust is None:
            doc_exhaust = doc
        if doc_retry and doc_exhaust:
            break
    assert doc_retry and doc_exhaust

    status, output, attempts = det.score_detect_with_attempts(doc_retry, "gemini")
    assert attempts == 2
    assert status == HAS_RELATION
    assert check_detection_format(output)
    # the attempt-1 draw was genuinely rejected by the format check
    first = det._malformed_answer(doc_retry[: det.MAX_DETECT_CHARS], "gemini")
    assert not check_detection_format(first)
    # the recovered answer equals the clean-path answer byte-for-byte
    _, clean = det._detect_answer(doc_retry[: det.MAX_DETECT_CHARS], "gemini")
    assert output == clean

    status, output, attempts = det.score_detect_with_attempts(doc_exhaust, "gemini")
    assert status == STATUS_RETRY
    assert output == ""
    assert attempts == det.DETECT_MAX_TRIES


def test_attempts_column_surfaced(spark):
    """The fused annotate stage exposes the per-annotator attempt counter."""
    docs = generate_corpus(spark, 80, seed=42)
    ann = annotate_parse_stage(
        docs.filter(F.col("lang") == "zh").select("url", "text")
    )
    assert "gemini_attempts" in ann.columns and "gpt_attempts" in ann.columns
    row = ann.agg(
        F.min("gemini_attempts").alias("lo"), F.max("gemini_attempts").alias("hi")
    ).collect()[0]
    assert row["lo"] >= 1 and row["hi"] <= det.DETECT_MAX_TRIES
