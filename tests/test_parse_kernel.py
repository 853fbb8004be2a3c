"""Golden I/O tests for the pure parse/normalize kernel (SURVEY §5 plan 1).

Inputs taken from the answer formats the reference's prompts mandate
(reference ``gemma.py:35``, ``few_shot_gemini_api.py:124-144``,
``multi_thread_gemini_api.py:113-117``).
"""

from research_on_document_level_person_relation_extraction_in_chinese_spark.functions import (
    canonical_triple,
    check_detection_format,
    parse_five_class_answers,
    parse_ner_names,
    parse_triples,
    parse_verdicts,
    s2t,
    s2t_list,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.functions.analysis import (
    expansion_pairs,
    generate_pairs,
)


def test_parse_basic():
    triples, rels, ents, err = parse_triples("有\n(陳大文,陳小明,長子)")
    assert triples == [("陳大文", "陳小明", "長子")]
    assert rels == ["長子"] and set(ents) == {"陳大文", "陳小明"}
    assert not err


def test_parse_sorts_pair_by_codepoint():
    # 王 (U+738B) > 陳 (U+9673)? 王=0x738B, 陳=0x9673 → 王 < 陳
    triples, *_ = parse_triples("有 (陳大文,王小華,同事)")
    assert triples == [("王小華", "陳大文", "同事")]


def test_parse_fullwidth_delimiter_and_quotes():
    triples, *_ = parse_triples("有\n('陳大文'，'王小華'，'師生')")
    assert triples == [("王小華", "陳大文", "師生")]


def test_parse_strict_rejects_fullwidth():
    triples, _, _, err = parse_triples("有 (陳大文，王小華，師生)", tolerant=False)
    assert triples == [] and err


def test_parse_drops_self_pairs_rule_d():
    triples, _, _, err = parse_triples("有 (陳大文,陳大文,其他)")
    assert triples == [] and err  # zero valid → sentinel 關係格式錯誤


def test_parse_dedups():
    out = "有 (陳大文,王小華,同事)(王小華,陳大文,同事)"
    triples, *_ = parse_triples(out)
    assert len(triples) == 1


def test_parse_two_part_tuple_invalid():
    triples, _, _, err = parse_triples("有 (陳大文,王小華)")
    assert err


def test_canonical_triple():
    assert canonical_triple("b", "a", "r") == ("a", "b", "r")
    assert canonical_triple("a", "a", "r") is None


def test_format_check():
    assert check_detection_format("無")
    assert check_detection_format("有\n(甲甲,乙乙,同事)")
    assert not check_detection_format("有\n(甲甲,乙乙)")
    assert not check_detection_format("maybe")
    assert not check_detection_format("有 no tuples here")


def test_verdict_parse():
    assert parse_verdicts("1.正確 2.錯誤", 2) == [True, False]
    assert parse_verdicts("正確 錯誤 正確", 3) == [True, False, True]
    assert parse_verdicts("1.正確", 2) is None  # count mismatch → 驗證過程有誤


def test_five_class_parse():
    assert parse_five_class_answers("1.親屬 2.沒有", 2) == ["親屬", "沒有"]
    assert parse_five_class_answers("師生 同事", 2) == ["師生", "同事"]
    assert parse_five_class_answers("1.親屬", 2) is None


def test_ner_parse():
    assert parse_ner_names("(陳大文,王小華)") == ["陳大文", "王小華"]
    assert parse_ner_names("陳大文，王小華") == ["陳大文", "王小華"]
    assert parse_ner_names("陳大文, 陳大文") == ["陳大文"]


def test_s2t():
    assert s2t("陈大文") == "陳大文"
    assert s2t("刘德发") == "劉德發"
    assert s2t("陳大文") == "陳大文"  # traditional passes through
    assert s2t_list([" 陈大文 ", "王小華"]) == ["陳大文", "王小華"]


def test_generate_pairs_sorted():
    assert generate_pairs(["丙", "甲", "乙"]) == [
        tuple(sorted(["丙", "甲"])),
        tuple(sorted(["丙", "乙"])),
        tuple(sorted(["甲", "乙"])),
    ]


def test_expansion_density_caps():
    doc = "x" * 1000
    # fewer than 2 entities → low
    assert expansion_pairs(["甲甲"], set(), doc)[0] == "low"
    # names absent from doc → no pairs → low
    assert expansion_pairs(["甲甲", "乙乙"], set(), doc)[0] == "low"
    doc2 = "甲甲乙乙" + "x" * 196  # density 2/200*100 = 1.0 ≤ 1.9
    density, pairs = expansion_pairs(["甲甲", "乙乙"], set(), doc2)
    assert density == "middle" and pairs == [("乙乙", "甲甲")]
    # already-labeled pair anti-joined out
    density, pairs = expansion_pairs(["甲甲", "乙乙"], {("乙乙", "甲甲")}, doc2)
    assert density == "low" and pairs == []
    # density cap: 3 names in a 100-char doc → 3.0/100 chars > 1.9 → high
    doc3 = "甲甲乙乙丙丙" + "x" * 94
    assert expansion_pairs(["甲甲", "乙乙", "丙丙"], set(), doc3)[0] == "high"
