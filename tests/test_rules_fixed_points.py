"""Invariants of the closed-cast rule set."""

from research_on_document_level_person_relation_extraction_in_chinese_spark.functions.chinese import (
    s2t,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.scorers.rules import (
    CAST,
    SELF_PAIR_FMT,
    SIMPLIFIED,
    TAXONOMY_KEYWORDS,
    TEMPLATES,
    TITLES,
    classify_relation,
    find_instances,
    find_person_mentions,
)


def test_canonical_forms_are_s2t_fixed_points():
    """Expansion matches cast surface forms in trad-converted text, so every
    canonical string must survive s2t unchanged."""
    for name in CAST:
        assert s2t(name) == name, name
    for t in TEMPLATES:
        assert s2t(t.fmt) == t.fmt, t.tid
        assert s2t(t.raw_rel) == t.raw_rel, t.tid
    assert s2t(SELF_PAIR_FMT) == SELF_PAIR_FMT
    for title in TITLES:
        assert s2t(title) == title


def test_simplified_variants_convert_back():
    for trad, simp in SIMPLIFIED.items():
        assert s2t(simp) == trad, (trad, simp)


def test_taxonomy_classify():
    assert classify_relation("長子") == "親屬"
    assert classify_relation("師從") == "師生"
    assert classify_relation("共同研究") == "同事"
    assert classify_relation("初次見面") == "其他"
    assert classify_relation("朋友") == "其他"
    for cls, words in TAXONOMY_KEYWORDS.items():
        for w in words:
            assert classify_relation(w) == cls


def test_find_instances_and_mentions():
    text = "陳大文是王小華的長子。陳大文與陳大文互相勉勵。"
    inst = find_instances(text)
    assert ("陳大文", "王小華", "長子", "kin_son") in inst
    assert any(t[3] == "self" and t[0] == t[1] for t in inst)
    # expansion-only template hidden from detect view
    text2 = "陳大文與王小華是表兄弟。"
    assert find_instances(text2) == []
    assert find_instances(text2, include_expansion_only=True) == [
        ("陳大文", "王小華", "表兄弟", "kin_cousin")
    ]
    # blind set
    text3 = "王小華多年來師從陳大文研習書法。"
    assert find_instances(text3, blind_tids=frozenset({"tea_follow"})) == []
    mentions = find_person_mentions("陳大文博士與陈小明출…王小華")
    assert "陳大文博士" in mentions and "陈小明" in mentions and "王小華" in mentions


def test_find_instances_literal_prefilter_equivalent():
    """The per-template longest-literal prefilter must be invisible: on a
    2000-doc generator sample (plus crafted near-miss texts) the gated
    find_instances equals a gate-free replay of the same regexes."""
    from research_on_document_level_person_relation_extraction_in_chinese_spark.scorers import (
        rules as R,
    )
    from research_on_document_level_person_relation_extraction_in_chinese_spark.sources.corpus import (
        make_doc,
    )

    def ref(text, include_expansion_only=False):
        hits = []
        for tmpl, rx, _lit in R._COMPILED:
            if tmpl.expansion_only and not include_expansion_only:
                continue
            for m in rx.finditer(text):
                hits.append((m.start(), m.group(1), m.group(2), tmpl.raw_rel, tmpl.tid))
        for m in R._SELF_RE.finditer(text):
            hits.append((m.start(), m.group(1), m.group(1), R.SELF_PAIR_RAW, "self"))
        hits.sort(key=lambda h: h[0])
        return [(a, b, r, t) for _, a, b, r, t in hits]

    texts = [make_doc(42, i)[0]["text"] for i in range(2000)]
    # literal present but regex must NOT match (unknown name in the slot),
    # and a match straddling other template text
    texts += [
        "路人甲是路人乙的長子。",                 # literal hit, no cast name
        "陳大文是王小華的長子。" * 3,             # repeated matches
        "陳大文與妻子林美玲一同出席了典禮。陳大文與陳大文互相勉勵。",
        "",                                       # empty text
    ]
    for t in texts:
        for flag in (False, True):
            assert R.find_instances(t, include_expansion_only=flag) == ref(
                t, include_expansion_only=flag
            )


def test_template_fragments_with_metacharacters_match_verbatim():
    """A template fragment holding regex metacharacters (``(`` and ``.``)
    matches only itself, so a text containing the filled template is found
    and the prefilter literal is in that text; a text that only a
    metacharacter reading would accept is not matched."""
    from research_on_document_level_person_relation_extraction_in_chinese_spark.scorers import (
        rules as R,
    )

    fmt = "{A}(又名{B}.)出席了活動。"
    rx = R._template_regex(fmt)
    text = "今天陳大文(又名陳小明.)出席了活動。"
    m = rx.search(text)
    assert m is not None and m.groups() == ("陳大文", "陳小明")
    assert R._longest_literal(fmt) in text
    assert rx.search("今天陳大文又名陳小明X)出席了活動。") is None
