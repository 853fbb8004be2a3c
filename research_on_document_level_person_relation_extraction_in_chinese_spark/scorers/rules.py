"""Closed-cast template rules shared by the corpus generator and the
deterministic scorers.

The synthetic corpus embeds relation sentences drawn from a closed template
set over a closed cast of person names (FIXTURES.md §A1); the deterministic
scorers (replacing the reference's LLM calls, SURVEY §2.7 M1–M11) recognize
exactly these templates. Because generator, scorers, Spark pipeline, and the
plain-Python parity oracle all share THIS module, the exact parity check
against the reference-logic run measures pipeline fidelity, not model luck.

Template phrasing mirrors the reference's own exemplars
(reference ``gemma.py:35``, ``few_shot_gemini_api.py:124-144``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

# --- cast -------------------------------------------------------------------
# Hot surnames 陳/林/王 are over-represented on purpose (skew exercise for the
# entity-linking blocked self-join, SURVEY §4 item 1).
CAST = [
    "陳大文", "陳小明", "陳志豪", "陳雅婷", "陳俊宏",
    "林志明", "林美玲", "林建宏", "林怡君",
    "王小華", "王建國", "王淑芬", "王德利",
    "張家豪", "張惠茹", "劉德發", "劉心怡",
    "黃國倫", "李文傑", "李安娜", "吳宗翰",
    "楊雅雯", "趙子軒", "周世杰", "鄭成功",
    # NOTE: every canonical name must be an s2t fixed point (tested in
    # test_rules_fixed_points) — the expansion stage matches cast surface
    # forms inside Traditional-converted text.
    "謝金龍", "郭得勝", "蔡英倫", "許功蓋", "孫中原",
]

#: Simplified-script spellings of some cast members; the built-in s2t map
#: (functions/chinese.py) converts these back to the canonical Traditional
#: form, so duplicate triples collapse after conversion
#: (reference ``CommonCrawl/data/train/postprecess.py:64-71``).
SIMPLIFIED = {
    "陳大文": "陈大文",
    "陳小明": "陈小明",
    "劉德發": "刘德发",
    "張家豪": "张家豪",
    "謝金龍": "谢金龙",
    "鄭成功": "郑成功",
    "陳雅婷": "陈雅婷",
    "林志明": "林志明",  # all-shared chars: identical in both scripts
}

#: Title-suffixed alias mentions (entity-linking exercise): NER emits the
#: surface form; linking strips the title and merges into the canonical node.
TITLES = ["博士", "教授", "先生", "老師"]


def strip_title(name: str) -> str:
    """Pure-Python twin of ``operators.linking.normalize_mention`` (one
    trailing title suffix stripped) — shared by the replay pair generator and
    the parity oracle so all mention normalizers agree."""
    for t in TITLES:
        if name.endswith(t) and len(name) > len(t):
            return name[: -len(t)]
    return name

ALL_NAME_FORMS = sorted(
    set(CAST) | set(SIMPLIFIED.values()),
    key=len,
    reverse=True,
)
_NAME_ALT = "(?:" + "|".join(ALL_NAME_FORMS) + ")"


# --- relation templates -----------------------------------------------------

@dataclass(frozen=True)
class Template:
    tid: str
    fmt: str          # sentence with {A}/{B} slots
    raw_rel: str      # free-text relation word the detect scorer emits
    cls: str          # 4-class taxonomy ground truth
    expansion_only: bool = False  # invisible to detect scorers; found via NER+pair-classify


TEMPLATES = [
    Template("kin_son", "{A}是{B}的長子。", "長子", "親屬"),
    Template("kin_wife", "{A}與妻子{B}一同出席了典禮。", "妻子", "親屬"),
    Template("kin_father", "{A}的父親{B}曾在銀行任職。", "父親", "親屬"),
    Template("tea_student", "{A}教授指導的學生{B}完成了畢業論文。", "學生", "師生"),
    Template("tea_follow", "{B}多年來師從{A}研習書法。", "師從", "師生"),
    Template("col_work", "{A}與{B}在同一間公司共事多年。", "共事", "同事"),
    Template("col_research", "{A}曾與{B}共同研究自然語言處理。", "共同研究", "同事"),
    Template("oth_friend", "{A}與{B}是多年好友。", "好友", "其他"),
    Template("oth_meet", "{A}與{B}在記者會上初次見面。", "初次見面", "其他"),
    # expansion-only: both detect scorers miss it; NER + batched pair
    # classification recovers it (the reference's expansion stage value-add).
    Template("kin_cousin", "{A}與{B}是表兄弟。", "表兄弟", "親屬", expansion_only=True),
]

#: self-pair distractor — the scorer faithfully emits (A, A, rel) and the
#: parse kernel must drop it (prompt rule D, reference
#: ``CommonCrawl/data/train/postprecess.py:208``).
SELF_PAIR_FMT = "{A}與{A}互相勉勵。"
SELF_PAIR_RAW = "勉勵"

_SLOT_RE = re.compile(r"\{[AB]\}")


def _template_regex(fmt: str) -> re.Pattern:
    """Compile a template: every literal fragment ``re.escape``d, every
    {A}/{B} slot one name group (in slot order). Escaping makes each fragment
    match only itself, whatever characters a template holds — the condition
    ``_longest_literal``'s prefilter relies on."""
    return re.compile(f"({_NAME_ALT})".join(re.escape(f) for f in _SLOT_RE.split(fmt)))


def _longest_literal(fmt: str) -> str:
    """Longest fixed fragment of a template (the text between/around the
    {A}/{B} slots). SOUND regex prefilter: every match of
    ``_template_regex(fmt)`` contains every literal fragment of ``fmt``
    verbatim, so ``literal not in text`` proves ``finditer`` would find
    nothing — a C substring probe instead of a full regex scan
    (find_instances was the single hottest scorer kernel: ~10 whole-text
    regex scans per doc, most of which match nothing)."""
    return max(_SLOT_RE.split(fmt), key=len)


_COMPILED = [(t, _template_regex(t.fmt), _longest_literal(t.fmt)) for t in TEMPLATES]
_SELF_RE = _template_regex(SELF_PAIR_FMT)
_SELF_LIT = _longest_literal(SELF_PAIR_FMT)


# --- taxonomy keyword rules (deterministic M6 replacement) -------------------

TAXONOMY_KEYWORDS = {
    "親屬": ["長子", "妻子", "父親", "母親", "兒子", "女兒", "丈夫", "兄弟",
             "姊妹", "祖父", "表兄弟", "親屬", "家人"],
    "師生": ["學生", "老師", "師從", "導師", "指導", "師生"],
    "同事": ["同事", "共事", "共同研究", "合作", "搭檔"],
}


def classify_relation(raw_rel: str) -> str:
    """Free-text relation word → 4-class label (deterministic replacement for
    the reference's LLM taxonomy call, ``train/postprecess.py:270-347``)."""
    for cls, keywords in TAXONOMY_KEYWORDS.items():
        if any(k in raw_rel for k in keywords):
            return cls
    return "其他"


# --- template matching (the scorers' "model") --------------------------------

def find_instances(
    text: str,
    *,
    include_expansion_only: bool = False,
    blind_tids: frozenset[str] = frozenset(),
) -> list[tuple[str, str, str, str]]:
    """All template matches in ``text`` → list of (p1, p2, raw_rel, tid),
    in occurrence order (including self-pair distractor emissions)."""
    hits: list[tuple[int, str, str, str, str]] = []
    for tmpl, rx, lit in _COMPILED:
        if tmpl.tid in blind_tids:
            continue
        if tmpl.expansion_only and not include_expansion_only:
            continue
        if lit not in text:  # sound prefilter — see _longest_literal
            continue
        for m in rx.finditer(text):
            a, b = m.group(1), m.group(2)
            # {A} before {B} in fmt order ↔ group order; fine either way since
            # downstream canonicalization sorts the pair.
            hits.append((m.start(), a, b, tmpl.raw_rel, tmpl.tid))
    if _SELF_LIT in text:
        for m in _SELF_RE.finditer(text):
            hits.append((m.start(), m.group(1), m.group(1), SELF_PAIR_RAW, "self"))
    hits.sort(key=lambda h: h[0])
    return [(a, b, r, tid) for _, a, b, r, tid in hits]


_MENTION_ALT = "(?:" + "|".join(
    sorted(
        {n + t for n in CAST for t in TITLES} | set(ALL_NAME_FORMS),
        key=len,
        reverse=True,
    )
) + ")"
_MENTION_RE = re.compile(_MENTION_ALT)


def find_person_mentions(text: str) -> list[str]:
    """Deterministic person-NER (M7/M8 replacement): surface mentions of cast
    names, simplified spellings, and title-suffixed aliases; dedup, order of
    first occurrence."""
    seen: list[str] = []
    for m in _MENTION_RE.finditer(text):
        s = m.group(0)
        if s not in seen:
            seen.append(s)
    return seen
