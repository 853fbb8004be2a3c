"""Seeded benchmark inputs and the plain-Python oracles that check outputs.

Everything here is a pure function of the seed: the same seed gives the same
corpus ids, mention table and triple table. The program under test only ever
receives the generated rows.
"""

from __future__ import annotations

import random
import re
import zlib
from collections import defaultdict
from itertools import combinations

from research_on_document_level_person_relation_extraction_in_chinese_spark.functions.parse import (
    RELATION_CLASSES,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.scorers.rules import (
    TITLES,
)

# The 44 most common surnames in Taiwan with their approximate share of the
# population in percent, typed in from the Ministry of the Interior's
# 全國姓名統計分析 (national name statistics, 2018 edition), rounded to 0.01.
# Only the ratios matter: 陳 is about 13% of the people drawn from this list,
# and 陳/林/黃 form the hot blocks of the linking self-join.
SURNAME_PCT = {
    "陳": 11.13, "林": 8.28, "黃": 6.04, "張": 5.27, "李": 5.13,
    "王": 4.12, "吳": 4.04, "劉": 3.16, "蔡": 2.93, "楊": 2.66,
    "許": 2.34, "鄭": 1.89, "謝": 1.83, "郭": 1.53, "洪": 1.52,
    "曾": 1.46, "邱": 1.45, "廖": 1.44, "賴": 1.42, "周": 1.27,
    "徐": 1.27, "蘇": 1.20, "葉": 1.20, "莊": 0.98, "呂": 0.94,
    "江": 0.93, "何": 0.88, "蕭": 0.87, "羅": 0.84, "高": 0.82,
    "潘": 0.69, "簡": 0.67, "朱": 0.65, "鍾": 0.63, "彭": 0.60,
    "游": 0.59, "詹": 0.58, "胡": 0.57, "施": 0.55, "沈": 0.50,
    "余": 0.49, "盧": 0.47, "梁": 0.46, "趙": 0.45,
}
SURNAMES = list(SURNAME_PCT)
#: share of docs with one titled mention: generate_corpus adds a
#: ``<name><title>出席了研討會`` sentence to 20% of its zh docs
TITLE_DOC_RATE = 0.20
#: Assumed, no published source: share of person mentions written as the bare
#: given name, and the chance the full name also appears in that doc. Set so
#: the given-name block and the context guard have real merges to make.
NICKNAME_RATE = 0.06
NICKNAME_WITH_FULL = 0.6
GIVEN_CHARS = list("志明華文建國偉俊家豪宇傑美玲淑芬怡君雅婷宗翰承恩冠廷佳穎欣怡子晴柏宏信")
_TITLE_RE = re.compile("(" + "|".join(TITLES) + ")$")


def triple_hash(rows) -> tuple[int, int]:
    """(count, order-independent hash) of (url, subj, obj, rel) rows: the sum
    of CRC-32 over the unit-separator-joined fields, which Spark's
    ``sum(crc32(concat_ws(...)))`` reproduces exactly."""
    h = 0
    n = 0
    for row in rows:
        h += zlib.crc32("\x1f".join(row).encode("utf-8"))
        n += 1
    return n, h


def link_tables(seed: int, n_docs: int, n_people: int):
    """Open-vocabulary linking input: ``docs`` = [(url, [mention, ...])] and
    ``triples`` = [(url, subj, obj, rel)].

    Surnames follow ``SURNAME_PCT``; a doc names 3-6 people, carries one
    titled mention at ``TITLE_DOC_RATE``, and writes a person as the bare
    given name at ``NICKNAME_RATE``, with the full name beside it
    ``NICKNAME_WITH_FULL`` of the time."""
    rng = random.Random(f"link:{seed}")
    weights = list(SURNAME_PCT.values())
    people: list[str] = []
    seen: set[str] = set()
    while len(people) < n_people:
        name = rng.choices(SURNAMES, weights)[0] + "".join(rng.sample(GIVEN_CHARS, 2))
        if name not in seen:
            seen.add(name)
            people.append(name)
    docs, triples = [], []
    for d in range(n_docs):
        url = f"https://link.example/{d:08d}"
        persons = rng.sample(people, rng.randint(3, 6))
        titled = rng.randrange(len(persons)) if rng.random() < TITLE_DOC_RATE else -1
        surfaces: list[str] = []
        for i, p in enumerate(persons):
            if i == titled:
                surfaces.append(p + rng.choice(TITLES))
            elif rng.random() < NICKNAME_RATE:
                surfaces.append(p[1:])
                if rng.random() < NICKNAME_WITH_FULL:
                    surfaces.append(p)
            else:
                surfaces.append(p)
        surfaces = list(dict.fromkeys(surfaces))
        docs.append((url, surfaces))
        for _ in range(rng.randint(1, 3)):
            a, b = rng.sample(surfaces, 2)
            triples.append((url, a, b, rng.choice(RELATION_CLASSES)))
    return docs, sorted(set(triples))


def norm_mention(m: str) -> str:
    return _TITLE_RE.sub("", m)


def _bigrams(s: str) -> set[str]:
    if len(s) < 2:
        return {s}
    return {s[i : i + 2] for i in range(len(s) - 1)}


def fuzzy_blocks(mentions) -> dict[str, list[str]]:
    """The fuzzy linker's blocks: surname (first char) and given name (last
    two chars) of every normalised mention of length >= 2."""
    blocks: dict[str, list[str]] = defaultdict(list)
    for m in mentions:
        n = norm_mention(m)
        if len(n) >= 2:
            blocks["s|" + n[0]].append(m)
            blocks["g|" + n[-2:]].append(m)
    return blocks


def block_stats(docs) -> dict:
    """Input-side counts of the blocked self-join: distinct mentions, the
    candidate pairs sum C(n, 2) over blocks, and the hot-block share (the
    largest block's share of all candidate pairs)."""
    mentions = {m for _, ms in docs for m in ms}
    sizes = [len(v) for v in fuzzy_blocks(mentions).values()]
    pairs = [n * (n - 1) // 2 for n in sizes]
    total = sum(pairs)
    return {
        "mentions": len(mentions),
        "block_pairs": total,
        "hot_block_share": max(pairs) / total if total else 0.0,
        "largest_block": max(sizes) if sizes else 0,
    }


def link_oracle(docs, triples, theta: float = 0.5):
    """Plain-Python union-find with the linker's rules: exact normalised-name
    edges, plus fuzzy edges (bigram Jaccard >= theta or strict suffix
    containment) inside a shared block between mentions that co-occur in a
    doc. Returns (nodes, edges) keyed by canonical name, as sets."""
    urls_of: dict[str, set[str]] = defaultdict(set)
    for url, ms in docs:
        for m in ms:
            urls_of[m].add(url)
    mentions = sorted(urls_of)
    parent = {m: m for m in mentions}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    by_norm: dict[str, list[str]] = defaultdict(list)
    for m in mentions:
        by_norm[norm_mention(m)].append(m)
    for group in by_norm.values():
        for m in group[1:]:
            union(group[0], m)

    for members in fuzzy_blocks(mentions).values():
        for a, b in combinations(sorted(set(members)), 2):
            na, nb = norm_mention(a), norm_mention(b)
            ga, gb = _bigrams(na), _bigrams(nb)
            jac = len(ga & gb) / len(ga | gb)
            contained = (len(na) > len(nb) and na.endswith(nb)) or (
                len(nb) > len(na) and nb.endswith(na)
            )
            if (jac >= theta or contained) and urls_of[a] & urls_of[b]:
                union(a, b)

    comp: dict[str, list[str]] = defaultdict(list)
    for m in mentions:
        comp[find(m)].append(m)
    canon_of: dict[str, str] = {}
    nodes = set()
    for members in comp.values():
        canon = min(norm_mention(m) for m in members)
        for m in members:
            canon_of[m] = canon
        nodes.add(
            (canon, tuple(sorted(members)), sum(len(urls_of[m]) for m in members))
        )
    edge_urls: dict[tuple, set[str]] = defaultdict(set)
    for url, s, o, r in triples:
        edge_urls[(canon_of[s], canon_of[o], r)].add(url)
    edges = {
        k + (len(v), tuple(sorted(v)[:3])) for k, v in edge_urls.items()
    }
    return nodes, edges
