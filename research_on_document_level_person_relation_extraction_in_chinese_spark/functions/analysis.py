"""Per-document analysis kernel: name density and pair generation.

Pure functions shared by the Spark pipeline (inside pandas UDFs /
``applyInPandas``) and the plain-Python parity oracle.
"""

from __future__ import annotations

import itertools

#: Expansion work caps (reference ``sota_ner/ckip_expansion.py:44-52``):
#: doc truncated at 4000 chars; name density ≤ 0.95*2 per 100 chars;
#: at most C(15,2)=105 extra pairs per document. These caps are the skew /
#: fan-out guard — they bound per-document work at any corpus scale.
MAX_DOC_LENGTH = 4000
MAX_NAME_DENSITY = 0.95 * 2
MAX_PAIRS = 105


def generate_pairs(names: list[str]) -> list[tuple[str, str]]:
    """F8 — all unordered name pairs, each sorted by codepoint
    (reference ``sota_ner/ckip_expansion.py:22-23``)."""
    return [tuple(sorted(c)) for c in itertools.combinations(names, 2)]


def expansion_pairs(
    entities: list[str],
    already_pairs: set[tuple[str, str]],
    document: str,
) -> tuple[str, list[tuple[str, str]]]:
    """F10 + J3 — density classification and extra-pair generation for one doc.

    Returns ``(density, extra_pairs)`` with density ∈ {low, middle, high};
    pairs already labeled by an annotator are anti-joined out and both names
    must literally occur in the (4000-char-truncated) document
    (reference ``sota_ner/ckip_expansion.py:62-97``).
    """
    document = document[:MAX_DOC_LENGTH]
    if len(entities) < 2:
        return "low", []
    name_density = len(entities) / len(document) * 100 if document else float("inf")
    extra = [
        p
        for p in generate_pairs(entities)
        if p not in already_pairs and p[0] in document and p[1] in document
    ]
    if not extra:
        return "low", []
    if name_density > MAX_NAME_DENSITY or len(extra) > MAX_PAIRS:
        return "high", []
    return "middle", extra
