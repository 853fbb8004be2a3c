"""Scorer registry.

The reference's per-document LLM API calls (SURVEY §2.7 M1–M11) become
deterministic rule-backed scorers behind the identical prompt/label schema
(``scorers.deterministic``). The extraction steps import that module
directly; ``get_scorer`` serves the reference port and the benchmark's
kernel timings.
"""

from __future__ import annotations

from . import deterministic

_REGISTRY = {
    "deterministic": deterministic,
}


def get_scorer(name: str = "deterministic"):
    """Return the scorer module providing score_detect / score_verify /
    score_expansion_pairs / score_ner / score_taxonomy."""
    try:
        return _REGISTRY[name]
    except KeyError:
        raise ValueError(f"unknown scorer {name!r}; have {sorted(_REGISTRY)}") from None
