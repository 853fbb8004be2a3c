"""Plain-Python KG-output fixtures — the VALUE oracle for the 7 pipeline
queries that no hand-written SQL can express (scorer replay, linking + CC,
iterative PageRank over pipeline edges).

:func:`port_kg_outputs` re-derives every KG query result WITHOUT Spark:
the deterministic corpus (``sources/corpus.py:make_doc``), the reference
parity port (``plans/reference_port.py``), and small pure-Python replicas of
the linking / node / edge / PageRank recurrences (``operators/linking.py``,
``operators/graph.py``). :func:`write_port_fixtures` materializes the results
as parquet under ``fixtures/port/`` (committed); ``oracle_sql()`` points
DuckDB at those files, turning the former rows-only driver checks into full
value gates (count + schema + hash) — Spark pipeline vs an independent
single-process execution of the same specified semantics.

Staleness guard: ``tests/test_port_fixtures.py`` regenerates the outputs
in-process and compares them row-for-row against the committed parquet, so
any scorer / template / pipeline change that shifts the emitted sets fails
the suite until ``scripts/gen_port_fixtures.py`` is re-run (the CLAUDE.md
co-design rule, extended to a 5th artifact).
"""

from __future__ import annotations

import os
import re

from ..functions.chinese import s2t
from ..operators.expansion import source_entities
from ..scorers import get_scorer
from ..scorers.rules import TITLES
from ..sources.corpus import make_doc
from .reference_port import run_reference_logic

FIXTURE_COLUMNS: dict[str, list[str]] = {
    "kg_triples": ["url", "subj", "obj", "rel"],
    "kg_union_expansion": ["url", "subj", "obj", "rel"],
    "kg_ner_re_replay": ["url", "subj", "obj", "rel"],
    "kg_generation_replay": ["url", "subj", "obj", "rel"],
    "kg_nodes_pipeline": ["canonical_name", "n_aliases", "n_docs"],
    "kg_edges_pipeline": ["subj_name", "obj_name", "rel", "n_docs"],
    "kg_pagerank": ["name", "rank"],
}

_TITLE_RE = re.compile("(" + "|".join(TITLES) + ")$")


def default_fixture_dir() -> str:
    """``<repo root>/fixtures/port`` — resolved relative to this file so the
    oracle SQL works from any cwd (driver, pytest, bench)."""
    pkg = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(os.path.dirname(pkg), "fixtures", "port")


def _port_nodes_edges_pagerank(
    docs_by_url: dict[str, dict], ref: dict[str, list]
) -> tuple[list, list, list]:
    """Replicas of link_entities (exact-norm linking, fuzzy off — the pipeline
    default), build_nodes/build_edges (name-keyed projection), and the
    10-iteration weighted PageRank recurrence of operators/graph.py:pagerank
    (dangling-mass redistribution, damping 0.85, tol=0)."""
    mod = get_scorer("deterministic")

    # mention table: ckip NER over every doc that reached expansion
    # (consensus non-empty), n_docs = distinct urls per surface form
    mention_urls: dict[str, set] = {}
    for url in sorted({r[0] for r in ref["consensus"]}):
        trad = s2t(docs_by_url[url]["text"])
        for m in source_entities(mod, trad, "ckip", {}):
            mention_urls.setdefault(m, set()).add(url)

    # exact-norm linking: equal normalized names merge, nothing else does, so
    # components are exactly the norm groups; the outputs below use only each
    # group's min norm (UTF-8 order == code-point order, matching Spark F.min)
    norm = {m: _TITLE_RE.sub("", m) for m in mention_urls}
    groups: dict[str, list[str]] = {}
    for m, nm in norm.items():
        groups.setdefault(nm, []).append(m)
    comp = {m: min(ms) for nm, ms in groups.items() for m in ms}

    nodes: dict[str, dict] = {}
    for m, urls in mention_urls.items():
        nd = nodes.setdefault(comp[m], {"mentions": set(), "n_docs": 0, "norms": set()})
        nd["mentions"].add(m)
        nd["n_docs"] += len(urls)
        nd["norms"].add(norm[m])
    node_rows = sorted(
        (min(nd["norms"]), len(nd["mentions"]), nd["n_docs"]) for nd in nodes.values()
    )

    # edges: alias-resolved (fallback = raw surface form, the build_edges
    # coalesce), grouped by canonical names + rel, n_docs = distinct urls
    resolve = {m: min(nodes[comp[m]]["norms"]) for m in mention_urls}
    edge_docs: dict[tuple, set] = {}
    for url, s, o, r in sorted(set(ref["merge"])):
        key = (resolve.get(s, s), resolve.get(o, o), r)
        edge_docs.setdefault(key, set()).add(url)
    edge_rows = sorted((s, o, r, len(u)) for (s, o, r), u in edge_docs.items())

    # PageRank over the symmetrized weighted edge multigraph (parallel edges
    # per rel kept, exactly like the Spark query's union-without-distinct)
    sym = []
    for (s, o, _r), u in edge_docs.items():
        sym.append((s, o, float(len(u))))
        sym.append((o, s, float(len(u))))
    vs = sorted({s for s, _o, _w in sym} | {o for _s, o, _w in sym})
    n = len(vs)
    deg: dict[str, float] = {}
    for s, _o, w in sym:
        deg[s] = deg.get(s, 0.0) + w
    rank = {v: 1.0 / n for v in vs}
    d = 0.85
    for _ in range(10):
        contrib: dict[str, float] = {}
        for s, o, w in sym:
            contrib[o] = contrib.get(o, 0.0) + rank[s] * w / deg[s]
        dmass = sum(rank[v] for v in vs if v not in deg)
        rank = {
            v: (1.0 - d) / n + d * (contrib.get(v, 0.0) + dmass / n) for v in vs
        }
    pr_rows = sorted((v, round(rank[v], 6)) for v in vs)
    return node_rows, edge_rows, pr_rows


def port_kg_outputs(n_docs: int = 600, seed: int = 42) -> dict[str, list[tuple]]:
    """Every KG query's expected result set, computed Spark-free."""
    docs = []
    for i in range(n_docs):
        row, _gold = make_doc(i, seed)
        docs.append({"url": row["url"], "text": row["text"], "lang": row["lang"]})
    ref = run_reference_logic(docs)
    docs_by_url = {d["url"]: d for d in docs}
    node_rows, edge_rows, pr_rows = _port_nodes_edges_pagerank(docs_by_url, ref)
    return {
        "kg_triples": sorted(set(ref["merge"])),
        "kg_union_expansion": sorted(set(ref["union_merge_1024"])),
        "kg_ner_re_replay": sorted(set(ref["re_replay"])),
        "kg_generation_replay": sorted(set(ref["gen_replay"])),
        "kg_nodes_pipeline": node_rows,
        "kg_edges_pipeline": edge_rows,
        "kg_pagerank": pr_rows,
    }


def write_port_fixtures(
    out_dir: str | None = None, n_docs: int = 600, seed: int = 42
) -> dict[str, int]:
    """Materialize :func:`port_kg_outputs` as one parquet file per query
    (sorted rows, Spark-matching types). Returns {name: n_rows}."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir = out_dir or default_fixture_dir()
    os.makedirs(out_dir, exist_ok=True)
    outputs = port_kg_outputs(n_docs=n_docs, seed=seed)
    counts = {}
    for name, rows in outputs.items():
        cols = FIXTURE_COLUMNS[name]
        data = {c: [r[i] for r in rows] for i, c in enumerate(cols)}
        fields = []
        for c in cols:
            if c in ("n_aliases",):
                fields.append(pa.field(c, pa.int32()))
            elif c in ("n_docs",):
                fields.append(pa.field(c, pa.int64()))
            elif c == "rank":
                fields.append(pa.field(c, pa.float64()))
            else:
                fields.append(pa.field(c, pa.string()))
        table = pa.table(data, schema=pa.schema(fields))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = len(rows)
    return counts
