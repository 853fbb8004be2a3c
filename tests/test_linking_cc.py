"""Entity-linking internals: blocking, similarity edges, connected components,
and fuzzy linking end to end against a Python union-find."""

import random
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from perfbench.inputs import link_oracle, link_tables, norm_mention
from research_on_document_level_person_relation_extraction_in_chinese_spark.operators.graph import (
    build_edges,
    build_nodes,
)
from research_on_document_level_person_relation_extraction_in_chinese_spark.operators.linking import (
    connected_components,
    fuzzy_mention_edges,
    link_entities,
    mention_edges,
    mention_table,
    normalize_mention,
)


def test_normalize_strips_titles(spark):
    df = spark.createDataFrame(
        [("陳大文博士",), ("陳大文",), ("林美玲老師",), ("王建國",)], "mention string"
    )
    got = dict(
        df.select("mention", normalize_mention(F.col("mention")).alias("n")).collect()
    )
    assert got["陳大文博士"] == "陳大文"
    assert got["林美玲老師"] == "林美玲"
    assert got["王建國"] == "王建國"


def test_mention_edges_blocked(spark):
    mentions = spark.createDataFrame(
        [
            ("陳大文", "陳大文", 3),
            ("陳大文博士", "陳大文", 1),
            ("陳小明", "陳小明", 2),  # same surname+len block, different norm
            ("王建國", "王建國", 1),
        ],
        "mention string, norm string, n_docs long",
    )
    edges = {(r["src"], r["dst"]) for r in mention_edges(mentions).collect()}
    assert edges == {("陳大文", "陳大文博士")}


_FUZZY_MENTIONS = [
    # (mention, norm, n_docs) — norms precomputed as mention_table would
    ("林志玲", "林志玲", 5),
    ("志玲", "志玲", 2),        # nickname: given name without surname
    ("林志玲老師", "林志玲", 1),  # title variant (already normalized equal)
    ("林大同", "林大同", 3),     # same hot surname, different person
    ("陳大明", "陳大明", 4),     # distinct persons sharing a surname …
    ("陳小華", "陳小華", 2),     # … must NOT merge
    ("王建國", "王建國", 1),
]


def test_fuzzy_edges_nickname_merges_surname_sharers_do_not(spark):
    """Round-3 verdict item 3: 志玲 links to 林志玲 (bigram Jaccard 0.5 +
    suffix containment, found via the given-name block), while 陳大明/陳小華
    (same surname, bigram Jaccard 0) and 林大同 (same hot surname) stay
    separate, although every mention co-occurs in one document."""
    mentions = spark.createDataFrame(
        _FUZZY_MENTIONS, "mention string, norm string, n_docs long"
    )
    context = spark.createDataFrame(
        [("u1", m) for m, _, _ in _FUZZY_MENTIONS], "url string, mention string"
    )
    edges = {
        tuple(sorted((r["src"], r["dst"])))
        for r in fuzzy_mention_edges(mentions, theta=0.5, context=context).collect()
    }
    assert ("志玲", "林志玲") in edges
    assert ("志玲", "林志玲老師") in edges  # via equal-norm transitivity too
    assert not any("陳大明" in e and "陳小華" in e for e in edges)
    assert not any("林大同" in e and "林志玲" in e for e in edges)
    assert not any("王建國" in e for e in edges)


def test_fuzzy_edges_need_context(spark):
    """Fuzzy pairs come from documents: without a context (fuzzy
    mention edges) or with ``use_context=False`` (fuzzy linking) there is
    no candidate source, and both raise instead of falling back."""
    mentions = spark.createDataFrame(
        _FUZZY_MENTIONS, "mention string, norm string, n_docs long"
    )
    with pytest.raises(ValueError, match="context"):
        fuzzy_mention_edges(mentions)
    expanded = spark.createDataFrame(
        [("u1", ["林志玲", "志玲"])], "url string, ckip_entity array<string>"
    )
    with pytest.raises(ValueError, match="use_context"):
        link_entities(expanded, fuzzy=True)


def test_fuzzy_edges_context_guard(spark):
    """With a context frame, a containment pair is kept only when the two
    mentions co-occur in at least one document — the precision guard against
    a bare given name bridging unrelated full names."""
    mentions = spark.createDataFrame(
        [("林志玲", "林志玲", 2), ("志玲", "志玲", 1), ("王志玲", "王志玲", 2)],
        "mention string, norm string, n_docs long",
    )
    context = spark.createDataFrame(
        [("u1", "林志玲"), ("u1", "志玲"), ("u2", "王志玲")],
        "url string, mention string",
    )
    edges = {
        tuple(sorted((r["src"], r["dst"])))
        for r in fuzzy_mention_edges(mentions, theta=0.5, context=context).collect()
    }
    assert ("志玲", "林志玲") in edges       # co-occur in u1
    assert ("志玲", "王志玲") not in edges   # never share a doc


def test_link_entities_fuzzy_end_to_end(spark):
    """link_entities(fuzzy=True): nickname + title variants land in ONE
    component; the default (fuzzy=False) run on the same input keeps them
    apart — parity pipeline unaffected by the opt-in."""
    expanded = spark.createDataFrame(
        [
            ("u1", ["林志玲", "志玲", "陳大明"]),
            ("u2", ["林志玲老師", "陳大明"]),
            ("u3", ["陳小華", "志玲"]),
        ],
        "url string, ckip_entity array<string>",
    )
    fz = {
        r["mention"]: r["component"]
        for r in link_entities(expanded, fuzzy=True, use_context=True).collect()
    }
    assert fz["林志玲"] == fz["志玲"] == fz["林志玲老師"]
    assert fz["陳大明"] != fz["陳小華"]
    assert fz["陳大明"] != fz["林志玲"]
    plain = {r["mention"]: r["component"] for r in link_entities(expanded).collect()}
    assert plain["林志玲"] == plain["林志玲老師"]  # exact-norm rule still merges
    assert plain["志玲"] != plain["林志玲"]        # nickname NOT merged by default


def test_connected_components_multihop(spark):
    """a-b, b-c, plus isolated d: one 3-node component + singleton."""
    vertices = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "id string")
    edges = spark.createDataFrame([("b", "a"), ("c", "b")], "src string, dst string")
    comp = {r["id"]: r["component"] for r in connected_components(vertices, edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["d"] == "d"


def test_connected_components_chain_converges(spark):
    """A 9-node path graph needs multiple propagation rounds."""
    ids = [f"n{i}" for i in range(9)]
    vertices = spark.createDataFrame([(i,) for i in ids], "id string")
    edges = spark.createDataFrame(
        [(ids[i + 1], ids[i]) for i in range(8)], "src string, dst string"
    )
    comp = connected_components(vertices, edges, max_iter=20)
    assert {r["component"] for r in comp.collect()} == {"n0"}


def test_connected_components_long_chain_olog_rounds(spark):
    """1000-node chain: min-label propagation would need ~1000 rounds;
    large-star/small-star converges within the O(log n) budget."""
    ids = [f"n{i:04d}" for i in range(1000)]
    vertices = spark.createDataFrame([(i,) for i in ids], "id string")
    edges = spark.createDataFrame(
        [(ids[i + 1], ids[i]) for i in range(999)], "src string, dst string"
    )
    comp = connected_components(vertices, edges, max_iter=15)
    rows = comp.collect()
    assert len(rows) == 1000
    assert {r["component"] for r in rows} == {"n0000"}


def test_connected_components_raises_when_budget_too_small(spark):
    ids = [f"n{i:03d}" for i in range(64)]
    vertices = spark.createDataFrame([(i,) for i in ids], "id string")
    edges = spark.createDataFrame(
        [(ids[i + 1], ids[i]) for i in range(63)], "src string, dst string"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(vertices, edges, max_iter=1)


def test_connected_components_two_components_and_dups(spark):
    vertices = spark.createDataFrame(
        [(x,) for x in ("a", "b", "c", "x", "y", "z")], "id string"
    )
    edges = spark.createDataFrame(
        # duplicate + reversed + self-loop edges must be tolerated
        [("b", "a"), ("a", "b"), ("c", "c"), ("c", "a"), ("y", "x"), ("z", "y")],
        "src string, dst string",
    )
    comp = {r["id"]: r["component"] for r in connected_components(vertices, edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == comp["z"] == "x"


def _union_find(vertices, edges):
    """id -> minimum id of its connected component, in plain Python."""
    parent = {v: v for v in vertices}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in vertices}


@pytest.mark.parametrize(
    "edges,is_star",
    [
        # two stars rooted at their minima: no round needed
        ([("b", "a"), ("c", "a"), ("y", "x"), ("z", "x")], True),
        # duplicate, reversed and self-loop edges that canonicalise to a star
        ([("a", "b"), ("b", "a"), ("c", "c"), ("a", "c"), ("c", "a")], True),
        # a src with two out-edges: c→a and c→b
        ([("c", "a"), ("c", "b"), ("y", "x")], False),
        # b is both a src (b→a) and a dst (c→b)
        ([("b", "a"), ("c", "b")], False),
        # duplicate, reversed and self-loop edges around a non-star
        ([("b", "a"), ("a", "b"), ("c", "c"), ("c", "a"), ("y", "x"), ("z", "y"), ("z", "y")], False),
    ],
    ids=["star-forest", "star-after-canon", "two-out-edges", "src-and-dst", "dups-reversed-loops"],
)
def test_connected_components_matches_union_find(spark, edges, is_star):
    """Labels equal a Python union-find. A graph that is already a star
    forest (after canonicalisation) needs zero rounds, so ``max_iter=0``
    succeeds on it; on any other graph ``max_iter=0`` must raise, which
    shows the star-forest stop test rejects it."""
    ids = ["a", "b", "c", "d", "x", "y", "z"]
    vertices = spark.createDataFrame([(i,) for i in ids], "id string")
    edge_df = spark.createDataFrame(edges, "src string, dst string")
    want = _union_find(ids, edges)
    if is_star:
        comp = connected_components(vertices, edge_df, max_iter=0)
    else:
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(vertices, edge_df, max_iter=0)
        comp = connected_components(vertices, edge_df)
    assert {r["id"]: r["component"] for r in comp.collect()} == want


def _random_graph(seed, n):
    """A seeded graph over ``n`` vertices with random labels (so no walk
    along a chain meets the ids in order): a chain over a third to a half of
    the vertices, a star, random edges among the rest, then reversed
    copies, duplicates and self-loops."""
    rng = random.Random(seed)
    ids = [f"v{x:03d}" for x in rng.sample(range(1000), n)]
    rest = ids[:]
    rng.shuffle(rest)
    k = rng.randint(n // 3, n // 2)
    chain, rest = rest[:k], rest[k:]
    edges = list(zip(chain, chain[1:]))
    s = rng.randint(5, 10)
    star, rest = rest[:s], rest[s:]
    edges += [(star[0], v) for v in star[1:]]
    edges += [(rng.choice(rest), rng.choice(rest)) for _ in range(len(rest) // 2)]
    edges += [(b, a) for a, b in rng.sample(edges, 5)]
    edges += rng.sample(edges, 5)
    edges += [(v, v) for v in rng.sample(ids, 3)]
    rng.shuffle(edges)
    return ids, edges


def test_connected_components_random_graphs_match_union_find(spark, monkeypatch):
    """Six seeded random graphs of 30 to 80 vertices (chains, stars,
    duplicates, reversed edges, self-loops): the labels equal the Python
    union-find, and the chains make at least one graph run two or more
    large-star/small-star rounds."""
    from research_on_document_level_person_relation_extraction_in_chinese_spark.operators import (
        linking,
    )

    rounds = []
    real = linking._small_star

    def counted(edges):
        rounds[-1] += 1
        return real(edges)

    monkeypatch.setattr(linking, "_small_star", counted)
    for seed, n in zip(range(6), (30, 40, 50, 60, 70, 80)):
        ids, edges = _random_graph(seed, n)
        vertices = spark.createDataFrame([(i,) for i in ids], "id string")
        edge_df = spark.createDataFrame(edges, "src string, dst string")
        rounds.append(0)
        comp = connected_components(vertices, edge_df)
        got = {r["id"]: r["component"] for r in comp.collect()}
        assert got == _union_find(ids, edges), f"graph seed {seed}"
    assert max(rounds) >= 2, rounds


def _url_keyed_exchanges(df):
    """Hash exchanges of ``df``'s executed plan whose keys include url."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning(" in line and re.search(r"\burl#", line)
    ]


def test_doc_counts_shuffle_once_and_stay_long(spark):
    """``n_docs`` is the size of one url set per key: neither the mention
    table nor the edge aggregation plans an exchange keyed on url (as a
    ``countDistinct`` does), and ``n_docs`` stays a bigint in the mention
    table, the fuzzy alias table and the edges."""
    docs, triples = link_tables(seed=7, n_docs=40, n_people=30)
    expanded = spark.createDataFrame(docs, "url string, ckip_entity array<string>")
    triple_df = spark.createDataFrame(triples, "url string, subj string, obj string, rel string")
    mentions = mention_table(expanded)
    fuzzy = link_entities(expanded, fuzzy=True, use_context=True)
    edges = build_edges(triple_df, fuzzy, build_nodes(fuzzy))
    assert _url_keyed_exchanges(mentions) == []
    assert _url_keyed_exchanges(edges) == []
    for df in (mentions, fuzzy, edges):
        assert df.schema["n_docs"].dataType == LongType()


def test_exact_link_entities_runs_no_job(spark):
    """The default (exact) path links mentions by their norm: building the
    table launches no Spark job, and every component is the mention's norm."""
    expanded = spark.createDataFrame(
        [("u1", ["林志玲", "林志玲老師", "志玲"]), ("u2", ["陳大明博士", "林志玲"])],
        "url string, ckip_entity array<string>",
    )
    sc = spark.sparkContext
    group = "test_exact_link_entities_runs_no_job"
    sc.setJobGroup(group, "exact link_entities")
    try:
        linked = link_entities(expanded)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    rows = {r["mention"]: (r["norm"], r["component"], r["n_docs"]) for r in linked.collect()}
    assert rows == {
        "林志玲": ("林志玲", "林志玲", 2),
        "林志玲老師": ("林志玲", "林志玲", 1),
        "志玲": ("志玲", "志玲", 1),
        "陳大明博士": ("陳大明", "陳大明", 1),
    }


def _linked_sets(spark, docs, triples):
    """Fuzzy linking with the context guard → build_nodes/build_edges, as
    the (nodes, edges) sets ``link_oracle`` returns."""
    mentions = spark.createDataFrame(docs, "url string, ckip_entity array<string>")
    triple_df = spark.createDataFrame(triples, "url string, subj string, obj string, rel string")
    linked = link_entities(mentions, fuzzy=True, use_context=True)
    nodes = build_nodes(linked).collect()
    edges = build_edges(triple_df, linked, build_nodes(linked)).collect()
    canon = {r["person_id"]: r["canonical_name"] for r in nodes}
    got_nodes = {(r["canonical_name"], tuple(r["aliases"]), r["n_docs"]) for r in nodes}
    got_edges = {
        (canon[r["subj_id"]], canon[r["obj_id"]], r["rel"], r["n_docs"], tuple(r["example_urls"]))
        for r in edges
    }
    return got_nodes, got_edges


@pytest.mark.parametrize("seed", [7, 11])
def test_fuzzy_linking_nodes_edges_match_union_find(spark, seed):
    """Seeded open-vocabulary mentions (Taiwan surname shares, titled and
    nickname aliases) → fuzzy linking with the context guard →
    build_nodes/build_edges, equal to the plain-Python union-find."""
    docs, triples = link_tables(seed=seed, n_docs=120, n_people=90)
    want = link_oracle(docs, triples)
    assert _linked_sets(spark, docs, triples) == want
    # the fixture must exercise fuzzy merges, not only exact-norm ones
    assert any(len({norm_mention(a) for a in aliases}) > 1 for _, aliases, _ in want[0])


def test_fuzzy_linking_given_name_block_only(spark):
    """Every fuzzy merge here shares only the given-name block (last two
    characters), never the surname block: 志玲 ↔ 林志玲 and 歐陽建國 ↔
    建國老師. 王志玲 shares that block with 林志玲 and a document with it,
    but their bigram Jaccard is 1/3 and neither is the other's suffix, so it
    stays apart."""
    docs = [
        ("u1", ["林志玲", "志玲", "陳大明"]),
        ("u2", ["歐陽建國", "建國老師"]),
        ("u3", ["王志玲", "陳大明"]),
        ("u4", ["林志玲", "王志玲"]),
    ]
    triples = [
        ("u1", "志玲", "陳大明", "朋友"),
        ("u2", "建國老師", "歐陽建國", "師生"),
        ("u4", "王志玲", "林志玲", "朋友"),
    ]
    want = link_oracle(docs, triples)
    assert _linked_sets(spark, docs, triples) == want
    merged = {aliases for _, aliases, _ in want[0] if len(aliases) > 1}
    assert merged == {("志玲", "林志玲"), ("建國老師", "歐陽建國")}


def test_fuzzy_linking_needs_a_shared_block(spark):
    """甲乙丙丁戊己庚 / 辛乙丙丁戊己壬 co-occur and pass bigram Jaccard (4 of
    8 bigrams = 0.5) but share neither the first character nor the last
    two, so they must not link: the block test is part of the predicate."""
    a, b = "甲乙丙丁戊己庚", "辛乙丙丁戊己壬"
    expanded = spark.createDataFrame([("u1", [a, b])], "url string, ckip_entity array<string>")
    comp = {
        r["mention"]: r["component"]
        for r in link_entities(expanded, fuzzy=True, use_context=True).collect()
    }
    assert comp == {a: a, b: b}


def test_fuzzy_edges_reach_connected_components_without_a_shuffle(spark, monkeypatch):
    """Fuzzy ``link_entities`` builds its similarity edges map-side from each
    document's norms: the edge frame it hands to the star-forest rounds
    (``_star_roots``) plans no join and no exchange (the one dedup shuffle
    is the rounds' own)."""
    from research_on_document_level_person_relation_extraction_in_chinese_spark.operators import (
        linking,
    )

    seen = []
    real = linking._star_roots

    def capture(edges, *a, **k):
        seen.append(edges)
        return real(edges, *a, **k)

    monkeypatch.setattr(linking, "_star_roots", capture)
    docs, _ = link_tables(seed=7, n_docs=40, n_people=30)
    expanded = spark.createDataFrame(docs, "url string, ckip_entity array<string>")
    linking.link_entities(expanded, fuzzy=True, use_context=True)
    assert len(seen) == 1
    plan = seen[0]._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan
