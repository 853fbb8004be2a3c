"""Entity linking & canonicalization (SURVEY §7.1 T5 — our addition per the
north rule: blocking + pairwise similarity + connected components).

Person mentions (NER surface forms: canonical names, simplified-script
spellings, title-suffixed aliases) are normalized (title strip + s2t).
Mentions with equal normalized names are one person by definition, so the
default (exact) linking is the norm itself and needs no graph pass. Fuzzy
linking adds similarity edges between distinct norms that occur in one
document, then runs an iterative DataFrame connected-components loop
(alternating large-star / small-star, GraphFrames-like, no external
dependency, O(log n) rounds on any graph shape) that stops as soon as the
edges form a star forest.

Scale notes: a fuzzy pair must co-occur in a document, so each document's
own distinct norms list every candidate pair (the document is the most
selective signature, as in filter-and-verify set-similarity joins). The
pairs are built inside each row's norm array with higher-order functions
and filtered map-side; the surname and given-name blocks are a predicate on
the pair, not a shuffle key, so no join follows the 陳/林/黃 surname skew and
the candidate count grows with the documents, bounded by names per
document. Each connected-components round pays one ``localCheckpoint``
(cuts the growing lineage), one exact star-forest test and four
exchanges: large-star and small-star each take the per-node minimum with a
window (one exchange, no groupBy joined back) and deduplicate (another).
An input that is already star-shaped pays no round at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..scorers.rules import TITLES

_TITLE_PATTERN = "(" + "|".join(TITLES) + ")$"


def normalize_mention(col):
    """Strip trailing title suffixes (博士/教授/先生/老師); input is already
    Traditional (expansion stage runs NER over trad text)."""
    return F.regexp_replace(col, _TITLE_PATTERN, "")


def mention_table(expanded: DataFrame) -> DataFrame:
    """(mention, norm, n_docs) from the NER entity arrays."""
    return (
        expanded.select("url", F.explode("ckip_entity").alias("mention"))
        .groupBy("mention")
        # size(collect_set) rather than countDistinct: one aggregation keyed
        # on the mention; countDistinct plans a second one keyed on
        # (mention, url), with its own exchange. Both ignore null urls.
        .agg(F.size(F.collect_set("url")).cast("bigint").alias("n_docs"))
        .withColumn("norm", normalize_mention(F.col("mention")))
    )


def mention_edges(mentions: DataFrame) -> DataFrame:
    """Blocked self-join producing similarity edges (src, dst) between
    distinct surface mentions that normalize to the same person.

    Blocks are keyed on (surname, name length, 2nd char): every key is a
    function of the norm, so equal norms always share a block, and the 2nd
    character splits the hot-surname blocks. ``link_entities`` does not
    need these edges (their components are the norm classes); they are the
    mention-level graph for callers that want it."""
    block = F.concat_ws(
        "|",
        F.substring("norm", 1, 1),
        F.length("norm").cast("string"),
        F.substring("norm", 2, 1),
    )
    m = mentions.select("mention", "norm").withColumn("block", block)
    a = m.alias("a")
    b = m.alias("b")
    return (
        a.join(b, on="block")
        .where(F.col("a.mention") < F.col("b.mention"))
        .where(F.col("a.norm") == F.col("b.norm"))  # pairwise similarity rule
        .select(F.col("a.mention").alias("src"), F.col("b.mention").alias("dst"))
    )


def _char_bigrams(col):
    """Distinct character bigrams of a name of ≥2 chars (JVM HOF, no UDF;
    on a shorter name sequence(1, 0) would run descending)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(col) - F.lit(1)),
            lambda i: F.substring(col, i, F.lit(2)),
        )
    )


def _similar(na, nb, theta: float):
    """The fuzzy pair predicate on two norms: they share a block — the
    surname block (same first character: same-surname spelling variants) or
    the given-name block (same last two characters: a nickname, the given
    name without the surname, shares it with the full name) — AND their
    char-bigram Jaccard is ≥ ``theta`` or the shorter (≥2 chars) is a
    strict suffix of the longer (the nickname shape)."""
    block = (F.substring(na, 1, 1) == F.substring(nb, 1, 1)) | (
        F.substring(na, -2, 2) == F.substring(nb, -2, 2)
    )
    bga, bgb = _char_bigrams(na), _char_bigrams(nb)
    jaccard = F.size(F.array_intersect(bga, bgb)) / F.size(F.array_union(bga, bgb))
    containment = (F.length(na) != F.length(nb)) & (na.endswith(nb) | nb.endswith(na))
    return block & ((jaccard >= F.lit(theta)) | containment)


def _doc_pair_edges(docs: DataFrame, theta: float) -> DataFrame:
    """``docs.names`` = one document's distinct names, an
    ``array<struct<id, norm>>`` → similarity edges (src, dst), src < dst,
    one row per document and pair (not deduplicated).

    The pairs are built inside the array (higher-order functions, no UDF),
    exploded and filtered with ``_similar``: a map-side scan with no join
    and no shuffle, whose cost is bounded by names per document rather
    than by the largest surname block."""
    names = F.col("names")
    pairs = F.flatten(
        F.transform(
            names,
            lambda a: F.transform(
                F.filter(names, lambda b: b["id"] < a["id"]),
                lambda b: F.struct(b.alias("s"), a.alias("d")),
            ),
        )
    )
    return (
        docs.select(F.explode(pairs).alias("p"))
        .where(_similar(F.col("p.s.norm"), F.col("p.d.norm"), theta))
        .select(F.col("p.s.id").alias("src"), F.col("p.d.id").alias("dst"))
    )


def fuzzy_mention_edges(
    mentions: DataFrame,
    theta: float = 0.5,
    n_salt: int = 1,
    context: DataFrame | None = None,
) -> DataFrame:
    """Fuzzy similarity edges (src, dst), src < dst, between the distinct
    mentions of ``mentions`` (mention, norm) whose norms (≥2 chars) pass
    ``_similar`` and that co-occur in at least one document of ``context``
    (url, mention) — the precision guard against a bare given name bridging
    two different full names (志玲 ↔ 林志玲/王志玲 in unrelated docs).

    The mention-level form of the pairs ``link_entities(fuzzy=True)``
    builds: ``context`` is grouped by url into per-document name arrays
    and goes through the same pair core. ``context`` is required (a
    ``ValueError`` otherwise). ``n_salt`` has no effect; it is kept so
    existing callers keep working."""
    if context is None:
        raise ValueError("fuzzy_mention_edges needs a (url, mention) context")
    named = mentions.where(F.length("norm") >= 2).select(
        "mention", F.struct(F.col("mention").alias("id"), "norm").alias("name")
    )
    docs = (
        context.select("url", "mention")
        .join(named, on="mention")
        .groupBy("url")
        .agg(F.collect_set("name").alias("names"))
    )
    return _doc_pair_edges(docs, theta).distinct()


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """(src > dst) direction, self-loops dropped, deduped."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: every node connects its strictly-larger neighbors to its
    minimum neighborhood label (Kiveris et al., "Connected Components in
    MapReduce and Beyond", op. large-star). Keeps the (src > dst) canon.
    The per-node minimum is a window over the node's edges, not a groupBy
    joined back: one exchange fewer, and no join."""
    bidir = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = F.least(F.min("dst").over(Window.partitionBy("src")), F.col("src"))
    return (
        bidir.select("src", "dst", m.alias("_m"))
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: every node links all its smaller neighbors (and itself)
    to the minimum of them. Input/output in (src > dst) canon. Each edge
    emits (dst, min) and (src, min) through one explode; the self-loops
    (dst = min) are dropped and the repeated (src, min) deduplicated."""
    mn = F.col("_mn")
    pairs = F.array(
        F.struct(F.col("dst").alias("src"), mn.alias("dst")),
        F.struct(F.col("src").alias("src"), mn.alias("dst")),
    )
    return (
        edges.withColumn("_mn", F.min("dst").over(Window.partitionBy("src")))
        .select(F.explode(pairs).alias("e"))
        .select("e.src", "e.dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """True when (src > dst)-canonical edges form a forest of stars: every
    src has exactly one edge and no vertex is both a src and a dst. Then
    each dst is its star's centre and, as every src is larger, the minimum
    of its component — the large-star/small-star fixpoint. Exact: one
    aggregate over the vertex roles, no comparison with an earlier round."""
    roles = edges.select(F.col("src").alias("v"), F.lit(1).alias("out")).union(
        edges.select(F.col("dst").alias("v"), F.lit(0).alias("out"))
    )
    return (
        roles.groupBy("v")
        .agg(F.sum("out").alias("n_out"), F.count(F.lit(1)).alias("n"))
        .where((F.col("n_out") > 1) | ((F.col("n_out") == 1) & (F.col("n") > 1)))
        .isEmpty()
    )


def _star_roots(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Alternating large-star/small-star rounds over similarity ``edges``
    (src, dst) → the star-forest roots (id, component), one row per vertex
    that is NOT its component's minimum, component = that minimum. A vertex
    with no row is its own component (isolated, or the minimum itself).

    Each round is ``localCheckpoint``ed to cut the growing lineage (SURVEY
    §4 custom item 2). The loop stops once the edges form a star forest
    (``_is_star_forest``), tested before every round, so an input that is
    already star-shaped runs zero rounds. Raises if the edges are still not
    a star forest after ``max_iter`` rounds — unconverged labels would
    silently split entities."""
    e = _canonical_edges(edges).localCheckpoint(eager=True)
    rounds = 0
    while not _is_star_forest(e):
        if rounds == max_iter:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "large-star/small-star rounds"
            )
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        rounds += 1
    # star-forest edges: src (child) → dst (component root)
    return e.select(F.col("src").alias("id"), F.col("dst").alias("component"))


def connected_components(vertices: DataFrame, edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Alternating large-star/small-star connected components over string
    vertex ids → (id, component) for every row of ``vertices``, where
    component = the component's minimum id (Kiveris et al. — O(log n)
    rounds even on long chains, vs the O(diameter) of plain min-label
    propagation). The rounds, their stop test and the ``max_iter`` error
    are ``_star_roots``'; this left-joins the vertices to its roots, a
    vertex with no root being its own component."""
    return (
        vertices.select("id")
        .join(_star_roots(edges, max_iter), "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )


def link_entities(
    expanded: DataFrame,
    fuzzy: bool = False,
    theta: float = 0.5,
    n_salt: int = 1,
    use_context: bool = False,
) -> DataFrame:
    """→ (mention, n_docs, norm, component) — the alias-resolution table.

    Invariant (both paths): ``component`` is the minimum norm of the
    mention's person, so ``build_nodes``/``build_edges`` use it as the
    canonical name and hash it into the person id.

    One ``expanded`` row is one document (url is the corpus key); its
    ``ckip_entity`` array lists the document's person mentions.

    ``fuzzy=False`` (the pipeline's default; fuzzy merges are opt-in so the
    reference parity holds): mentions link exactly when their norms are
    equal, so ``component`` is the norm itself — a lazy frame, no Spark job.

    ``fuzzy=True`` also links two different norms (≥2 chars) that occur in
    one document and pass ``_similar`` (shared surname or given-name block,
    then bigram Jaccard ≥ ``theta`` or nickname containment). Each
    document's distinct norms give its candidate pairs map-side; the one
    shuffle between that scan and the component rounds is
    ``_canonical_edges``' dedup.
    The mentions are left-joined on their norm straight to the star-forest
    roots of those edges (``_star_roots``; a norm with no root is its own
    component), so the component is the minimum norm with no vertex
    ``distinct`` and no second join; the table comes back ``localCheckpoint``ed
    (``build_nodes``/``build_edges`` read it twice). The co-occurrence
    guard is what makes per-document pairs complete, so ``use_context``
    must be True with ``fuzzy=True`` (``ValueError`` otherwise). ``n_salt``
    has no effect; it is kept so existing callers keep working."""
    mentions = mention_table(expanded)
    if not fuzzy:
        return mentions.withColumn("component", F.col("norm"))
    if not use_context:
        raise ValueError(
            "fuzzy linking needs use_context=True: candidate pairs come from "
            "the norms that co-occur in one document"
        )
    norms = F.filter(
        F.array_distinct(F.transform("ckip_entity", normalize_mention)),
        lambda n: F.length(n) >= 2,
    )
    docs = expanded.select(
        F.transform(norms, lambda n: F.struct(n.alias("id"), n.alias("norm"))).alias("names")
    )
    roots = _star_roots(_doc_pair_edges(docs, theta)).withColumnRenamed("id", "norm")
    return (
        mentions.join(roots, on="norm", how="left")
        .select("mention", "n_docs", "norm", F.coalesce("component", "norm").alias("component"))
        .localCheckpoint(eager=True)
    )
