"""Entity linking & canonicalization (SURVEY §7.1 T5 — our addition per the
north rule: blocking + pairwise similarity + connected components).

Person mentions (NER surface forms: canonical names, simplified-script
spellings, title-suffixed aliases) are normalized (title strip + s2t).
Mentions with equal normalized names are one person by definition, so the
default (exact) linking is the norm itself and needs no graph pass. Fuzzy
linking works on the distinct norms: blocked self-join, pairwise
similarity, then an iterative DataFrame connected-components loop
(alternating large-star / small-star, GraphFrames-like, no external
dependency, O(log n) rounds on any graph shape) that stops as soon as the
edges form a star forest.

Scale notes: linking norms instead of mentions shrinks the fuzzy self-join
and the graph by every title and script variant of a name. Hot surname
blocks (陳/林/王 skew) go through the salted off-diagonal join
(``_salted_block_pairs``). Each connected-components round pays one
``localCheckpoint`` (cuts the growing lineage) and one exact star-forest
test; an input that is already star-shaped pays no round at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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
        .agg(F.countDistinct("url").alias("n_docs"))
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
    """Distinct character bigrams of a name (JVM HOF, no UDF); single-char
    names shingle to themselves (sequence(1,0) would run DESCENDING)."""
    return F.array_distinct(
        F.when(F.length(col) < 2, F.array(col)).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.length(col) - F.lit(1)),
                lambda i: F.substring(col, i, F.lit(2)),
            )
        )
    )


def _salted_block_pairs(m: DataFrame, n_salt: int) -> DataFrame:
    """Self-join on ``block`` → candidate pairs (a.* , b.*), a.mention <
    b.mention, each unordered pair exactly once per block.

    ``n_salt > 1`` splits every block into salt sub-keys (left side keeps
    its own hash-salt, right side replicates across all salts) so a hot
    block — the 陳/林/王 surname skew, where one surname covers several
    percent of all Chinese names — shuffles as ``n_salt`` balanced
    sub-blocks instead of one straggler partition. Replication factor is
    ``n_salt`` on the right side only; results are identical to the
    unsalted join (asserted in tests/test_linking_cc.py)."""
    if n_salt <= 1:
        a, b = m.alias("a"), m.alias("b")
        return a.join(b, on="block").where(F.col("a.mention") < F.col("b.mention"))
    left = m.withColumn(
        "_salt", F.pmod(F.xxhash64("mention"), F.lit(n_salt)).cast("int")
    )
    right = m.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return (
        left.alias("a")
        .join(right.alias("b"), on=["block", "_salt"])
        .where(F.col("a.mention") < F.col("b.mention"))
    )


def fuzzy_mention_edges(
    mentions: DataFrame,
    theta: float = 0.5,
    n_salt: int = 1,
    context: DataFrame | None = None,
) -> DataFrame:
    """Fuzzy similarity edges (north rule: blocking + PAIRWISE name/context
    similarity) — catches variant spellings the exact-norm rule never merges
    (nicknames 志玲↔林志玲, partial given names), opt-in so the default
    pipeline keeps reference parity.

    Blocking (union of two keys, so recall survives both variant families):
    - surname block (first char of norm): same-surname spelling variants;
    - given-name block (last two chars): nickname = given name without the
      surname shares this key with the full name.
    Candidates then pass a pairwise predicate: char-bigram Jaccard(norm_a,
    norm_b) ≥ ``theta`` OR strict-suffix containment (the shorter norm, ≥2
    chars, is the longer's suffix — the nickname shape; reference cost
    context: aliases multiply pair-scoring in sota_ner/ckip_expansion.py:22-23).

    ``context`` (optional, (url, mention) doc co-occurrence) keeps only
    pairs that co-occur in ≥1 document — the precision guard against a bare
    given name bridging two different full names (志玲 ↔ 林志玲/王志玲 in
    unrelated corpora). At 100 TB you'd bound docs-per-mention first; the
    semi-join shape itself is shuffle-on-mention, no collect.

    ``n_salt`` routes the block self-join through the salted off-diagonal
    path for hot-surname skew (see ``_salted_block_pairs``)."""
    m = mentions.select("mention", "norm").where(F.length("norm") >= 2)
    sur_block = F.concat(F.lit("s|"), F.substring("norm", 1, 1))
    given_block = F.concat(
        F.lit("g|"), F.substring(F.col("norm"), F.length("norm") - F.lit(1), F.lit(2))
    )
    blocked = m.withColumn("block", F.explode(F.array(sur_block, given_block)))
    cand = (
        _salted_block_pairs(blocked, n_salt)
        .select(
            F.col("a.mention").alias("src"),
            F.col("a.norm").alias("na"),
            F.col("b.mention").alias("dst"),
            F.col("b.norm").alias("nb"),
        )
        .distinct()  # a pair sharing both blocks appears twice
    )
    bga, bgb = _char_bigrams(F.col("na")), _char_bigrams(F.col("nb"))
    jaccard = F.size(F.array_intersect(bga, bgb)) / F.size(F.array_union(bga, bgb))
    containment = (
        F.when(
            F.length("na") > F.length("nb"), F.col("na").endswith(F.col("nb"))
        )
        .when(F.length("nb") > F.length("na"), F.col("nb").endswith(F.col("na")))
        .otherwise(F.lit(False))
    )
    edges = cand.where((jaccard >= F.lit(theta)) | containment).select("src", "dst")
    if context is not None:
        ca = context.select(F.col("mention").alias("src"), "url")
        cb = context.select(F.col("mention").alias("dst"), "url")
        edges = (
            edges.join(ca, on="src")
            .join(cb, on=["dst", "url"])
            .select("src", "dst")
            .distinct()
        )
    return edges


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
    MapReduce and Beyond", op. large-star). Keeps the (src > dst) canon."""
    bidir = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = bidir.groupBy("src").agg(F.min("dst").alias("_mn"))
    m = F.least(F.col("_mn"), F.col("src"))
    return (
        bidir.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), m.alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: every node links all its smaller neighbors (and itself)
    to the minimum of them. Input/output in (src > dst) canon."""
    mins = edges.groupBy("src").agg(F.min("dst").alias("_mn"))
    relink = (
        edges.join(mins, "src")
        .where(F.col("dst") != F.col("_mn"))
        .select(F.col("dst").alias("src"), F.col("_mn").alias("dst"))
    )
    self_link = mins.select("src", F.col("_mn").alias("dst"))
    return relink.union(self_link).where(F.col("src") != F.col("dst")).distinct()


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


def connected_components(vertices: DataFrame, edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Alternating large-star/small-star connected components over string
    vertex ids → (id, component) where component = the component's minimum
    id (Kiveris et al. — O(log n) rounds even on long chains, vs the
    O(diameter) of plain min-label propagation).

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
    roots = e.select(F.col("src").alias("id"), F.col("dst").alias("component"))
    return (
        vertices.select("id")
        .join(roots, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )


def link_entities(
    expanded: DataFrame,
    fuzzy: bool = False,
    theta: float = 0.5,
    n_salt: int = 1,
    use_context: bool = False,
) -> DataFrame:
    """→ (mention, n_docs, norm, component) — the alias-resolution table;
    ``component`` is the minimum norm of the mention's person.

    ``fuzzy=False`` (the parity pipeline's default, same opt-in discipline
    as ``coref_stage``): mentions link exactly when their norms are equal,
    so ``component`` is the norm itself — a lazy frame, no Spark job.

    ``fuzzy=True`` adds the pairwise-similarity edges of
    ``fuzzy_mention_edges`` (nickname/variant merging) between distinct
    norms, runs connected components over the norm vertices, and returns
    the table ``localCheckpoint``ed (``build_nodes``/``build_edges`` read it
    three times). The similarity predicate depends only on the two norms,
    so linking norms gives the same components as linking their mentions.
    ``use_context=True`` additionally requires a fuzzy pair to co-occur in
    at least one document: for two different norms, "some mention of each
    shares a doc" — the mention-level guard up to the exact-norm links that
    already join each norm's mentions."""
    mentions = mention_table(expanded)
    if not fuzzy:
        return mentions.withColumn("component", F.col("norm"))
    norms = mentions.select(F.col("norm").alias("mention"), "norm").distinct()
    context = None
    if use_context:
        context = (
            expanded.select("url", F.explode("ckip_entity").alias("m"))
            .select("url", normalize_mention(F.col("m")).alias("mention"))
            .distinct()
        )
    edges = fuzzy_mention_edges(norms, theta=theta, n_salt=n_salt, context=context)
    comps = connected_components(norms.select(F.col("norm").alias("id")), edges)
    return (
        mentions.join(comps.withColumnRenamed("id", "norm"), on="norm", how="left")
        .select("mention", "n_docs", "norm", "component")
        .localCheckpoint(eager=True)
    )
