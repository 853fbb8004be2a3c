"""Graph materialization (SURVEY §7.1 T6): Iceberg-style node/edge tables.

``nodes(person_id, canonical_name, aliases, n_docs)`` and
``edges(subj_id, obj_id, rel, n_docs, example_urls)`` — the knowledge graph
the whole pipeline exists to produce. Person ids are deterministic
(xxhash64 of the canonical name) so re-runs and resumes agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_nodes(linked: DataFrame) -> DataFrame:
    """linked = (mention, norm, n_docs, component) → person nodes. The
    component is its person's minimum norm (``link_entities``), so it is
    the canonical name."""
    return (
        linked.groupBy("component")
        .agg(
            F.sort_array(F.collect_set("mention")).alias("aliases"),
            F.sum("n_docs").alias("n_docs"),
        )
        .select(
            F.xxhash64("component").alias("person_id"),
            F.col("component").alias("canonical_name"),
            "aliases",
            "n_docs",
        )
    )


def build_edges(triples: DataFrame, linked: DataFrame, nodes: DataFrame) -> DataFrame:
    """triples(url, subj, obj, rel) + alias table → id-keyed relation edges.
    A mention resolves to ``xxhash64(component)``, its node's person id;
    ``nodes`` is not read.

    Scale shape: the mention→person resolve table is NOT broadcast-hinted —
    at web scale (10^12 docs) the distinct-mention table is itself huge
    (10^8–10^9 Chinese name surface forms), and an explicit ``F.broadcast``
    would bypass the AQE size threshold ``session.py`` relies on and OOM
    executors. Both resolution joins are plain equi-joins on the mention
    key: AQE promotes them to broadcast at runtime ONLY when the resolve
    side is measured small (the common sub-web-scale case), and falls back
    to a shuffled join otherwise. ``test_plans_explain`` asserts the plan
    carries no mandatory broadcast hint.

    ``n_docs`` and ``example_urls`` both come from the edge's one sorted
    url set, so the edge aggregation is a single exchange keyed on
    ``(subj_id, obj_id, rel)``; a ``countDistinct`` beside it would add a
    second aggregation keyed on ``url`` too, with its own exchange. A null
    url is in neither.
    """
    resolve = linked.select("mention", F.xxhash64("component").alias("person_id"))
    resolved = (
        triples.join(resolve.withColumnRenamed("mention", "subj"), on="subj", how="left")
        .withColumnRenamed("person_id", "subj_id")
        .join(resolve.withColumnRenamed("mention", "obj"), on="obj", how="left")
        .withColumnRenamed("person_id", "obj_id")
        .withColumn("subj_id", F.coalesce("subj_id", F.xxhash64("subj")))
        .withColumn("obj_id", F.coalesce("obj_id", F.xxhash64("obj")))
    )
    urls = F.col("_urls")
    return (
        resolved.groupBy("subj_id", "obj_id", "rel")
        .agg(F.sort_array(F.collect_set("url")).alias("_urls"))
        .select(
            "subj_id",
            "obj_id",
            "rel",
            F.size(urls).cast("bigint").alias("n_docs"),
            F.slice(urls, 1, 3).alias("example_urls"),
        )
    )


def khop_neighbors(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """BFS ego-network: every vertex within ``k`` hops of the seed set →
    ``(id, dist)`` with ``dist`` = the hop distance of FIRST discovery
    (= shortest-path hop count). KG analytics: "who is within 2 relations of
    陳水扁" over the materialized person graph.

    Scale shape: delta-frontier BFS — each hop joins ONLY the newly
    discovered frontier against the edge table (one shuffle per hop), the
    visited anti-join stops re-expansion of known vertices, and
    ``localCheckpoint`` truncates lineage so k hops don't stack k plans
    (same discipline as the CC loop in ``operators/linking.py:116``). The
    per-hop ``isEmpty`` early-exit is one cheap action; the frontier is
    bounded by the k-ball size, never the full vertex set.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    visited = (
        seeds.select("id").distinct().withColumn("dist", F.lit(0)).localCheckpoint()
    )
    frontier = visited.select("id")
    for d in range(1, k + 1):
        nxt = (
            frontier.join(e, frontier["id"] == e["src"])
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited, "id", "left_anti")
            .withColumn("dist", F.lit(d))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        visited = visited.union(nxt).localCheckpoint()
        frontier = nxt.select("id")
    return visited


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count of the undirected simple graph induced by
    ``edges`` → one row ``(n_triangles)``. Graph-quality diagnostic for the
    KG (clustering structure of the co-occurrence relation graph).

    Scale shape: edges are canonicalized (least, greatest), deduped, then
    ORIENTED from the (degree, id)-smaller endpoint to the larger one — the
    classic orientation trick that bounds per-vertex out-degree by O(√m), so
    the wedge join fans out O(m^1.5) instead of Σdeg² (a hub vertex never
    generates quadratic wedges). Each triangle has exactly one source vertex
    in the orientation DAG and is counted exactly once by
    path(u→v→w) ⋈ edge(u→w). Three shuffles total, no driver state.
    """
    ue = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        ue.select(F.col("a").alias("id"))
        .unionAll(ue.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("db"))
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = (
        ue.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    e1 = o.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = o.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = o.select(F.col("u").alias("x"), F.col("v").alias("z"))
    return (
        e1.join(e2, "y")
        .join(e3, ["x", "z"])
        .agg(F.count("*").alias("n_triangles"))
    )


def check_graph_consistency(nodes: DataFrame, edges: DataFrame) -> dict:
    """Edge endpoints ⊆ nodes (plus orphan count for triples whose persons
    never appeared as NER mentions)."""
    ids = nodes.select(F.col("person_id").alias("pid"))
    endpoints = (
        edges.select(F.col("subj_id").alias("pid"))
        .union(edges.select(F.col("obj_id").alias("pid")))
        .distinct()
    )
    dangling = endpoints.join(ids, on="pid", how="left_anti").count()
    return {"n_nodes": nodes.count(), "n_edges": edges.count(), "dangling_endpoints": dangling}


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-7,
    check_every: int = 5,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Distributed PageRank over the person graph → (id, rank), sum(rank)=1.

    Downstream KG analytics ("most central persons"): classic power iteration
    with dangling-mass redistribution, expressed as DataFrame joins like the
    connected-components loop in ``operators/linking.py`` (GraphFrames-style,
    no external dependency).

    Scale shape: per iteration ONE shuffle join (contributions grouped on
    ``dst``) against a rank table bounded by the vertex count; ``outdeg`` and
    the static dangling-vertex set are computed once; ``localCheckpoint``
    truncates lineage so 20 iterations don't stack 20 plans; convergence is
    polled every ``check_every`` rounds (each poll is an extra action — at
    10^9 vertices you raise ``check_every`` rather than pay it per round).
    The per-iteration dangling-mass aggregate ships one double to the driver.
    With ``weight``, contributions are weight-proportional (e.g. ``n_docs``
    co-occurrence counts from ``build_edges``).
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w"))
    v = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    n = v.count()
    if n == 0:
        return v.withColumn("rank", F.lit(0.0))
    outdeg = e.groupBy("src").agg(F.sum("w").alias("deg")).localCheckpoint()
    dangling_v = v.join(outdeg, v.id == outdeg.src, "left_anti").localCheckpoint()

    ranks = v.withColumn("rank", F.lit(1.0 / n))
    for i in range(max_iter):
        contribs = (
            e.join(ranks, e.src == ranks.id)
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") * F.col("w") / F.col("deg")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        d_mass = (
            dangling_v.join(ranks.select("id", "rank"), "id")
            .agg(F.sum("rank"))
            .first()[0]
            or 0.0
        )
        new = (
            v.join(contribs, "id", "left")
            .select(
                "id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("s"), F.lit(0.0)) + F.lit(d_mass / n))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
        if (i + 1) % check_every == 0 or i == max_iter - 1:
            delta = (
                new.join(ranks.select("id", F.col("rank").alias("old")), "id")
                .agg(F.sum(F.abs(F.col("rank") - F.col("old"))))
                .first()[0]
            )
            ranks = new
            if delta is not None and delta < tol:
                break
        else:
            ranks = new
    return ranks


def label_propagation(
    edges: DataFrame,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over the
    undirected graph induced by ``edges`` → ``(id, label)`` community
    assignments.  KG analytics: family/organization clusters in the person
    graph that connected components can't separate (CC merges everything
    reachable; LPA splits dense cores joined by thin bridges).

    Deterministic variant (so runs, resumes, and the DuckDB oracle agree):
    every vertex starts as its own label; each round every vertex adopts
    the neighbor label with the highest incident weight sum, ties broken
    toward the SMALLEST label; isolated-from-update vertices keep their
    previous label; exactly ``iters`` synchronous rounds (no
    early-convergence poll — fixed work, replayable).

    Scale shape: per round ONE shuffle pair — neighbor-label counts
    (``groupBy(id, label)``, partial map-side) then the per-vertex argmax
    as a ``min(struct(-w, label))`` aggregate (no window over the raw
    vertex key, so a hub vertex never serializes a sort); the label table
    is vertex-bounded; ``localCheckpoint`` truncates lineage per round.
    Tie weights must be exactly representable (integer-valued weights) for
    cross-engine determinism — documented contract.
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    ue = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"), w.alias("w"))
    adj = (
        ue.unionAll(ue.select(F.col("b").alias("a"), F.col("a").alias("b"), "w"))
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint()
    )
    labels = (
        adj.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(iters):
        best = (
            adj.join(labels.withColumnRenamed("id", "b"), "b")
            .groupBy(F.col("a").alias("id"), "label")
            .agg(F.sum("w").alias("s"))
            .groupBy("id")
            .agg(F.min(F.struct((-F.col("s")).alias("ns"), F.col("label").alias("l"))).alias("m"))
            .select("id", F.col("m.l").alias("new_label"))
        )
        labels = (
            labels.join(best, "id", "left")
            .select("id", F.coalesce("new_label", "label").alias("label"))
            .localCheckpoint()
        )
    return labels
