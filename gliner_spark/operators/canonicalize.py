"""Canonicalization: connected components + triple rewriting.

Groups linked mentions into canonical entities (component id = the
lexicographically smallest member) and rewrites triples to canonical
ids. Net-new per the north rule (SURVEY.md §4.2.5).

Algorithm: match edges are the rare near-dup pairs, so an edge set up
to ``max_driver_edges`` is collected and labelled by union-find — no
per-round Spark jobs for a tiny graph. Larger edge sets run the
alternating large-star/small-star algorithm as DataFrame joins and
aggregates: O(log n) rounds on any graph shape, including long chains,
with lineage truncated by localCheckpoint each round. Both routes give
every node the minimum id of its component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    max_driver_edges: int = 5_000_000,
) -> DataFrame:
    """edges(src, dst) → assignments(node, component).

    ``component`` is the minimum node id reachable from ``node``.
    Deterministic; undirected interpretation of edges. Edge sets of at
    most ``max_driver_edges`` edges take the driver union-find route,
    larger ones the large-star/small-star route (``_cc_star``), with
    identical results: ``-1`` forces star, a huge value forces the
    driver. Match edges are the *rare* near-dup pairs, so even a
    10^12-doc run usually fits the driver route; the collect is of
    edges, never of the corpus, and avoids paying per-round job
    overhead for a tiny graph.
    """
    spark = edges.sparkSession
    # Materialize the edge set once, fully parallel, then decide the
    # route from its size. (A limit()-guarded collect would trigger
    # CollectLimit's incremental partition execution and run the
    # expensive edge-generating child nearly serially.)
    edge_rows = edges.select(src, dst).persist()
    n_edges = edge_rows.count()
    if n_edges <= max_driver_edges:
        head = edge_rows.collect()
        edge_rows.unpersist()
        pairs = [(r[0], r[1]) for r in head]
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in pairs:
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
        # component = min member id (matches the distributed route)
        comp_min: dict = {}
        for node in parent:
            r = find(node)
            if r not in comp_min or node < comp_min[r]:
                comp_min[r] = node
        rows = [(n, comp_min[find(n)]) for n in parent]
        sch = edges.select(F.col(src).alias("node")).schema
        node_type = sch["node"].dataType.simpleString()
        return spark.createDataFrame(
            rows, f"node {node_type}, component {node_type}"
        )
    try:
        return _cc_star(edge_rows, src, dst, max_iter)
    finally:
        edge_rows.unpersist()


def _cc_star(edge_rows: DataFrame, src: str, dst: str, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star connected components.

    Per round (Kiveris et al. 2014):
      large-star: every node links its LARGER neighbors to its minimum
                  neighborhood member (min(Γ(u) ∪ {u}));
      small-star: every node links its smaller-or-equal neighbors (and
                  itself) to that minimum.
    The edge set contracts toward a star forest rooted at each
    component's minimum id in O(log n) rounds. Each half-round is one
    groupBy (neighborhood min) + one join; lineage truncated per round
    with localCheckpoint.
    """
    node_type = edge_rows.schema[src].dataType.simpleString()
    all_nodes = (
        edge_rows.select(F.col(src).alias("node"))
        .unionByName(edge_rows.select(F.col(dst).alias("node")))
        .distinct()
    )
    # canonical undirected edges (u > v), self-loops dropped
    e = edge_rows.where(F.col(src) != F.col(dst))
    edges = (
        e.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        ).distinct()
    ).localCheckpoint(eager=True)

    converged = False
    for _ in range(max_iter):
        # ---- large-star ----
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("u", "mn").alias("m"))
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))  # larger neighbors only
            .select(F.col("v").alias("x"), F.col("m"))
            .where(F.col("x") != F.col("m"))
            .select(
                F.greatest("x", "m").alias("u"), F.least("x", "m").alias("v")
            )
            .distinct()
        )
        # ---- small-star (on u > v oriented edges) ----
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        pairs = large.join(mins2, "u")
        small = (
            pairs.select(F.col("v").alias("x"), "m")
            .unionByName(pairs.select(F.col("u").alias("x"), "m"))
            .where(F.col("x") != F.col("m"))
            .select(
                F.greatest("x", "m").alias("u"), F.least("x", "m").alias("v")
            )
            .distinct()
        )
        new_edges = small.localCheckpoint(eager=True)
        # converged when the canonical edge set is unchanged
        converged = (
            new_edges.count() == edges.count()
            and new_edges.exceptAll(edges).limit(1).count() == 0
        )
        _release(edges)
        edges = new_edges
        if converged:
            break

    if not converged:
        _release(edges)
        # The fixpoint guarantees the edge set is a star forest rooted
        # at each component's min; a pre-convergence edge set is NOT
        # (e.g. path 1-5-2 mid-contraction: node 2 has no smaller
        # neighbor yet and would silently self-root). Star contraction
        # halves component diameter per round, so max_iter=25 covers
        # any graph that fits on hardware — hitting this means a bug or
        # an absurdly low cap, and wrong components must not ship.
        raise RuntimeError(
            f"large-star/small-star did not converge within max_iter "
            f"rounds; raise max_iter (components would be wrong)"
        )

    # star forest: child u → root v (= component min); roots self-map.
    assign = edges.groupBy(F.col("u").alias("node")).agg(
        F.min("v").alias("component")
    )
    # materialized, so that the result is the one persistent RDD the
    # call leaves behind: every round's checkpoint is released
    result = (
        all_nodes.join(assign, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("node"))
            .cast(node_type)
            .alias("component"),
        )
        .localCheckpoint(eager=True)
    )
    _release(edges)
    return result


def _release(checkpointed: DataFrame) -> None:
    """Drop the blocks of a ``localCheckpoint`` DataFrame, which
    ``DataFrame.unpersist`` does not reach: the checkpoint is the
    persisted RDD under its ``LogicalRDD`` plan."""
    checkpointed._jdf.queryExecution().analyzed().rdd().unpersist(False)


def canonical_entities(match_edges: DataFrame, mentions: DataFrame) -> DataFrame:
    """match_edges(src, dst) + mentions(norm, ...) →
    entity table (norm, canonical_id). Unmatched mentions become their
    own singleton components."""
    comps = connected_components(match_edges)
    all_norms = mentions.select("norm").distinct()
    return (
        all_norms.join(comps.withColumnRenamed("node", "norm"), "norm", "left")
        .select(
            "norm",
            F.coalesce(F.col("component"), F.col("norm")).alias("canonical_id"),
        )
    )


def canonicalize_triples(
    triples: DataFrame, entity_table: DataFrame
) -> DataFrame:
    """Rewrite triples' subj/obj to canonical ids via two broadcast-able
    equi-joins on the normalized mention string.

    The entity table (distinct mentions) is orders of magnitude smaller
    than the triples table, so Spark broadcasts it under
    autoBroadcastJoinThreshold; at extreme sizes AQE falls back to a
    shuffled hash join on the same plan.
    """
    from .linking import normalize_mentions

    t = normalize_mentions(triples, "subj_text").withColumnRenamed("norm", "subj_norm")
    t = normalize_mentions(t, "obj_text").withColumnRenamed("norm", "obj_norm")
    subj = entity_table.select(
        F.col("norm").alias("subj_norm"), F.col("canonical_id").alias("subj_id")
    )
    obj = entity_table.select(
        F.col("norm").alias("obj_norm"), F.col("canonical_id").alias("obj_id")
    )
    return (
        t.join(F.broadcast(subj), "subj_norm", "left")
        .join(F.broadcast(obj), "obj_norm", "left")
        .withColumn("subj_id", F.coalesce(F.col("subj_id"), F.col("subj_norm")))
        .withColumn("obj_id", F.coalesce(F.col("obj_id"), F.col("obj_norm")))
    )
