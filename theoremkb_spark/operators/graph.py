"""Connected components as iterative DataFrame joins.

GraphFrames is not on the classpath (import-gated), so the default is a
minimum-label-propagation loop: every vertex repeatedly adopts the
smallest component id among itself and its neighbours. Converges in
O(diameter) rounds — alias clusters here are stars (diameter 2), so 2-3
rounds in practice. ``localCheckpoint`` every round breaks lineage so the
plan does not grow exponentially (SURVEY §7.4.5).

Replaces the reference's driver-side dict/union-find canonicalization
(citation dictionary, Styling/tools/theoremdb/db.py:13-26) with a fully
distributed equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import arrow_frame


def _driver_cc(edge_rows) -> list[tuple[str, str]]:
    """Union-find on the driver for small graphs (same semantics as the
    distributed loop; avoids ~6 tiny Spark jobs of pure scheduling
    overhead when the edge set is dictionary-sized)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return sorted((v, find(v)) for v in list(parent))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """edges(src, dst) -> (node, rank): power-iteration PageRank with a
    FIXED number of rounds (deterministic output, no convergence test in
    the plan). Dangling-node mass (nodes with no out-edges) is
    redistributed uniformly each round — ranks sum to 1.

    Scale shape: per round, one join of the edge table against the rank
    vector on ``src`` and one groupBy on ``dst`` — both hash-partitioned
    on node id, so consecutive rounds reuse the same partitioning; the
    only driver-side values are two scalars (node count, dangling mass).
    ``localCheckpoint`` per round truncates the growing lineage exactly
    as the CC loop does. The citation graph's hot target (one paper
    drawing ~30% of all edges) is a reduce-side skew the map-side
    partial aggregation of sum() absorbs.
    """
    e = edges.selectExpr(f"{src} as src", f"{dst} as dst").filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint()

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(n_iter):
        contribs = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c")
            )
        )
        sums = contribs.groupBy("node").agg(F.sum("c").alias("s"))
        dangling = (
            ranks.join(deg.withColumnRenamed("src", "node"), "node", "left_anti")
            .agg(F.sum("rank"))
            .first()[0]
            or 0.0
        )
        ranks = (
            nodes.join(sums, "node", "left")
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("s"), F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """edges(src, dst) -> (id, component); component = min id in cluster.

    Deterministic: component ids are data values (lexicographic min),
    never generated ids. Graphs under `driver_threshold` edges are
    solved with a driver-side union-find (identical result, none of the
    per-iteration job overhead); larger graphs run the distributed
    min-label-propagation loop.
    """
    raw = edges.selectExpr(f"{src} as id", f"{dst} as nbr").filter(
        F.col("id") != F.col("nbr")
    )

    if driver_threshold > 0:
        # union-find dedups and symmetrizes for free — collect the raw
        # edge list without paying a distinct shuffle first
        sample = raw.limit(driver_threshold + 1).collect()
        if len(sample) <= driver_threshold:
            return arrow_frame(
                edges.sparkSession,
                _driver_cc([(r.id, r.nbr) for r in sample]),
                "id string, component string",
            )

    sym = raw.unionByName(
        edges.selectExpr(f"{dst} as id", f"{src} as nbr")
    )
    sym = sym.filter(F.col("id") != F.col("nbr")).distinct()

    sym = sym.localCheckpoint()

    comp = (
        sym.select("id")
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )

    changed = 0
    for _ in range(max_iter):
        # candidate = min(own component, min over neighbours' components)
        nbr_comp = comp.select(
            F.col("id").alias("nbr"), F.col("component").alias("_nc")
        )
        nbr_min = (
            sym.join(nbr_comp, "nbr", "inner")
            .groupBy("id")
            .agg(F.min("_nc").alias("nbr_component"))
        )
        updated = (
            comp.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
                (F.coalesce(F.col("nbr_component"), F.col("component")) < F.col("component"))
                .cast("long")
                .alias("_changed"),
            )
        )
        changed = updated.agg(F.sum("_changed")).first()[0] or 0
        comp = updated.drop("_changed").localCheckpoint()
        if changed == 0:
            break
    if changed:
        # silent non-convergence would be a wrong result for general
        # graphs (alias clusters here are stars — diameter 2 — but this
        # operator is reusable); surface it loudly.
        import warnings

        warnings.warn(
            f"connected_components did not converge in {max_iter} iterations "
            f"({changed} labels still changing); results may be incorrect — "
            "raise max_iter for graphs of larger diameter",
            RuntimeWarning,
            stacklevel=2,
        )
    return comp
