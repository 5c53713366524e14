"""Stage 5 — CANON: coreferent-entity canonicalization.

Citation targets sharing a normalized title (get_links.py:74-85
semantics: lowercase, keep [a-z]) are coreferent — e.g. the DOI url and
the arXiv url of the same paper. Candidate edges come from the exact
norm-title key; connected components collapse them to a canonical id =
the lexicographically smallest url in the cluster (deterministic,
data-derived — SURVEY §7.4.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.graph import connected_components


def alias_edges(entity_dict: DataFrame) -> DataFrame:
    """entity_dict(url, tag, pdf_to, title, norm_title) -> star edges
    (src=pdf_to, dst=cluster seed) for targets sharing norm_title."""
    targets = entity_dict.select("pdf_to", "norm_title").distinct()
    seeds = targets.groupBy("norm_title").agg(F.min("pdf_to").alias("_seed"))
    return (
        targets.join(F.broadcast(seeds), "norm_title")
        .filter(F.col("pdf_to") != F.col("_seed"))
        .select(F.col("pdf_to").alias("src"), F.col("_seed").alias("dst"))
    )


def canonical_mapping(entity_dict: DataFrame) -> DataFrame:
    """-> (pdf_to, canonical). Urls absent from any alias edge map to
    themselves (handled by the left join in `canonicalize_dict`)."""
    comp = connected_components(alias_edges(entity_dict))
    return comp.select(F.col("id").alias("pdf_to"), F.col("component").alias("canonical"))


def canonicalize_rows(rows) -> list[tuple[str, str, str]]:
    """Driver-side canonicalization for a broadcast-sized dictionary:
    identical semantics to ``canonicalize_dict`` (same union-find the
    distributed CC's small-graph path uses) with zero Spark jobs — the
    distributed path costs ~6 tiny jobs of pure scheduling latency that
    dominate when the dict is small. ``rows``: dicts (or Rows) with url/
    tag/pdf_to/norm_title. Returns sorted (url, tag, pdf_to_canon).

    NULLs follow Spark: a NULL norm_title never equi-joins its seed and
    a NULL pdf_to is neither a seed (``min`` skips it) nor matched by
    the mapping join, so both rows keep their own pdf_to (NULL stays
    NULL)."""
    from ..operators.graph import _driver_cc

    seed: dict[str, str] = {}
    for r in rows:
        nt, t = r["norm_title"], r["pdf_to"]
        if nt is not None and t is not None and (nt not in seed or t < seed[nt]):
            seed[nt] = t
    edges = [
        (r["pdf_to"], seed[r["norm_title"]])
        for r in rows
        if r["pdf_to"] is not None
        and r["norm_title"] in seed
        and r["pdf_to"] != seed[r["norm_title"]]
    ]
    canon = dict(_driver_cc(edges))
    out = {
        (r["url"], r["tag"], canon.get(r["pdf_to"], r["pdf_to"])) for r in rows
    }
    # NULLs sort first, as in Spark's ascending order
    return sorted(out, key=lambda t: [(v is not None, v or "") for v in t])


def canonicalize_dict(entity_dict: DataFrame) -> DataFrame:
    """-> (url, tag, pdf_to_canon): the dictionary the LINK stage
    consumes, with every target rewritten to its canonical id. The
    dedup exchange is keyed on the (url, tag) join key, so a shuffled
    link join reuses it and the dictionary crosses the shuffle once."""
    mapping = canonical_mapping(entity_dict)
    return (
        entity_dict.join(F.broadcast(mapping), "pdf_to", "left")
        .select(
            "url",
            "tag",
            F.coalesce(F.col("canonical"), F.col("pdf_to")).alias("pdf_to_canon"),
        )
        .repartition("url", "tag")
        .distinct()
    )
