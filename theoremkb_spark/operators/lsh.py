"""The LSH/Jaccard core shared by near-duplicate detection
(operators/dedup.py) and fuzzy entity linking (pipeline/link.py):
MinHash signatures, band keys, and the exact-Jaccard carry verify.

Every operator built on this core takes a required ``cache_registry``
list, appends each frame it caches, and never releases one itself: the
caller unpersists them (``runner.release_caches``) after its terminal
action.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def minhash_aggs(num_hashes: int) -> list[Column]:
    """``h0..h{k-1}``: the MinHash aggregate list, ``min(xxhash64(j,
    shingle))`` per group with the function index ``j`` as seed column.
    Used inside a groupBy over exploded (id, shingle) rows: explode +
    hash-aggregate stays in whole-stage codegen, where the per-row
    ``array_min(transform(...))`` form runs its lambda interpreted."""
    return [
        F.min(F.xxhash64(F.lit(j), F.col("shingle"))).alias(f"h{j}")
        for j in range(num_hashes)
    ]


def band_keys(sig: DataFrame, bands: int, rows: int, id_alias: str = "id") -> DataFrame:
    """(id, h0..h{bands*rows-1}) -> (id_alias, band, sig): the banded-LSH
    bucket keys. Two ids are candidates iff they share (band, sig) for
    at least one band. Only these narrow rows go through the band
    explode; set sizes and sets attach to the deduped candidate pairs
    afterwards (``carry_verify``)."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("|", *[F.col(f"h{b * rows + r}") for r in range(rows)]).alias(
                "sig"
            ),
        )
        for b in range(bands)
    ]
    return sig.select(
        F.col("id").alias(id_alias), F.explode(F.array(*band_structs)).alias("bs")
    ).select(id_alias, "bs.band", "bs.sig")


def carry_verify(
    pairs: DataFrame,
    per_id_a: DataFrame,
    per_id_b: DataFrame,
    keys: tuple[str, str],
    threshold: float,
    carry: str = "sset",
    name: str = "set",
    common: Column | None = None,
) -> DataFrame:
    """Exact Jaccard over candidate ``pairs`` (keys[0], keys[1], ...):
    the pairs at or above ``threshold``, with the attached columns and
    ``jaccard`` added (callers project what they return).

    Each side's per-id rollup (id, sz, <carry>) attaches once per pair
    as (sz_a, <name>_a) and (sz_b, <name>_b); the common count defaults
    to ``|<name>_a ∩ <name>_b|``, computed map-side on the pair table,
    so no candidates x shingles expansion is ever shuffled. Callers
    whose carried set is only part of the intersection pass ``common``.
    The ratio is computed in fixed-point decimal and rounded to 6
    places, the same arithmetic as the DuckDB and sequential oracles."""
    ka, kb = keys

    def side(per_id: DataFrame, key: str, s: str) -> DataFrame:
        return per_id.select(
            F.col("id").alias(key),
            F.col("sz").alias(f"sz_{s}"),
            F.col(carry).alias(f"{name}_{s}"),
        )

    if common is None:
        common = F.size(F.array_intersect(F.col(f"{name}_a"), F.col(f"{name}_b")))
    dec = "decimal(18,6)"
    jac = common.cast(dec) / (F.col("sz_a") + F.col("sz_b") - common).cast(dec)
    return (
        pairs.join(side(per_id_a, ka, "a"), ka)
        .join(side(per_id_b, kb, "b"), kb)
        .withColumn("jaccard", F.round(jac, 6).cast("double"))
        .filter(F.col("jaccard") >= threshold)
    )
