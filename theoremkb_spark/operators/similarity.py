"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — exact brute-force top-k: JVM-only dot products via
  zip_with/aggregate (no UDF, no Python). The baseline. Cost
  O(|queries| x |corpus| x dim): fine when the query set is small or the
  corpus is pre-filtered.
* ``bucketed_ann_topk`` — the data-oblivious scale path: deterministic
  sign-bucket coarse quantization (LSH family: seeded random
  hyperplanes), candidates only within the query's bucket. Turns the
  cross join into an equi-join on bucket — shuffle-friendly, prunes
  ~2^bits of the corpus per query.
* ``ivf_topk`` — the data-dependent scale path: IVF cells from a
  trained coarse quantizer (``train_ivf_centroids``), nprobe nearest
  cells per query, candidates via an equi-join on cell id.

All arithmetic in double with left-to-right aggregation order so a
DuckDB oracle (list_dot_product on DOUBLE[]) reproduces values exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import arrow_frame
from .joins import spread


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def with_cosine(pairs: DataFrame, a_col: str, b_col: str, out: str = "cosine") -> DataFrame:
    a = F.col(a_col).cast("array<double>")
    b = F.col(b_col).cast("array<double>")
    return pairs.withColumn(out, _dot(a, b) / (_norm(a) * _norm(b)))


def cosine_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k: int = 5,
    round_to: int = 4,
) -> DataFrame:
    """-> (query_id, rank, neighbor_id, score): exact top-k neighbors of
    each query vector (self excluded), deterministic tie-break by id.

    Each side's norm is computed ONCE per row before the join instead of
    per pair: higher-order-function dots run interpreted (no codegen
    inside the lambda), and the original with_cosine form re-derived
    sqrt(dot(v,v)) for BOTH vectors on every candidate pair — 3
    interpreted dots per pair where 1 suffices. norm_a * norm_b keeps
    the exact evaluation order, so every score is bit-identical. The
    corpus side goes through ``joins.spread`` first, so the dot-product
    stage does not run in the one task of a one-row-group scan."""
    v = F.col(vec_col).cast("array<double>")
    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(v).alias("qn"),
    )
    c = spread(emb).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(v).alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            _dot(F.col("qv").cast("array<double>"), F.col("cv").cast("array<double>"))
            / (F.col("qn") * F.col("cn")),
        )
        .withColumn("score", F.round(F.col("cosine"), round_to))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.col("score").cast("double").alias("score"))
    )


def random_projections(bits: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Seeded gaussian hyperplanes, rounded to 4dp so the exact same
    double constants can be embedded in a DuckDB oracle (repr of a
    rounded float round-trips to the identical double in both engines).
    Deterministic: same (bits, dim, seed) -> same planes, forever."""
    import random

    rng = random.Random(f"ann-projections/{seed}")
    return [[round(rng.gauss(0.0, 1.0), 4) for _ in range(dim)] for _ in range(bits)]


def sign_bucket(vec_col, bits: int = 6, dim: int = 64, seed: int = 7):
    """Deterministic LSH coarse bucket: sign of the dot product against
    ``bits`` seeded random hyperplanes.

    Round 1 used the sign bits of the leading dimensions — fine for
    isotropic embeddings, but correlated dimensions (the common case for
    learned embeddings) skew those buckets arbitrarily badly at scale.
    A seeded random rotation is the standard fix: bucket occupancy
    concentrates near uniform regardless of the embedding basis, and
    determinism is kept via the fixed seed (no rand() at query time)."""
    v = (F.col(vec_col) if isinstance(vec_col, str) else vec_col).cast("array<double>")
    expr = F.lit(0)
    for i, plane in enumerate(random_projections(bits, dim, seed)):
        dot = F.aggregate(
            F.zip_with(v, F.array(*[F.lit(x) for x in plane]), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        expr = expr + F.when(dot >= 0, F.lit(1 << i)).otherwise(0)
    return expr


def bucketed_ann_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k: int = 3,
    bits: int = 6,
    round_to: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign
    bucket (equi-join on bucket instead of a cross join)."""
    with_b = emb.withColumn("bucket", sign_bucket(vec_col, bits))
    q = with_b.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "bucket"
    )
    c = with_b.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "bucket"
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .transform(lambda df: with_cosine(df, "qv", "cv"))
        .withColumn("score", F.round(F.col("cosine"), round_to))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.col("score").cast("double").alias("score"))
    )


def train_ivf_centroids(
    emb_path: str,
    k: int = 16,
    sample: int = 256,
    iters: int = 10,
    round_to: int = 6,
) -> list[list[float]]:
    """Deterministic IVF coarse quantizer: Lloyd k-means over the first
    ``sample`` vectors by id (float64, evenly spaced init, fixed
    iterations, empty clusters keep their centroid). Runs driver-side on
    a bounded sample — at 100 TB this is the standard recipe too (train
    on a sample, broadcast the centroids); only assignment distributes.

    Final centroids are rounded to ``round_to`` dp so the exact same
    double constants embed in parquet/SQL and both engines score with
    identical numbers (repr of a rounded float round-trips)."""
    import numpy as np
    import pyarrow.dataset as pads

    # predicate pushdown keeps the driver read bounded by the sample
    # (dense-id layout: ids < sample ARE the first `sample` by id); the
    # full-scan fallback only triggers on sparse ids at tiny scale
    dset = pads.dataset(emb_path, format="parquet")
    t = dset.to_table(
        columns=["vec_id", "embedding"], filter=pads.field("vec_id") < sample
    )
    if t.num_rows < k:
        t = dset.to_table(columns=["vec_id", "embedding"])
    pairs = sorted(
        zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist())
    )[:sample]
    x = np.array([v for _, v in pairs], dtype=np.float64)
    cent = x[np.linspace(0, len(x) - 1, k).astype(int)].copy()
    for _ in range(iters):
        d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
    return [[float(v) for v in row] for row in np.round(cent, round_to)]


def ivf_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    query_ids: list[int],
    k: int = 5,
    nprobe: int = 4,
    round_to: int = 4,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: assign every vector to its
    nearest coarse centroid (broadcast join against the tiny centroid
    table — one pass, JVM-only dot products), probe the query's
    ``nprobe`` nearest cells, and score candidates only within those
    cells (equi-join on cell id — never all-pairs).

    The complement of the LSH path (``bucketed_ann_topk``): data-
    dependent cells from a trained quantizer instead of data-oblivious
    hyperplanes. Nearest-cell metric is c.c - 2 x.c (argmin-equivalent
    to L2, skips the per-row x.x), computed left-to-right so a DuckDB
    oracle (list_dot_product over the same rounded centroid constants)
    reproduces every value bit-exactly."""
    spark = emb.sparkSession
    cdf = arrow_frame(
        spark, list(enumerate(centroids)), "cell int, cvec array<double>"
    )
    v = F.col(vec_col).cast("array<double>")
    m = _dot(F.col("cvec"), F.col("cvec")) - 2 * _dot(F.col("_v"), F.col("cvec"))
    scored_cells = (
        emb.select(F.col(id_col).alias("_id"), v.alias("_v"))
        .join(F.broadcast(cdf))
        .withColumn("_m", m)
    )
    w_assign = Window.partitionBy("_id").orderBy(F.asc("_m"), F.asc("cell"))
    ranked = scored_cells.withColumn("_rn", F.row_number().over(w_assign))
    assigned = ranked.filter(F.col("_rn") == 1).select(
        F.col("_id").alias("neighbor_id"), "cell"
    )
    probes = (
        ranked.filter(F.col("_id").isin(query_ids) & (F.col("_rn") <= nprobe))
        .select(F.col("_id").alias("query_id"), "cell")
    )
    e = emb.select(F.col(id_col).alias("_eid"), v.alias("_ev"))
    cand = (
        probes.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(e.select(F.col("_eid").alias("query_id"), F.col("_ev").alias("qv")), "query_id")
        .join(e.select(F.col("_eid").alias("neighbor_id"), F.col("_ev").alias("cv")), "neighbor_id")
        .transform(lambda df: with_cosine(df, "qv", "cv"))
        .withColumn("score", F.round(F.col("cosine"), round_to))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.col("score").cast("double").alias("score"))
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    bits: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, sign-bucket blocked."""
    with_b = emb.withColumn("bucket", sign_bucket(vec_col, bits))
    a = with_b.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "bucket")
    b = with_b.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .transform(lambda df: with_cosine(df, "va", "vb"))
        .withColumn("cos", F.round(F.col("cosine"), 6).cast("double"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )
