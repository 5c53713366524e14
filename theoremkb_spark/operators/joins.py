"""Join helpers: size-picked broadcasts, skew salting, as-of joins.

``fits_broadcast`` is the one broadcast-vs-shuffle size test the
engine's auto-sized joins share, against the one threshold
``BROADCAST_MAX_BYTES``; ``spread`` is the one fan-out rule for
scans that arrive in too few tasks. ``salted_join`` spreads each hot
key over ``salt`` shuffle partitions (the fact side gets a
deterministic salt from its row content, the dimension side is
exploded x ``salt``); it serves ``queries.q_join_salted``, whose
ten-valued key really is skewed. The kg's citation-dictionary join (SURVEY §2.3
J5) does not need it: its (url, tag) key is per-document, and the hot
paper is a joined value, not a key. AQE skew-join stays on as
belt-and-braces (session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The one broadcast threshold, on a frame's ESTIMATED raw bytes. 64 MB
# raw broadcasts comfortably (the banded, set-carrying tables the fuzzy
# link ships are ~10x raw, still well under executor memory); past it
# the shuffled paths win.
BROADCAST_MAX_BYTES = 64 << 20


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """As-of join: each left row picks the LATEST right row with
    ``right.ts <= left.ts`` within the same ``on`` key (left join — rows
    with no prior right row keep nulls).

    Spark has no native as-of join; the naive range join explodes
    quadratically per key. This is the scalable union+window form: tag
    both sides, union, and forward-fill the right side's payload with
    ``last(..., ignorenulls)`` over (key, ts, side) — ONE shuffle on the
    key, linear work per row, no pair enumeration. Ties on ts resolve
    inclusively (a right row at exactly left.ts matches), matching
    DuckDB/pandas ``ASOF JOIN`` semantics.
    """
    right_cols = right_cols or [c for c in right.columns if c not in (on, ts)]
    from pyspark.sql import Window

    l_tag = left.withColumn("_side", F.lit(1))
    r_tag = right.select(
        F.col(on),
        F.col(ts),
        *[F.col(c).alias(f"{c}{suffix}") for c in right_cols],
    ).withColumn("_side", F.lit(0))
    for c in left.columns:
        if c not in (on, ts) and c not in r_tag.columns:
            r_tag = r_tag.withColumn(c, F.lit(None))
    for c in r_tag.columns:
        if c not in l_tag.columns:
            l_tag = l_tag.withColumn(c, F.lit(None))

    unioned = l_tag.unionByName(r_tag.select(*l_tag.columns))
    # side=0 sorts before side=1 at equal ts -> inclusive match; the
    # right payload columns break ties among right rows sharing
    # (key, ts), so the winner is deterministic (max payload tuple)
    # instead of partition-order luck
    w = (
        Window.partitionBy(on)
        .orderBy(
            F.col(ts).asc(),
            F.col("_side").asc(),
            *[F.col(f"{c}{suffix}").asc_nulls_first() for c in right_cols],
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward-fill ONE struct of the whole right payload, not each column
    # independently: a matched right row with a NULL in one payload column
    # must yield that NULL, not a back-fill from an older right row (the
    # per-column form fabricated rows mixing columns of different matches)
    payload = F.when(
        F.col("_side") == 0,
        F.struct(*[F.col(f"{c}{suffix}").alias(c) for c in right_cols]),
    )
    filled = unioned.select(
        *[c for c in l_tag.columns if not c.endswith(suffix) and c != "_side"],
        F.col("_side"),
        F.last(payload, ignorenulls=True).over(w).alias("_rpay"),
    )
    return (
        filled.filter(F.col("_side") == 1)
        .select(
            *[c for c in l_tag.columns if not c.endswith(suffix) and c != "_side"],
            *[F.col(f"_rpay.{c}").alias(f"{c}{suffix}") for c in right_cols],
        )
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    how: str = "left",
    salt: int = 8,
) -> DataFrame:
    """Equi-join fact with dim on `on`, salting the key to defeat skew.

    The salt on the fact side is derived from xxhash64 of all fact
    columns (deterministic, no rand()); the dim side is exploded `salt`
    times. Result columns = fact columns + dim's non-key columns.
    """
    fact_cols = fact.columns
    dim_extra = [c for c in dim.columns if c not in on]

    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in fact_cols]), F.lit(salt))
    )
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    joined = salted_fact.join(salted_dim, on=on + ["_salt"], how=how)
    return joined.select(*fact_cols, *dim_extra)


def estimated_bytes(df: DataFrame) -> int:
    """Catalyst's pre-execution size estimate for a plan: file sizes for
    scans, propagated through projections and filters; row-count based
    for Arrow-built local relations; Long.MaxValue for RDD-backed plans.
    No job is triggered — this is the same signal the planner's own
    broadcast decision reads, surfaced for strategy selection."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def fits_broadcast(df: DataFrame) -> bool:
    """Broadcast-vs-shuffle decision: ``df``'s estimate is at most
    ``BROADCAST_MAX_BYTES`` (read at call time), or unknowable. File-backed
    inputs (the at-scale case) carry real file-size stats, and the
    library's own driver-built frames (``session.arrow_frame``) are
    ``LocalRelation``s with real stats too, so the threshold governs
    both. An unknowable estimate (Long.MaxValue) comes from a frame built
    from a Python row list (an RDD scan, as the test loaders build),
    which fits in driver memory by construction."""
    est = estimated_bytes(df)
    return est == (1 << 63) - 1 or est <= BROADCAST_MAX_BYTES


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Fan a one-row-group scan out before CPU-heavy per-row work.

    A parquet file with one row group scans as ONE task whatever the
    split size (splits quantize to row groups), and the sf-scale demo
    tables are written that way, so a regex, shingle, Arrow-kernel or
    dot-product stage fused into the scan would run on one core. This
    exchange spreads the rows first. The width is sized from the input,
    not pinned to the cores: ~75 KB of (compressed, Catalyst-estimated)
    input per task, floored at 1 and capped at ``defaultParallelism``,
    so a tiny table never pays a full-width Arrow worker spin-up for
    kilobytes (SimHash at sf0.1 on local[32]: width 8 0.31 s, width 32
    0.47 s, no spread 0.42 s), and an unknowable estimate (Long.MaxValue,
    RDD-backed frames) caps at the cores like any huge one.

    With ``keys`` the rows are hash-partitioned on them: unique ids
    spread evenly, skip round-robin's sort-before-repartition pass over
    wide text columns, and hand a following groupBy on those keys a
    reusable partitioning. Without keys it is a round-robin exchange.
    The exchange is unconditional, also on a scan that already has
    enough splits, and also at width 1: a table under ~150 KB (the
    sf0.001/sf0.01 documents) gets a one-partition exchange that
    spreads nothing, so the per-row stage still runs on one core; it
    is kept so every call plans the same shape."""
    width = max(
        1,
        min(
            df.sparkSession.sparkContext.defaultParallelism,
            estimated_bytes(df) // 75_000,
        ),
    )
    return df.repartition(width, *keys)
