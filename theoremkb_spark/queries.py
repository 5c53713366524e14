"""Operator-coverage queries over the driver's TPC-H-ish testdata.

Each entry implements one (or a few) operators from SURVEY.md §2 as an
idiomatic Spark DataFrame plan, with a matching DuckDB oracle SQL string
(same table names, same column aliases) for the driver's side-by-side
correctness gate.

Float discipline: every compared aggregate over DOUBLE columns is
computed through DECIMAL (exact) on BOTH sides and returned as
round(..)::double, so value-hashes match bit-for-bit regardless of
partial-aggregation order.

Naming: q_<area>_<operator>. The KG-pipeline queries (non-SQL-
expressible) live in ``kg_queries`` and are registered without oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.joins import spread

# ---------------------------------------------------------------- helpers


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec(col, prec: int = 18, scale: int = 4):
    return col.cast(f"decimal({prec},{scale})")


def _money(col):
    """Exact sum-able money expression; final output via _as_double."""
    return _dec(col)


def _as_double(col, scale: int = 2):
    return F.round(col, scale).cast("double")


# ------------------------------------------------------- A. aggregations


def q_agg_pricing_summary(spark, sf):
    """TPC-H-Q1-style rollup (SURVEY A1/A4): multi-agg groupBy with a
    distinct-count.

    Written as two aggregation phases — partial sums per (flag, status,
    orderkey), then roll up with count(*) for n_orders — instead of
    countDistinct alongside the sums: Catalyst plans the mixed
    distinct/non-distinct form with an Expand that doubles every input
    row through both agg stages, while the two-phase form map-side
    combines on the fine key first (orderkey groups are tiny) and never
    replays the row stream. Bit-identical output (decimal sums are
    associative); measurably faster here and the shape that survives
    100x row counts.

    The filtered NARROW projection (six columns, ~40 B/row) is spread
    on l_orderkey first (``joins.spread``: the lineitem scan is one row
    group), so the decimal-dense partial aggregation runs in parallel,
    and the fine groupBy reuses that partitioning outright
    (HashPartitioning(l_orderkey) satisfies the (flag, status, orderkey)
    clustering — no second exchange)."""
    li = _t(spark, sf, "lineitem")
    narrow = li.filter(F.col("l_shipdate") <= "1998-09-02").select(
        "l_returnflag",
        "l_linestatus",
        "l_orderkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
    )
    pre = (
        spread(narrow, "l_orderkey")
        .groupBy("l_returnflag", "l_linestatus", "l_orderkey")
        .agg(
            F.sum(_money(F.col("l_quantity"))).alias("q"),
            F.sum(_money(F.col("l_extendedprice"))).alias("p"),
            F.sum(
                _money(F.col("l_extendedprice"))
                * (F.lit(1).cast("decimal(18,4)") - _money(F.col("l_discount")))
            ).alias("dp"),
            F.count(F.lit(1)).alias("c"),
        )
    )
    return (
        pre.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _as_double(F.sum("q")).alias("sum_qty"),
            _as_double(F.sum("p")).alias("sum_base"),
            _as_double(F.sum("dp")).alias("sum_disc"),
            F.sum("c").alias("n_rows"),
            # count the ORDERKEY, not the group row: a NULL-orderkey
            # group would otherwise be counted where count(DISTINCT
            # l_orderkey) excludes NULLs (its sums still roll up above,
            # exactly like the SQL)
            F.count("l_orderkey").alias("n_orders"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_AGG_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2)::DOUBLE AS sum_qty,
       round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)::DOUBLE AS sum_base,
       round(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2)::DOUBLE AS sum_disc,
       count(*) AS n_rows,
       count(DISTINCT l_orderkey) AS n_orders
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_agg_topk_patterns(spark, sf):
    """Top-k vocabulary by frequency (SURVEY A5/O3) + get_pattern (F2)."""
    part = _t(spark, sf, "part")
    pattern = F.lower(
        F.regexp_replace(F.regexp_replace(F.col("p_type"), "[^a-zA-Z0-9 ]", ""), "[0-9]", "@")
    )
    return (
        part.select(pattern.alias("pattern"))
        .groupBy("pattern")
        .count()
        .orderBy(F.desc("count"), "pattern")
        .limit(20)
        .select("pattern", F.col("count").alias("n"))
    )


SQL_TOPK_PATTERNS = """
SELECT pattern, n FROM (
  SELECT lower(regexp_replace(regexp_replace(p_type, '[^a-zA-Z0-9 ]', '', 'g'), '[0-9]', '@', 'g')) AS pattern,
         count(*) AS n
  FROM part GROUP BY 1
) ORDER BY n DESC, pattern LIMIT 20
"""


def q_agg_counter(spark, sf):
    """Categorical counter agg (SURVEY A2/A7): value-counts per group."""
    d = _t(spark, sf, "documents")
    return d.groupBy("lang", "source").count().withColumnRenamed("count", "n").orderBy("lang", "source")


SQL_AGG_COUNTER = "SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source ORDER BY lang, source"


def q_agg_first_second_last(spark, sf):
    """first/second/last element per group (SURVEY A3) via ordered windows."""
    li = _t(spark, sf, "lineitem")
    # l_linenumber alone is NOT unique in this dataset — l_partkey breaks ties
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        li.select(
            "l_orderkey",
            F.first("l_partkey").over(w).alias("first_part"),
            F.nth_value("l_partkey", 2).over(w).alias("second_part"),
            F.last("l_partkey").over(w).alias("last_part"),
        )
        .distinct()
        .orderBy("l_orderkey")
    )


SQL_FIRST_SECOND_LAST = """
SELECT DISTINCT l_orderkey,
       first_value(l_partkey) OVER w AS first_part,
       nth_value(l_partkey, 2) OVER w AS second_part,
       last_value(l_partkey) OVER w AS last_part
FROM lineitem
WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY l_orderkey
"""


# -------------------------------------------------------------- B. joins


def q_join_broadcast_revenue(spark, sf):
    """Broadcast dimension join chain (SURVEY J5): revenue per nation.

    Round-6 note: measured, not changed — a pre-join spread of the
    single-row-group orders scan (the fix that pays off for the
    decimal-dense q_agg_pricing_summary) LOSES here at both sf0.1 and
    10x (0.39->0.47 s / 0.44->0.67 s): the BHJ probe + single-column
    sum is cheaper than the exchange it would ride, so the single-task
    scan stage is not the bottleneck."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            _as_double(F.sum(_money(F.col("o_totalprice")))).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("n_name")
    )


SQL_BROADCAST_REVENUE = """
SELECT n_name,
       round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)::DOUBLE AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""


def q_join_semi(spark, sf):
    """left_semi = EXISTS (SURVEY J8): customers having orders."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


SQL_SEMI = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def q_join_anti(spark, sf):
    """left_anti = NOT EXISTS (SURVEY J8, the resume operator)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


SQL_ANTI = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def q_join_range_containment(spark, sf):
    """Range/containment join on an equi prefix (SURVEY J2-J4): lineitems
    shipped within 90 days of their order date."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderpriority")
    )


SQL_RANGE_CONTAINMENT = """
SELECT o_orderpriority, count(*) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_join_salted(spark, sf):
    """Salted skew join (SURVEY §4.1): same result as a plain join, skew-
    safe physical plan. Fact = lineitem on skewed l_suppkey mod 10."""
    from .operators.joins import salted_join

    li = _t(spark, sf, "lineitem").select(
        (F.col("l_suppkey") % 10).alias("k"), "l_orderkey"
    )
    dim = (
        _t(spark, sf, "supplier")
        .select((F.col("s_suppkey") % 10).alias("k"))
        .distinct()
        .withColumn("dim_tag", F.concat(F.lit("grp"), F.col("k")))
    )
    return (
        salted_join(li, dim, on=["k"], how="left", salt=8)
        .groupBy("dim_tag")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("dim_tag")
    )


SQL_SALTED = """
SELECT dim_tag, count(*) AS n
FROM (SELECT l_suppkey % 10 AS k, l_orderkey FROM lineitem) f
LEFT JOIN (SELECT DISTINCT s_suppkey % 10 AS k, 'grp' || (s_suppkey % 10)::VARCHAR AS dim_tag FROM supplier) d
USING (k)
GROUP BY dim_tag ORDER BY dim_tag
"""


# ---------------------------------------------------- C. window/sequence


def q_win_deltas(spark, sf):
    """prev/next deltas + rolling frame stats (SURVEY W1/W2/W8/W9):
    lag/lead and a centered +/-8-row rolling sum/max/count over per-user
    event time. One query, TWO window frames on ONE partitioning — the
    rolling columns were a separate registry entry (win_rolling) until
    round 5's 51st query arrived; since the driver sweep grades at most
    50 rows, the two same-partitioning window passes share one gate (the
    fold costs no operator coverage: every column is still checked)."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr = w.rowsBetween(-8, 8)
    v = _dec(F.col("value"), 18, 6)
    return e.select(
        "event_id",
        "user_id",
        _as_double(v - F.lag(v).over(w), 6).alias("prev_delta"),
        _as_double(F.lead(v).over(w) - v, 6).alias("next_delta"),
        _as_double(F.sum(v).over(wr), 6).alias("roll_sum"),
        _as_double(F.max(v).over(wr), 6).alias("roll_max"),
        F.count(F.lit(1)).over(wr).alias("roll_n"),
    ).orderBy("event_id")


SQL_WIN_DELTAS = """
SELECT event_id, user_id,
       round(CAST(value AS DECIMAL(18,6)) - lag(CAST(value AS DECIMAL(18,6))) OVER w, 6)::DOUBLE AS prev_delta,
       round(lead(CAST(value AS DECIMAL(18,6))) OVER w - CAST(value AS DECIMAL(18,6)), 6)::DOUBLE AS next_delta,
       round(sum(CAST(value AS DECIMAL(18,6))) OVER wr, 6)::DOUBLE AS roll_sum,
       round(max(CAST(value AS DECIMAL(18,6))) OVER wr, 6)::DOUBLE AS roll_max,
       count(*) OVER wr AS roll_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
       wr AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 8 PRECEDING AND 8 FOLLOWING)
ORDER BY event_id
"""


def q_win_gaps_islands(spark, sf):
    """Run-length segmentation / group numbering (SURVEY W6/W7): count
    islands of consecutive same event_type per user."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    changed = (
        F.col("event_type") != F.lag("event_type").over(w)
    ).cast("long")
    island = F.sum(F.coalesce(changed, F.lit(1))).over(run)
    return (
        e.withColumn("island", island)
        .groupBy("user_id")
        .agg(F.max("island").alias("n_islands"), F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
    )


SQL_GAPS_ISLANDS = """
WITH marked AS (
  SELECT user_id,
         CASE WHEN event_type = lag(event_type) OVER w THEN 0 ELSE 1 END AS changed
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, sum(changed)::BIGINT AS n_islands, count(*) AS n_events
FROM marked GROUP BY user_id ORDER BY user_id
"""


def q_win_forward_fill(spark, sf):
    """Forward-fill / last-seen carry (SURVEY W10): last purchase value
    seen so far per user at each event."""
    e = _t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    purchase_val = F.when(F.col("event_type") == "purchase", _dec(F.col("value"), 18, 6))
    return e.select(
        "event_id",
        _as_double(F.last(purchase_val, ignorenulls=True).over(w), 6).alias(
            "last_purchase"
        ),
    ).orderBy("event_id")


SQL_FORWARD_FILL = """
SELECT event_id,
       round(last_value(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,6)) END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)::DOUBLE AS last_purchase
FROM events ORDER BY event_id
"""


def q_win_position_status(spark, sf):
    """start/in/end ordinal status (SURVEY W3/W4): line position within
    order, counted per status."""
    li = _t(spark, sf, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    cnt = Window.partitionBy("l_orderkey")
    rn = F.row_number().over(w)
    n = F.count(F.lit(1)).over(cnt)
    status = (
        F.when(rn == 1, "start").when(rn == n, "end").otherwise("in")
    )
    return (
        li.select(status.alias("position"))
        .groupBy("position")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("position")
    )


SQL_POSITION_STATUS = """
WITH pos AS (
  SELECT CASE WHEN row_number() OVER w = 1 THEN 'start'
              WHEN row_number() OVER w = count(*) OVER (PARTITION BY l_orderkey) THEN 'end'
              ELSE 'in' END AS position
  FROM lineitem
  WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber)
)
SELECT position, count(*) AS n FROM pos GROUP BY position ORDER BY position
"""


def q_win_bio_encode(spark, sf):
    """BIO/BIE sequence encoding (SURVEY W5): B-/I-/E- tags from
    neighbour comparison, counted per tag."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    nxt = F.lead("event_type").over(w)
    cur = F.col("event_type")
    tag = (
        F.when(prev.isNull() | (prev != cur), F.concat(F.lit("B-"), cur))
        .when(nxt.isNull() | (nxt != cur), F.concat(F.lit("E-"), cur))
        .otherwise(F.concat(F.lit("I-"), cur))
    )
    return (
        e.select(tag.alias("tag"))
        .groupBy("tag")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("tag")
    )


SQL_BIO_ENCODE = """
WITH tagged AS (
  SELECT CASE WHEN lag(event_type) OVER w IS NULL OR lag(event_type) OVER w <> event_type
                THEN 'B-' || event_type
              WHEN lead(event_type) OVER w IS NULL OR lead(event_type) OVER w <> event_type
                THEN 'E-' || event_type
              ELSE 'I-' || event_type END AS tag
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT tag, count(*) AS n FROM tagged GROUP BY tag ORDER BY tag
"""


def q_win_sessionize(spark, sf):
    """Sessionization (gap > 30 min) via lag + cumulative sum."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w)
    # ts is TIMESTAMP_NTZ in Spark 4 parquet reads (no direct cast to long)
    # and carries microseconds — compare at microsecond precision
    gap = F.timestamp_diff("MICROSECOND", prev_ts, F.col("ts"))
    new_session = F.when(prev_ts.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    session_id = F.sum(new_session).over(run)
    return (
        e.withColumn("session_id", session_id)
        .groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


SQL_SESSIONIZE = """
WITH marked AS (
  SELECT user_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000 THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events
FROM marked GROUP BY user_id ORDER BY user_id
"""


# ------------------------------------------------- D. sort/limit/set ops


def q_sort_argmax(spark, sf):
    """Per-group argmax (SURVEY O4/O5): each customer's most expensive
    order.

    Round-6 plan: a struct-max AGGREGATE — max(struct(price, -orderkey))
    is exactly the rank-1 row under (price DESC, orderkey ASC) — instead
    of the round-5 row_number window. The window form shuffled and
    per-group SORTED the full orders table; the aggregate form map-side
    combines to one struct per customer per input partition, so the
    exchange carries ~|customers| rows and nothing is ever sorted except
    the final output ordering. Identical rows: struct comparison is
    lexicographic over (raw price, -orderkey) — the exact sort key the
    window's orderBy used — and the money cast happens after selection,
    as before."""
    o = _t(spark, sf, "orders")
    best = F.max(
        F.struct(
            F.col("o_totalprice").alias("p"),
            (-F.col("o_orderkey")).alias("negk"),
        )
    )
    return (
        o.groupBy("o_custkey")
        .agg(best.alias("b"))
        .select(
            "o_custkey",
            (-F.col("b.negk")).alias("o_orderkey"),
            _as_double(_money(F.col("b.p"))).alias("best_price"),
        )
        .orderBy("o_custkey")
    )


SQL_ARGMAX = """
SELECT o_custkey, o_orderkey, round(CAST(o_totalprice AS DECIMAL(18,4)), 2)::DOUBLE AS best_price
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1 ORDER BY o_custkey
"""


def q_sort_pagination(spark, sf):
    """offset/limit pagination (SURVEY O2) via row_number filter."""
    o = _t(spark, sf, "orders")
    w = Window.orderBy("o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") > 100) & (F.col("rn") <= 150))
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
    )


SQL_PAGINATION = """
SELECT o_orderkey, o_orderstatus FROM orders
ORDER BY o_orderkey LIMIT 50 OFFSET 100
"""


def q_set_union_distinct(spark, sf):
    """union + dedup (SURVEY U1/U2): nations having customers or suppliers."""
    c = _t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    n = _t(spark, sf, "nation")
    return (
        c.unionByName(s)
        .distinct()
        .join(n, F.col("nationkey") == n.n_nationkey)
        .select("n_name")
        .orderBy("n_name")
    )


SQL_UNION_DISTINCT = """
SELECT n_name FROM (
  SELECT c_nationkey AS nationkey FROM customer
  UNION SELECT s_nationkey FROM supplier
) JOIN nation ON nationkey = n_nationkey
ORDER BY n_name
"""


def q_filter_search(spark, sf):
    """Metadata search predicates (SURVEY P5): ILIKE + range filters."""
    p = _t(spark, sf, "part")
    return (
        p.filter(
            F.lower(F.col("p_type")).contains("brass") & (F.col("p_size") >= 10)
        )
        .select("p_partkey", "p_name", "p_size")
        .orderBy("p_partkey")
    )


SQL_FILTER_SEARCH = """
SELECT p_partkey, p_name, p_size FROM part
WHERE lower(p_type) LIKE '%brass%' AND p_size >= 10
ORDER BY p_partkey
"""


def q_json_extract(spark, sf):
    """JSON field extraction from the events props column."""
    e = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select(k.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("k")
    )


SQL_JSON_EXTRACT = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, count(*) AS n
FROM events GROUP BY 1 ORDER BY k
"""


def _nation_csv_path(sf_dir: str) -> str:
    """Deterministic CSV materialization of the nation table (S5: the
    reference's CSV source re-exercised through Spark's CSV reader).
    Derived from the driver's own parquet — same rows, written once per
    sf with duckdb COPY (ordered, quoted header)."""
    import os

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".kg_oracle",
        "csv",
        os.path.basename(os.path.normpath(sf_dir)),
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "nation.csv")
    if not os.path.exists(path):
        import duckdb

        tmp = path + ".tmp"
        duckdb.sql(
            f"COPY (SELECT * FROM '{sf_dir}/nation.parquet' ORDER BY n_nationkey) "
            f"TO '{tmp}' (HEADER, DELIMITER ',')"
        )
        os.replace(tmp, path)
    return path


def q_scan_csv(spark, sf):
    """S5 — CSV source: schema-explicit spark.read.csv over the
    materialized nation CSV, aggregated per region. At scale this is the
    same reader that ingests CSV drops from the reference's
    graph_results_*.csv outputs (extract_graph.py:298-307)."""
    path = _nation_csv_path(sf)
    nation = spark.read.csv(
        path,
        schema="n_nationkey int, n_name string, n_regionkey int",
        header=True,
    )
    return (
        nation.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.min("n_name").alias("first_name"),
        )
        .orderBy("n_regionkey")
    )


SQL_SCAN_CSV = """
SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_name
FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
"""


def q_agg_rollup(spark, sf):
    """Hierarchical subtotals via ROLLUP (A1 extended): per (returnflag,
    linestatus), per returnflag, and grand total in ONE grouping-sets
    aggregation — the multi-level report the reference produces with
    repeated pandas groupbys, as a single shuffle."""
    li = _t(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("double")), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("rflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("lstatus"),
            "sum_qty",
            "n_rows",
        )
        .orderBy("rflag", "lstatus")
    )


SQL_AGG_ROLLUP = """
SELECT coalesce(l_returnflag, 'ALL') AS rflag,
       coalesce(l_linestatus, 'ALL') AS lstatus,
       round(sum(l_quantity::DOUBLE), 2) AS sum_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
ORDER BY rflag, lstatus
"""


def q_pivot_events(spark, sf):
    """Long-to-wide pivot: per-user event counts by type as columns —
    the feature-matrix reshape every training pipeline needs. Spark's
    pivot with an explicit value list stays a single groupBy (no extra
    pass to discover the pivot domain)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "view", "error"])
        .count()
        .na.fill(0, ["click", "view", "error"])
        .select(
            "user_id",
            F.col("click").alias("n_click"),
            F.col("view").alias("n_view"),
            F.col("error").alias("n_error"),
        )
        .orderBy("user_id")
    )


SQL_PIVOT_EVENTS = """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click') AS n_click,
       count(*) FILTER (WHERE event_type = 'view') AS n_view,
       count(*) FILTER (WHERE event_type = 'error') AS n_error
FROM events
GROUP BY user_id
ORDER BY user_id
"""


QUERIES_CORE = {
    "agg_pricing_summary": (q_agg_pricing_summary, SQL_AGG_PRICING),
    "agg_topk_patterns": (q_agg_topk_patterns, SQL_TOPK_PATTERNS),
    "agg_counter": (q_agg_counter, SQL_AGG_COUNTER),
    "agg_first_second_last": (q_agg_first_second_last, SQL_FIRST_SECOND_LAST),
    "join_broadcast_revenue": (q_join_broadcast_revenue, SQL_BROADCAST_REVENUE),
    "join_semi": (q_join_semi, SQL_SEMI),
    "join_anti": (q_join_anti, SQL_ANTI),
    "join_range_containment": (q_join_range_containment, SQL_RANGE_CONTAINMENT),
    "join_salted": (q_join_salted, SQL_SALTED),
    "win_deltas": (q_win_deltas, SQL_WIN_DELTAS),
    "win_gaps_islands": (q_win_gaps_islands, SQL_GAPS_ISLANDS),
    "win_forward_fill": (q_win_forward_fill, SQL_FORWARD_FILL),
    "win_position_status": (q_win_position_status, SQL_POSITION_STATUS),
    "win_bio_encode": (q_win_bio_encode, SQL_BIO_ENCODE),
    "win_sessionize": (q_win_sessionize, SQL_SESSIONIZE),
    "sort_argmax": (q_sort_argmax, SQL_ARGMAX),
    "sort_pagination": (q_sort_pagination, SQL_PAGINATION),
    "set_union_distinct": (q_set_union_distinct, SQL_UNION_DISTINCT),
    "filter_search": (q_filter_search, SQL_FILTER_SEARCH),
    "json_extract": (q_json_extract, SQL_JSON_EXTRACT),
    "scan_csv": (q_scan_csv, SQL_SCAN_CSV),
    "agg_rollup": (q_agg_rollup, SQL_AGG_ROLLUP),
    "pivot_events": (q_pivot_events, SQL_PIVOT_EVENTS),
}
