"""Window functions W1-W3 and advanced aggregates G3-G4, G7
(SURVEY.md §2.B)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from meepo_spark.catalog import table
from meepo_spark.registry import register


@register(
    "w1_ranking",
    oracle="""
    SELECT c_mktsegment, c_custkey,
           CAST(ROW_NUMBER() OVER w AS BIGINT)  AS rn,
           CAST(RANK() OVER w AS BIGINT)        AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT)  AS drnk,
           CAST(NTILE(4) OVER w AS BIGINT)      AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
    QUALIFY rn <= 10
    """,
)
def w1_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: the four ranking functions over one window; rank<=10 filter
    becomes a WindowGroupLimit so partitions never fully materialize.

    NOTE: ntile(4) here is computed over the full partition before the
    rn<=10 filter, matching QUALIFY semantics in DuckDB.
    """
    c = table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
        .filter(F.col("rn") <= 10)
    )


@register(
    "w2_lag_lead",
    oracle="""
    SELECT user_id, event_id,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S')                       AS ts_s,
           ROUND(value - LAG(value) OVER w, 2)                     AS delta_prev,
           LEAD(event_type) OVER w                                 AS next_type,
           FIRST_VALUE(event_type) OVER w                          AS first_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def w2_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: lag/lead/first_value per user event timeline — the per-key
    'previous state' primitive a change-stream diff needs."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta_prev"),
        F.lead("event_type").over(w).alias("next_type"),
        F.first("event_type").over(w).alias("first_type"),
    )


@register(
    "w3_frames_running",
    oracle="""
    SELECT user_id, event_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) + 1e-9, 2)  AS moving_avg3
    FROM events
    """,
)
def w3_frames_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: rows-frame running sum + 3-row moving average."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w.rowsBetween(W.unboundedPreceding, 0)), 2).alias(
            "running_value"
        ),
        # +1e-9 nudges .005-grid averages off the round-half boundary,
        # where Spark (decimal HALF_UP) and DuckDB (binary) disagree
        F.round(F.avg("value").over(w.rowsBetween(-2, 0)) + 1e-9, 2).alias("moving_avg3"),
    )


@register(
    "g3_approx_distinct_tolerance",
    oracle="""
    SELECT l_returnflag, TRUE AS within_10pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def g3_approx_distinct_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: HLL approx-count-distinct. Different sketches can't
    hash-match across engines, so the graded check asserts the
    PROPERTY: Spark's approximation lands within 10% of Spark's exact
    count (oracle emits the expected TRUE per group).

    Plan note: deduplicate (flag, partkey) FIRST, then sketch + count
    the deduped rows. HLL is duplicate-insensitive, so the estimate is
    unchanged — but mixing countDistinct with another aggregate in one
    pass forces an Expand (every input row doubled); splitting the
    dedup out runs 2.6× faster at sf0.1 and the dedup's partial
    aggregation shrinks the shuffle to near-distinct cardinality."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_partkey")
        .dropDuplicates()
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("apx"),
            F.count("*").alias("exact"),
        )
        .select(
            "l_returnflag",
            ((F.col("apx") >= F.col("exact") * 0.9) & (F.col("apx") <= F.col("exact") * 1.1)).alias(
                "within_10pct"
            ),
        )
    )


@register(
    "g3b_hll_merge",
    oracle="""
    SELECT lang, TRUE AS merge_consistent_2pct, TRUE AS within_10pct
    FROM documents
    GROUP BY lang
    """,
)
def g3b_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: MERGEABLE distinct-count sketches (datasketches HLL) — the
    100 TB rollup pattern: sketch each shard once, store the binary
    sketch, union sketches later without rescanning the data. The
    graded check asserts two properties per lang group (oracle emits
    the expected TRUE pair):

      * MERGE CONSISTENCY: unioning per-(lang, source) sketches and
        unioning per-(lang, hash-bucket) sketches — two different
        shardings of the same rows — agree within 2% relative. NOT
        asserted bit-equal, and measured not to be: datasketches HLL
        shards below ~k distincts stay in sparse (exact-coupon) mode
        while bigger shards densify, so different groupings cross the
        mode boundary differently and the estimates drift by a
        fraction of the sketch's own error (max 0.9% measured at
        sf0.1, 0% at sf0.01 where everything stays sparse). The
        practical rollup contract is agreement within sketch error,
        and that is what is graded.
      * the merged estimate lands within 10% of the exact distinct.

    Same two-level shuffle as a partial+final aggregate, except the
    partial state is a fixed-size sketch (2^12 registers) instead of
    a distinct-values hash set — shuffle bytes are O(shards), not
    O(distincts)."""
    d = table(spark, sf_dir, "documents")
    merged_a = (
        d.groupBy("lang", "source")
        .agg(F.hll_sketch_agg(F.col("text"), F.lit(12)).alias("sk"))
        .groupBy("lang")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_a"))
    )
    merged_b = (
        d.groupBy("lang", (F.abs(F.hash("doc_id")) % 7).alias("bucket"))
        .agg(F.hll_sketch_agg(F.col("text"), F.lit(12)).alias("sk"))
        .groupBy("lang")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_b"))
    )
    exact = d.groupBy("lang").agg(F.countDistinct("text").alias("exact"))
    return (
        merged_a.join(merged_b, "lang")
        .join(exact, "lang")
        .select(
            "lang",
            (
                F.abs(F.col("est_a") - F.col("est_b"))
                <= F.col("exact") * 0.02
            ).alias("merge_consistent_2pct"),
            (
                (F.col("est_a") >= F.col("exact") * 0.9)
                & (F.col("est_a") <= F.col("exact") * 1.1)
            ).alias("within_10pct"),
        )
    )


@register(
    "g4_rollup",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL')  AS returnflag,
           COALESCE(l_linestatus, 'ALL')  AS linestatus,
           CAST(GROUPING(l_returnflag) + 2 * GROUPING(l_linestatus) AS BIGINT) AS gid,
           COUNT(*)                       AS n,
           ROUND(SUM(l_quantity), 2)      AS qty
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def g4_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4: rollup with grouping indicators (COALESCE pins the NULL
    subtotal rows so they can't collide with real NULL keys)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
            (F.grouping("l_returnflag") + F.lit(2) * F.grouping("l_linestatus"))
            .cast("long")
            .alias("gid"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid",
            "n",
            "qty",
        )
    )


@register(
    "g4b_cube",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL')   AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*)                         AS n
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def g4b_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4: cube — all 4 grouping-set combinations in one pass
    (Catalyst's Expand keeps it a single shuffle)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
        )
    )


@register(
    "g7_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(QUANTILE_CONT(l_quantity, 0.5), 2)   AS median_qty,
           ROUND(QUANTILE_CONT(l_quantity, 0.9), 2)   AS p90_qty,
           ROUND(STDDEV(l_extendedprice), 2)          AS sd_price,
           ROUND(VAR_SAMP(l_discount), 6)             AS var_disc,
           ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def g7_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7: exact percentiles (same linear interpolation in Spark and
    DuckDB) + sample stddev/variance + Pearson correlation."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 2).alias("median_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 2).alias("p90_qty"),
        F.round(F.stddev("l_extendedprice"), 2).alias("sd_price"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
    )


@register(
    "w4_distribution_funcs",
    oracle="""
    SELECT o_orderpriority, o_orderkey,
           ROUND(PERCENT_RANK() OVER w, 6)                          AS prank,
           ROUND(CUME_DIST() OVER w, 6)                             AS cdist,
           ROUND(NTH_VALUE(o_totalprice, 3) OVER
                 (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS third_price
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    QUALIFY PERCENT_RANK() OVER w <= 0.01
    """,
)
def w4_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 (cont.): distribution window functions — percent_rank,
    cume_dist, nth_value — top 1% of orders by price within each
    priority class. percent_rank = (rank-1)/(n-1): both engines divide
    identical integers, so the doubles match exactly; the 6dp round is
    cosmetic. nth_value uses the default running frame (null until the
    3rd row arrives)."""
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            # filter on the RAW value (as QUALIFY does) — filtering the
            # rounded alias would flip rows whose 7th decimal straddles
            # the 0.01 threshold
            F.percent_rank().over(w).alias("prank_raw"),
            F.round(F.cume_dist().over(w), 6).alias("cdist"),
            F.round(F.nth_value("o_totalprice", 3).over(w), 2).alias("third_price"),
        )
        .filter(F.col("prank_raw") <= 0.01)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round("prank_raw", 6).alias("prank"),
            "cdist",
            "third_price",
        )
    )


@register(
    "g4c_grouping_id",
    oracle="""
    SELECT COALESCE(o_orderstatus, '<all>') AS status,
           COALESCE(o_orderpriority, '<all>') AS priority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), ())
    """,
)
def g4c_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4c: grouping() disambiguation — COALESCE alone cannot tell a
    real NULL group from a rollup subtotal; grouping() flags which
    columns are aggregated away in each output row, composed here
    into the standard 2-bit grouping id. Without it, downstream
    consumers of a grouping-sets extract misread subtotal rows as a
    '<all>' category.

    Same single Expand + hash-agg plan as g4; the id is metadata the
    Expand already carries, so the flags are free."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            (
                F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")
            )
            .cast("bigint")
            .alias("gid"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "gid",
            "n",
        )
    )


@register(
    "w7_range_interval_frame",
    oracle="""
    SELECT user_id,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))) OVER w, 2) AS DOUBLE)
               AS v_7d,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_7d
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW)
    """,
)
def w7_range_interval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 extension: a time-RANGE frame — trailing 7-day (6×86400 s
    back through now, inclusive) sum/count per user per event. RANGE
    frames differ semantically from ROWS frames: the frame holds
    every row within the VALUE interval, so same-timestamp peers are
    always in or out together regardless of physical order — the only
    correct frame type for irregular event spacing (w3/w5/w6 are the
    ROWS-frame family). Ordering key is epoch seconds on both engines
    (Spark's rangeBetween needs a numeric key; DuckDB mirrors with
    epoch(ts)); the sum is DECIMAL so frame-internal add order cannot
    drift. One shuffle on user_id; frame evaluation is a per-partition
    sliding two-pointer — linear, no per-row rescans."""
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-6 * 86400, 0)
    )
    return ev.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")).over(w), 2)
        .cast("double")
        .alias("v_7d"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_7d"),
    )


@register(
    "w8_count_since_event",
    oracle="""
    WITH marked AS (
        SELECT user_id, event_id, event_type, ts,
               COUNT(*) FILTER (WHERE event_type = 'purchase')
                   OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchases_so_far
        FROM events
    )
    SELECT user_id, event_id,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           event_type,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id, purchases_so_far
                                   ORDER BY ts ASC, event_id ASC) AS BIGINT)
               - CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS n_since_purchase
    FROM marked
    """,
)
def w8_count_since_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: conditional-reset running count — "events since the user's
    last purchase", the session-less engagement feature. The reset is
    expressed with the gaps-and-islands trick: a running purchase
    count partitions each user's stream into islands, and a
    row_number within (user, island) is the since-last counter (the
    purchase itself reports 0 via the -1 correction).

    Scale shape: two stacked windows over the SAME (user) ordering —
    one Exchange, two Window nodes; no self-join, no recursion. The
    island partition key (user, purchases_so_far) is a refinement of the
    first, so no second shuffle is needed — Catalyst sees the
    child ordering satisfies it."""
    e = table(spark, sf_dir, "events")
    w_user = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    marked = e.withColumn(
        "purchases_so_far",
        F.count(F.when(F.col("event_type") == "purchase", 1)).over(
            w_user.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    w_island = W.partitionBy("user_id", "purchases_so_far").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return marked.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "event_type",
        (
            F.row_number().over(w_island).cast("long")
            - F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("n_since_purchase"),
    )


@register(
    "g11_weighted_median",
    oracle="""
    WITH w AS (
        SELECT l_returnflag,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(l_quantity AS BIGINT)                   AS qty,
               SUM(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY CAST(ROUND(l_extendedprice * 100) AS BIGINT) ASC,
                            l_orderkey ASC, l_linenumber ASC
                   ROWS UNBOUNDED PRECEDING)                AS cumw,
               SUM(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_returnflag)               AS totw
        FROM lineitem
    )
    SELECT l_returnflag,
           ROUND(MIN(CASE WHEN 2 * cumw >= totw THEN cents END) / 100.0, 2) AS weighted_median,
           CAST(MAX(totw) AS BIGINT) AS total_weight
    FROM w
    GROUP BY l_returnflag
    """,
)
def g11_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G11: weighted median — the smallest price whose cumulative
    quantity weight reaches half the group's total (quantity-weighted
    order statistic, what "median price paid" actually means when line
    items carry different volumes). Integer cents + integer weights ⇒
    the crossing test 2·cumw ≥ totw is exact on both engines; the tie
    order (cents, pk) is total, so the cumulative sums agree row for
    row.

    Scale shape (r4 — the r3 shape was a measured trap): the fact
    reduces to one row per DISTINCT (flag, cents) first, but distinct
    cents of a continuous price are NOT bounded — the r4 runtime
    waiver audit measured 594k distinct rows at sf0.1 (~the whole
    fact; the cents domain is ~10.4M values, so the per-flag window
    walked fact-sized frames in 3 tasks). The cumulative weight now
    comes from `bucketed_prefix_sum` over 32768-cent price bands:
    per-(flag, band) weight sums (tiny agg), running band offsets
    (window over <=321 bucket rows per flag), per-(flag, band) local
    cumsum — each window partition is bounded by construction at
    32768 distinct cents regardless of data size. Exactness is
    preserved because the crossing cents c* = min{c : 2*cum(<=c) >=
    tot} is identical whether cum is accumulated per row or per
    distinct value."""
    from meepo_spark.operators.enumeration import bucketed_prefix_sum

    l = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    # optimization r11: bucketed_prefix_sum references its input
    # three ways (bucket sums, the local-cumsum join side, the totals
    # pass) — the before-plan re-ran the fact scan+distinct aggregate
    # 6 times. The value-grain reduction is the shared session-cached
    # histogram (fact_hist — saturates at the cents domain, the dq10
    # posture), so every reference reads the cache.
    from meepo_spark.queries.fact_hist import lineitem_cents_hist

    per_value = lineitem_cents_hist(spark, sf_dir).select(
        "l_returnflag", "cents", F.col("qty").alias("w")
    )
    marked = bucketed_prefix_sum(
        per_value,
        bucket=F.floor(F.col("cents") / 32768),
        order_cols=[F.col("cents").asc()],
        vals={"cumw": "w"},
        part_cols=["l_returnflag"],
        frame_end=0,
        totals=True,
    ).withColumnRenamed("cumw_tot", "totw")
    return marked.groupBy("l_returnflag").agg(
        F.round(
            F.min(F.when(2 * F.col("cumw") >= F.col("totw"), F.col("cents"))) / 100.0, 2
        ).alias("weighted_median"),
        F.max("totw").alias("total_weight"),
    )


@register(
    "g12_mad",
    oracle="""
    WITH cents AS (
        SELECT l_returnflag, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
        FROM lineitem
    ),
    med AS (
        SELECT l_returnflag, quantile_cont(c, 0.5) AS m
        FROM cents GROUP BY l_returnflag
    ),
    dev AS (
        SELECT t.l_returnflag, ABS(t.c - d.m) AS ad
        FROM cents t JOIN med d USING (l_returnflag)
    )
    SELECT v.l_returnflag,
           ROUND(d.m / 100.0, 2)                         AS median_price,
           ROUND(quantile_cont(v.ad, 0.5) / 100.0, 2)    AS mad_price,
           COUNT(*)                                       AS n
    FROM dev v JOIN med d USING (l_returnflag)
    GROUP BY v.l_returnflag, d.m
    """,
)
def g12_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G12: median absolute deviation — the robust dispersion measure
    (50% breakdown point vs variance's 0%): MAD = median(|x − median|)
    per group. Absolute deviations are exact k or k+0.5 doubles
    (binary-exact), so the second interpolation agrees bit-for-bit
    across engines.

    REWORKED r10 (VERDICT r9 #1/#3): ZERO `F.percentile` value-map
    merges, and exactly TWO distributed rounds for BOTH medians —
    `exact_median_mad` (operators/quantiles.py) pins the deviation
    rank-crossing region from the first bucket census via interval
    arithmetic (the census bounds the median to one bucket), so the
    median refine and the deviation refine collapse into one combined
    fetch. No shuffle anywhere is wider than the census grid, at any
    corpus size."""
    from meepo_spark.operators.quantiles import exact_median_mad
    from meepo_spark.queries.fact_hist import lineitem_cents_hist

    # optimization r11: both rounds read the shared session-cached
    # (flag, cents) histogram through the operator's weight path
    # (property-tested == the expanded multiset) instead of scanning
    # the fact twice per invocation.
    h = lineitem_cents_hist(spark, sf_dir).select(
        "l_returnflag", F.col("cents").alias("c"), "n"
    )
    mm = exact_median_mad(h, ["l_returnflag"], "c", weight="n")
    return mm.select(
        "l_returnflag",
        F.round(F.col("m") / 100.0, 2).alias("median_price"),
        F.round(F.col("mad") / 100.0, 2).alias("mad_price"),
        "n",
    ).orderBy("l_returnflag")


@register(
    "g13_entropy",
    oracle="""
    WITH counts AS (
        SELECT user_id, event_type, COUNT(*) AS n
        FROM events GROUP BY user_id, event_type
    ),
    tot AS (
        SELECT user_id, n, SUM(n) OVER (PARTITION BY user_id) AS t
        FROM counts
    )
    SELECT user_id,
           CAST(MAX(t) AS BIGINT)                                    AS n_events,
           COUNT(*)                                                  AS n_types,
           ROUND(-SUM((n * 1.0 / t) * LN(n * 1.0 / t)) + 1e-9, 4)    AS entropy_nats
    FROM tot
    GROUP BY user_id
    """,
)
def g13_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G13: Shannon entropy of each user's event-type distribution —
    the behavioral-diversity feature (0 = monomaniac, ln(5) ≈ 1.609 =
    uniform over the 5 types). Two stacked aggregates over integer
    counts; ln() of identical integer ratios is the only float op, and
    the ≤5-term sum rounds at 4dp far above ulp noise.

    The same shape computes any f-divergence profile (KL vs the
    global distribution, Gini impurity) — swap the summand."""
    e = table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.withColumn(
        "t", F.sum("n").over(W.partitionBy("user_id"))
    )
    p = F.col("n") * 1.0 / F.col("t")
    return tot.groupBy("user_id").agg(
        F.max("t").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(-F.sum(p * F.log(p)) + F.lit(1e-9), 4).alias("entropy_nats"),
    )


@register(
    "w9_numeric_range_frame",
    oracle="""
    SELECT c_mktsegment, c_custkey,
           ROUND(c_acctbal, 2) AS acctbal,
           CAST(COUNT(*) OVER w - 1 AS BIGINT)                    AS n_peers_within_500,
           ROUND(AVG(c_acctbal) OVER w + 1e-9, 2)                 AS peer_avg
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC
                 RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING)
    """,
)
def w9_numeric_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9: VALUE-range window frame on a numeric key (w7 covers the
    time-interval flavor) — each customer's peer group is everyone in
    the segment within ±500 of their balance, regardless of row
    distance: the 'similar accounts' aggregation a ROWS frame cannot
    express when values cluster unevenly. RANGE frames need no
    distinct-value bucketing or self-join — the sorted partition is
    scanned once with two moving frame pointers.

    peer_avg sums doubles over a value-dependent frame; both engines
    accumulate the same ordered run, and 2dp rounding with the 1e-9
    nudge absorbs the half-boundary cases."""
    c = table(spark, sf_dir, "customer")
    w = (
        W.partitionBy("c_mktsegment")
        .orderBy(F.col("c_acctbal").asc())
        .rangeBetween(-500, 500)
    )
    return c.select(
        "c_mktsegment",
        "c_custkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        (F.count(F.lit(1)).over(w) - 1).cast("long").alias("n_peers_within_500"),
        F.round(F.avg("c_acctbal").over(w) + F.lit(1e-9), 2).alias("peer_avg"),
    )

@register(
    "g15_decayed_engagement",
    oracle="""
    WITH scored AS (
        SELECT event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               CAST(date_diff('day', CAST(ts AS DATE), DATE '2024-02-01')
                    AS INT) // 7 AS age_weeks
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents >> LEAST(GREATEST(age_weeks, 0), 62)) AS BIGINT)
               AS decayed_cents,
           CAST(SUM(cents) AS BIGINT) AS raw_cents
    FROM scored GROUP BY event_type
    """,
)
def g15_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G15: time-decayed engagement counters — each event's value is
    halved per week of age (as of a fixed 2024-02-01 reference date),
    the trending/feature-store primitive that keeps recent behavior
    dominant without ever rescanning history. The decay ladder is
    INTEGER: value in cents right-shifted by whole weeks of age, so
    the aggregate is exact, mergeable, and engine-portable — no
    exp()/pow() libm ulp drift, no float sum-order dependence (the
    standard e^-λt form trades all three for smoothness; the shift
    ladder is what you deploy when counters must reconcile exactly
    across shards and replays).

    Scale shape: pure map-side projection (date math + shift) feeding
    one partial+final aggregate — the cheapest full-history screen;
    incremental maintenance is one shift per week boundary. Shift
    clamped to [0, 62] on BOTH engines (ADVICE r3 #1): 62 keeps the
    shift in BIGINT range at any age, and the 0 floor makes a
    future-dated event decay-free instead of diverging — Spark's
    shiftright masks a negative amount mod 64 while DuckDB's >> does
    not, and the unclamped halves also disagreed on floor-vs-truncate
    division of negative ages."""
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    age_weeks = (
        F.datediff(F.lit("2024-02-01").cast("date"), F.to_date("ts")) / 7
    ).cast("int")
    scored = e.select(
        "event_type",
        cents.alias("cents"),
        F.greatest(F.least(age_weeks, F.lit(62)), F.lit(0)).alias("w"),
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        # SQL-level shiftright: the Python builder only accepts a
        # literal shift amount
        F.sum(F.expr("shiftright(cents, w)")).alias("decayed_cents"),
        F.sum("cents").alias("raw_cents"),
    )

@register(
    "g16_heavy_changers",
    oracle="""
    WITH w1 AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n1
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
        GROUP BY user_id
    ),
    w2 AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n2
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-22'
        GROUP BY user_id
    ),
    joined AS (
        SELECT COALESCE(w1.user_id, w2.user_id) AS user_id,
               COALESCE(n1, 0) AS n1, COALESCE(n2, 0) AS n2
        FROM w1 FULL OUTER JOIN w2 ON w1.user_id = w2.user_id
    )
    SELECT user_id, n1, n2, n2 - n1 AS delta
    FROM joined
    WHERE ABS(n2 - n1) >= 8
    """,
)
def g16_heavy_changers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G16: period-over-period heavy changers — users whose weekly
    event count moved by >= 8 between two adjacent weeks, including
    appearances (n1=0) and disappearances (n2=0) via the full outer
    join. The ops/abuse diagnostic behind 'who changed behavior the
    most': churn candidates, bot onsets, incident blast radii.

    Scale shape: each week reduces to a per-user count BEFORE the
    join (map-side combine; the join input is |active users|, not
    |events|), the two week scans are partition-prunable date
    predicates, and the join is keyed on user_id — high cardinality,
    AQE-coalesced. The absolute-delta gate is exact integers."""
    e = table(spark, sf_dir, "events")

    def week(lo: str, hi: str, out: str) -> DataFrame:
        return (
            e.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias(out))
        )

    w1 = week("2024-01-08", "2024-01-15", "n1")
    w2 = week("2024-01-15", "2024-01-22", "n2")
    joined = w1.join(w2, "user_id", "full_outer").select(
        "user_id",
        F.coalesce("n1", F.lit(0)).alias("n1"),
        F.coalesce("n2", F.lit(0)).alias("n2"),
    )
    return joined.select(
        "user_id", "n1", "n2", (F.col("n2") - F.col("n1")).alias("delta")
    ).filter(F.abs(F.col("delta")) >= 8)


@register(
    "g18_higher_moments",
    oracle="""
    WITH d AS (
        SELECT l_returnflag,
               CAST(CAST(FLOOR(l_extendedprice) AS BIGINT) AS HUGEINT) AS x
        FROM lineitem
    ),
    s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE)       AS n,
               CAST(SUM(x) AS DOUBLE)         AS s1,
               CAST(SUM(x*x) AS DOUBLE)       AS s2,
               CAST(SUM(x*x*x) AS DOUBLE)     AS s3,
               CAST(SUM(x*x*x*x) AS DOUBLE)   AS s4
        FROM d GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           ROUND(((s3/n) - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n))
                 / (((s2/n) - (s1/n)*(s1/n))
                    * SQRT((s2/n) - (s1/n)*(s1/n))) + 1e-9, 6) + 0.0 AS skewness_r,
           ROUND(((s4/n) - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n)
                  - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n))
                 / (((s2/n) - (s1/n)*(s1/n)) * ((s2/n) - (s1/n)*(s1/n)))
                 - 3 + 1e-9, 6) + 0.0 AS excess_kurtosis_r
    FROM s ORDER BY l_returnflag
    """,
)
def g18_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G18: population skewness and excess kurtosis per return flag —
    from EXACT integer raw moments, not the builtin aggregates
    (Spark's skewness/kurtosis and DuckDB's use different bias
    corrections, and their streaming update orders make float sums
    engine-dependent). Whole dollars keep x^4 sums inside
    DECIMAL(38)/HUGEINT; the central-moment combination then runs as
    scalar double arithmetic on identical exact inputs, with all
    powers expanded to products (no libm pow — only sqrt, which is
    IEEE-correctly-rounded on both engines).

    Scale shape: one partial+final hash aggregate over the fact —
    raw moments are the textbook mergeable statistic (this is exactly
    how a 1000-executor cluster computes skew: per-partition moment
    vectors, one combine)."""
    x = F.floor(F.col("l_extendedprice")).cast("decimal(9,0)")
    d = table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        x.alias("x"),
        (x * x).alias("x2"),
        (x * x * x).alias("x3"),
        (x * x * x * x).alias("x4"),
    )
    s = d.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum("x3").cast("double").alias("s3"),
        F.sum("x4").cast("double").alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = s3 / n - 3 * mean * (s2 / n) + 2 * mean * mean * mean
    m4 = (
        s4 / n
        - 4 * mean * (s3 / n)
        + 6 * mean * mean * (s2 / n)
        - 3 * mean * mean * mean * mean
    )
    return s.select(
        "l_returnflag",
        n.cast("long").alias("n"),
        (F.round(m3 / (m2 * F.sqrt(m2)) + 1e-9, 6) + 0.0).alias("skewness_r"),
        (F.round(m4 / (m2 * m2) - 3 + 1e-9, 6) + 0.0).alias("excess_kurtosis_r"),
    ).orderBy("l_returnflag")


@register(
    "g19_correlation_matrix",
    oracle="""
    WITH d AS (
        SELECT CAST(CAST(l_quantity AS BIGINT) AS HUGEINT)                 AS q,
               CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS HUGEINT) AS p,
               CAST(CAST(ROUND(l_discount * 100) AS BIGINT) AS HUGEINT)    AS c,
               CAST(CAST(ROUND(l_tax * 100) AS BIGINT) AS HUGEINT)         AS t
        FROM lineitem
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(q) AS DOUBLE) AS sq,  CAST(SUM(p) AS DOUBLE) AS sp,
               CAST(SUM(c) AS DOUBLE) AS sc,  CAST(SUM(t) AS DOUBLE) AS st,
               CAST(SUM(q*q) AS DOUBLE) AS sqq, CAST(SUM(p*p) AS DOUBLE) AS spp,
               CAST(SUM(c*c) AS DOUBLE) AS scc, CAST(SUM(t*t) AS DOUBLE) AS stt,
               CAST(SUM(q*p) AS DOUBLE) AS sqp, CAST(SUM(q*c) AS DOUBLE) AS sqc,
               CAST(SUM(q*t) AS DOUBLE) AS sqt, CAST(SUM(p*c) AS DOUBLE) AS spc,
               CAST(SUM(p*t) AS DOUBLE) AS spt, CAST(SUM(c*t) AS DOUBLE) AS sct
        FROM d
    )
    SELECT var_a, var_b,
           ROUND((n*sab - sa*sb)
                 / (SQRT(n*saa - sa*sa) * SQRT(n*sbb - sb*sb)) + 1e-9, 6) + 0.0
               AS corr_r
    FROM (
        SELECT 'quantity' AS var_a, 'price' AS var_b,
               n, sq AS sa, sp AS sb, sqq AS saa, spp AS sbb, sqp AS sab FROM s
        UNION ALL SELECT 'quantity', 'discount', n, sq, sc, sqq, scc, sqc FROM s
        UNION ALL SELECT 'quantity', 'tax',      n, sq, st, sqq, stt, sqt FROM s
        UNION ALL SELECT 'price',    'discount', n, sp, sc, spp, scc, spc FROM s
        UNION ALL SELECT 'price',    'tax',      n, sp, st, spp, stt, spt FROM s
        UNION ALL SELECT 'discount', 'tax',      n, sc, st, scc, stt, sct FROM s
    ) ORDER BY var_a, var_b
    """,
)
def g19_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G19: the pairwise Pearson correlation matrix of the four fact
    measures, in ONE aggregate pass — 14 exact integer sums (counts,
    4 first moments, 10 second moments in DECIMAL/HUGEINT), then each
    of the 6 pair correlations is scalar double arithmetic over those
    exact sums (sqrt only — IEEE-identical both engines; builtin
    corr() streams floats in engine-specific order). The one-pass
    moment-matrix shape is how feature-correlation screens run at
    100 TB: shuffle carries 14 numbers, not the fact."""
    q = F.col("l_quantity").cast("decimal(9,0)")
    p = F.round(F.col("l_extendedprice") * 100).cast("decimal(9,0)")
    c = F.round(F.col("l_discount") * 100).cast("decimal(9,0)")
    t = F.round(F.col("l_tax") * 100).cast("decimal(9,0)")
    d = table(spark, sf_dir, "lineitem").select(
        q.alias("q"), p.alias("p"), c.alias("c"), t.alias("t"),
        (q * q).alias("qq"), (p * p).alias("pp"),
        (c * c).alias("cc"), (t * t).alias("tt"),
        (q * p).alias("qp"), (q * c).alias("qc"), (q * t).alias("qt"),
        (p * c).alias("pc"), (p * t).alias("pt"), (c * t).alias("ct"),
    )
    s = d.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        *[F.sum(col).cast("double").alias("s" + col)
          for col in ("q", "p", "c", "t", "qq", "pp", "cc", "tt",
                      "qp", "qc", "qt", "pc", "pt", "ct")],
    )
    names = {"q": "quantity", "p": "price", "c": "discount", "t": "tax"}
    pairs = [("q", "p"), ("q", "c"), ("q", "t"), ("p", "c"), ("p", "t"), ("c", "t")]

    def corr(a: str, b: str):
        n = F.col("n")
        sa, sb = F.col("s" + a), F.col("s" + b)
        saa, sbb = F.col("s" + a + a), F.col("s" + b + b)
        sab = F.col("s" + a + b)
        return (
            F.round(
                (n * sab - sa * sb)
                / (F.sqrt(n * saa - sa * sa) * F.sqrt(n * sbb - sb * sb))
                + 1e-9,
                6,
            )
            + 0.0
        )

    rows = F.array(
        *[
            F.struct(
                F.lit(names[a]).alias("var_a"),
                F.lit(names[b]).alias("var_b"),
                corr(a, b).alias("corr_r"),
            )
            for a, b in pairs
        ]
    )
    return (
        s.select(F.explode(rows).alias("r"))
        .select("r.var_a", "r.var_b", "r.corr_r")
        .orderBy("var_a", "var_b")
    )


@register(
    "g20_bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_bitmap,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_merged
    FROM events GROUP BY event_type
    """,
)
def g20_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G20: EXACT distinct counting via roaring-style bitmap
    aggregates — the third point on the distinct-count spectrum after
    plain COUNT DISTINCT (exact, shuffles the value set) and HLL
    (g3/g3b: mergeable but approximate): bitmaps are exact AND
    mergeable. Each (group, 2^15-value bucket) partial-aggregates to
    one bitmap (map-side combinable), bucket bitmaps merge by
    summation of popcounts — and, to prove the MERGE operator, the
    same rows sharded a second way (user_id parity) re-merge through
    bitmap_or_agg to the identical count. Oracle = plain COUNT
    DISTINCT twice: an exact method needs no tolerance row.

    At 100 TB this is the dashboard-grade exact-uniques shape: state
    is O(buckets·bitmap), not O(distincts), and pre-aggregated
    bitmaps persist and re-merge across days without rescanning."""
    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    per_bucket = (
        ev.selectExpr(
            "event_type",
            "bitmap_bucket_number(user_id) AS bkt",
            "bitmap_bit_position(user_id) AS pos",
        )
        .groupBy("event_type", "bkt")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    direct = per_bucket.groupBy("event_type").agg(
        F.expr("sum(bitmap_count(bm))").cast("long").alias("n_users_bitmap")
    )
    # second sharding: (type, bucket, parity) bitmaps OR-merged back
    resharded = (
        ev.selectExpr(
            "event_type",
            "bitmap_bucket_number(user_id) AS bkt",
            "bitmap_bit_position(user_id) AS pos",
            "user_id % 2 AS shard",
        )
        .groupBy("event_type", "bkt", "shard")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
        .groupBy("event_type", "bkt")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .groupBy("event_type")
        .agg(F.expr("sum(bitmap_count(bm))").cast("long").alias("n_users_merged"))
    )
    return direct.join(resharded, "event_type")


@register(
    "g21_join_skew_f2",
    oracle="""
    WITH c AS (
        SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY event_type, user_id
    )
    SELECT event_type,
           CAST(SUM(n) AS BIGINT)          AS n_rows,
           CAST(COUNT(*) AS BIGINT)        AS n_keys,
           CAST(SUM(n * n) AS DECIMAL(38,0)) AS f2,
           CAST(MAX(n) AS BIGINT)          AS max_key,
           ROUND(SUM(n * n) * 1.0 / (SUM(n) * SUM(n) / COUNT(*)) + 1e-9, 4)
               + 0.0 AS skew_ratio
    FROM c GROUP BY event_type
    """,
)
def g21_join_skew_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G21: second frequency moment (F2) of the join-key distribution
    per event type — F2 = Σ count(key)² IS the self-join output size,
    so this one aggregate answers 'will joining/grouping on user_id
    skew?' before the join runs: skew_ratio = F2 / (uniform F2) is
    1.0 for perfectly even keys and grows with the hottest keys
    (max_key pinpoints the salting candidates — j11's input
    decision). Two stacked hash aggregates, both map-side combined;
    exact integers, one rounded ratio of exact integers. At 100 TB
    this is the cheap planning probe run before choosing broadcast /
    salt / AQE-skew strategies."""
    c = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # DECIMAL intermediates AND output (code-review r4c #2 + ADVICE
    # r4): long n*n and sum(n)^2 wrap past ~3e9 rows per key/type —
    # exactly the scale this probe exists for; DuckDB auto-promotes
    # to HUGEINT, Spark needs the explicit decimal. f2 is EMITTED as
    # decimal(38,0) too (a BIGINT output column would silently-NULL
    # at the same scale the intermediate was widened for; oracle
    # mirrors with HUGEINT→DECIMAL(38,0)). The ratio divides the
    # exact decimals once in double.
    nd = F.col("n").cast("decimal(19,0)")
    return c.groupBy("event_type").agg(
        F.sum("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(nd * nd).cast("decimal(38,0)").alias("f2"),
        F.max("n").alias("max_key"),
        (
            F.round(
                F.sum(nd * nd).cast("double")
                / (
                    (
                        F.sum("n").cast("decimal(19,0)")
                        * F.sum("n").cast("decimal(19,0)")
                    ).cast("double")
                    / F.count(F.lit(1))
                )
                + 1e-9,
                4,
            )
            + 0.0
        ).alias("skew_ratio"),
    )


@register(
    "w10_ignore_nulls_family",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(ROUND(value * 100) AS BIGINT) END AS purch_cents
        FROM events WHERE user_id < 40
    )
    SELECT user_id, event_id,
           last_value(purch_cents IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS UNBOUNDED PRECEDING)                    AS last_purchase,
           first_value(purch_cents IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                                                            AS first_purchase,
           nth_value(purch_cents, 2 IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                                                            AS second_purchase
    FROM e
    """,
)
def w10_ignore_nulls_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10: the IGNORE NULLS window family — last_value (the
    forward-fill / last-observation-carried-forward primitive t8's
    gap fill builds on), first_value, and nth_value over a sparse
    measure (purchase cents, NULL on every other event type). The
    null-skipping variants are what make windows usable on sparse
    event attributes without pre-filtering away the timeline rows.
    Per-user partitions (high-cardinality), exact integer cents, µs
    + event_id total order."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id") < 40).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100).cast("long"),
        ).alias("purch_cents"),
    )
    wo = W.partitionBy("user_id").orderBy("us", "event_id")
    run = wo.rowsBetween(W.unboundedPreceding, W.currentRow)
    full = wo.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return e.select(
        "user_id",
        "event_id",
        F.last("purch_cents", ignorenulls=True).over(run).alias("last_purchase"),
        F.first("purch_cents", ignorenulls=True).over(full).alias("first_purchase"),
        F.nth_value("purch_cents", 2, ignoreNulls=True)
        .over(full)
        .alias("second_purchase"),
    )


@register(
    "g25_gini_revenue",
    oracle="""
    WITH spend AS (
        SELECT c.c_custkey, c.c_nationkey,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT c_nationkey, cents,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                  ORDER BY cents ASC, c_custkey ASC) AS i
        FROM spend
    ),
    agg AS (
        SELECT c_nationkey,
               CAST(COUNT(*) AS BIGINT)               AS n,
               CAST(SUM(cents) AS BIGINT)             AS s0,
               CAST(SUM(i * cents) AS DECIMAL(38,0))  AS s1
        FROM ranked GROUP BY c_nationkey
    )
    SELECT n_name,
           n,
           s0 AS total_cents,
           ROUND((2.0 * CAST(s1 AS DOUBLE)) / (n * 1.0 * s0)
                 - (n + 1.0) / n, 6) + 0.0
               AS gini
    FROM agg JOIN nation ON c_nationkey = n_nationkey
    """,
)
def g25_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G25: Gini coefficient of customer spend per nation — the
    inequality metric every marketplace/revenue dashboard carries,
    computed EXACTLY from the rank identity
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n with ranks ascending by
    (spend, custkey). All sums are exact integers; the rank product
    s1 is widened to DECIMAL(38,0) (ADVICE r5: per-nation n ≈
    6000·SF and avg spend ≈ 1.5e8 cents put s1 ≈ 2.7e15·SF², past
    2^63 near SF≈60 — BIGINT would ANSI-crash there while DuckDB
    auto-promotes to HUGEINT; the g21 f2 fix, mirrored). The one
    division happens per output row in double. The enumeration uses the bucketed discipline
    (operators/enumeration.bucketed_row_number, bucket =
    cents >> 16): a plain per-nation window would sort each nation's
    full customer dimension in one task — the r3 class of
    single-task-sort the window audit exists to prevent. Ties on
    cents share a bucket by construction (floor of the ORDER key)."""
    from meepo_spark.operators.enumeration import bucketed_row_number

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    spend = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    ranked = bucketed_row_number(
        spend,
        F.shiftright("cents", 16),
        [F.col("cents").asc(), F.col("c_custkey").asc()],
        part_cols=("c_nationkey",),
        out="i",
    )
    agg = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("s0"),
        F.sum(
            F.col("i").cast("decimal(19,0)") * F.col("cents").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("s1"),
    )
    return agg.join(F.broadcast(n), agg["c_nationkey"] == n["n_nationkey"]).select(  # bcast: fixed (nation)
        "n_name",
        "n",
        F.col("s0").alias("total_cents"),
        (
            F.round(
                (2.0 * F.col("s1").cast("double"))
                / (F.col("n") * 1.0 * F.col("s0"))
                - (F.col("n") + 1.0) / F.col("n"),
                6,
            )
            + 0.0
        ).alias("gini"),
    )


@register(
    "g26_hll_intersection",
    oracle="""
    WITH u AS (
        SELECT event_type, user_id FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.event_type AS t1, b.event_type AS t2,
               CAST(COUNT(*) AS BIGINT) AS exact_both
        FROM u a JOIN u b ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT t1, t2, exact_both, TRUE AS est_within_20pct
    FROM pairs
    """,
)
def g26_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G26: audience-overlap estimation by SKETCH COMPOSITION — the
    inclusion–exclusion identity |A∩B| = |A| + |B| − |A∪B| evaluated
    on three HLL estimates per event-type pair (the union sketch is
    just the distinct count over the concatenated membership rows; on
    a real deployment the three sketches arrive pre-aggregated and
    merge without touching raw data — the whole point of mergeable
    state, g3b). Sketches can't hash-match across engines, so the
    graded check asserts the PROPERTY, g3-style: the composed
    estimate lands within 20% of the EXACT intersection (computed in
    the same query; intersections inherit roughly the sum of the
    three sketches' errors, hence the wider band than g3's 10%). The
    exact side also grades absolutely: per-pair overlap counts are
    hash-compared against the oracle's self-join. Scale: membership
    dedup is one (type, user) aggregate; the pair frame is
    |types|² × users joined on user — bounded per-key multiplicity
    (≤ |types|); the HLL side never shuffles raw users at all."""
    e = table(spark, sf_dir, "events")
    u = e.select("event_type", "user_id").dropDuplicates()
    a = u.select(F.col("event_type").alias("t1"), "user_id")
    b = u.select(F.col("event_type").alias("t2"), "user_id")
    exact = (
        a.join(b, "user_id")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("exact_both"))
    )
    per_type = u.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("apx")
    )
    # the type sets are hinted: left to size estimates, AQE sometimes
    # broadcast the (type, user) side of these nested-loop joins instead
    union_apx = (
        a.join(F.broadcast(b.select("t2").distinct()), F.col("t1") < F.col("t2"))  # bcast: fixed (event-type set)
        .select("t1", "t2", "user_id")
        .unionByName(
            b.join(F.broadcast(a.select("t1").distinct()), F.col("t1") < F.col("t2")).select(  # bcast: fixed (event-type set)
                "t1", "t2", "user_id"
            )
        )
        .groupBy("t1", "t2")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("apx_union"))
    )
    est = (
        exact.join(
            F.broadcast(per_type.select(F.col("event_type").alias("t1"), F.col("apx").alias("a1"))),  # bcast: fixed (per-event-type sketch)
            "t1",
        )
        .join(
            F.broadcast(per_type.select(F.col("event_type").alias("t2"), F.col("apx").alias("a2"))),  # bcast: fixed (per-event-type sketch)
            "t2",
        )
        .join(union_apx, ["t1", "t2"])
        .withColumn("est_both", F.col("a1") + F.col("a2") - F.col("apx_union"))
    )
    # The composed estimate's absolute error scales with the AUDIENCE
    # sizes (three rsd=0.02 sketches -> ~6% of |A|+|B| worst case),
    # not with the intersection — a low-overlap pair would flake a
    # purely relative gate (code-review r5d). Band = 20% relative OR
    # the sketch-theoretic additive budget, whichever is wider.
    budget = F.greatest(
        F.col("exact_both") * 0.2, (F.col("a1") + F.col("a2")) * 0.08
    )
    return est.select(
        "t1",
        "t2",
        F.col("exact_both").cast("long").alias("exact_both"),
        (
            F.abs(F.col("est_both") - F.col("exact_both")) <= budget
        ).alias("est_within_20pct"),
    )


@register(
    "g27_approx_percentile_tolerance",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT),
                               0.50) / 100.0, 2) AS p50_exact,
           ROUND(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT),
                               0.95) / 100.0, 2) AS p95_exact,
           ROUND(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT),
                               0.99) / 100.0, 2) AS p99_exact,
           TRUE AS p50_in_band, TRUE AS p95_in_band, TRUE AS p99_in_band
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def g27_approx_percentile_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G27: the mergeable quantile sketch (Greenwald–Khanna via
    ``percentile_approx``, accuracy 10000) graded with the g3
    tolerance pattern — completing the sketch census (HLL g3/g26,
    count-min g9, bloom j12, minhash l2/l49, bitmap g8/g20): the
    estimate must land between the EXACT interpolated percentiles at
    q ± 0.005, a 50× margin over the sketch's 1e-4 rank guarantee,
    and the exact p50/p95/p99 themselves hash-match the oracle (the
    v4 integer-cents discipline). GK is deterministic (no RNG), so
    the booleans are stable run to run.

    Scale shape (optimization r10): the GK sketch + count is ONE
    aggregation pass (map-side partial at O(1/ε · log εn)); the
    exact probe values now come from `operators/quantiles.py`'s
    two-phase bucket-refined census instead of `F.percentile` — the
    per-task value→count map whose single-reducer merge the repo's
    own dq10 analysis calls an OOM at 100 TB on near-unique cents
    (VERDICT r9 #3's last surviving instance). The helper bit-matches
    F.percentile (property-tested), so the hash-pinned exact columns
    and in-band booleans are unchanged; the ≤|flags|-row exact frame
    broadcast-joins the sketch aggregate."""
    from meepo_spark.operators.quantiles import exact_quantiles_cdf

    li = table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    base = li.select("l_returnflag", cents.alias("cents"))
    qs = [0.50, 0.95, 0.99]
    eps = 0.005
    probe = [x for q in qs for x in (q, q - eps, q + eps)]
    from meepo_spark.queries.fact_hist import lineitem_cents_hist

    # r11: the exact probes read the shared session-cached histogram
    # (weight path); the GK sketch below still scans raw rows — the
    # sketch over the row stream IS the graded surface.
    ex = exact_quantiles_cdf(
        lineitem_cents_hist(spark, sf_dir),
        ["l_returnflag"],
        "cents",
        {f"ex{i}": p for i, p in enumerate(probe)},
        weight="n",
    ).drop("n")
    agg = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx(
            "cents", F.array(*[F.lit(q) for q in qs]), F.lit(10000)
        ).alias("apx"),
    ).join(F.broadcast(ex), "l_returnflag")  # bcast: fixed (<=|flags| rows)
    cols = [F.col("l_returnflag"), F.col("n")]
    for i, q in enumerate(qs):
        tag = f"p{int(q * 100)}"
        cols.append(
            F.round(F.col(f"ex{3 * i}") / 100.0, 2).alias(f"{tag}_exact")
        )
    for i, q in enumerate(qs):
        tag = f"p{int(q * 100)}"
        cols.append(
            (
                (F.col("apx")[i] >= F.col(f"ex{3 * i + 1}"))
                & (F.col("apx")[i] <= F.col(f"ex{3 * i + 2}"))
            ).alias(f"{tag}_in_band")
        )
    return agg.select(*cols).orderBy("l_returnflag")


@register(
    "w11_distribution_windows",
    oracle="""
    WITH w AS (
        SELECT cents,
               percent_rank() OVER win                 AS pr,
               cume_dist()    OVER win                 AS cd,
               ntile(4)       OVER win                 AS nt,
               nth_value(cents, 2) OVER winf           AS second_cents
        FROM (SELECT l_orderkey, l_linenumber,
                     CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
              FROM lineitem)
        WINDOW win AS (PARTITION BY l_orderkey
                       ORDER BY cents, l_linenumber),
               winf AS (PARTITION BY l_orderkey
                        ORDER BY cents, l_linenumber
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND UNBOUNDED FOLLOWING)
    )
    SELECT CAST(nt AS BIGINT)                          AS quartile,
           CAST(COUNT(*) AS BIGINT)                    AS n,
           ROUND(AVG(pr) + 1e-9, 4)                    AS avg_pr,
           ROUND(AVG(cd) + 1e-9, 4)                    AS avg_cd,
           CAST(SUM(CASE WHEN cents = second_cents THEN 1 ELSE 0 END)
                AS BIGINT)                             AS n_at_second_price
    FROM w GROUP BY nt
    """,
)
def w11_distribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11: the distribution window-function family graded in one pass
    — percent_rank, cume_dist, ntile(4), and nth_value over an
    explicit full frame, all PARTITION BY l_orderkey (high-cardinality
    partitions: ~4 rows each, the shape where per-partition window
    sorts are embarrassingly parallel — never the tiny-key/global
    class the window audit bans). These four were the last ungraded
    members of the window surface (W1 covers row_number/rank/
    dense_rank, W2 lag/lead, W3/w7/w9 frames, w10 IGNORE NULLS).

    Value discipline: per-row percent_rank/cume_dist are ratios of
    small integers (correctly-rounded single divisions — bit-identical
    cross-engine); only their AVG drifts with summation order, so the
    output is aggregate-only (4 rows), rounded with the nudge.
    nth_value needs the explicit unbounded-following frame on BOTH
    engines (the default frame stops at CURRENT ROW and returns NULL
    for the first row of every order). Ties in (cents) break on
    l_linenumber — a total order, so ntile assignment is deterministic
    cross-engine."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    win = W.partitionBy("l_orderkey").orderBy("cents", "l_linenumber")
    winf = win.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    w = li.select(
        "cents",
        F.percent_rank().over(win).alias("pr"),
        F.cume_dist().over(win).alias("cd"),
        F.ntile(4).over(win).alias("nt"),
        F.nth_value("cents", 2).over(winf).alias("second_cents"),
    )
    return w.groupBy(F.col("nt").cast("long").alias("quartile")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("pr") + 1e-9, 4).alias("avg_pr"),
        F.round(F.avg("cd") + 1e-9, 4).alias("avg_cd"),
        F.coalesce(
            F.sum((F.col("cents") == F.col("second_cents")).cast("int")),
            F.lit(0),
        )
        .cast("long")
        .alias("n_at_second_price"),
    )


# --- w12: inter-order gap census (round 9) -------------------------------

_GAP_SQL = """
    WITH seq AS (
        SELECT o_custkey, o_orderdate,
               LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey)
                   AS next_date
        FROM orders
    ),
    gaps AS (
        SELECT o_custkey,
               CAST(date_diff('day', o_orderdate, next_date) AS BIGINT)
                   AS gap_days
        FROM seq WHERE next_date IS NOT NULL
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           ROUND(CAST(SUM(g.gap_days) AS DOUBLE) / COUNT(*) + 1e-9, 4) + 0.0
               AS avg_gap_days,
           CAST(MAX(g.gap_days) AS BIGINT) AS max_gap_days,
           CAST(SUM(CASE WHEN g.gap_days > 180 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gaps_over_180d
    FROM gaps g JOIN customer c ON g.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
"""


@register("w12_order_gap_census", oracle=_GAP_SQL)
def w12_order_gap_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12: inter-purchase gap census — per customer, the day gaps
    between CONSECUTIVE orders (LEAD over each customer's order
    history), aggregated per market segment: gap count, mean, max,
    and the over-180-day churn-risk tail. The event-sequence window
    shape (W2 grades lag/lead mechanics; this is the composite that
    consumes the offsets): reorder cadence is what retention and
    inventory models actually fit.

    Scale shape: the LEAD window partitions on o_custkey — fact-scale
    key cardinality, so the window parallelizes with the data (never
    a tiny-key or global window); gaps are exact integer day counts
    and the per-segment aggregate is map-side combined after a
    broadcast dim join.

    Cross-engine: day arithmetic only (o_orderdate is a midnight
    timestamp, so Spark datediff and DuckDB date_diff('day') agree
    exactly); the lone double is the rounded mean of exact integer
    sums."""
    from meepo_spark.operators.broadcast_gate import maybe_broadcast

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    gaps = (
        o.select(
            "o_custkey",
            "o_orderdate",
            F.lead("o_orderdate").over(w).alias("next_date"),
        )
        .filter(F.col("next_date").isNotNull())
        .select(
            "o_custkey",
            F.datediff(F.col("next_date"), F.col("o_orderdate"))
            .cast("long")
            .alias("gap_days"),
        )
    )
    return (
        gaps.join(
            maybe_broadcast(c.select("c_custkey", "c_mktsegment")),
            gaps["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            (
                F.round(
                    F.sum("gap_days").cast("double") / F.count(F.lit(1)) + 1e-9, 4
                )
                + 0.0
            ).alias("avg_gap_days"),
            F.max("gap_days").cast("long").alias("max_gap_days"),
            F.sum(F.when(F.col("gap_days") > 180, 1).otherwise(0))
            .cast("long")
            .alias("n_gaps_over_180d"),
        )
    )
