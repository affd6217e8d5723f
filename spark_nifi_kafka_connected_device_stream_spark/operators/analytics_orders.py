"""Order-book business analytics — the orders tier split out of
`operators/analytics.py` in round 14 (pure move, no semantic change).

Market-basket pairs and basket-size histogram, open-backlog daily,
ship-latency percentiles, interpurchase intervals, monthly
seasonality, duplicate-payment screen, spend-tier migration matrix,
ABC/Pareto revenue classes, discount elasticity, supplier HHI,
price/size skyline.  Shared helpers (`_cents`) are imported from
`operators/analytics.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.portable import pround
from ..registry import register
from ..sources.catalog import load_table
from .analytics import _cents


# Pareto class boundaries on cumulative revenue share
_ABC_A = 0.5
_ABC_B = 0.8

_DUCK_REV_E4 = (
    "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)"
    " * (100 - CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT))"
)


@register(
    "lineitem_abc_pareto",
    oracle=f"""
    WITH rev AS (
      SELECT l_partkey, CAST(sum({_DUCK_REV_E4}) AS BIGINT) AS rev_e4
      FROM lineitem GROUP BY l_partkey
    ), tot AS (
      SELECT sum(rev_e4) AS t FROM rev
    ), c AS (
      SELECT l_partkey, rev_e4,
             sum(rev_e4) OVER (ORDER BY rev_e4 DESC, l_partkey
                               ROWS UNBOUNDED PRECEDING) AS cum
      FROM rev
    )
    SELECT c.l_partkey, c.rev_e4,
           floor((c.cum * 1.0 / t.t) * 1000000.0 + 0.5) / 1000000.0
             AS cum_share,
           CASE WHEN floor((c.cum * 1.0 / t.t) * 1000000.0 + 0.5)
                     / 1000000.0 <= {_ABC_A} THEN 'A'
                WHEN floor((c.cum * 1.0 / t.t) * 1000000.0 + 0.5)
                     / 1000000.0 <= {_ABC_B} THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c CROSS JOIN tot t
    """,
    doc=f"ABC / Pareto classification of parts by cumulative revenue "
        f"share (A <= {_ABC_A}, B <= {_ABC_B}, else C) — the working-set "
        f"analysis behind caching and storage tiering.  Revenue "
        f"accumulates in EXACT integer 1e-4-dollar units so the running "
        f"sum is order-independent across engines; the global cumulative "
        f"sum runs through functions.scale.global_running_sum (range-"
        f"repartitioned parallel sort + broadcast per-partition offsets "
        f"— no single-task global window over the data; the one "
        f"unpartitioned window touches num_partitions metadata rows).  "
        f"Class is assigned on the ROUNDED share in both engines.",
    tags=("stats", "window", "scale"),
)
def lineitem_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scale import global_running_sum

    li = load_table(spark, sf_dir, "lineitem")
    rev_e4 = _cents(F.col("l_extendedprice")) * (
        100 - _cents(F.col("l_discount"))
    )
    rev = li.groupBy("l_partkey").agg(F.sum(rev_e4).alias("rev_e4"))
    c = global_running_sum(
        rev,
        order_cols=[F.desc("rev_e4"), F.asc("l_partkey")],
        value_col="rev_e4",
        out_col="cum",
    )
    share = pround(F.col("cum") * F.lit(1.0) / F.col("_grand_total"), 6)
    return c.select(
        "l_partkey",
        "rev_e4",
        share.alias("cum_share"),
        F.when(share <= F.lit(_ABC_A), F.lit("A"))
        .when(share <= F.lit(_ABC_B), F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )


BASKET_MIN_SUPPORT = 2


@register(
    "orders_basket_pairs",
    oracle=f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), pairs AS (
      SELECT a.l_orderkey, a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM li a JOIN li b
        ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
    ), sup AS (
      SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS support
      FROM pairs GROUP BY part_a, part_b
    ), item AS (
      SELECT l_partkey, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_ord
      FROM lineitem GROUP BY l_partkey
    ), tot AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM lineitem
    )
    SELECT s.part_a, s.part_b, s.support,
           floor((s.support * 1.0 * t.n / (ia.n_ord * ib.n_ord))
                 * 1000000.0 + 0.5) / 1000000.0 AS lift
    FROM sup s
    JOIN item ia ON ia.l_partkey = s.part_a
    JOIN item ib ON ib.l_partkey = s.part_b
    CROSS JOIN tot t
    WHERE s.support >= {BASKET_MIN_SUPPORT}
    """,
    doc=f"Market-basket association pairs: co-occurrence support of part "
        f"pairs within an order (support >= {BASKET_MIN_SUPPORT}) plus "
        f"lift against the independent-purchase baseline.  The fact "
        f"table is deduped to DISTINCT (order, part) FIRST — a part on "
        f"two lines of one order is still ONE basket membership, so "
        f"support counts ORDERS (r12 review fix: the line-level join "
        f"inflated support/lift for multi-line parts, 55 live cases at "
        f"sf0.01, and mismatched the distinct-order marginals in the "
        f"lift denominator).  Scale shape: the pair generation is a "
        f"self-equi-join on the order key, so the blow-up is bounded "
        f"by basket size squared (~7 lines/order -> <=21 pairs), NEVER "
        f"all-pairs over parts; per-item order counts are a "
        f"|parts|-row table joined back (broadcastable), and the "
        f"distinct-order total is one broadcast scalar.",
    tags=("stats", "join"),
)
def orders_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        # consumed FOUR times (both pair-join sides, the per-item
        # marginals, the distinct-order total): materialize the basket
        # membership once instead of re-running scan+distinct per
        # consumer (optimization r18, the dedup-tier idiom)
        .localCheckpoint(eager=False)
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("part_b")
    )
    sup = (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= BASKET_MIN_SUPPORT)
    )
    item = (
        li.groupBy("l_partkey")
        .agg(F.countDistinct("l_orderkey").alias("n_ord"))
        # consumed twice (both pair sides) and |parts|-sized —
        # materialize once instead of re-aggregating the fact table
        .localCheckpoint(eager=False)
    )
    tot = li.agg(F.countDistinct("l_orderkey").alias("n"))
    ia = item.select(F.col("l_partkey").alias("ka"), F.col("n_ord").alias("n_a"))
    ib = item.select(F.col("l_partkey").alias("kb"), F.col("n_ord").alias("n_b"))
    return (
        sup.join(F.broadcast(ia), F.col("part_a") == F.col("ka"))
        .join(F.broadcast(ib), F.col("part_b") == F.col("kb"))
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "support",
            pround(
                F.col("support") * F.lit(1.0) * F.col("n")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "supplier_hhi_concentration",
    oracle="""
    WITH rev AS (
      SELECT s.s_nationkey, l.l_suppkey,
             CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY s.s_nationkey, l.l_suppkey
    ), nat AS (
      SELECT s_nationkey, CAST(sum(cents) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS n_suppliers
      FROM rev GROUP BY s_nationkey
    )
    SELECT n.n_name AS nation,
           a.n_suppliers,
           floor(sum(pow(CAST(r.cents AS DOUBLE) / a.tot, 2))
                 * 1000000.0 + 0.5) / 1000000.0 AS hhi,
           CASE WHEN sum(pow(CAST(r.cents AS DOUBLE) / a.tot, 2)) > 0.25
                  THEN 'concentrated'
                WHEN sum(pow(CAST(r.cents AS DOUBLE) / a.tot, 2)) > 0.15
                  THEN 'moderate'
                ELSE 'competitive' END AS tier
    FROM rev r
    JOIN nat a ON a.s_nationkey = r.s_nationkey
    JOIN nation n ON n.n_nationkey = r.s_nationkey
    GROUP BY n.n_name, a.n_suppliers
    """,
    doc="Herfindahl-Hirschman supply-concentration index per nation: "
        "each supplier's share of its nation's lineitem revenue, "
        "squared and summed — the standard dependence screen (DOJ "
        "bands: >0.25 concentrated, >0.15 moderate) for 'how exposed "
        "is this market to one supplier failing'.  Scale shape: ONE "
        "fact shuffle to (nation, supplier) revenue in exact integer "
        "cents, nation totals derived from that |suppliers|-row frame "
        "(corpus never rescanned), nation dim broadcast; the squared-"
        "share sum runs over the supplier frame only.  Shares are the "
        "only doubles and they derive from exact integers, so both "
        "engines square the identical values.",
    tags=("stats", "agg", "join"),
)
def supplier_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("bigint")
    rev = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(cents).cast("bigint").alias("cents"))
        .localCheckpoint(eager=False)
    )
    nat = rev.groupBy("s_nationkey").agg(
        F.sum("cents").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
    )
    share2 = F.pow(F.col("cents").cast("double") / F.col("tot"), F.lit(2))
    hhi = F.sum(share2)
    return (
        rev.join(F.broadcast(nat), "s_nationkey")
        .join(F.broadcast(n), rev.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "n_suppliers")
        .agg(
            pround(hhi, 6).alias("hhi"),
            F.when(hhi > 0.25, F.lit("concentrated"))
            .when(hhi > 0.15, F.lit("moderate"))
            .otherwise(F.lit("competitive"))
            .alias("tier"),
        )
        .select("nation", "n_suppliers", "hhi", "tier")
    )


@register(
    "orders_open_backlog_daily",
    oracle="""
    WITH completion AS (
      SELECT l_orderkey, max(l_shipdate) AS done
      FROM lineitem GROUP BY l_orderkey
    ), deltas AS (
      SELECT o.o_orderdate AS day, 1 AS delta
      FROM orders o JOIN completion c ON c.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT c.done + INTERVAL 1 DAY, -1
      FROM orders o JOIN completion c ON c.l_orderkey = o.o_orderkey
    ), daily AS (
      SELECT day, CAST(sum(delta) AS BIGINT) AS net_change
      FROM deltas GROUP BY day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           net_change,
           CAST(sum(net_change) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS open_orders
    FROM daily
    """,
    doc="Open-order backlog over time via the SWEEP-LINE (event "
        "boundary) pattern: each order contributes +1 on its order "
        "date and -1 the day after its last line ships, and the "
        "running sum of boundary deltas IS the concurrent-open count "
        "— the O(n) shape for every 'how many intervals were active "
        "at time t' question (concurrent sessions, active "
        "connections, WIP inventory), versus the O(n x days) "
        "interval-stabbing join.  Scale shape: completion dates from "
        "ONE orderkey-shuffle over lineitem, co-partitioned join with "
        "orders, boundary deltas collapse to |days| rows in one "
        "small agg, and the running sum uses global_running_sum "
        "(functions/scale) — range-repartitioned parallel sort + "
        "broadcast offsets, no single-task global window even at "
        "billions of boundaries.  Exact integer deltas throughout.",
    tags=("orders", "timeseries", "scale"),
)
def orders_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scale import global_running_sum

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    completion = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("done"))
    j = o.join(completion, o.o_orderkey == completion.l_orderkey)
    # both boundaries of each order from one pass over the join
    deltas = j.select(
        F.inline(
            F.array(
                F.struct(F.col("o_orderdate").alias("day"), F.lit(1).alias("delta")),
                F.struct(F.date_add(F.col("done"), 1).alias("day"), F.lit(-1).alias("delta")),
            )
        )
    )
    daily = deltas.groupBy("day").agg(
        F.sum("delta").cast("bigint").alias("net_change")
    )
    run = global_running_sum(
        daily, order_cols=[F.col("day")], value_col="net_change",
        out_col="open_orders",
    )
    return run.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "net_change",
        F.col("open_orders").cast("bigint").alias("open_orders"),
    )


# ---------------------------------------------------------------------------
# Fulfillment latency distribution (round 9): days from order to line
# shipment, as exact percentiles per order priority — the SLA report
# (does URGENT actually ship faster, and what does the tail look
# like?).  Latency is an integer day count from wall dates; exact
# percentile interpolation on identical integer multisets is
# bit-identical across engines (the stats_percentiles contract).
# ---------------------------------------------------------------------------


@register(
    "orders_ship_latency_percentiles",
    oracle="""
    WITH lat AS (
      SELECT o.o_orderpriority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           floor(quantile_cont(days, 0.5) * 10000.0 + 0.5) / 10000.0 AS p50_days,
           floor(quantile_cont(days, 0.9) * 10000.0 + 0.5) / 10000.0 AS p90_days,
           floor(quantile_cont(days, 0.99) * 10000.0 + 0.5) / 10000.0 AS p99_days,
           CAST(max(days) AS BIGINT) AS max_days
    FROM lat GROUP BY o_orderpriority
    """,
    doc="Order-to-ship latency percentiles per order priority: exact "
        "p50/p90/p99 and worst case of the integer day count between "
        "order placement and line shipment — the fulfillment-SLA "
        "report.  Scale shape: ONE orderkey-keyed fact-fact shuffle "
        "join (both sides big — the q9/q18 join class), then an exact "
        "sort-based percentile agg on |priorities| groups; at 100 TB "
        "swap for approx_percentile with a recorded bound "
        "(stats_percentiles_approx_bound pattern) and the join shape "
        "is unchanged.  Day counts come from wall dates, stable "
        "across consumer session timezones.",
    tags=("analytics", "agg", "stats"),
)
def orders_ship_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("days"),
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
        pround(F.percentile("days", 0.5), 4).alias("p50_days"),
        pround(F.percentile("days", 0.9), 4).alias("p90_days"),
        pround(F.percentile("days", 0.99), 4).alias("p99_days"),
        F.max("days").cast("bigint").alias("max_days"),
    )


# ---------------------------------------------------------------------------
# Inter-purchase intervals (round 9): days between a customer's
# consecutive orders, distributed per market segment — the repeat-
# purchase cadence behind replenishment forecasting and churn cutoffs
# (a customer 2× past their segment's p90 gap is "overdue").
# ---------------------------------------------------------------------------


@register(
    "orders_interpurchase_intervals",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             date_diff('day',
                       lag(CAST(o_orderdate AS DATE)) OVER (
                         PARTITION BY o_custkey
                         ORDER BY o_orderdate ASC, o_orderkey ASC),
                       CAST(o_orderdate AS DATE)) AS gap_days
      FROM orders
    ), gaps AS (
      SELECT c.c_mktsegment, s.gap_days
      FROM seq s JOIN customer c ON c.c_custkey = s.o_custkey
      WHERE s.gap_days IS NOT NULL
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_gaps,
           floor(avg(gap_days) * 10000.0 + 0.5) / 10000.0 AS avg_days,
           floor(quantile_cont(gap_days, 0.5) * 10000.0 + 0.5) / 10000.0 AS p50_days,
           floor(quantile_cont(gap_days, 0.9) * 10000.0 + 0.5) / 10000.0 AS p90_days,
           CAST(max(gap_days) AS BIGINT) AS max_days
    FROM gaps GROUP BY c_mktsegment
    """,
    doc="Inter-purchase cadence per market segment: integer day gaps "
        "between each customer's consecutive orders (lag over the "
        "custkey-keyed order sequence), rolled up to count / mean / "
        "exact p50 / p90 / max per segment — the replenishment-cycle "
        "report that also sets churn cutoffs ('overdue' = 2× the "
        "segment p90).  Scale shape: ONE custkey shuffle carries the "
        "sequence window, the segment lookup is a key-key join against "
        "the customer dim (AQE picks broadcast where the dim fits), "
        "final exact percentile agg on |segments| groups.  Integer day "
        "gaps from wall dates — percentile parity is the "
        "stats_percentiles bit-exact contract.",
    tags=("analytics", "window", "stats"),
)
def orders_interpurchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    )
    seq = o.select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"), F.lag(F.to_date("o_orderdate")).over(w)
        ).alias("gap_days"),
    ).where(F.col("gap_days").isNotNull())
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    gaps = seq.join(c, seq.o_custkey == c.c_custkey).select(
        "c_mktsegment", "gap_days"
    )
    return gaps.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        pround(F.avg("gap_days"), 4).alias("avg_days"),
        pround(F.percentile("gap_days", 0.5), 4).alias("p50_days"),
        pround(F.percentile("gap_days", 0.9), 4).alias("p90_days"),
        F.max("gap_days").cast("bigint").alias("max_days"),
    )


# ---------------------------------------------------------------------------
# Discount elasticity (round 9): does a deeper discount actually move
# more units, and does the answer differ by brand?  Per-brand OLS of
# quantity on discount — the pricing-team readout that decides whether
# the discount ladder is doing anything.
# ---------------------------------------------------------------------------


@register(
    "lineitem_discount_elasticity",
    oracle="""
    SELECT p.p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           floor(avg(l.l_quantity) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
           floor(regr_slope(l.l_quantity, l.l_discount) * 10000.0 + 0.5)
           / 10000.0 AS qty_per_discount,
           floor(regr_r2(l.l_quantity, l.l_discount) * 1000000.0 + 0.5)
           / 1000000.0 AS r2
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand
    HAVING regr_slope(l.l_quantity, l.l_discount) IS NOT NULL
    """,
    doc="Discount elasticity per brand: OLS slope of quantity on "
        "discount (units moved per unit of discount depth) with fit R² "
        "and the brand's volume baseline — the pricing readout that "
        "tests whether the discount ladder shifts demand at all (on "
        "uniform synthetic data R²≈0: the honest null).  Scale shape: "
        "the partkey equi-join is the q9 fact-dim class (AQE "
        "broadcasts the projected 2-column part side when it fits, "
        "shuffle-join otherwise), then single-pass regr_* co-moment "
        "folds with map-side combine into |brands| (=25) rows.",
    tags=("analytics", "stats", "join"),
)
def lineitem_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(p, li.l_partkey == p.p_partkey)
    return (
        j.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            pround(F.avg("l_quantity"), 4).alias("avg_qty"),
            pround(F.regr_slope("l_quantity", "l_discount"), 4).alias(
                "qty_per_discount"
            ),
            pround(F.regr_r2("l_quantity", "l_discount"), 6).alias("r2"),
            F.regr_slope("l_quantity", "l_discount").alias("_slope_raw"),
        )
        .where(F.col("_slope_raw").isNotNull())
        .drop("_slope_raw")
    )


# ---------------------------------------------------------------------------
# Skyline (Pareto-dominance) query over parts
# ---------------------------------------------------------------------------


@register(
    "part_skyline_price_size",
    oracle="""
    WITH pp AS (
      SELECT p_retailprice AS price, CAST(max(p_size) AS BIGINT) AS pmax
      FROM part GROUP BY 1
    ), run AS (
      SELECT price, pmax,
             max(pmax) OVER (ORDER BY price
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prevmax
      FROM pp
    )
    SELECT p.p_partkey, p.p_retailprice, CAST(p.p_size AS BIGINT) AS p_size
    FROM part p JOIN run r ON p.p_retailprice = r.price
    WHERE CAST(p.p_size AS BIGINT) = r.pmax
      AND (r.prevmax IS NULL OR r.prevmax < p.p_size)
    """,
    doc="Skyline query (Borzsonyi/Kossmann/Stocker, ICDE'01): parts not "
        "Pareto-DOMINATED on (minimize retail price, maximize size) — "
        "no other part is at-most-as-expensive AND at-least-as-large "
        "with one strict.  The multi-objective shortlist operator "
        "(cheapest-per-capability frontiers, best-quality-per-cost "
        "corpus slices) that a plain ORDER BY ... LIMIT cannot "
        "express.  Algorithm: the classic sort-scan — a part is on the "
        "skyline iff its size strictly exceeds the running max size "
        "over all strictly cheaper parts AND equals the max size at "
        "its own price point (equal-(price,size) twins are mutual "
        "non-dominators and all survive).  Scale shape: one agg to the "
        "per-price table, then the EXCLUSIVE prefix max runs through "
        "functions/scale.global_running_max — range-repartitioned "
        "parallel sort + within-partition prefix max + broadcast "
        "per-partition offsets, NO unpartitioned data window (the "
        "events_session_paths lesson); the filter join back to part "
        "is a price-keyed equi-join.  Output is provably <= |size "
        "domain| rows (each skyline row needs a strictly larger size "
        "than every cheaper one).  Dominance tests are integer/exact-"
        "double comparisons on stored values — no arithmetic, no "
        "rounding, bit-identical across engines.",
    tags=("relational", "part"),
)
def part_skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scale import global_running_max

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", F.col("p_size").cast("bigint").alias("p_size")
    )
    pp = p.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("pmax")
    )
    run = global_running_max(
        pp, [F.col("price")], "pmax", "prevmax", exclusive=True
    )
    return (
        p.join(run, p.p_retailprice == run.price)
        .filter(
            (F.col("p_size") == F.col("pmax"))
            & (F.col("prevmax").isNull() | (F.col("prevmax") < F.col("p_size")))
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


# ---------------------------------------------------------------------------
# Calendar seasonality of order revenue (classical seasonal indices)
# ---------------------------------------------------------------------------


@register(
    "orders_monthly_seasonality",
    oracle="""
    WITH m AS (
      SELECT year(o_orderdate) AS y, month(o_orderdate) AS mo,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(sum(cents) AS BIGINT) AS all_cents,
             CAST(count(*) AS BIGINT) AS n_all
      FROM m
    )
    SELECT CAST(mo AS INTEGER) AS month,
           CAST(count(*) AS BIGINT) AS n_months,
           CAST(sum(cents) AS BIGINT) AS rev_cents,
           floor((sum(cents) * 1.0 * n_all) / (count(*) * 1.0 * all_cents)
                 * 1000000.0 + 0.5) / 1000000.0 AS seasonal_index
    FROM m CROSS JOIN tot
    GROUP BY mo, n_all, all_cents
    """,
    doc="Classical multiplicative seasonal indices of order revenue by "
        "calendar month: each month-of-year's average monthly revenue "
        "over its average across ALL months (index 1.0 = no "
        "seasonality) — the month-granularity revenue complement to "
        "the events tier's hour/dow profiles (events_dow_hour_profile) "
        "and the normalization a demand forecast or capacity plan "
        "divides out first.  Months observed a different number of "
        "years are handled by comparing AVERAGES, not totals (the "
        "n_months column makes partial coverage visible).  Exact "
        "arithmetic: revenue accumulates as integer cents; the index "
        "is one identical scalar double tree on four exact ints "
        "(cross-multiplied so no intermediate average is "
        "materialized).  Scale shape: one partial-agg shuffle to "
        "(year, month) cells — bounded by the calendar, not order "
        "count; the total is a 1-row broadcast; output <= 12 rows.  "
        "int64 headroom: total cents ~2e10 at sf0.1, safe to ~1e8x "
        "growth.",
    tags=("orders", "stats", "timeseries"),
)
def orders_monthly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = (
        o.select(
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("mo"),
            _cents(F.col("o_totalprice")).alias("order_cents"),
        )
        .groupBy("y", "mo")
        .agg(F.sum("order_cents").cast("bigint").alias("cents"))
        .localCheckpoint(eager=False)
    )
    tot = m.agg(
        F.sum("cents").cast("bigint").alias("all_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
    )
    one = F.lit(1.0)
    return (
        m.crossJoin(F.broadcast(tot))
        .groupBy(F.col("mo").cast("int").alias("month"), "n_all", "all_cents")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_months"),
            F.sum("cents").cast("bigint").alias("rev_cents"),
        )
        .select(
            "month",
            "n_months",
            "rev_cents",
            pround(
                (F.col("rev_cents") * one * F.col("n_all"))
                / (F.col("n_months") * one * F.col("all_cents")),
                6,
            ).alias("seasonal_index"),
        )
    )


# ---------------------------------------------------------------------------
# Basket-size histogram (the distribution behind the pair-join bound)
# ---------------------------------------------------------------------------


@register(
    "orders_basket_size_histogram",
    oracle="""
    WITH sizes AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS basket_size
      FROM lineitem GROUP BY l_orderkey
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_orders FROM sizes
    )
    SELECT basket_size,
           CAST(count(*) AS BIGINT) AS n_orders,
           floor(count(*) * 1.0 / t.n_orders * 1000000.0 + 0.5)
             / 1000000.0 AS share,
           CAST(basket_size * (basket_size - 1) / 2 * count(*) AS BIGINT)
             AS pair_join_rows
    FROM sizes CROSS JOIN tot t
    GROUP BY basket_size, t.n_orders
    """,
    doc="Basket-size distribution with the induced self-join cost: for "
        "each distinct lines-per-order count, how many orders have it "
        "and how many pair rows they contribute to a basket self-join "
        "(k(k-1)/2 each).  This is the measured evidence behind "
        "orders_basket_pairs' 'blow-up bounded by basket size squared' "
        "claim — the capacity-planning table read BEFORE running any "
        "order-key self-join at 100 TB, and the skew detector for a "
        "pathological mega-basket (one 1e6-line order contributes 5e11 "
        "pair rows; this table shows it as a single damning row).  "
        "All-integer math plus one exact share division.  Scale shape: "
        "one orderkey partial agg, a 1-row broadcast total, output "
        "bounded by |distinct basket sizes| (~7 here).",
    tags=("orders", "profiling", "join"),
)
def orders_basket_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    sizes = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("basket_size")
    )
    tot = sizes.agg(F.count(F.lit(1)).cast("bigint").alias("n_orders_t"))
    return (
        sizes.crossJoin(F.broadcast(tot))
        .groupBy("basket_size", "n_orders_t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .select(
            "basket_size",
            "n_orders",
            pround(
                F.col("n_orders") * F.lit(1.0) / F.col("n_orders_t"), 6
            ).alias("share"),
            (
                F.col("basket_size")
                * (F.col("basket_size") - 1)
                / 2
                * F.col("n_orders")
            )
            .cast("bigint")
            .alias("pair_join_rows"),
        )
    )


@register(
    "orders_duplicate_payment_screen",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
             o_orderdate
      FROM orders
    )
    SELECT a.o_custkey,
           a.o_orderkey AS orderkey_a,
           b.o_orderkey AS orderkey_b,
           floor((a.cents / 100.0) * 100.0 + 0.5) / 100.0 AS amount_a,
           floor((b.cents / 100.0) * 100.0 + 0.5) / 100.0 AS amount_b,
           CAST(datediff('day', a.o_orderdate, b.o_orderdate) AS INTEGER)
             AS day_gap
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND abs(datediff('day', a.o_orderdate, b.o_orderdate)) <= 7
     AND abs(a.cents - b.cents) * 100 <= least(a.cents, b.cents)
    """,
    doc="Duplicate-payment audit screen: pairs of orders by the SAME "
        "customer within 7 days whose amounts differ by at most 1% — "
        "the double-charge / double-submit detector of payment-ops "
        "audit (exact-amount equality alone misses resubmissions with "
        "adjusted tax/shipping, and this synthetic ledger has no exact "
        "repeats at all).  Amounts compared as exact integer cents "
        "with an integer cross-multiplied tolerance (|ca-cb|*100 <= "
        "least(ca, cb) — symmetric in the amounts; r12 review fix, "
        "the earlier a-side baseline made boundary pairs depend on "
        "which order drew the smaller key) — no float enters the "
        "predicate.  Scale shape: self-join "
        "EQUI on o_custkey — blocks are orders-per-customer (~30 at "
        "every TPC-H SF), so the pair blow-up is block-bounded and "
        "never all-pairs; date and amount tolerances run as join "
        "residuals inside each block; output is the audit worklist "
        "itself, uniquely keyed by the orderkey total order.",
    tags=("relational", "audit", "join"),
)
def orders_duplicate_payment_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        "o_orderdate",
    )
    a, b = o.alias("a"), o.alias("b")
    gap = F.datediff(F.col("b.o_orderdate"), F.col("a.o_orderdate"))
    # tolerance baselined on the SMALLER amount: a function of the
    # amounts alone, symmetric in the pair — baselining on the
    # lower-ORDERKEY side made near-boundary classification depend on
    # arbitrary key assignment (r12 review fix), and least() is also
    # the stricter of the two readings
    near = (
        F.abs(F.col("a.cents") - F.col("b.cents")) * F.lit(100)
        <= F.least(F.col("a.cents"), F.col("b.cents"))
    )
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.abs(gap) <= F.lit(7))
            & near,
        )
        .select(
            F.col("a.o_custkey").alias("o_custkey"),
            F.col("a.o_orderkey").alias("orderkey_a"),
            F.col("b.o_orderkey").alias("orderkey_b"),
            pround(F.col("a.cents") / F.lit(100.0), 2).alias("amount_a"),
            pround(F.col("b.cents") / F.lit(100.0), 2).alias("amount_b"),
            gap.cast("int").alias("day_gap"),
        )
    )


# fixed spend-tier edges in exact cents (fixed thresholds, NOT
# quantiles: tier membership must not drift with the other year's mix)
_TIER_EDGES_CENTS = (10_000_000, 30_000_000)  # <100k low, <300k mid, else high


def _spend_tier(cents_col):
    return (
        F.when(cents_col.isNull(), "none")
        .when(cents_col < _TIER_EDGES_CENTS[0], "low")
        .when(cents_col < _TIER_EDGES_CENTS[1], "mid")
        .otherwise("high")
    )


@register(
    "orders_customer_migration_matrix",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey, CAST(year(o_orderdate) AS INTEGER) AS yr,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders
      WHERE year(o_orderdate) IN (1995, 1996)
      GROUP BY o_custkey, yr
    ), matrix AS (
      SELECT coalesce(a.o_custkey, b.o_custkey) AS ck,
             CASE WHEN a.cents IS NULL THEN 'none'
                  WHEN a.cents < {_TIER_EDGES_CENTS[0]} THEN 'low'
                  WHEN a.cents < {_TIER_EDGES_CENTS[1]} THEN 'mid'
                  ELSE 'high' END AS tier_1995,
             CASE WHEN b.cents IS NULL THEN 'none'
                  WHEN b.cents < {_TIER_EDGES_CENTS[0]} THEN 'low'
                  WHEN b.cents < {_TIER_EDGES_CENTS[1]} THEN 'mid'
                  ELSE 'high' END AS tier_1996
      FROM (SELECT * FROM spend WHERE yr = 1995) a
      FULL OUTER JOIN (SELECT * FROM spend WHERE yr = 1996) b
        ON a.o_custkey = b.o_custkey
    )
    SELECT tier_1995, tier_1996, CAST(count(*) AS BIGINT) AS n_customers
    FROM matrix GROUP BY tier_1995, tier_1996
    """,
    doc="Customer spend-tier migration matrix 1995 -> 1996 (the first "
        "two full fixture years): annual spend (exact integer cents) "
        "bucketed by FIXED thresholds (fixed, not quantile, so a tier "
        "means the same thing in both years), full-outer-joined across "
        "years with 'none' for customers absent in one — churn "
        "(x -> none), acquisition (none -> x) and up/down-grades read "
        "directly off the <=16 cells.  The year-over-year retention/"
        "expansion report every revenue team runs.  Scale shape: one "
        "(custkey, year) partial-agg shuffle with the year filter "
        "pushed to the scan, one co-partitioned self-join on custkey, "
        "16-cell rollup.",
    tags=("analytics", "cohorts"),
)
def orders_customer_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1995, 1996)
    )
    spend = o.groupBy(
        "o_custkey", F.year("o_orderdate").cast("int").alias("yr")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("cents")
    )
    a = spend.filter(F.col("yr") == 1995).select(
        "o_custkey", F.col("cents").alias("c_y1")
    )
    b = spend.filter(F.col("yr") == 1996).select(
        "o_custkey", F.col("cents").alias("c_y2")
    )
    return (
        a.join(b, "o_custkey", "full_outer")
        .select(
            _spend_tier(F.col("c_y1")).alias("tier_1995"),
            _spend_tier(F.col("c_y2")).alias("tier_1996"),
        )
        .groupBy("tier_1995", "tier_1996")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )
