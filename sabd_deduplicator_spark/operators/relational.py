"""Relational breadth (SURVEY.md §2.B): joins, aggregates, windows, set ops,
rollup/cube, top-k, scalar function coverage over the TPC-H-ish tables.

The reference's relational surface is tiny (filter+project+sort over the
index, test/deduplicator_test.exs:323-330; Ecto point queries); this module
provides the full capability matrix a user of a query engine expects, each
query oracle-checked against DuckDB.

Scale notes (100 TB posture):
- dimension joins (nation/region/customer-sized) carry explicit broadcast()
  hints → no shuffle of the fact table;
- fact-fact joins shuffle on the join key and AQE handles skew;
- the band join is implemented with the bucketed-equi-join pattern (explode to
  overlapping buckets, equi-join, residual filter) instead of a quadratic
  theta join — this is THE difference between O(n²) and O(n) at scale;
- top-k per group = row_number window, global top-k = rank window (tie-stable,
  deterministic), never orderBy().limit() whose tie-breaking is partition-
  placement-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from sabd_deduplicator_spark.catalog import table
from sabd_deduplicator_spark.functions.numeric import dsum, dsum_sql
from sabd_deduplicator_spark.registry import query

# ---------------------------------------------------------------------------
# Filters / projections / predicates
# ---------------------------------------------------------------------------


@query(
    "filter_project_orders",
    oracle=(
        "SELECT o_orderkey, o_custkey, o_totalprice, "
        "strftime(o_orderdate, '%Y-%m-%d') AS order_date "
        "FROM orders WHERE o_orderstatus = 'O' "
        "AND o_totalprice BETWEEN 1000 AND 80000 "
        "AND o_orderpriority LIKE '1-%'"
    ),
)
def filter_project_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderstatus") == "O")
            & F.col("o_totalprice").between(1000, 80000)
            & F.col("o_orderpriority").like("1-%")
        ).select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
    )


@query(
    "case_price_bands",
    oracle=(
        "SELECT CASE WHEN o_totalprice < 50000 THEN 'low' "
        "WHEN o_totalprice < 150000 THEN 'mid' ELSE 'high' END AS band, "
        "count(*) AS n, " + dsum_sql("o_totalprice") + " AS total "
        "FROM orders GROUP BY 1"
    ),
)
def case_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("high")
    )
    return o.groupBy(band.alias("band")).agg(
        F.count("*").alias("n"), dsum("o_totalprice").alias("total")
    )


@query(
    "null_handling_customers",
    oracle=(
        "SELECT c_custkey, "
        "coalesce(nullif(c_mktsegment, 'MACHINERY'), 'UNKNOWN') AS seg2, "
        "CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS pos_bal, "
        "(c_acctbal < 0) AS is_neg "
        "FROM customer"
    ),
)
def null_handling_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")), F.lit("UNKNOWN")).alias("seg2"),
        F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal")).alias("pos_bal"),
        (F.col("c_acctbal") < 0).alias("is_neg"),
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@query(
    "multi_join_revenue_by_nation",
    oracle=(
        "SELECT n.n_name, r.r_name, count(*) AS n_orders, "
        + dsum_sql("o.o_totalprice")
        + " AS revenue "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "JOIN region r ON n.n_regionkey = r.r_regionkey "
        "GROUP BY n.n_name, r.r_name"
    ),
)
def multi_join_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way FK join (#6 generalized). customer/nation/region are
    dimensions → broadcast, so the orders fact never shuffles for the join;
    the only shuffle is the final aggregation."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        o.join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("revenue"))
    )


@query(
    "asof_latest_order_per_event",
    oracle=(
        "SELECT event_id, user_id, o_orderkey, order_date FROM ("
        "  SELECT e.event_id, e.user_id, o.o_orderkey, "
        "         strftime(o.o_orderdate, '%Y-%m-%d') AS order_date, "
        "         ROW_NUMBER() OVER (PARTITION BY e.event_id "
        "           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn "
        "  FROM events e JOIN orders o "
        "    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts"
        ") WHERE rn = 1"
    ),
)
def asof_latest_order_per_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (capability the reference lacks, SURVEY.md §2.B joins row):
    latest order at-or-before each event, per user.

    Physical plan: the UNION-WINDOW as-of — tag both sides, sort once per key
    by (time, side, orderkey) and carry the last-seen order with
    last(ignorenulls). Cost O((n+m) log(n+m)) with ONE shuffle.

    The naive equi-join + time filter + row_number is quadratic in
    rows-per-key: here 150 distinct users × ~1000 orders × ~700 events per
    user ≈ 10^8 intermediate rows at sf0.1 (measured: it blew the bench up
    from seconds to minutes) — exactly the plan that dies at 100 TB.
    """
    e = table(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp_ntz").alias("o_orderdate"),
        F.lit(1).alias("side"),  # events sort AFTER orders at equal time (<=)
    )
    o = table(spark, sf_dir, "orders").select(
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        "o_orderkey",
        "o_orderdate",
        F.lit(0).alias("side"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t", "side", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = o.unionByName(e).select(
        "event_id",
        F.col("k").alias("user_id"),
        "side",
        F.last("o_orderkey", ignorenulls=True).over(w).alias("o_orderkey"),
        F.last("o_orderdate", ignorenulls=True).over(w).alias("o_orderdate"),
    )
    return tagged.filter((F.col("side") == 1) & F.col("o_orderkey").isNotNull()).select(
        "event_id",
        "user_id",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
    )


@query(
    "range_join_close_prices",
    oracle=(
        "SELECT a.p_partkey, count(*) AS n_close "
        "FROM part a JOIN part b "
        "  ON b.p_retailprice BETWEEN a.p_retailprice - 0.5 AND a.p_retailprice + 0.5 "
        " AND a.p_partkey <> b.p_partkey "
        "GROUP BY a.p_partkey"
    ),
)
def range_join_close_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (range) join via the bucketed-equi-join pattern: each left row is
    exploded to the integer price buckets its ±0.5 band can overlap, the join
    is an EQUI join on bucket, and the true band predicate is a residual
    filter. Turns Spark's O(n²) broadcast-nested-loop theta join into a
    shuffle hash join — the only plan that survives 100× scale."""
    p = table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    left = p.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("p_retailprice") - 0.5).cast("long"),
                F.floor(F.col("p_retailprice") + 0.5).cast("long"),
            )
        ),
    )
    right = p.select(
        F.col("p_partkey").alias("b_partkey"),
        F.col("p_retailprice").alias("b_price"),
    ).withColumn("bucket", F.floor(F.col("b_price")).cast("long"))
    pairs = left.join(right, "bucket").filter(
        (F.col("b_price") >= F.col("p_retailprice") - 0.5)
        & (F.col("b_price") <= F.col("p_retailprice") + 0.5)
        & (F.col("p_partkey") != F.col("b_partkey"))
    )
    return pairs.groupBy("p_partkey").agg(F.count("*").alias("n_close"))


@query(
    "full_outer_nation_activity",
    oracle=(
        # nations having customers vs suppliers — FULL OUTER over two aggs;
        # nullable counts coalesced (see cube_events note).
        "WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1), "
        "s AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1) "
        "SELECT coalesce(c.nk, s.nk) AS nationkey, "
        "CAST(coalesce(c.n_cust, 0) AS BIGINT) AS n_cust, "
        "CAST(coalesce(s.n_supp, 0) AS BIGINT) AS n_supp "
        "FROM c FULL OUTER JOIN s ON c.nk = s.nk"
    ),
)
def full_outer_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(F.count("*").alias("n_supp"))
    )
    j = c.join(s, c.nk == s.nk_s, "full_outer")
    return j.select(
        F.coalesce("nk", "nk_s").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@query(
    "right_join_orders_late_customers",
    oracle=(
        # every customer, with their open-order count (0 if none): RIGHT
        # join from orders into customer.
        "SELECT c.c_custkey, c.c_mktsegment, "
        "CAST(count(o.o_orderkey) AS BIGINT) AS n_open "
        "FROM (SELECT * FROM orders WHERE o_orderstatus = 'O') o "
        "RIGHT JOIN customer c ON o.o_custkey = c.c_custkey "
        "GROUP BY c.c_custkey, c.c_mktsegment"
    ),
)
def right_join_orders_late_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_open"))
    )


@query(
    "cross_join_region_status",
    oracle=(
        # small×small cross join (the grid pattern for dense reports)
        "SELECT r.r_name, s.st, CAST(coalesce(o.n, 0) AS BIGINT) AS n FROM region r "
        "CROSS JOIN (SELECT DISTINCT o_orderstatus AS st FROM orders) s "
        "LEFT JOIN ("
        "  SELECT r2.r_regionkey AS rk, o_orderstatus AS st, count(*) AS n "
        "  FROM orders JOIN customer ON o_custkey = c_custkey "
        "  JOIN nation n2 ON c_nationkey = n2.n_nationkey "
        "  JOIN region r2 ON n2.n_regionkey = r2.r_regionkey "
        "  GROUP BY 1, 2"
        ") o ON o.rk = r.r_regionkey AND o.st = s.st"
    ),
)
def cross_join_region_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense grid report: region × status scaffold (cross join of two tiny
    sides) left-joined with the actual counts — the pattern that guarantees
    zero-filled cells."""
    r = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    st = o.select(F.col("o_orderstatus").alias("st")).distinct()
    grid = r.crossJoin(st)
    counts = (
        o.join(broadcast(c), o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_regionkey").alias("rk"), F.col("o_orderstatus").alias("st"))
        .agg(F.count("*").alias("n"))
    )
    return grid.join(
        counts, (grid.r_regionkey == counts.rk) & (grid.st == counts.st), "left"
    ).select(
        "r_name", grid.st.alias("st"), F.coalesce("n", F.lit(0)).alias("n")
    )


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------

@query(
    "rollup_orders",
    oracle=(
        "SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus, "
        "coalesce(o_orderpriority, 'ALL') AS o_orderpriority, "
        "CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid, "
        "count(*) AS n, " + dsum_sql("o_totalprice") + " AS total "
        "FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"
    ),
)
def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP + grouping_id (capability extension; reference has nothing like
    multi-level aggregation). Super-aggregate NULLs coalesced in both
    dialects (see cube_events)."""
    o = table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").alias("n"),
        dsum("o_totalprice").alias("total"),
    ).select(
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
        "gid",
        "n",
        "total",
    )


@query(
    "cube_events",
    oracle=(
        # Super-aggregate NULLs are coalesced in BOTH dialects: a nullable
        # int column round-trips to pandas differently per engine (float64
        # with NaN vs nullable Int32), which an engine-agnostic value hash
        # may see as different values. gid still identifies the grouping.
        "SELECT coalesce(event_type, 'ALL') AS event_type, "
        "CAST(coalesce(year(ts), -1) AS INT) AS yr, "
        "CAST(GROUPING(event_type, year(ts)) AS BIGINT) AS gid, "
        "count(*) AS n, " + dsum_sql("value") + " AS total_value "
        "FROM events GROUP BY CUBE (event_type, year(ts))"
    ),
)
def cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").withColumn(
        "yr", F.year("ts").cast("int")
    )
    return e.cube("event_type", "yr").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").alias("n"),
        dsum("value").alias("total_value"),
    ).select(
        F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
        F.coalesce("yr", F.lit(-1)).cast("int").alias("yr"),
        "gid",
        "n",
        "total_value",
    )


@query(
    "stats_aggregates_lineitem",
    oracle=(
        # Order statistics: both engines define the interpolated continuous
        # quantile identically (Spark percentile == DuckDB quantile_cont).
        # Moments: computed from EXACT decimal power sums (sum, sum of
        # squares, cross sum) so variance/stddev/corr are bit-stable — the
        # engines' native Welford-style accumulators would drift.
        "SELECT l_returnflag, "
        "round(quantile_cont(l_quantity, 0.5), 6) AS median_qty, "
        "round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty, "
        "round(sqrt((CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) "
        " - CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) * CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)) "
        " / (count(*) - 1)), 6) AS stddev_qty, "
        "round((CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) "
        " - CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) * CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*)) "
        " / count(*), 6) AS covar_qty_disc, "
        "count(*) AS n "
        "FROM lineitem GROUP BY l_returnflag"
    ),
)
def stats_aggregates_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem")
    q18 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    n = F.count("*")
    sum_q = F.sum(q18("l_quantity")).cast("double")
    sum_q2 = F.sum(q18("l_quantity") * q18("l_quantity")).cast("double")
    sum_qd = F.sum(q18("l_quantity") * q18("l_discount")).cast("double")
    sum_d = F.sum(q18("l_discount")).cast("double")
    return l.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 6).alias("p90_qty"),
        # NULL for a 1-row group (sample stddev is undefined; DuckDB's /0
        # yields NULL, ANSI Spark would throw) — the n>1 guard matches
        F.round(
            F.when(
                n > 1, F.sqrt((sum_q2 - sum_q * sum_q / n) / (n - F.lit(1)))
            ),
            6,
        ).alias("stddev_qty"),
        F.round((sum_qd - sum_q * sum_d / n) / n, 6).alias("covar_qty_disc"),
        n.alias("n"),
    )


@query(
    "distinct_count_parts",
    oracle=(
        "SELECT p_brand, count(DISTINCT p_type) AS n_types, "
        "count(*) AS n_parts, CAST(min(p_size) AS INT) AS min_size, "
        "CAST(max(p_size) AS INT) AS max_size "
        "FROM part GROUP BY p_brand"
    ),
)
def distinct_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.countDistinct("p_type").alias("n_types"),
        F.count("*").alias("n_parts"),
        F.min("p_size").alias("min_size"),
        F.max("p_size").alias("max_size"),
    )


@query("approx_distinct_users")  # no oracle: HLL++ sketch ≠ DuckDB's approx sketch
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct — the scale path for distinct-chunk estimation
    (SURVEY.md §2.B aggregations row). Sketches differ across engines by
    design → rows-only driver check. The oracle-checkable approximate
    sketch is approx_distinct_kmv below."""
    e = table(spark, sf_dir, "events")
    return e.agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.approx_count_distinct("event_type").alias("approx_types"),
    )


KMV_K = 64  # k minimum values; rsd ≈ 1/sqrt(k-2) ≈ 13%


@query(
    "approx_distinct_kmv",
    oracle=(
        # identical arithmetic tree to the Spark side, term for term
        "WITH dh AS (SELECT DISTINCT event_type, "
        "  CAST(('0x' || upper(substring(md5(CAST(user_id AS VARCHAR)), 1, 15))) "
        "       AS BIGINT) AS hv FROM events), "
        "rk AS (SELECT event_type, hv, "
        "  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn, "
        "  COUNT(*) OVER (PARTITION BY event_type) AS nd FROM dh) "
        "SELECT event_type, "
        f"CAST(CASE WHEN nd < {KMV_K} THEN CAST(nd AS DOUBLE) "
        f"  ELSE round(CAST({KMV_K - 1} AS DOUBLE) "
        f"       / (CAST(hv AS DOUBLE) / pow(CAST(2 AS DOUBLE), CAST(60 AS DOUBLE))), 4) "
        "END AS DOUBLE) AS est_users "
        f"FROM rk WHERE rn = least(nd, {KMV_K})"
    ),
)
def approx_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event_type via a K-MINIMUM-VALUES
    sketch (Bar-Yossef et al. 2002) — the PORTABLE approximate-distinct:
    hash each user to a uniform fraction (top 60 bits of md5), keep the k
    smallest per group, estimate (k-1)/u_(k). Unlike HLL (engine-specific
    register layout → approx_distinct_users stays rows-only by design),
    every step is expressible identically in Spark and DuckDB, so this
    sketch is VALUE-ORACLE-CHECKED — the same move that oracle-ized the
    MinHash sketch this round.

    Exact-fallback: a group with fewer than k distinct users reports the
    exact count (the sketch saw every value).

    Scale shape: one distinct-reduce on (event_type, hash) — map-side
    partial dedup collapses repeat users before the shuffle — then a
    per-group rank to the k-th smallest. At 100 TB you'd swap the rank for
    a per-group bounded heap (KMV is mergeable, O(k) state); HLL remains
    the one-pass cheapest path when cross-engine verifiability is not
    required. Estimator quality at k=64: rsd ≈ 13%."""
    e = table(spark, sf_dir, "events")
    hv = F.expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
    )
    dh = e.select("event_type", hv.alias("hv")).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    rk = dh.select(
        "event_type",
        "hv",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("nd"),
    )
    est = F.when(
        F.col("nd") < KMV_K, F.col("nd").cast("double")
    ).otherwise(
        F.round(
            F.lit(float(KMV_K - 1))
            / (F.col("hv").cast("double") / F.pow(F.lit(2.0), F.lit(60.0))),
            4,
        )
    )
    return rk.filter(
        F.col("rn") == F.least(F.col("nd"), F.lit(KMV_K))
    ).select("event_type", est.cast("double").alias("est_users"))


# ---------------------------------------------------------------------------
# Windows
# ---------------------------------------------------------------------------


@query(
    "window_running_total",
    oracle=(
        "SELECT event_id, user_id, "
        "CAST(sum(CAST(value AS DECIMAL(18,2))) OVER ("
        "  PARTITION BY user_id ORDER BY ts, event_id "
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq "
        "FROM events"
    ),
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total with an explicit rows frame (SURVEY.md §2.B windows row).
    Order is total — (ts, event_id) — so the cumulative decimal sums are
    deterministic."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("running_value"),
        F.row_number().over(wseq).cast("long").alias("seq"),
    )


@query(
    "window_lag_lead",
    oracle=(
        "SELECT event_id, user_id, "
        "CAST(CAST(value AS DECIMAL(18,2)) - lag(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS delta_prev, "
        "lead(event_type) OVER w AS next_type "
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"
    ),
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val = F.col("value").cast("decimal(18,2)")
    return e.select(
        "event_id",
        "user_id",
        (val - F.lag(val).over(w)).cast("double").alias("delta_prev"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "ntile_customer_deciles",
    oracle=(
        "SELECT c_custkey, CAST(NTILE(10) OVER (ORDER BY c_acctbal DESC, c_custkey) AS INT) AS decile "
        "FROM customer"
    ),
)
def ntile_customer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile decile assignment — deterministic because the order
    (acctbal desc, custkey) is total."""
    c = table(spark, sf_dir, "customer")
    # global window is the OPERATOR's semantics (total-order decile); scale
    # path = range-partitioned rank from sampled quantile boundaries
    w = Window.orderBy(F.desc("c_acctbal"), "c_custkey")
    return c.select(
        "c_custkey", F.ntile(10).over(w).cast("int").alias("decile")
    )


@query(
    "window_first_last_frames",
    oracle=(
        "SELECT event_id, user_id, "
        "first_value(event_type) OVER w AS first_type, "
        "last_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type, "
        "nth_value(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_type, "
        "CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing3 "
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"
    ),
)
def window_first_last_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value with explicit frames + a bounded trailing frame
    (SURVEY.md §2.B windows row: frame-spec coverage)."""
    e = table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wfull = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wtrail = wo.rowsBetween(-2, Window.currentRow)
    return e.select(
        "event_id",
        "user_id",
        F.first("event_type").over(wo).alias("first_type"),
        F.last("event_type").over(wfull).alias("last_type"),
        F.nth_value("event_type", 2).over(wfull).alias("second_type"),
        F.count("*").over(wtrail).alias("trailing3"),
    )


@query(
    "topk_customers_by_spend",
    oracle=(
        "SELECT c_custkey, spend, CAST(rnk AS BIGINT) AS rnk FROM ("
        "  SELECT c_custkey, spend, RANK() OVER (ORDER BY spend DESC) AS rnk FROM ("
        "    SELECT o_custkey AS c_custkey, " + dsum_sql("o_totalprice") + " AS spend "
        "    FROM orders GROUP BY o_custkey)"
        ") WHERE rnk <= 10"
    ),
)
def topk_customers_by_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k, scale-safe: a global rank() window moves EVERYTHING to
    one partition, so first compute the k-th value with TakeOrderedAndProject
    (orderBy+limit — per-partition top-k merged on the driver, exact for the
    threshold), prefilter to spend >= that value (a handful of rows), and
    only rank the survivors. rank() keeps ties deterministic; the result is
    identical to ranking the full table."""
    o = table(spark, sf_dir, "orders")
    spend = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        dsum("o_totalprice").alias("spend")
    )
    kth = (
        spend.orderBy(F.desc("spend"))
        .limit(10)
        .agg(F.min("spend").alias("kth"))
    )
    survivors = spend.join(
        broadcast(kth), spend.spend >= kth.kth
    ).select("c_custkey", "spend")
    # bounded global window: input is the k-th-value survivor set (<= 10 + ties)
    w = Window.orderBy(F.desc("spend"))
    return (
        survivors.withColumn("rnk", F.rank().over(w).cast("long"))
        .filter(F.col("rnk") <= 10)
    )


@query(
    "topk_orders_per_priority",
    oracle=(
        "SELECT o_orderpriority, o_orderkey, o_totalprice FROM ("
        "  SELECT o_orderpriority, o_orderkey, o_totalprice, "
        "  ROW_NUMBER() OVER (PARTITION BY o_orderpriority "
        "    ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders"
        ") WHERE rn <= 3"
    ),
)
def topk_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via row_number with a total order (price desc, key)."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@query(
    "set_except_customers",
    oracle=(
        "SELECT DISTINCT o_custkey AS c_custkey FROM orders "
        "EXCEPT "
        "SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'"
    ),
)
def set_except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: customers with orders but no finished ('F') order."""
    o = table(spark, sf_dir, "orders")
    all_c = o.select(F.col("o_custkey").alias("c_custkey")).distinct()
    f_c = (
        o.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return all_c.subtract(f_c)


@query(
    "set_intersect_users",
    oracle=(
        "SELECT DISTINCT user_id FROM events WHERE event_type = 'click' "
        "INTERSECT "
        "SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'"
    ),
)
def set_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id").distinct()
    buys = e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return clicks.intersect(buys)


@query(
    "set_union_nationkeys",
    oracle=(
        "SELECT c_nationkey AS nationkey FROM customer "
        "UNION "
        "SELECT s_nationkey AS nationkey FROM supplier"
    ),
)
def set_union_nationkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


# ---------------------------------------------------------------------------
# Scalar function breadth
# ---------------------------------------------------------------------------


@query(
    "pivot_events_by_type",
    oracle=(
        "SELECT user_id, "
        "CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS clicks, "
        "CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS views, "
        "CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchases, "
        + dsum_sql("CASE WHEN event_type = 'purchase' THEN value ELSE NULL END")
        + " AS purchase_value "
        "FROM events GROUP BY user_id"
    ),
)
def pivot_events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot as conditional aggregation — one scan, one shuffle, fixed output
    schema (df.groupBy().pivot() needs a distinct-values pass or a hardcoded
    list anyway; FILTER-style aggs keep the plan static and oracle-portable)."""
    e = table(spark, sf_dir, "events")
    is_t = lambda t: F.col("event_type") == t  # noqa: E731
    return e.groupBy("user_id").agg(
        F.count(F.when(is_t("click"), 1)).alias("clicks"),
        F.count(F.when(is_t("view"), 1)).alias("views"),
        F.count(F.when(is_t("purchase"), 1)).alias("purchases"),
        F.sum(
            F.when(is_t("purchase"), F.col("value")).cast("decimal(18,2)")
        ).cast("double").alias("purchase_value"),
    )


@query(
    "grouping_sets_lineitem",
    oracle=(
        "SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag, "
        "coalesce(l_linestatus, 'ALL') AS l_linestatus, count(*) AS n, "
        + dsum_sql("l_quantity")
        + " AS sum_qty "
        "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"
    ),
)
def grouping_sets_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the spark.sql entry point (same
    Catalyst pipeline as the DataFrame API — SURVEY.md §3.3)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        "SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag, "
        "coalesce(l_linestatus, 'ALL') AS l_linestatus, count(*) AS n, "
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty "
        "FROM lineitem_v GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"
    )


@query(
    "exists_subquery_orders",
    oracle=(
        "SELECT o_orderkey, o_totalprice FROM orders o "
        "WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey "
        "              AND l.l_quantity >= 49) "
        "AND NOT EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = o.o_orderkey "
        "              AND l2.l_discount > 0.09)"
    ),
)
def exists_subquery_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS — decorrelated by Catalyst into
    left-semi + left-anti joins (the set-oriented probe pattern, #4/#11)."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v2")
    return spark.sql(
        "SELECT o_orderkey, o_totalprice FROM orders_v o "
        "WHERE EXISTS (SELECT 1 FROM lineitem_v2 l WHERE l.l_orderkey = o.o_orderkey "
        "              AND l.l_quantity >= 49) "
        "AND NOT EXISTS (SELECT 1 FROM lineitem_v2 l2 WHERE l2.l_orderkey = o.o_orderkey "
        "              AND l2.l_discount > 0.09)"
    )


@query(
    "string_funcs_parts",
    oracle=(
        "SELECT p_partkey, upper(p_name) AS name_upper, "
        "substring(p_name, 1, 5) AS name_prefix, "
        "string_split(p_name, ' ')[1] AS first_word, "
        "CAST(length(p_name) AS INT) AS name_len, "
        "p_brand || ':' || p_type AS brand_type, "
        "lpad(CAST(p_size AS VARCHAR), 3, '0') AS size_padded, "
        "regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num "
        "FROM part"
    ),
)
def string_funcs_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.split("p_name", " ").getItem(0).alias("first_word"),
        F.length("p_name").cast("int").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 3, "0").alias("size_padded"),
        F.regexp_extract("p_brand", "([0-9]+)", 1).alias("brand_num"),
    )


@query(
    "math_funcs_lineitem",
    oracle=(
        "SELECT l_orderkey, l_linenumber, "
        "abs(l_discount - 0.05) AS disc_dev, "
        "CAST(floor(l_quantity) AS BIGINT) AS qty_floor, "
        "CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS price_kilo, "
        "round(sqrt(l_quantity), 6) AS qty_sqrt, "
        "round(ln(l_extendedprice), 6) AS price_ln, "
        "CAST(sign(l_discount - l_tax) AS INT) AS disc_vs_tax, "
        "greatest(l_discount, l_tax) AS max_rate, "
        "least(l_discount, l_tax) AS min_rate, "
        "CAST(l_orderkey % 7 AS BIGINT) AS key_mod "
        "FROM lineitem WHERE l_orderkey < 2000"
    ),
)
def math_funcs_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar breadth. abs/floor/ceil/sign/greatest/least/% are exact;
    sqrt/ln are IEEE-identical on identical doubles, rounded defensively."""
    l = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.floor("l_quantity").cast("long").alias("qty_floor"),
        F.ceil(F.col("l_extendedprice") / 1000).cast("long").alias("price_kilo"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.log(F.col("l_extendedprice")), 6).alias("price_ln"),
        F.signum(F.col("l_discount") - F.col("l_tax")).cast("int").alias("disc_vs_tax"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
    )


@query(
    "array_funcs_embeddings",
    oracle=(
        "SELECT vec_id, "
        "CAST(len(embedding) AS INT) AS dim, "
        "round(embedding[1]::DOUBLE, 6) AS first_val, "
        "round(list_aggregate(list_transform(embedding, x -> x::DOUBLE), 'max'), 6) AS max_val, "
        "round(list_aggregate(list_transform(list_slice(embedding, 1, 8), x -> x::DOUBLE), 'sum'), 6) AS head_sum, "
        "CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos, "
        "round(list_sort(list_transform(embedding, x -> round(x::DOUBLE, 3)))[1], 6) AS min_rounded "
        "FROM embeddings WHERE vec_id < 100"
    ),
)
def array_funcs_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar breadth: size/index/slice/filter/sort/transform over the
    embedding column (Spark 0-indexed via [], DuckDB 1-indexed)."""
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.col("embedding")[0].cast("double"), 6).alias("first_val"),
        F.round(
            F.array_max(F.expr("transform(embedding, x -> cast(x as double))")), 6
        ).alias("max_val"),
        F.round(
            F.expr(
                "aggregate(slice(embedding, 1, 8), 0D, (a, x) -> a + cast(x as double))"
            ),
            6,
        ).alias("head_sum"),
        F.expr("size(filter(embedding, x -> x > 0))").alias("n_pos"),
        F.round(
            F.expr("array_sort(transform(embedding, x -> round(cast(x as double), 3)))")[0],
            6,
        ).alias("min_rounded"),
    )


@query(
    "map_funcs_events",
    oracle=(
        # map built from parsed JSON fields; DuckDB's map syntax differs, so
        # the oracle checks the SEMANTICS (key lookup + cardinality).
        "SELECT event_id, "
        "CAST(json_extract_string(props, '$.k') AS INT) AS k_from_map, "
        "2 AS n_keys, event_type AS type_from_map "
        "FROM events WHERE event_id < 2000"
    ),
)
def map_funcs_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map scalar breadth: build map<string,?> columns, look up keys, count
    cardinality — the oracle validates observable values."""
    e = table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    m = F.create_map(
        F.lit("k"), F.get_json_object("props", "$.k"),
        F.lit("type"), F.col("event_type"),
    )
    return e.withColumn("m", m).select(
        "event_id",
        F.col("m")["k"].cast("int").alias("k_from_map"),
        F.size("m").alias("n_keys"),
        F.col("m")["type"].alias("type_from_map"),
    )


@query(
    "date_funcs_orders",
    oracle=(
        "SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS yr, "
        "CAST(month(o_orderdate) AS INT) AS mo, "
        "CAST(day(o_orderdate) AS INT) AS dy, "
        "CAST(quarter(o_orderdate) AS INT) AS qtr, "
        "strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start, "
        "CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS days_to_2002, "
        "strftime(o_orderdate + INTERVAL 1 MONTH, '%Y-%m-%d') AS next_month "
        "FROM orders WHERE o_orderkey < 1000"
    ),
)
def date_funcs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        F.dayofmonth("o_orderdate").cast("int").alias("dy"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("int")
        .alias("days_to_2002"),
        F.date_format(F.add_months(F.col("o_orderdate"), 1), "yyyy-MM-dd").alias("next_month"),
    )


# ---------------------------------------------------------------------------
# Arg-min/max, distribution windows, unpivot
# ---------------------------------------------------------------------------


@query(
    "argminmax_orders_by_status",
    oracle=(
        # max_by/min_by with a collision-free BIGINT sort key: cents * 1e8 +
        # orderkey (fits in int64) — double ties can't make the answer drift
        "SELECT o_orderstatus, "
        "max_by(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 100000000 + o_orderkey) AS priciest_order, "
        "min_by(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 100000000 + o_orderkey) AS cheapest_order, "
        "max(o_totalprice) AS max_price, min(o_totalprice) AS min_price "
        "FROM orders GROUP BY o_orderstatus"
    ),
)
def argminmax_orders_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max/arg-min aggregates (max_by/min_by). Money is 2-decimal, so
    cents*1e8+orderkey is an exact, unique BIGINT ordering key — max_by over
    it is deterministic even when two orders share a price. Single hash agg,
    map-side partials collapse each status to one row per partition."""
    o = table(spark, sf_dir, "orders")
    key = (
        F.round(F.col("o_totalprice") * 100).cast("bigint") * F.lit(100000000)
        + F.col("o_orderkey")
    )
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", key).alias("priciest_order"),
        F.min_by("o_orderkey", key).alias("cheapest_order"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
    )


@query(
    "percent_rank_cume_dist",
    oracle=(
        "SELECT c_custkey, "
        "percent_rank() OVER (ORDER BY c_acctbal, c_custkey) AS pct_rank, "
        "cume_dist() OVER (ORDER BY c_acctbal, c_custkey) AS cum_dist "
        "FROM customer"
    ),
)
def percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions over a total order (acctbal, custkey) —
    rank/(n-1) and rank/n are engine-stable once the order has no ties."""
    c = table(spark, sf_dir, "customer")
    # global window is the OPERATOR's semantics (corpus-total distribution
    # ranks); scale path = range-partitioned rank, same as ntile above
    w = Window.orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
    )


@query(
    "unpivot_part_metrics",
    oracle=(
        "SELECT p_partkey, metric, val FROM ("
        "  UNPIVOT (SELECT p_partkey, CAST(p_size AS DOUBLE) AS p_size, "
        "           CAST(p_retailprice AS DOUBLE) AS p_retailprice FROM part) "
        "  ON p_size, p_retailprice INTO NAME metric VALUE val)"
    ),
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt). Narrow transformation — no shuffle, output
    is 2× the input rows; value columns unified to DOUBLE."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    ).unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@query(
    "range_frame_running_sum",
    oracle=(
        # numeric RANGE frame: peers by value distance, not row position
        "SELECT o_orderkey, o_custkey, o_totalprice, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) "
        "  OVER (PARTITION BY o_custkey ORDER BY o_totalprice "
        "  RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS nearby_sum "
        "FROM orders WHERE o_custkey < 200"
    ),
)
def range_frame_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame keyed on a numeric ordering column: for each order, the
    exact-decimal sum of this customer's orders priced within 5000 below it.
    RANGE (value-distance peers) vs ROWS (positional peers) is the §2.B
    frame-spec distinction; ties are safe because RANGE includes ALL peers of
    the current value, making the frame content order-independent."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-5000, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("nearby_sum"),
    )


@query(
    "explode_outer_high_dims",
    oracle=(
        # outer-unnest emulation: empty list → [NULL] so the parent row
        # survives with NULL pos/val (posexplode_outer semantics)
        "SELECT vec_id, CAST(unnest(pos_l) AS INT) AS pos, "
        "round(CAST(unnest(hi) AS DOUBLE), 6) AS val FROM ("
        "  SELECT vec_id, "
        "  CASE WHEN len(hi0) = 0 THEN [NULL] ELSE range(len(hi0)) END AS pos_l, "
        "  CASE WHEN len(hi0) = 0 THEN [NULL] ELSE hi0 END AS hi FROM ("
        "    SELECT vec_id, list_filter(embedding, x -> x > 0.9) AS hi0 "
        "    FROM embeddings WHERE vec_id < 200))"
    ),
)
def explode_outer_high_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode_outer: rows whose filtered array is EMPTY survive with NULL
    position/value — the outer-vs-inner explode distinction (inner explode
    silently drops them, the classic fan-out data-loss bug). Narrow op, no
    shuffle; float>0.9 comparison promotes exactly in both engines."""
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    hi = F.expr("filter(embedding, x -> x > 0.9)")
    return e.select("vec_id", hi.alias("hi")).select(
        "vec_id",
        F.posexplode_outer("hi"),
    ).select(
        "vec_id",
        F.col("pos").cast("int").alias("pos"),
        F.round(F.col("col").cast("double"), 6).alias("val"),
    )


@query(
    "bool_aggregates_orders",
    oracle=(
        "SELECT o_orderpriority, "
        "bool_and(o_totalprice > 1000) AS all_over_1k, "
        "bool_or(o_orderstatus = 'F') AS any_finished, "
        "CAST(count_if(o_orderstatus = 'O') AS BIGINT) AS n_open, "
        "CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big "
        "FROM orders GROUP BY o_orderpriority"
    ),
)
def bool_aggregates_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/conditional aggregates (every/some/count_if): the SQL:2023
    additions both engines ship. Single hash agg, map-side partials."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.count_if(F.col("o_orderstatus") == "O").alias("n_open"),
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
    )


@query(
    "levenshtein_close_names",
    oracle=(
        # edit-distance self-join on a bounded block (first letter) — the
        # fuzzy-matching primitive; blocking keeps candidates linear-ish
        "SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b, "
        "CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist "
        "FROM part a JOIN part b "
        "  ON substring(a.p_name, 1, 4) = substring(b.p_name, 1, 4) "
        " AND a.p_partkey < b.p_partkey "
        "WHERE a.p_partkey <= 400 AND b.p_partkey <= 400 "
        "  AND levenshtein(a.p_name, b.p_name) <= 6"
    ),
)
def levenshtein_close_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching with prefix blocking: the equi-join on a
    4-char prefix is the blocking key (same pattern as the LSH band join —
    equi-join candidates, verify with the expensive measure on survivors).
    Unblocked levenshtein is a quadratic cross join — never at scale."""
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 400)
    a = p.select(
        F.col("p_partkey").alias("pk_a"),
        F.col("p_name").alias("name_a"),
        F.substring("p_name", 1, 4).alias("blk"),
    )
    b = p.select(
        F.col("p_partkey").alias("pk_b"),
        F.col("p_name").alias("name_b"),
        F.substring("p_name", 1, 4).alias("blk"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("pk_a") < F.col("pk_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("int"))
        .filter(F.col("dist") <= 6)
        .select("pk_a", "pk_b", "dist")
    )


@query(
    "try_cast_props_amounts",
    oracle=(
        # TRY_CAST breadth: malformed → NULL, never a query-killing error
        "SELECT event_id, "
        "TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int, "
        "TRY_CAST(event_type AS BIGINT) AS not_a_number, "
        "COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT), -1) AS k_or_default "
        "FROM events WHERE event_id < 2000"
    ),
)
def try_cast_props_amounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_cast semantics under ANSI mode (Spark 4 default): bad casts yield
    NULL instead of failing the job — the difference between one malformed
    record poisoning a 100 TB scan and it landing in a quarantine bucket."""
    e = table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    k = F.expr("try_cast(get_json_object(props, '$.k') AS BIGINT)")
    return e.select(
        "event_id",
        k.alias("k_int"),
        F.expr("try_cast(event_type AS BIGINT)").alias("not_a_number"),
        F.coalesce(k, F.lit(-1)).alias("k_or_default"),
    )


@query(
    "set_ops_bag_semantics",
    oracle=(
        # bag (ALL) semantics: INTERSECT ALL keeps min(multiplicity),
        # EXCEPT ALL subtracts multiplicities — vs the distinct variants
        "SELECT 'intersect_all' AS op, o_orderpriority, "
        "CAST(count(*) AS BIGINT) AS n FROM ("
        "  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O' "
        "  INTERSECT ALL "
        "  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'"
        ") GROUP BY o_orderpriority "
        "UNION ALL "
        "SELECT 'except_all' AS op, o_orderpriority, "
        "CAST(count(*) AS BIGINT) AS n FROM ("
        "  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O' "
        "  EXCEPT ALL "
        "  SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'"
        ") GROUP BY o_orderpriority"
    ),
)
def set_ops_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersectAll/exceptAll (bag semantics): multiplicities are
    min-matched/subtracted, not collapsed — the §2.B set-ops row's ALL
    variants. Both compile to an aggregate of per-side counts plus a
    generate step, so cost is one shuffle on the compared columns."""
    o = table(spark, sf_dir, "orders")
    open_p = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    fin_p = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    ia = (
        open_p.intersectAll(fin_p)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "o_orderpriority", "n")
    )
    ea = (
        open_p.exceptAll(fin_p)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(F.lit("except_all").alias("op"), "o_orderpriority", "n")
    )
    return ia.unionByName(ea)


@query(
    "string_funcs2_customers",
    oracle=(
        "SELECT c_custkey, "
        "translate(c_name, '#', '-') AS name_dashed, "
        "reverse(c_mktsegment) AS seg_rev, "
        "repeat(substring(c_mktsegment, 1, 2), 2) AS seg_2x2, "
        "split_part(c_name, '#', 1) AS name_head, "
        "trim(rpad(c_mktsegment, 12, ' ')) AS seg_roundtrip "
        "FROM customer WHERE c_custkey <= 500"
    ),
)
def string_funcs2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String breadth #2: translate/reverse/repeat/split_part/trim+rpad —
    the portable subset both engines ship (DuckDB 1.0 lacks initcap/overlay;
    those stay Spark-only and unregistered). Narrow projection, codegen'd."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    return c.select(
        "c_custkey",
        F.translate("c_name", "#", "-").alias("name_dashed"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.repeat(F.substring("c_mktsegment", 1, 2), 2).alias("seg_2x2"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(1)).alias("name_head"),
        F.trim(F.rpad("c_mktsegment", 12, " ")).alias("seg_roundtrip"),
    )


# ---------------------------------------------------------------------------
# Data-quality filters
# ---------------------------------------------------------------------------


@query(
    "order_price_outliers",
    oracle=(
        # per-group p99 via one aggregate, broadcast back as the filter bound
        "WITH p AS (SELECT o_orderpriority, quantile_cont(o_totalprice, 0.99) AS p99 "
        "FROM orders GROUP BY o_orderpriority) "
        "SELECT o_orderkey, o.o_orderpriority, o_totalprice, round(p99, 6) AS p99 "
        "FROM orders o JOIN p USING (o_orderpriority) WHERE o_totalprice > p99"
    ),
)
def order_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantile outlier filter (the data-quality trim every
    curation pipeline applies): ONE aggregate computes each group's exact
    p99, the tiny bounds table broadcasts back onto the scan, and the filter
    runs during the join — the fact table never shuffles. At 100 TB swap the
    exact percentile for percentile_approx (mergeable sketch) with the
    accuracy gate pattern from tests/test_validation_and_bounds.py."""
    o = table(spark, sf_dir, "orders")
    bounds = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.99)").alias("p99")
    )
    return (
        o.join(broadcast(bounds), "o_orderpriority")
        .filter(F.col("o_totalprice") > F.col("p99"))
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.round("p99", 6).alias("p99"),
        )
    )
