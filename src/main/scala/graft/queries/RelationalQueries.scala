package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator battery over the driver-provided tables
  * (TESTDATA.md), one query per SURVEY.md §2 operator family, each with a
  * DuckDB oracle (SparkEntry.oracleSql). Conventions for oracle parity:
  * money/value sums are exact BIGINT cents via floor(x*100 + 0.5) (no
  * float-accumulation nondeterminism), every query is totally ordered, and
  * double outputs are rounded.
  */
object RelationalQueries {

  def T(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** exact integer cents from a double money column (same expr in oracle) */
  def cents(c: Column): Column = floor(c * 100 + 0.5).cast("long")

  // A1/A2/A3: grouped aggregation with multiple measures — partial agg
  // (map-side combine) is automatic; scales to any row count.
  def q1AggSum(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
      .agg(
        count(lit(1)).as("n"),
        sum("l_quantity").cast("long").as("sum_qty"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue_cents"))
      .orderBy("rf", "ls")

  // O2 top-k: TakeOrderedAndProject — no global sort materialisation.
  def q2TopK(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), cents(col("o_totalprice")).as("price_cents"))
      .orderBy(col("price_cents").desc, col("o_orderkey"))
      .limit(10)

  // J1 dim joins: customer and nation are small → broadcast both sides.
  def q3JoinAgg(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "orders")
      .join(broadcast(T(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("orders"), sum(cents(col("o_totalprice"))).as("cents"))
      .orderBy("n_name")

  // J5 anti join: customers with no high-value order, per nation (filter
  // pushed below the anti join — shrinks the build side before the shuffle).
  def q4Anti(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "customer")
      .join(T(s, dir, "orders").where(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n_customers"))
      .orderBy("n_name")

  // J5 semi join: parts that appear in lineitem, per brand. The probe side
  // only needs DISTINCT l_partkey (a semi join is membership), so reduce it
  // with a map-side-combined aggregate FIRST (guide §2.3 "aggregate before
  // you shuffle"): the wide fact table never rides the join shuffle — only
  // its key set does — and AQE's runtime re-optimization turns the join
  // into a broadcast hash join whenever the materialized key set is small
  // (scale-adaptive: at cluster scale it stays a key-only shuffle join).
  def q5Semi(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "part")
      .join(T(s, dir, "lineitem").select("l_partkey").distinct(),
        col("p_partkey") === col("l_partkey"), "left_semi")
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n_parts"))
      .orderBy("p_brand")

  // W5 latest-per-key — the CDC dedup primitive over a neutral table.
  def q6LatestPerKey(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    T(s, dir, "events")
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select("user_id", "event_id", "event_type")
      .orderBy("user_id")
  }

  // W2 ranking: top-20 users by event count. The rank ordering includes a
  // unique tiebreaker, so dense_rank == row_number and "rnk <= 20" is just
  // top-k: TakeOrderedAndProject (no global window, no single-task funnel);
  // ranks are then assigned over the 20 survivors via the partitioned
  // distributed-rank operator — zero unpartitioned windows in the plan.
  def q7Rank(s: SparkSession, dir: String): DataFrame = {
    val counts = T(s, dir, "events").groupBy("user_id").agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("user_id")).limit(20)
    graft.operators.DistributedRank
      .withRowNumber(top, Seq(col("n").desc, col("user_id")), "rnk", parts = 1)
      .select(col("rnk").cast("long").as("rnk"), col("user_id"), col("n"))
      .orderBy("rnk", "user_id")
  }

  // W3 quantile binning: exact ntile(5) over per-user total cents WITHOUT a
  // global window — distributed rank (range partition + per-partition
  // window + broadcast offsets) then the NTILE split formula. Identical
  // buckets to SQL NTILE at any scale.
  def q8Ntile(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DistributedRank
    val per = T(s, dir, "events").groupBy("user_id").agg(sum(cents(col("value"))).as("user_cents"))
    val m = per.count()
    val ranked = DistributedRank.withRowNumber(per, Seq(col("user_cents"), col("user_id")), "__rank")
    ranked.withColumn("bucket", DistributedRank.ntileFromRank(col("__rank"), m, 5))
      .groupBy("bucket").agg(count(lit(1)).as("users"), sum("user_cents").as("sum_cents"))
      .orderBy("bucket")
  }

  // A7 Shannon entropy per group — the reference's one custom aggregate
  // (stuttgart_maps_all.py:616-626), as a two-level agg + window, mirrored
  // exactly by the oracle SQL so float evaluation order matches.
  def q9Entropy(s: SparkSession, dir: String): DataFrame = {
    val counts = T(s, dir, "events")
      .groupBy((col("user_id") % 20).as("grp"), col("event_type"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    val p = counts.withColumn("p", col("cnt") / sum("cnt").over(Window.partitionBy("grp")))
    p.groupBy("grp").agg(round(-sum(col("p") * log(col("p"))), 4).as("entropy"))
      .orderBy("grp")
  }

  // A6 weighted average: exact integer sums, one final double division.
  def q10WeightedAvg(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("rf"))
      .agg((sum(cents(col("l_extendedprice"))) / sum(col("l_quantity").cast("long"))).as("wavg_cents"))
      .select(col("rf"), round(col("wavg_cents"), 4).as("wavg_cents"))
      .orderBy("rf")

  // P3/§2.11 rule-driven categorisation: config map compiled to a
  // when/otherwise chain (the reference's YAML tag→category tables).
  val categoryRules: Seq[(String, String)] = Seq(
    "click" -> "engagement", "view" -> "engagement",
    "purchase" -> "conversion", "signup" -> "conversion",
    "error" -> "ops")

  def q11Categorize(s: SparkSession, dir: String): DataFrame = {
    val cat = categoryRules.foldLeft(Option.empty[Column]) { case (acc, (k, v)) =>
      val cond = col("event_type") === k
      Some(acc.fold(when(cond, v))(_.when(cond, v)))
    }.get.otherwise("other")
    T(s, dir, "events")
      .withColumn("category", cat)
      .groupBy("category").agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("cents"))
      .orderBy("category")
  }

  // U1/U3/U4 set ops across tables (bag→set semantics like the reference's
  // index-membership anti joins, stuttgart_comprehensive_script.py:258).
  // One full-outer-join pass computes union/except/intersect cardinalities
  // together — one shuffle, one action, no driver-side loop (the round-1
  // form ran three separate jobs).
  def q12SetOps(s: SparkSession, dir: String): DataFrame = {
    val users = T(s, dir, "events").select(col("user_id").as("k")).distinct()
      .withColumn("l", lit(1))
    val custs = T(s, dir, "orders").select(col("o_custkey").as("ck")).distinct()
      .withColumn("r", lit(1))
    users.join(custs, col("k") === col("ck"), "full_outer")
      .agg(count(lit(1)).as("union_n"),
        sum(when(col("l").isNotNull && col("r").isNull, 1L).otherwise(0L)).as("except_n"),
        sum(when(col("l").isNotNull && col("r").isNotNull, 1L).otherwise(0L)).as("intersect_n"))
  }

  // P8/W1 quantile-threshold filter, EXACT percent_rank semantics with no
  // window at all: pr(v) = cntLess(v)/(n-1) >= 0.8  <=>  v > x_k where
  // x_k is the ceil(0.8*(n-1))-th smallest value (ties included on both
  // sides of the equivalence). x_k comes from the exact distributed
  // order-statistic operator (histogram refinement — 3-4 column-pruned
  // scans, no row movement), so the plan scales to 10^10 rows while
  // matching the oracle's percent_rank SQL row-for-row.
  def q13PercentRankFilter(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val n = ev.count()
    val filtered =
      if (n <= 1) ev
      else {
        val k = math.ceil(0.8 * (n - 1)).toLong
        if (k < 1) ev
        else {
          val t = graft.operators.Quantiles.kthSmallest(ev, col("value"), k)
          ev.where(col("value") > t)
        }
      }
    filtered.groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  // §2.10 tumbling-window aggregation (event-time bucketing).
  def q14Tumbling(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("cents"))
      .select(unix_timestamp(col("w.start")).as("hour_start"), col("n"), col("cents"))
      .orderBy("hour_start")

  // A13 rollup (multi-granularity stats for the publish layer).
  def q15Rollup(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum("l_quantity").cast("long").as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("n"), col("sum_qty"))
      .orderBy("rf", "ls")

  // W4 min-max normalisation against global bounds (broadcast scalar agg,
  // not a window — stays fully parallel).
  def q16MinMaxNorm(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    val bounds = ev.agg(min("value").as("lo"), max("value").as("hi"))
    ev.crossJoin(broadcast(bounds))
      .withColumn("norm", (col("value") - col("lo")) / (col("hi") - col("lo")))
      .groupBy("event_type").agg(round(avg("norm"), 6).as("avg_norm"))
      .orderBy("event_type")
  }

  // J6 proportional-split row expansion (the reference's areal
  // interpolation, population_pipeline_stuttgart.py:99-129): each order's
  // price is split across its lineitems proportional to quantity, then
  // re-aggregated. Allocation in exact integer micro-cents via integral
  // floor division — identical arithmetic in both engines, no float-sum
  // nondeterminism. The per-order weight sum is a PARTITIONED window.
  def q34PropSplit(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
    val withSum = li.withColumn("qty_sum", sum("qty").over(Window.partitionBy("l_orderkey")))
    val o = T(s, dir, "orders").select(col("o_orderkey"), cents(col("o_totalprice")).as("pc"))
    withSum.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("alloc", expr("(pc * 10000 * qty) DIV qty_sum"))
      .groupBy(col("l_returnflag").as("rf"))
      .agg(sum("alloc").as("alloc_microcents"), count(lit(1)).as("n"))
      .orderBy("rf")
  }

  // W6/§2.10 sliding (overlapping) event-time windows: 1-hour windows
  // every 30 minutes — each event contributes to exactly 2 windows.
  def q35Sliding(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("cents"))
      .select(unix_timestamp(col("w.start")).as("win_start"), col("n"), col("cents"))
      .orderBy("win_start")

  // A10 exact global quantiles at scale: the distributed order-statistic
  // operator (histogram refinement, no row movement) — semantics pinned to
  // k = ceil(p*n), the type-1 discontinuous quantile, which the oracle
  // reproduces with row_number.
  def q36ExactQuantiles(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantiles
    val ev = T(s, dir, "events")
    // fused: one count/min-max pass + one histogram pass serve all three
    // fractions (round-8; was 3 independent per-fraction sweeps)
    val rows = Quantiles.exactQuantiles(ev, col("value"), Seq(0.5, 0.9, 0.99))
    import s.implicits._
    rows.toDF("p", "value_at_p").orderBy("p")
  }

  // A8 kernel sum over radius candidates (the reference's gravity score
  // Σ w/d² per cell, stuttgart_maps_all.py:548-560): 1-D cells over the
  // customer balance axis; each cell's candidates come from a BANDED
  // equi-join (own + adjacent cells — never all-pairs), then the inverse-
  // square kernel aggregates per cell. The band join is the J7 bucketing
  // shape, so the whole query scales by hash shuffle on the cell id.
  def q40KernelSum(s: SparkSession, dir: String): DataFrame = {
    val pts = T(s, dir, "customer")
      .select(col("c_acctbal").cast("double").as("x"))
      .withColumn("cell", floor(col("x") / 500).cast("long"))
    val cells = pts.select("cell").distinct()
      .withColumn("center", col("cell") * 500 + lit(250.0))
    val cand = cells.withColumn("probe",
      explode(array(col("cell") - 1, col("cell"), col("cell") + 1)))
    cand.join(pts.select(col("cell").as("probe"), col("x")), Seq("probe"))
      .withColumn("d", abs(col("x") - col("center")))
      .where(col("d").between(1.0, 500.0)) // radius cut; d ≥ 1 guards the pole
      .groupBy("cell")
      .agg(count(lit(1)).as("n_cand"),
        round(sum(lit(1.0) / (col("d") * col("d"))), 6).as("kernel"))
      .orderBy("cell")
  }

  // W6 frame specs: running (cumulative) totals per user over event time —
  // a PARTITIONED window with an explicit ROWS frame (unbounded preceding →
  // current row). Output capped to the first 5 events of the first 20
  // users so the result stays assertable at any scale.
  def q38RunningTotal(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    T(s, dir, "events")
      .where(col("user_id") < 20)
      .withColumn("cum_cents", sum(cents(col("value"))).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .select(col("user_id"), col("rn").cast("long").as("rn"), col("cum_cents"))
      .orderBy("user_id", "rn")
  }

  val oracles: Map[String, String] = Map(
    "q40_kernel_sum" -> """
      WITH pts AS (SELECT c_acctbal::DOUBLE AS x,
                          CAST(floor(c_acctbal::DOUBLE / 500) AS BIGINT) AS cell FROM customer),
      cells AS (SELECT DISTINCT cell, cell * 500 + 250.0 AS center FROM pts),
      cand AS (SELECT cell, center, unnest([cell - 1, cell, cell + 1]) AS probe FROM cells),
      j AS (SELECT c.cell, abs(p.x - c.center) AS d
            FROM cand c JOIN pts p ON p.cell = c.probe
            WHERE abs(p.x - c.center) BETWEEN 1.0 AND 500.0)
      SELECT cell, count(*) AS n_cand, round(sum(1.0 / (d * d)), 6) AS kernel
      FROM j GROUP BY 1 ORDER BY 1""",
    "q38_running_total" -> """
      SELECT user_id, rn, cum_cents FROM (
        SELECT user_id,
               CAST(row_number() OVER w AS BIGINT) AS rn,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                 OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
        FROM events WHERE user_id < 20
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      WHERE rn <= 5 ORDER BY user_id, rn""",
    "q34_prop_split" -> """
      WITH li AS (SELECT l_orderkey, l_returnflag, CAST(l_quantity AS BIGINT) AS qty FROM lineitem),
      s AS (SELECT l_orderkey AS sk, CAST(sum(qty) AS BIGINT) AS qty_sum FROM li GROUP BY 1),
      o AS (SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS pc FROM orders)
      SELECT l_returnflag AS rf,
             CAST(sum((pc * 10000 * qty) // qty_sum) AS BIGINT) AS alloc_microcents,
             count(*) AS n
      FROM li JOIN s ON sk = l_orderkey JOIN o ON o_orderkey = l_orderkey
      GROUP BY 1 ORDER BY 1""",
    "q35_sliding" -> """
      SELECT win_start, count(*) AS n,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM (SELECT unnest([e - (e % 1800), e - (e % 1800) - 1800]) AS win_start, value
            FROM (SELECT epoch_ms(ts) // 1000 AS e, value FROM events))
      GROUP BY 1 ORDER BY 1""",
    "q36_exact_quantiles" -> """
      SELECT p, value_at_p FROM (
        SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS p),
      LATERAL (
        SELECT value AS value_at_p FROM (
          SELECT value, row_number() OVER (ORDER BY value) AS rn FROM events)
        WHERE rn = CAST(ceil(p * (SELECT count(*) FROM events)) AS BIGINT))
      ORDER BY p""",
    "q1_agg_sum" -> """
      SELECT l_returnflag AS rf, l_linestatus AS ls, count(*) AS n,
             CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
             CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q2_topk" -> """
      SELECT o_orderkey, o_custkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
      FROM orders ORDER BY price_cents DESC, o_orderkey LIMIT 10""",
    "q3_join_agg" -> """
      SELECT n_name, count(*) AS orders,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1 ORDER BY 1""",
    "q4_anti" -> """
      SELECT n_name, count(*) AS n_customers
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
      GROUP BY 1 ORDER BY 1""",
    "q5_semi" -> """
      SELECT p_brand, count(*) AS n_parts FROM part
      WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
      GROUP BY 1 ORDER BY 1""",
    "q6_latest_per_key" -> """
      SELECT user_id, event_id, event_type FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
        FROM events) WHERE rn = 1 ORDER BY user_id""",
    "q7_rank" -> """
      SELECT rnk, user_id, n FROM (
        SELECT user_id, n, dense_rank() OVER (ORDER BY n DESC, user_id) AS rnk FROM (
          SELECT user_id, count(*) AS n FROM events GROUP BY 1))
      WHERE rnk <= 20 ORDER BY rnk, user_id""",
    "q8_ntile" -> """
      SELECT bucket, count(*) AS users, CAST(sum(user_cents) AS BIGINT) AS sum_cents FROM (
        SELECT user_id, user_cents, ntile(5) OVER (ORDER BY user_cents, user_id) AS bucket FROM (
          SELECT user_id, CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS user_cents
          FROM events GROUP BY 1))
      GROUP BY 1 ORDER BY 1""",
    "q9_entropy" -> """
      SELECT grp, round(-sum(p * ln(p)), 4) AS entropy FROM (
        SELECT grp, cnt / sum(cnt) OVER (PARTITION BY grp) AS p FROM (
          SELECT user_id % 20 AS grp, event_type, count(*)::DOUBLE AS cnt
          FROM events GROUP BY 1, 2))
      GROUP BY grp ORDER BY grp""",
    "q10_weighted_avg" -> """
      SELECT l_returnflag AS rf,
             round(CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)) AS BIGINT) / CAST(sum(l_quantity) AS BIGINT), 4) AS wavg_cents
      FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q11_categorize" -> """
      SELECT CASE WHEN event_type = 'click' THEN 'engagement'
                  WHEN event_type = 'view' THEN 'engagement'
                  WHEN event_type = 'purchase' THEN 'conversion'
                  WHEN event_type = 'signup' THEN 'conversion'
                  WHEN event_type = 'error' THEN 'ops'
                  ELSE 'other' END AS category,
             count(*) AS n, CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1 ORDER BY 1""",
    "q12_set_ops" -> """
      SELECT (SELECT count(*) FROM (SELECT user_id AS k FROM events UNION SELECT o_custkey FROM orders)) AS union_n,
             (SELECT count(*) FROM (SELECT DISTINCT user_id AS k FROM events EXCEPT SELECT DISTINCT o_custkey FROM orders)) AS except_n,
             (SELECT count(*) FROM (SELECT DISTINCT user_id AS k FROM events INTERSECT SELECT DISTINCT o_custkey FROM orders)) AS intersect_n""",
    "q13_percent_rank_filter" -> """
      SELECT event_type, count(*) AS n FROM (
        SELECT event_type, percent_rank() OVER (ORDER BY value) AS pr FROM events)
      WHERE pr >= 0.8 GROUP BY 1 ORDER BY 1""",
    "q14_tumbling" -> """
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start, count(*) AS n,
             CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1 ORDER BY 1""",
    "q15_rollup" -> """
      SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
             count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY 1, 2""",
    "q16_minmax_norm" -> """
      SELECT event_type, round(avg((value - lo) / (hi - lo)), 6) AS avg_norm
      FROM events, (SELECT min(value) AS lo, max(value) AS hi FROM events)
      GROUP BY 1 ORDER BY 1"""
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg_sum" -> q1AggSum _, "q2_topk" -> q2TopK _, "q3_join_agg" -> q3JoinAgg _,
    "q4_anti" -> q4Anti _, "q5_semi" -> q5Semi _, "q6_latest_per_key" -> q6LatestPerKey _,
    "q7_rank" -> q7Rank _, "q8_ntile" -> q8Ntile _, "q9_entropy" -> q9Entropy _,
    "q10_weighted_avg" -> q10WeightedAvg _, "q11_categorize" -> q11Categorize _,
    "q12_set_ops" -> q12SetOps _, "q13_percent_rank_filter" -> q13PercentRankFilter _,
    "q14_tumbling" -> q14Tumbling _, "q15_rollup" -> q15Rollup _,
    "q16_minmax_norm" -> q16MinMaxNorm _,
    "q34_prop_split" -> q34PropSplit _, "q35_sliding" -> q35Sliding _,
    "q36_exact_quantiles" -> q36ExactQuantiles _,
    "q38_running_total" -> q38RunningTotal _,
    "q40_kernel_sum" -> q40KernelSum _
  )
}
