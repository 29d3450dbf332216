package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Window-measure queries (SURVEY.md §2.5 W1-W4) + routing queries
  * (A9/A10). The DuckDB oracles hand-expand the same two-phase plan —
  * per-order-grain partials, then a frame over the day number — so the
  * window semantics contract is explicit and testable (SURVEY.md §7.3).
  */
object WindowQueries {

  import Queries.modelCtes
  import QueryDef.oracled

  /** W1: trailing-7-day revenue at the order_date grain. */
  def trailing7d(s: SparkSession, dir: String): DataFrame =
    trailing7dFrom(SparkEntry.catalog(s, dir))

  private def trailing7dFrom(cat: graft.api.MetricViewCatalog): DataFrame =
    cat.get("mv_order_metrics")
      .query(Seq("order_date"), Seq("trailing_7d_revenue"))
      .select(col("order_date"),
        col("trailing_7d_revenue").cast("double").as("trailing_7d_revenue"))
      .orderBy("order_date")

  val trailing7dSql: String = trailing7dSqlBy(None)

  /** Trailing-7-day revenue per day, within each `key` group if any. */
  private def trailing7dSqlBy(key: Option[String]): String = {
    val k = key.fold("")(_ + ", ")
    modelCtes +
      s""", base AS (
        |  SELECT ${k}order_date, sum(total_price) AS s
        |  FROM fct_orders GROUP BY ${k}order_date
        |)
        |SELECT ${k}order_date,
        |       CAST(sum(s) OVER (${key.fold("")(c => s"\n         PARTITION BY $c")}
        |         ORDER BY datediff('day', DATE '1970-01-01', order_date)
        |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         AS trailing_7d_revenue
        |FROM base ORDER BY ${k}order_date""".stripMargin
  }

  /** W1 partitioned: trailing-7d within each market segment. */
  def trailing7dSegment(s: SparkSession, dir: String): DataFrame =
    SparkEntry.catalog(s, dir).get("mv_order_metrics")
      .query(Seq("market_segment", "order_date"), Seq("trailing_7d_revenue"))
      .select(col("market_segment"), col("order_date"),
        col("trailing_7d_revenue").cast("double").as("trailing_7d_revenue"))
      .orderBy("market_segment", "order_date")

  val trailing7dSegmentSql: String = trailing7dSqlBy(Some("market_segment"))

  /** W2: cumulative (running-total) revenue over order_date. */
  def cumulative(s: SparkSession, dir: String): DataFrame =
    SparkEntry.catalog(s, dir).get("mv_order_metrics")
      .query(Seq("order_date"), Seq("cumulative_revenue"))
      .select(col("order_date"),
        col("cumulative_revenue").cast("double").as("cumulative_revenue"))
      .orderBy("order_date")

  val cumulativeSql: String =
    modelCtes +
      """, base AS (
        |  SELECT order_date, sum(total_price) AS s FROM fct_orders GROUP BY 1
        |)
        |SELECT order_date,
        |       CAST(sum(s) OVER (
        |         ORDER BY order_date
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         AS cumulative_revenue
        |FROM base ORDER BY order_date""".stripMargin

  /** W4: semiadditive `last` — window measures at a grain coarser than
    * the order column: value at max(order_date) per (year, month).
    * Contract: the frame partitions by the query dims, so cumulative
    * resets per group (documented in WindowPlanner). */
  def semiadditiveMonthly(s: SparkSession, dir: String): DataFrame =
    SparkEntry.catalog(s, dir).get("mv_order_metrics")
      .query(Seq("order_year", "order_month"),
        Seq("trailing_7d_revenue", "cumulative_revenue", "total_revenue"))
      .select(col("order_year"), col("order_month"),
        col("trailing_7d_revenue").cast("double").as("trailing_7d_revenue"),
        col("cumulative_revenue").cast("double").as("cumulative_revenue"),
        col("total_revenue").cast("double").as("total_revenue"))
      .orderBy("order_year", "order_month")

  val semiadditiveMonthlySql: String =
    modelCtes +
      """, base AS (
        |  SELECT order_year, order_month, order_date, sum(total_price) AS s
        |  FROM fct_orders GROUP BY 1, 2, 3
        |), valued AS (
        |  SELECT order_year, order_month, order_date,
        |         sum(s) OVER (
        |           PARTITION BY order_year, order_month
        |           ORDER BY datediff('day', DATE '1970-01-01', order_date)
        |           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS t7,
        |         sum(s) OVER (
        |           PARTITION BY order_year, order_month
        |           ORDER BY order_date
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM base
        |)
        |SELECT v.order_year, v.order_month,
        |       CAST(max_by(v.t7, v.order_date) AS DOUBLE) AS trailing_7d_revenue,
        |       CAST(max_by(v.cum, v.order_date) AS DOUBLE) AS cumulative_revenue,
        |       CAST(tot.total_revenue AS DOUBLE) AS total_revenue
        |FROM valued v
        |JOIN (SELECT order_year, order_month, sum(total_price) AS total_revenue
        |      FROM fct_orders GROUP BY 1, 2) tot
        |  USING (order_year, order_month)
        |GROUP BY v.order_year, v.order_month, tot.total_revenue
        |ORDER BY v.order_year, v.order_month""".stripMargin

  /** W3: stacked YTD — cumulative over order_date reset by
    * `range: current` on order_year (reference README.md:267-277). */
  def ytd(s: SparkSession, dir: String): DataFrame =
    SparkEntry.catalog(s, dir).get("mv_order_metrics")
      .query(Seq("order_date"), Seq("ytd_revenue"))
      .select(col("order_date"),
        col("ytd_revenue").cast("double").as("ytd_revenue"))
      .orderBy("order_date")

  val ytdSql: String =
    modelCtes +
      """, base AS (
        |  SELECT order_date, CAST(year(order_date) AS INT) AS order_year,
        |         sum(total_price) AS s
        |  FROM fct_orders GROUP BY 1, 2
        |)
        |SELECT order_date,
        |       CAST(sum(s) OVER (
        |         PARTITION BY order_year ORDER BY order_date
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         AS ytd_revenue
        |FROM base ORDER BY order_date""".stripMargin

  /** W1 with month/year trailing units (orderNumber's non-day paths)
    * over fct_customer_summary: per segment, trailing-6-month and
    * trailing-2-year spend by customers' last order date, plus a folded
    * plain count. Frame semantics: RANGE over the month number
    * (year*12+month-1) resp. the year number — value-ranged, so all
    * same-period peers are in frame regardless of row order. */
  def trailingMonthYear(s: SparkSession, dir: String): DataFrame =
    SparkEntry.catalog(s, dir).get("mv_customer_window")
      .query(Seq("market_segment", "last_order_date"),
        Seq("customers", "trailing_6m_spend", "trailing_2y_spend"),
        where = Some("last_order_date IS NOT NULL"))
      .select(col("market_segment"), col("last_order_date"), col("customers"),
        col("trailing_6m_spend").cast("double").as("trailing_6m_spend"),
        col("trailing_2y_spend").cast("double").as("trailing_2y_spend"))
      .orderBy("market_segment", "last_order_date")

  val trailingMonthYearSql: String =
    modelCtes +
      """, base AS (
        |  SELECT market_segment, last_order_date,
        |         year(last_order_date) * 12 + month(last_order_date) - 1 AS mnum,
        |         year(last_order_date) AS ynum,
        |         count(*) AS n, sum(total_spent) AS s
        |  FROM fct_customer_summary
        |  WHERE last_order_date IS NOT NULL
        |  GROUP BY 1, 2, 3, 4
        |)
        |SELECT market_segment, last_order_date, n AS customers,
        |       CAST(sum(s) OVER (
        |         PARTITION BY market_segment ORDER BY mnum
        |         RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         AS trailing_6m_spend,
        |       CAST(sum(s) OVER (
        |         PARTITION BY market_segment ORDER BY ynum
        |         RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         AS trailing_2y_spend
        |FROM base ORDER BY market_segment, last_order_date""".stripMargin

  /** W1 × GraftHistogram: trailing-30d approx-MEDIAN per day — a
    * windowed QUANTILE, which plain window functions cannot express at
    * scale (exact percentile over a sliding frame re-sorts the frame's
    * raw rows per output row). The planner's decomposed-partial design
    * gives it for free: histogram partials collapse to the date grain
    * first, [[graft.functions.GraftHistMerge]] re-aggregates 256-long
    * bin arrays over the RANGE frame, and the quantile scalar
    * interpolates per output row. Oracle: trailing bin counts via an
    * interval self-join (dense in bins — a per-bin window would drop
    * (date, bin) pairs absent on the current day), then the same
    * cumsum/pick/interpolate derivation as q_mv_percentile. */
  def trailingPercentile(s: SparkSession, dir: String): DataFrame =
    SparkEntry.catalog(s, dir).get("mv_orders_dist")
      .query(Seq("order_date"), Seq("trailing_30d_p50_value"))
      .orderBy("order_date")

  val trailingPercentileSql: String =
    Queries.modelCtes +
      s""", hb AS (
        |  SELECT order_date,
        |         ${Queries.binSql("CAST(total_price AS DOUBLE)", "0.0", "600000.0", 256)} AS bin
        |  FROM stg_orders
        |), db AS (
        |  SELECT order_date, bin, count(*) AS c FROM hb GROUP BY 1, 2
        |), th AS (
        |  SELECT d.order_date, b.bin, sum(b.c) AS c
        |  FROM (SELECT DISTINCT order_date FROM stg_orders) d
        |  JOIN db b ON b.order_date BETWEEN d.order_date - INTERVAL 29 DAY
        |                               AND d.order_date
        |  GROUP BY 1, 2
        |), """.stripMargin +
      Queries.quantileCtes(Seq("order_date"), "th",
        Seq("e" -> "0.5"), "0.0", "600000.0", 256) +
      """
        |SELECT order_date, v AS trailing_30d_p50_value
        |FROM e ORDER BY order_date""".stripMargin

  /** Period-over-period (`range: prior N <unit>`, RangeSpec.Prior): at
    * the calendar-month grain, last month's revenue and the same month
    * one year back, plus the MoM growth ratio as plain SELECT
    * arithmetic over the measures. The frame is RANGE pinned at offset
    * -n over the month number, so a month with no orders yields null
    * (not the previous present month) — the honest PoP contract. */
  def priorPeriod(s: SparkSession, dir: String): DataFrame = {
    val r = SparkEntry.catalog(s, dir).get("mv_revenue_pop")
      .query(Seq("order_month_start"),
        Seq("total_revenue", "prior_month_revenue", "yoy_month_revenue"))
      .select(col("order_month_start"),
        col("total_revenue").cast("double").as("total_revenue"),
        col("prior_month_revenue").cast("double").as("prior_month_revenue"),
        col("yoy_month_revenue").cast("double").as("yoy_month_revenue"))
    r.withColumn("mom_growth",
        round((col("total_revenue") - col("prior_month_revenue")) /
          col("prior_month_revenue"), 6))
      .orderBy("order_month_start")
  }

  val priorPeriodSql: String =
    modelCtes +
      """, base AS (
        |  SELECT date_trunc('month', order_date) AS order_month_start,
        |         year(order_date) * 12 + month(order_date) - 1 AS mnum,
        |         sum(total_price) AS s
        |  FROM fct_orders GROUP BY 1, 2
        |), valued AS (
        |  SELECT order_month_start,
        |         CAST(s AS DOUBLE) AS total_revenue,
        |         CAST(sum(s) OVER (ORDER BY mnum
        |           RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS DOUBLE)
        |           AS prior_month_revenue,
        |         CAST(sum(s) OVER (ORDER BY mnum
        |           RANGE BETWEEN 12 PRECEDING AND 12 PRECEDING) AS DOUBLE)
        |           AS yoy_month_revenue
        |  FROM base
        |)
        |SELECT order_month_start, total_revenue, prior_month_revenue,
        |       yoy_month_revenue,
        |       round((total_revenue - prior_month_revenue)
        |             / prior_month_revenue, 6) AS mom_growth
        |FROM valued ORDER BY order_month_start""".stripMargin

  // ------------------------------------------------------- routing (A9/A10)

  /** A10: routed to the revenue_by_segment rollup (reference
    * README.md:399-415 "reads ~5 rows"). Semantically invisible —
    * oracle is the direct aggregation. */
  def routedSegment(s: SparkSession, dir: String): DataFrame =
    SparkEntry.matCatalog(s, dir).get("mv_order_metrics")
      .query(Seq("market_segment"), Seq("total_revenue", "total_orders"))
      .select(col("market_segment"),
        col("total_revenue").cast("double").as("total_revenue"),
        col("total_orders"))
      .orderBy("market_segment")

  val routedSegmentSql: String =
    modelCtes +
      """SELECT market_segment,
        |       CAST(sum(total_price) AS DOUBLE) AS total_revenue,
        |       count(*) AS total_orders
        |FROM fct_orders GROUP BY market_segment ORDER BY market_segment""".stripMargin

  /** A10: routed to monthly_revenue rollup. */
  def routedMonthly(s: SparkSession, dir: String): DataFrame =
    SparkEntry.matCatalog(s, dir).get("mv_order_metrics")
      .query(Seq("order_year", "order_month"), Seq("total_revenue"))
      .select(col("order_year"), col("order_month"),
        col("total_revenue").cast("double").as("total_revenue"))
      .orderBy("order_year", "order_month")

  val routedMonthlySql: String =
    modelCtes +
      """SELECT order_year, order_month,
        |       CAST(sum(total_price) AS DOUBLE) AS total_revenue
        |FROM fct_orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** A10 + WHERE: rollup-routed with a dim filter covered by the
    * rollup (order_status ∈ revenue_by_segment dims). */
  def routedWhere(s: SparkSession, dir: String): DataFrame =
    SparkEntry.matCatalog(s, dir).get("mv_order_metrics")
      .query(Seq("market_segment"), Seq("total_revenue"),
        where = Some("order_status = 'F'"))
      .select(col("market_segment"),
        col("total_revenue").cast("double").as("total_revenue"))
      .orderBy("market_segment")

  val routedWhereSql: String =
    modelCtes +
      """SELECT market_segment, CAST(sum(total_price) AS DOUBLE) AS total_revenue
        |FROM fct_orders WHERE order_status = 'F'
        |GROUP BY market_segment ORDER BY market_segment""".stripMargin

  /** Baseline fallback (reference README.md:430): order_priority is not
    * covered by any rollup → served from the unaggregated cache. */
  def baselinePriority(s: SparkSession, dir: String): DataFrame =
    SparkEntry.matCatalog(s, dir).get("mv_order_metrics")
      .query(Seq("order_priority"), Seq("total_revenue", "avg_order_value"))
      .select(col("order_priority"),
        col("total_revenue").cast("double").as("total_revenue"),
        round(col("avg_order_value").cast("double"), 6).as("avg_order_value"))
      .orderBy("order_priority")

  val baselinePrioritySql: String =
    modelCtes +
      """SELECT order_priority,
        |       CAST(sum(total_price) AS DOUBLE) AS total_revenue,
        |       round(CAST(sum(total_price) AS DOUBLE) / count(total_price), 6) AS avg_order_value
        |FROM fct_orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Window measure served from the baseline cache (never from rollups,
    * reference README.md:431). */
  def trailingFromBaseline(s: SparkSession, dir: String): DataFrame =
    trailing7dFrom(SparkEntry.matCatalog(s, dir))

  /** Trailing-30-day revenue stddev per segment (r11): the variance
    * rewrite's (n, Σx, Σx²) partials collapse to (segment, day) grain,
    * frame-sum over the trailing RANGE, and the deterministic double
    * combiner applies after — dispersion windows exactly like sum.
    * The oracle hand-expands the same two-phase plan. */
  def trailingStddev(s: SparkSession, dir: String): DataFrame =
    trailingStddevFrom(SparkEntry.catalog(s, dir))

  private def trailingStddevFrom(cat: graft.api.MetricViewCatalog): DataFrame =
    cat.get("mv_orders_stats")
      .query(Seq("market_segment", "order_date"), Seq("trailing_30d_stddev"))
      .orderBy("market_segment", "order_date")

  val trailingStddevSql: String =
    modelCtes +
      s""", base AS (
         |  SELECT market_segment, order_date,
         |         count(total_price) AS n, sum(total_price) AS s,
         |         sum(total_price * total_price) AS q
         |  FROM fct_orders GROUP BY 1, 2
         |), w AS (
         |  SELECT market_segment, order_date,
         |         sum(n) OVER fr AS wn, sum(s) OVER fr AS ws,
         |         sum(q) OVER fr AS wq
         |  FROM base
         |  WINDOW fr AS (
         |    PARTITION BY market_segment
         |    ORDER BY datediff('day', DATE '1970-01-01', order_date)
         |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
         |)
         |SELECT market_segment, order_date,
         |       ${Queries.varFormulaSql("stddev", "wn", "ws", "wq")} AS trailing_30d_stddev
         |FROM w ORDER BY market_segment, order_date""".stripMargin

  /** The same trailing-30d stddev with the base collapse ROUTED
    * through the stats_by_seg_day rollup (r11): the frame re-aggregates
    * stored (n, Σx, Σx²) day partials — associative merges, so the
    * result is bit-identical to the raw-row collapse and the oracle is
    * the same SQL. RoutingSpec gates the plan (no raw scan). */
  def routedWindow(s: SparkSession, dir: String): DataFrame =
    trailingStddevFrom(SparkEntry.matCatalog(s, dir))

  /** W1 through the SQL surface (VERDICT r16 task 5): the same
    * trailing-7d window measure as [[trailing7d]], but via
    * `spark.sql` MEASURE() expansion — directly hash-gated by the same
    * DuckDB oracle instead of transitively via SqlMeasureSpec's
    * SQL-equals-DataFrame gate. */
  def sqlWindow(s: SparkSession, dir: String): DataFrame = {
    SparkEntry.catalog(s, dir) // registers views for the SQL path
    s.sql(
      """SELECT order_date,
        |       CAST(MEASURE(trailing_7d_revenue) AS DOUBLE) AS trailing_7d_revenue
        |FROM mv_order_metrics
        |GROUP BY order_date
        |ORDER BY order_date""".stripMargin)
  }

  /** Every query of this file with its oracle SQL. */
  lazy val registry: Seq[QueryDef] = Seq(
    oracled("q_routed_window", routedWindow, trailingStddevSql),
    oracled("q_sql_window", sqlWindow, trailing7dSql),
    oracled("q_win_stddev", trailingStddev, trailingStddevSql),
    oracled("q_win_trailing7d", trailing7d, trailing7dSql),
    oracled("q_win_trailing7d_segment", trailing7dSegment, trailing7dSegmentSql),
    oracled("q_win_cumulative", cumulative, cumulativeSql),
    oracled("q_win_semiadditive", semiadditiveMonthly, semiadditiveMonthlySql),
    oracled("q_win_ytd", ytd, ytdSql),
    oracled("q_win_month_year", trailingMonthYear, trailingMonthYearSql),
    oracled("q_win_prior", priorPeriod, priorPeriodSql),
    oracled("q_win_percentile", trailingPercentile, trailingPercentileSql),
    oracled("q_routed_segment", routedSegment, routedSegmentSql),
    oracled("q_routed_monthly", routedMonthly, routedMonthlySql),
    oracled("q_routed_where", routedWhere, routedWhereSql),
    oracled("q_baseline_priority", baselinePriority, baselinePrioritySql),
    oracled("q_win_from_baseline", trailingFromBaseline, trailing7dSql))
}
