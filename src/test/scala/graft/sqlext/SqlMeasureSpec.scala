package graft.sqlext

import graft.{SparkEntry, SparkSpec}

/** The SQL MEASURE() surface (reference README.md:124-141): parity with
  * the DataFrame path, including routing and window measures. */
class SqlMeasureSpec extends SparkSpec {

  private def init(): Unit = SparkEntry.catalog(spark, sfDir)

  test("SELECT dim, MEASURE(m) FROM mv GROUP BY dim") {
    init()
    val sql = spark.sql(
      """SELECT market_segment, MEASURE(total_revenue) AS total_revenue,
        |       MEASURE(total_orders) AS total_orders
        |FROM mv_order_metrics GROUP BY market_segment""".stripMargin)
    val api = SparkEntry.catalog(spark, sfDir).get("mv_order_metrics")
      .query(Seq("market_segment"), Seq("total_revenue", "total_orders"))
    assert(sql.collect().map(_.toSeq).toSet == api.collect().map(_.toSeq).toSet)
  }

  test("approx-percentile measure through SQL MEASURE()") {
    init()
    val sql = spark.sql(
      """SELECT order_priority, MEASURE(p50_order_value) AS p50_order_value,
        |       MEASURE(trailing_30d_p50_value) IS NOT NULL AS has_window
        |FROM mv_orders_dist GROUP BY order_priority""".stripMargin)
    // the windowed percentile rides the same expansion; compare the
    // plain percentile against the DataFrame path
    val api = SparkEntry.catalog(spark, sfDir).get("mv_orders_dist")
      .query(Seq("order_priority"), Seq("p50_order_value"))
    assert(sql.select("order_priority", "p50_order_value")
      .collect().map(_.toSeq).toSet == api.collect().map(_.toSeq).toSet)
  }

  test("top-k heavy-hitter measure through SQL MEASURE()") {
    init()
    val sql = spark.sql(
      """SELECT order_status, MEASURE(top_customers) AS top_customers
        |FROM mv_orders_topk GROUP BY order_status""".stripMargin)
    val api = SparkEntry.catalog(spark, sfDir).get("mv_orders_topk")
      .query(Seq("order_status"), Seq("top_customers"))
    assert(sql.collect().map(_.toString).toSet ==
      api.collect().map(_.toString).toSet)
  }

  test("WHERE over dims + GROUP BY ordinal + scalar over MEASURE") {
    init()
    val sql = spark.sql(
      """SELECT order_status, round(MEASURE(avg_order_value), 2) AS aov
        |FROM mv_order_metrics WHERE order_year = 1995 GROUP BY 1""".stripMargin)
    val api = SparkEntry.catalog(spark, sfDir).get("mv_order_metrics")
      .query(Seq("order_status"), Seq("avg_order_value"), Some("order_year = 1995"))
      .selectExpr("order_status", "round(avg_order_value, 2) AS aov")
    assert(sql.collect().map(_.toSeq).toSet == api.collect().map(_.toSeq).toSet)
  }

  test("global aggregate: SELECT MEASURE(m) FROM mv") {
    init()
    val n = spark.sql("SELECT MEASURE(total_orders) AS n FROM mv_order_metrics")
      .collect()(0).getLong(0)
    assert(n == graft.model.Models.stgOrders(spark, sfDir).count())
  }

  test("window measure through SQL") {
    init()
    val sql = spark.sql(
      """SELECT order_date, MEASURE(trailing_7d_revenue) AS t7
        |FROM mv_order_metrics GROUP BY order_date""".stripMargin)
    val api = SparkEntry.catalog(spark, sfDir).get("mv_order_metrics")
      .query(Seq("order_date"), Seq("trailing_7d_revenue"))
    assert(sql.collect().map(_.toSeq).toSet == api.collect().map(_.toSeq).toSet)
  }

  test("table alias + qualified dim references") {
    init()
    val sql = spark.sql(
      """SELECT m.market_segment, MEASURE(total_customers) AS c
        |FROM mv_customer_metrics m GROUP BY m.market_segment""".stripMargin)
    assert(sql.collect().length == 5)
  }

  test("ORDER BY / HAVING compose over the expansion") {
    init()
    val rows = spark.sql(
      """SELECT market_segment, MEASURE(total_revenue) AS rev
        |FROM mv_order_metrics GROUP BY market_segment
        |HAVING MEASURE(total_orders) > 0 ORDER BY rev DESC LIMIT 3""".stripMargin)
      .collect()
    assert(rows.length == 3)
    assert(rows.map(r => r.getDecimal(1).doubleValue).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("MEASURE(a)/MEASURE(b) arithmetic in SELECT matches the measure-level ratio") {
    // r5 stretch #7, pinned with exact values: the ratio must be
    // computed per-GROUP from the two expanded measures — not from any
    // row-level shortcut — so it must equal the DataFrame path's
    // sum/count division bit-for-bit.
    init()
    val sql = spark.sql(
      """SELECT market_segment,
        |       CAST(MEASURE(total_revenue) AS DOUBLE) / MEASURE(total_orders) AS rev_per_order
        |FROM mv_order_metrics GROUP BY market_segment""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val api = SparkEntry.catalog(spark, sfDir).get("mv_order_metrics")
      .query(Seq("market_segment"), Seq("total_revenue", "total_orders"))
      .selectExpr("market_segment",
        "CAST(total_revenue AS DOUBLE) / total_orders AS rev_per_order")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sql == api)
  }

  test("HAVING MEASURE(x) > k filters groups by the aggregated value") {
    // a threshold that actually removes groups (unlike the > 0 smoke
    // above), verified against the DataFrame path's post-agg filter —
    // and a HAVING over a measure arithmetic expression.
    init()
    val api = SparkEntry.catalog(spark, sfDir).get("mv_order_metrics")
      .query(Seq("order_year"), Seq("total_orders"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    val counts = api.values.toSeq.sorted
    val k = counts(counts.size / 2) // median: guarantees a real cut
    val sql = spark.sql(
      s"""SELECT order_year, MEASURE(total_orders) AS n
         |FROM mv_order_metrics GROUP BY order_year
         |HAVING MEASURE(total_orders) > $k""".stripMargin)
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    assert(sql == api.filter(_._2 > k))
    assert(sql.nonEmpty && sql.size < api.size, "threshold must cut some groups")

    val ratioCut = spark.sql(
      """SELECT order_year
        |FROM mv_order_metrics GROUP BY order_year
        |HAVING CAST(MEASURE(total_revenue) AS DOUBLE) / MEASURE(total_orders) > 151000""".stripMargin)
      .collect().map(_.get(0)).toSet
    val ratioApi = SparkEntry.catalog(spark, sfDir).get("mv_order_metrics")
      .query(Seq("order_year"), Seq("total_revenue", "total_orders"))
      .selectExpr("order_year", "CAST(total_revenue AS DOUBLE) / total_orders AS r")
      .collect().filter(_.getDouble(1) > 151000).map(_.get(0)).toSet
    assert(ratioCut == ratioApi)
  }

  test("routed SQL query scans the rollup, not the raw source") {
    // register the MATERIALIZING catalog's views for SQL resolution
    // explicitly: constructing matCatalog only registers on a cache
    // miss, so suite-order (who constructed catalogs last) would
    // otherwise decide whether this query can route
    SqlMetricViews.registerAll(SparkEntry.matCatalog(spark, sfDir))
    val df = spark.sql(
      """SELECT market_segment, MEASURE(total_revenue) AS r
        |FROM mv_order_metrics GROUP BY market_segment""".stripMargin)
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
    }.flatten
    assert(scans.exists(_.contains("revenue_by_segment")), scans.mkString("\n"))
    assert(!scans.exists(_.contains("orders.parquet")), scans.mkString("\n"))
    // restore plain (unrouted) registration for other tests
    SqlMetricViews.registerAll(SparkEntry.catalog(spark, sfDir))
  }

  test("ORDER BY MEASURE() on an unselected measure") {
    init()
    val rows = spark.sql(
      """SELECT market_segment
        |FROM mv_order_metrics GROUP BY market_segment
        |ORDER BY MEASURE(total_revenue) DESC""".stripMargin).collect()
    val want = SparkEntry.catalog(spark, sfDir).get("mv_order_metrics")
      .query(Seq("market_segment"), Seq("total_revenue"))
      .orderBy(org.apache.spark.sql.functions.desc("total_revenue"))
      .select("market_segment").collect()
    assert(rows.map(_.getString(0)).toSeq == want.map(_.getString(0)).toSeq)
  }

  test("MEASURE() over two metric views: UNION ALL of per-view aggregates (r2 residual)") {
    init()
    val sql = spark.sql(
      """SELECT order_status, MEASURE(total_revenue) AS rev, 'metrics' AS src
        |FROM mv_order_metrics GROUP BY 1
        |UNION ALL
        |SELECT order_status, MEASURE(total_revenue) AS rev, 'simple' AS src
        |FROM mv_orders_simple GROUP BY 1""".stripMargin)
    val cat = SparkEntry.catalog(spark, sfDir)
    val want =
      cat.get("mv_order_metrics").query(Seq("order_status"), Seq("total_revenue"))
        .selectExpr("order_status", "total_revenue AS rev", "'metrics' AS src")
        .unionAll(cat.get("mv_orders_simple").query(Seq("order_status"), Seq("total_revenue"))
          .selectExpr("order_status", "total_revenue AS rev", "'simple' AS src"))
    assert(sql.collect().map(_.toSeq).toSet == want.collect().map(_.toSeq).toSet)
  }

  test("MEASURE() over two metric views: join of aggregated subqueries (r2 residual)") {
    init()
    val rows = spark.sql(
      """SELECT a.market_segment, a.rev, b.cust
        |FROM (SELECT market_segment, MEASURE(total_revenue) AS rev
        |      FROM mv_order_metrics GROUP BY 1) a
        |JOIN (SELECT market_segment, MEASURE(total_customers) AS cust
        |      FROM mv_customer_metrics GROUP BY 1) b
        |  ON a.market_segment = b.market_segment""".stripMargin).collect()
    assert(rows.length == 5)
    val cust = SparkEntry.catalog(spark, sfDir).get("mv_customer_metrics")
      .query(Seq("market_segment"), Seq("total_customers"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.forall(r => cust(r.getString(0)) == r.getLong(2)))
  }

  test("period-over-period window measures through SQL MEASURE() (r11)") {
    init()
    val sql = spark.sql(
      """SELECT order_month_start,
        |       MEASURE(total_revenue) AS total_revenue,
        |       MEASURE(prior_month_revenue) AS prior_month_revenue
        |FROM mv_revenue_pop GROUP BY order_month_start
        |ORDER BY order_month_start""".stripMargin)
    val api = SparkEntry.catalog(spark, sfDir).get("mv_revenue_pop")
      .query(Seq("order_month_start"), Seq("total_revenue", "prior_month_revenue"))
      .orderBy("order_month_start")
    assert(sql.collect().map(_.toSeq).toSeq == api.collect().map(_.toSeq).toSeq)
  }

  test("graft_spine TVF: gap-filled series through spark.sql (r11)") {
    init()
    val sql = spark.sql(
      """SELECT * FROM graft_spine('mv_order_metrics', 'order_date', 'day',
        |  'market_segment,order_date', 'total_revenue,cumulative_revenue',
        |  'total_revenue', 'cumulative_revenue',
        |  'order_priority = ''1-URGENT'' AND order_status = ''F''')
        |ORDER BY market_segment, order_date""".stripMargin)
    val api = SparkEntry.catalog(spark, sfDir).get("mv_order_metrics")
      .querySpine(Seq("market_segment", "order_date"),
        Seq("total_revenue", "cumulative_revenue"),
        graft.api.SpineSpec("order_date", "day",
          zeroFill = Seq("total_revenue"), ffill = Seq("cumulative_revenue")),
        where = Some("order_priority = '1-URGENT' AND order_status = 'F'"))
      .orderBy("market_segment", "order_date")
    assert(sql.collect().map(_.toSeq).toSeq == api.collect().map(_.toSeq).toSeq)
  }

  test("graft_spine TVF: parsing and analysis run no Spark job") {
    init()
    val text =
      """SELECT * FROM graft_spine('mv_order_metrics', 'order_date', 'day',
        |  'market_segment,order_date', 'total_revenue,cumulative_revenue',
        |  'total_revenue', 'cumulative_revenue', 'order_status = ''O''')""".stripMargin
    val counter = new graft.measure.JobCounter(spark)
    try {
      counter.take()
      val df = spark.sql(text)
      df.queryExecution.assertAnalyzed()
      assert(counter.take().jobs == 0)
      assert(df.collect().nonEmpty)
    } finally counter.close()
  }

  test("graft_spine TVF: bad arguments fail loudly") {
    init()
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_spine('mv_order_metrics', 'order_date')")
    }
    assert(e.getMessage.contains("7 or 8 arguments"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM graft_spine('no_such_view', 'd', 'day', 'd', 'm', '', '')")
    }
    assert(e2.getMessage.contains("unknown metric view"))
  }

  test("GROUP BY CUBE / ROLLUP / GROUPING SETS through SQL MEASURE() (r11)") {
    init()
    val sql = spark.sql(
      """SELECT market_segment, order_status, grouping_id() AS gid,
        |       MEASURE(total_orders) AS n
        |FROM mv_order_metrics
        |GROUP BY CUBE (market_segment, order_status)""".stripMargin)
    val api = SparkEntry.catalog(spark, sfDir).get("mv_order_metrics")
      .queryCube(Seq("market_segment", "order_status"), Seq("total_orders"))
    assert(sql.collect().map(_.toSeq).toSet == api.collect().map(_.toSeq).toSet)

    val roll = spark.sql(
      """SELECT order_year, order_month, grouping_id() AS gid,
        |       MEASURE(total_revenue) AS rev
        |FROM mv_order_metrics
        |GROUP BY ROLLUP (order_year, order_month)""".stripMargin)
    val rollApi = SparkEntry.catalog(spark, sfDir).get("mv_order_metrics")
      .queryRollup(Seq("order_year", "order_month"), Seq("total_revenue"))
    assert(roll.collect().map(_.toSeq).toSet == rollApi.collect().map(_.toSeq).toSet)

    val gs = spark.sql(
      """SELECT market_segment, grouping_id() AS gid, MEASURE(total_orders) AS n
        |FROM mv_order_metrics
        |GROUP BY GROUPING SETS ((market_segment), ())
        |ORDER BY gid, market_segment""".stripMargin).collect()
    assert(gs.count(_.getLong(1) == 1L) == 1, "one grand-total row")

    // grouping(dim) = that dim's aggregated-away bit (tinyint)
    val gfun = spark.sql(
      """SELECT market_segment, grouping(market_segment) AS gm,
        |       grouping(order_status) AS gs, MEASURE(total_orders) AS n
        |FROM mv_order_metrics
        |GROUP BY CUBE (market_segment, order_status)""".stripMargin).collect()
    assert(gfun.forall(r => (r.isNullAt(0)) == (r.getByte(1) == 1)))
    assert(gfun.map(r => (r.getByte(1), r.getByte(2))).toSet
      == Set((0: Byte, 0: Byte), (0: Byte, 1: Byte), (1: Byte, 0: Byte), (1: Byte, 1: Byte)))
  }

  test("non-dim GROUP BY is rejected with a helpful error") {
    init()
    val e = intercept[Exception] {
      spark.sql("SELECT customer_name, MEASURE(total_revenue) FROM mv_order_metrics GROUP BY customer_name").collect()
    }
    assert(e.getMessage.contains("GROUP BY must reference dimensions")
      || e.getMessage.contains("UNRESOLVED"))
  }
}
