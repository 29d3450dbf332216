package graft.mat

import graft.{SparkEntry, SparkSpec}

/** Routing equivalence + plan checks — our analogue of the reference's
  * EXPLAIN verification (README.md:417-421): a routed query must (a)
  * return exactly the unrouted result and (b) scan the rollup table,
  * never the raw source. */
class RoutingSpec extends SparkSpec {

  private def plain = SparkEntry.catalog(spark, sfDir)
  private def mat = SparkEntry.matCatalog(spark, sfDir)

  /** Root paths of every file scan in the optimized plan (full, not the
    * truncated plan-string rendering). A cached subplan would hide its
    * scans inside an InMemoryRelation, so those are traversed too and
    * the gate sees through any cache. */
  private def scans(df: org.apache.spark.sql.DataFrame): String = {
    def fromPhysical(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
        case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          fromPhysical(im.relation.cachedPlan)
        // AQE wraps cached plans and hides the inner tree from collect
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          fromPhysical(a.inputPlan)
      }.flatten
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case other => Seq(other.toString)
        }
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        fromPhysical(m.cachedPlan)
    }.flatten.mkString("\n")
  }

  test("covered query routes to the rollup (no raw source scan)") {
    val routed = mat.get("mv_order_metrics")
      .query(Seq("market_segment"), Seq("total_revenue", "total_orders"))
    val p = scans(routed)
    assert(p.contains("graft-mat"), s"expected rollup scan:\n$p")
    assert(!p.contains("orders.parquet"), s"expected no raw scan:\n$p")
  }

  test("routed result == unrouted result") {
    val routed = mat.get("mv_order_metrics")
      .query(Seq("market_segment"), Seq("total_revenue", "total_orders"))
    val direct = plain.get("mv_order_metrics")
      .query(Seq("market_segment"), Seq("total_revenue", "total_orders"))
    val r = routed.collect().map(_.toSeq).toSet
    val d = direct.collect().map(_.toSeq).toSet
    assert(r == d)
  }

  test("dim-subset re-aggregation from rollup is exact (incl. count re-sum)") {
    // rollup revenue_by_segment has dims (market_segment, order_status);
    // querying only market_segment re-aggregates partials
    val routed = mat.get("mv_order_metrics")
      .query(Seq("order_status"), Seq("total_orders"))
    val direct = plain.get("mv_order_metrics")
      .query(Seq("order_status"), Seq("total_orders"))
    assert(routed.collect().map(_.toSeq).toSet == direct.collect().map(_.toSeq).toSet)
  }

  test("DISTINCT measure refuses rollup routing (non-additive) but stays correct") {
    // count(distinct customer_id) cannot be re-aggregated from stored
    // partials — serving it from orders_by_status would double-count
    // customers spanning statuses. It must fall back to raw/baseline
    // rows even though the rollup covers the requested dims.
    val q = mat.get("mv_orders_simple")
      .query(Seq("order_status"), Seq("unique_customers", "order_count"))
    val p = scans(q)
    assert(!p.contains("orders_by_status"),
      s"distinct measure must not read the aggregated rollup:\n$p")
    val direct = plain.get("mv_orders_simple")
      .query(Seq("order_status"), Seq("unique_customers", "order_count"))
    assert(q.collect().map(_.toSeq).toSet == direct.collect().map(_.toSeq).toSet)
  }

  test("HLL approx-distinct measure ROUTES through the rollup (sketches are mergeable partials)") {
    // the scale counterpart of the DISTINCT refusal above: HLL register
    // union over per-group sketches is exact w.r.t. the union of
    // inputs, so the stored sketch partials re-aggregate to any dim
    // subset — including re-grouping orders_by_status's (order_status)
    // rows to the global grain
    val q = mat.get("mv_orders_simple")
      .query(Seq("order_status"), Seq("approx_unique_customers"))
    val p = scans(q)
    assert(p.contains("orders_by_status"), s"expected rollup scan:\n$p")
    assert(!p.contains("orders.parquet"), s"expected no raw scan:\n$p")
    val direct = plain.get("mv_orders_simple")
      .query(Seq("order_status"), Seq("approx_unique_customers"))
    assert(q.collect().map(_.toSeq).toSet == direct.collect().map(_.toSeq).toSet)
  }

  test("approx-percentile measure ROUTES through the rollup (bin counts add exactly)") {
    // the percentile counterpart of the HLL case above: bounded-range
    // histogram partials merge by element-wise ADD — exact over unions
    // — so percentile measures re-aggregate from dist_by_status,
    // including down to the global grain
    val q = mat.get("mv_orders_dist")
      .query(Seq("order_status"), Seq("p50_order_value", "p95_order_value"))
    val p = scans(q)
    assert(p.contains("dist_by_status"), s"expected rollup scan:\n$p")
    assert(!p.contains("orders.parquet"), s"expected no raw scan:\n$p")
    val direct = plain.get("mv_orders_dist")
      .query(Seq("order_status"), Seq("p50_order_value", "p95_order_value"))
    assert(q.collect().map(_.toSeq).toSet == direct.collect().map(_.toSeq).toSet)
    // global grain: one merged histogram across all statuses
    val g = mat.get("mv_orders_dist").query(Seq(), Seq("p50_order_value"))
    val gd = plain.get("mv_orders_dist").query(Seq(), Seq("p50_order_value"))
    assert(scans(g).contains("dist_by_status"), scans(g))
    assert(g.collect().map(_.toSeq).toSet == gd.collect().map(_.toSeq).toSet)
  }

  test("top-k heavy-hitter measure ROUTES through the rollup (counter states merge)") {
    // the SpaceSaving counterpart of the HLL/histogram cases: counter
    // states merge by counter-wise sum (exact below capacity), so
    // graft_topk measures re-aggregate from topk_by_status — including
    // down to the global grain, where per-status states merge into one
    val q = mat.get("mv_orders_topk")
      .query(Seq("order_status"), Seq("top_customers", "order_count"))
    val p = scans(q)
    assert(p.contains("topk_by_status"), s"expected rollup scan:\n$p")
    assert(!p.contains("orders.parquet"), s"expected no raw scan:\n$p")
    val direct = plain.get("mv_orders_topk")
      .query(Seq("order_status"), Seq("top_customers", "order_count"))
    assert(q.collect().map(_.toString).toSet == direct.collect().map(_.toString).toSet)
    val g = mat.get("mv_orders_topk").query(Seq(), Seq("top_customers"))
    val gd = plain.get("mv_orders_topk").query(Seq(), Seq("top_customers"))
    assert(scans(g).contains("topk_by_status"), scans(g))
    assert(g.collect().map(_.toString).toSeq == gd.collect().map(_.toString).toSeq)
  }

  test("variance-family measures ROUTE through the rollup ((n, Σx, Σx²) partials re-sum)") {
    val q = Seq("revenue_stddev", "revenue_var", "revenue_stddev_pop", "order_count")
    val routed = mat.get("mv_orders_stats").query(Seq("order_status"), q)
    val p = scans(routed)
    assert(p.contains("stats_by_seg_status"), s"expected rollup scan:\n$p")
    assert(!p.contains("orders.parquet"), s"expected no raw scan:\n$p")
    val direct = plain.get("mv_orders_stats").query(Seq("order_status"), q)
    assert(routed.collect().map(_.toSeq).toSet == direct.collect().map(_.toSeq).toSet)
  }

  test("CUBE over rollup-covered dims routes every grain (no raw scan under any set)") {
    val cube = mat.get("mv_order_metrics")
      .queryCube(Seq("market_segment", "order_status"),
        Seq("total_revenue", "total_orders"))
    val p = scans(cube)
    assert(p.contains("revenue_by_segment"), s"expected rollup scans:\n$p")
    assert(!p.contains("orders.parquet"), s"expected no raw scan:\n$p")
    // equivalence vs the plain catalog's single-pass native plan
    val direct = plain.get("mv_order_metrics")
      .queryCube(Seq("market_segment", "order_status"),
        Seq("total_revenue", "total_orders"))
    assert(cube.collect().map(_.toSeq).toSet == direct.collect().map(_.toSeq).toSet)
  }

  /** Nodes of the executed plan, looking inside AQE and its query
    * stages (a stage is a leaf that wraps its own plan). */
  private def executedNodes(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    def of(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => of(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => of(s.plan)
        case n => Seq(n)
      }.flatten
    of(df.queryExecution.executedPlan)
  }

  /** Shuffle exchanges of the executed plan. */
  private def shuffles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    executedNodes(df).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e.nodeName
    }

  /** Rows of `df` and the Spark jobs its collect ran. */
  private def collectCounting(df: org.apache.spark.sql.DataFrame) = {
    val counter = new graft.measure.JobCounter(spark)
    try {
      counter.take()
      val rows = df.collect()
      (rows, counter.take().jobs)
    } finally counter.close()
  }

  test("routed query over a one-split rollup runs as one job with no shuffle") {
    val routed = mat.get("mv_order_metrics")
      .query(Seq("market_segment"), Seq("total_revenue", "total_orders"))
    val (rows, jobs) = collectCounting(routed)
    assert(shuffles(routed).isEmpty, routed.queryExecution.executedPlan.toString)
    assert(jobs == 1, s"routed query ran $jobs jobs")
    val direct = plain.get("mv_order_metrics")
      .query(Seq("market_segment"), Seq("total_revenue", "total_orders"))
    assert(rows.map(_.toSeq).toSet == direct.collect().map(_.toSeq).toSet)
  }

  test("CUBE over rollup-covered dims runs as one job") {
    val cube = mat.get("mv_order_metrics")
      .queryCube(Seq("market_segment", "order_status"),
        Seq("total_revenue", "total_orders"))
    val (_, jobs) = collectCounting(cube)
    assert(jobs == 1, s"routed cube ran $jobs jobs")
    assert(shuffles(cube).isEmpty, cube.queryExecution.executedPlan.toString)
    // every grain re-aggregates ONE read of the rollup
    val read = executedNodes(cube).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.relation.location.rootPaths
    }.flatten.map(_.toString)
    assert(read.size == 1 && read.head.contains("revenue_by_segment"), read.mkString("\n"))
  }

  test("routed spine runs as one job with no shuffle") {
    def spine(c: graft.api.MetricViewCatalog) = c.get("mv_orders_simple")
      .querySpine(Seq("order_status", "order_date"),
        Seq("order_count", "total_revenue"),
        graft.api.SpineSpec("order_date", "day",
          zeroFill = Seq("order_count"), ffill = Seq("total_revenue")),
        where = Some("order_date >= date'1995-03-01' AND order_date < date'1995-05-01'"))
    val routed = spine(mat)
    val (rows, jobs) = collectCounting(routed)
    assert(shuffles(routed).isEmpty, routed.queryExecution.executedPlan.toString)
    assert(jobs == 1, s"routed spine ran $jobs jobs")
    assert(rows.nonEmpty)
    assert(rows.map(_.toSeq).toSet == spine(plain).collect().map(_.toSeq).toSet)
  }

  test("baseline-served DISTINCT, window and uncovered range each run as one job with no shuffle") {
    // a materialized catalog whose baseline is several small files, as
    // at sf0.1: the snapshot still fits one split, so it reads as one
    // partition and each aggregate above it runs inside the scan's task
    val work = java.nio.file.Files.createTempDirectory("graft-mat-multi").toString
    val cat = new graft.api.MetricViewCatalog(spark, n => {
      val df = graft.model.Models.resolve(spark, sfDir, n)
      if (Set("stg_orders", "fct_orders")(n)) df.repartition(4) else df
    }, Some(work))
    graft.spec.Specs.all.foreach { case (name, yaml) => cat.createOrReplace(name, yaml) }
    Seq("mv_orders_simple", "mv_order_metrics").foreach(v => cat.materializer.get.build(cat.get(v)))
    val baseline = cat.materializer.get.baseline(cat.get("mv_orders_simple")).get
    assert(baseline.inputFiles.length > 1, baseline.inputFiles.mkString("\n"))

    val shapes: Seq[(String, graft.api.MetricViewCatalog => org.apache.spark.sql.DataFrame)] = Seq(
      "distinct" -> (_.get("mv_orders_simple").query(Seq("order_priority"),
        Seq("unique_customers"), Some("order_status = 'O'"))),
      "window" -> (_.get("mv_order_metrics").query(Seq("order_date"),
        Seq("trailing_7d_revenue"), Some("order_year = 1996"))),
      "uncovered range" -> (_.get("mv_order_metrics").query(Seq("market_segment"),
        Seq("total_revenue", "avg_order_value"),
        Some("order_date >= date'1995-03-01' AND order_date < date'1995-03-31'"))))
    shapes.foreach { case (name, q) =>
      val df = q(cat)
      assert(scans(df).contains(work), s"$name did not read the baseline:\n${scans(df)}")
      val (rows, jobs) = collectCounting(df)
      assert(shuffles(df).isEmpty, s"$name:\n${df.queryExecution.executedPlan}")
      assert(jobs == 1, s"$name ran $jobs jobs")
      assert(rows.nonEmpty, name)
      assert(rows.map(_.toSeq).toSet == q(plain).collect().map(_.toSeq).toSet, name)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(work))
  }

  test("auto-domained percentile measure routes correctly (profile-derived [lo, hi), r9)") {
    // graft_percentile_auto(total_price, 0.5, 1024) declares NO domain:
    // [lo, hi) derives from the observed min/max at measure resolution,
    // and the same literals are baked into the rollup build and the
    // direct evaluation — so the measure routes AND routed == direct.
    val q = mat.get("mv_orders_dist")
      .query(Seq("order_status"), Seq("p50_order_value_auto"))
    val p = scans(q)
    assert(p.contains("dist_by_status"), s"expected rollup scan:\n$p")
    assert(!p.contains("orders.parquet"), s"expected no raw scan:\n$p")
    val direct = plain.get("mv_orders_dist")
      .query(Seq("order_status"), Seq("p50_order_value_auto"))
    assert(q.collect().map(_.toSeq).toSet == direct.collect().map(_.toSeq).toSet)
    // the auto domain covers the data: nothing clamps, and the median
    // lands within one bin width of the declared-domain (wider-bin)
    // variant's — both approximate the same order statistic
    val rows = q.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val declared = mat.get("mv_orders_dist")
      .query(Seq("order_status"), Seq("p50_order_value"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // each estimate is within one bin width of the true order statistic
    // (GraftHistogramSpec property), so the two differ by at most the
    // SUM of their bin widths: declared 600000/1024 ≈ 586, auto
    // (observed range)/1024 < 586 — bound 1200 with headroom
    rows.foreach { case (k, v) =>
      assert(math.abs(v - declared(k)) <= 1200.0,
        s"$k: auto $v vs declared ${declared(k)}")
    }
  }

  test("auto-domain cache keys on data identity: same spec over different data re-derives (ADVICE r9)") {
    // materializationHash covers only the SPEC, so before r10 the
    // JVM-wide auto-domain cache silently served the first-derived
    // [lo, hi) to the same spec instantiated over different data —
    // clamping every value of the second dataset to the first's range.
    // The leaf-file digest in the key forces a fresh derivation.
    val yaml =
      """version: 0.1
        |source: t
        |dimensions:
        |  - name: g
        |    expr: g
        |measures:
        |  - name: p50
        |    expr: graft_percentile_auto(v, 0.5, 64)
        |""".stripMargin
    def tableAt(lo: Long): String = {
      val d = java.nio.file.Files.createTempDirectory("graft-autodom").toString
      spark.range(lo, lo + 101)
        .selectExpr("'a' as g", "cast(id as double) as v")
        .write.mode("overwrite").parquet(s"$d/t.parquet")
      s"$d/t.parquet"
    }
    def p50(path: String): Double = {
      val cat = new graft.api.MetricViewCatalog(spark, _ => spark.read.parquet(path))
      cat.createOrReplace("mv_auto_key", yaml)
      cat.get("mv_auto_key").query(Seq("g"), Seq("p50")).collect().head.getDouble(1)
    }
    val pSmall = p50(tableAt(0L)) // domain derives to [0, 101)
    val pBig = p50(tableAt(100000L)) // must re-derive, not clamp to ~101
    assert(math.abs(pSmall - 50.0) <= 3.0, s"small-data median $pSmall")
    assert(math.abs(pBig - 100050.0) <= 3.0, s"big-data median $pBig")
  }

  test("uncovered measure falls back (avg not in any rollup) but stays correct") {
    val q = mat.get("mv_order_metrics")
      .query(Seq("market_segment"), Seq("avg_order_value"))
    val p = scans(q)
    // avg_order_value isn't materialized in a rollup -> baseline cache
    assert(p.contains("baseline") || p.contains("orders.parquet"), p)
    val direct = plain.get("mv_order_metrics")
      .query(Seq("market_segment"), Seq("avg_order_value"))
    assert(q.collect().map(_.toSeq).toSet == direct.collect().map(_.toSeq).toSet)
  }

  test("window base does not route absent a rollup covering the order grain") {
    // mv_order_metrics' rollups lack order_date, so the trailing frame
    // must collapse from rows, not a rollup
    val q = mat.get("mv_order_metrics")
      .query(Seq("order_date"), Seq("trailing_7d_revenue"))
    val p = scans(q)
    assert(!p.contains("revenue_by_segment") && !p.contains("monthly_revenue"), p)
  }

  test("window base ROUTES through a partial-storing rollup at the order grain (r11)") {
    val q = mat.get("mv_orders_stats")
      .query(Seq("market_segment", "order_date"), Seq("trailing_30d_stddev"))
    val p = scans(q)
    assert(p.contains("stats_by_seg_day"), s"expected rollup scan:\n$p")
    assert(!p.contains("orders.parquet"), s"expected no raw scan:\n$p")
    val direct = plain.get("mv_orders_stats")
      .query(Seq("market_segment", "order_date"), Seq("trailing_30d_stddev"))
    assert(q.collect().map(_.toSeq).toSet == direct.collect().map(_.toSeq).toSet)
  }

  test("smallest covering rollup is chosen") {
    // monthly_revenue (2 dims) covers (order_year -> total_revenue);
    // so does nothing else; ensure it picks monthly_revenue
    val q = mat.get("mv_order_metrics").query(Seq("order_year"), Seq("total_revenue"))
    assert(scans(q).contains("monthly_revenue"), scans(q))
  }

  test("cost-based choice: fewer-dims-but-bigger rollup loses to a smaller covering one") {
    // by_date has ONE dim but ~one row per order date (thousands);
    // by_segment_status has TWO dims but ~15 rows. For a query both
    // cover, the dim-count proxy would pick by_date; the recorded row
    // counts must pick by_segment_status.
    val c = mat
    c.createOrReplace("mv_route_cost",
      """version: 0.1
        |source: fct_orders
        |dimensions:
        |  - name: market_segment
        |    expr: market_segment
        |  - name: order_status
        |    expr: order_status
        |  - name: order_date
        |    expr: order_date
        |measures:
        |  - name: total_revenue
        |    expr: sum(total_price)
        |materialization:
        |  materialized_views:
        |    - name: by_date
        |      type: aggregated
        |      dimensions:
        |        - order_date
        |      measures:
        |        - total_revenue
        |    - name: by_segment_status
        |      type: aggregated
        |      dimensions:
        |        - market_segment
        |        - order_status
        |      measures:
        |        - total_revenue
        |""".stripMargin)
    c.refresh("mv_route_cost")
    val q = c.get("mv_route_cost").query(Nil, Seq("total_revenue"))
    val p = scans(q)
    assert(p.contains("by_segment_status") && !p.contains("by_date"), p)
    val direct = plain.get("mv_order_metrics").query(Nil, Seq("total_revenue"))
    assert(q.collect().map(_.toSeq).toSet == direct.collect().map(_.toSeq).toSet)
    c.drop("mv_route_cost")
  }

  test("spine over rollup-covered dims routes (no raw source scan under the spine)") {
    // (order_status, order_date) ⊆ orders_by_day and count/sum
    // decompose, so the densified series re-aggregates rollup partials
    val spined = mat.get("mv_orders_simple")
      .querySpine(Seq("order_status", "order_date"),
        Seq("order_count", "total_revenue"),
        graft.api.SpineSpec("order_date", "day",
          zeroFill = Seq("order_count", "total_revenue")),
        where = Some("order_status = 'F'"))
    val p = scans(spined)
    assert(p.contains("orders_by_day"), s"expected rollup scan:\n$p")
    assert(!p.contains("orders.parquet"), s"expected no raw scan:\n$p")
    // equivalence vs the unrouted spine
    val direct = plain.get("mv_orders_simple")
      .querySpine(Seq("order_status", "order_date"),
        Seq("order_count", "total_revenue"),
        graft.api.SpineSpec("order_date", "day",
          zeroFill = Seq("order_count", "total_revenue")),
        where = Some("order_status = 'F'"))
    assert(spined.collect().map(_.toSeq).toSet == direct.collect().map(_.toSeq).toSet)
  }

  test("where over a covered dim stays routed; uncovered dim filter does not") {
    val covered = mat.get("mv_order_metrics")
      .query(Seq("market_segment"), Seq("total_revenue"), Some("order_status = 'F'"))
    assert(scans(covered).contains("revenue_by_segment"), scans(covered))
    val uncovered = mat.get("mv_order_metrics")
      .query(Seq("market_segment"), Seq("total_revenue"), Some("order_priority = '1-URGENT'"))
    assert(!scans(uncovered).contains("revenue_by_segment"), scans(uncovered))
  }

  test("unchanged spec preserves materialization; changed spec invalidates") {
    val c = mat
    val v1 = c.get("mv_orders_simple")
    assert(c.describe("mv_orders_simple").collect()
      .exists(r => r.getString(0) == "metric_view.materialization.built" && r.getString(1) == "true"))
    // re-create with identical yaml: still built
    c.createOrReplace("mv_orders_simple", graft.spec.Specs.mvOrdersSimple)
    assert(c.describe("mv_orders_simple").collect()
      .exists(r => r.getString(0) == "metric_view.materialization.built" && r.getString(1) == "true"))
    // changed spec: invalidated until refreshed
    c.createOrReplace("mv_orders_simple",
      graft.spec.Specs.mvOrdersSimple.replace("order_priority", "order_status")
        .replaceFirst("name: order_status", "name: order_status_x"))
    val built = c.describe("mv_orders_simple").collect()
      .find(_.getString(0) == "metric_view.materialization.built").get.getString(1)
    assert(built == "false")
    // restore for other tests
    c.createOrReplace("mv_orders_simple", graft.spec.Specs.mvOrdersSimple)
    c.refresh("mv_orders_simple")
  }
}
