package graft.api

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Multi-grain (GROUPING SETS / CUBE / ROLLUP) metric queries:
  * grouping_id bit semantics, grain arithmetic, and agreement between
  * the two plans (per-set union vs native single-pass). */
class GroupingSetsSpec extends SparkSpec {

  private def view = SparkEntry.catalog(spark, sfDir).get("mv_order_metrics")

  test("grouping_id bits: first union dim most significant; grain rows re-sum") {
    val r = view.queryGroupingSets(
      Seq(Seq("market_segment", "order_status"), Seq("order_status"), Seq()),
      Seq("total_orders")).collect()
    val byGid = r.groupBy(_.getLong(2))
    // (seg, status) = 0; status-only drops dim0 (MSB) = 2; global = 3
    assert(byGid.keySet == Set(0L, 2L, 3L))
    assert(byGid(3L).length == 1)
    val total = byGid(3L).head.getLong(3)
    assert(byGid(0L).map(_.getLong(3)).sum == total)
    assert(byGid(2L).map(_.getLong(3)).sum == total)
    // aggregated-away dims are null; kept dims are not
    assert(byGid(2L).forall(row => row.isNullAt(0) && !row.isNullAt(1)))
  }

  test("queryRollup = prefix grains; queryCube = every subset") {
    val roll = view.queryRollup(Seq("market_segment", "order_status"), Seq("total_orders"))
    assert(roll.select("grouping_id").distinct().collect().map(_.getLong(0)).toSet
      == Set(0L, 1L, 3L))
    val cube = view.queryCube(Seq("market_segment", "order_status"), Seq("total_orders"))
    assert(cube.select("grouping_id").distinct().collect().map(_.getLong(0)).toSet
      == Set(0L, 1L, 2L, 3L))
  }

  test("where applies at every grain; windowed measures take the per-set path") {
    val r = view.queryGroupingSets(
      Seq(Seq("market_segment"), Seq()),
      Seq("total_orders"), where = Some("order_status = 'F'"))
    val global = r.filter(col("grouping_id") === 3).collect()
    // union dims = just market_segment → gid bits = 1 for the global set
    val globalRows = r.filter(col("grouping_id") === 1).collect()
    assert(global.isEmpty && globalRows.length == 1)
    val direct = view.query(Seq(), Seq("total_orders"), Some("order_status = 'F'"))
      .head().getLong(0)
    assert(globalRows.head.getLong(2) == direct)

    // windowed measure at two grains: per-set delegation, frames per grain
    val w = view.queryGroupingSets(
      Seq(Seq("market_segment", "order_date"), Seq("order_date")),
      Seq("trailing_7d_revenue"))
    assert(w.filter(col("grouping_id") === 0).count() > 0)
    // (order_date) drops market_segment — the MSB — so gid = 2
    assert(w.filter(col("grouping_id") === 2).count() > 0)
  }

  // -- routed multi-grain queries on a toy catalog: one rollup read, one
  // aggregate for every grain, equal to the unrouted single pass

  private val toyMeasures = Seq("total", "mean_v", "uniq", "top_u", "p50", "sd", "n")
  private val toyYaml =
    """version: 0.1
      |source: t
      |dimensions:
      |  - name: a
      |    expr: a
      |  - name: b
      |    expr: b
      |  - name: c
      |    expr: c
      |measures:
      |  - name: total
      |    expr: sum(v)
      |  - name: mean_v
      |    expr: avg(v)
      |  - name: uniq
      |    expr: graft_hll_estimate(graft_hll_agg(u))
      |  - name: top_u
      |    expr: graft_topk(u, 3, 64)
      |  - name: p50
      |    expr: graft_percentile_bounded(v, 0.5, 0.0, 64.0, 64)
      |  - name: sd
      |    expr: stddev(v)
      |  - name: n
      |    expr: count(1)
      |""".stripMargin
  private def rollup(name: String, dims: Seq[String]): String =
    s"""    - name: $name
       |      type: aggregated
       |      dimensions:
       |${dims.map(d => s"        - $d").mkString("\n")}
       |      measures:
       |${toyMeasures.map(m => s"        - $m").mkString("\n")}
       |""".stripMargin

  /** (unmaterialized, materialized) catalogs over one toy table: view
    * `mv` has a rollup over every dim, `mv_split` two rollups that each
    * cover only part of them. `b` holds real NULLs. */
  private lazy val toy: (MetricViewCatalog, MetricViewCatalog) = {
    import spark.implicits._
    val rows = (0 until 40).map { i =>
      (Seq("x", "y", "z")(i % 3), if (i % 4 == 0) null else Seq("p", "q")(i % 2),
        Seq("k", "l")(i % 5 % 2), (i * 7 % 23).toLong, (i % 6).toLong)
    }.toDF("a", "b", "c", "v", "u")
    val resolve = Map("t" -> rows).apply(_)
    val plain = new MetricViewCatalog(spark, resolve)
    val dir = java.nio.file.Files.createTempDirectory("graft-gs-toy").toString
    val mat = new MetricViewCatalog(spark, resolve, Some(dir))
    val withRollups = (rs: String) => toyYaml + "materialization:\n  materialized_views:\n" + rs
    Seq(plain, mat).foreach { c =>
      c.createOrReplace("mv", withRollups(rollup("by_abc", Seq("a", "b", "c"))))
      c.createOrReplace("mv_split",
        withRollups(rollup("by_ab", Seq("a", "b")) + rollup("by_c", Seq("c"))))
    }
    mat.refresh("mv"); mat.refresh("mv_split")
    (plain, mat)
  }

  /** Root paths of the executed plan's file scans, inside AQE stages. */
  private def scanned(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    def of(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => of(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => of(s.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    of(df.queryExecution.executedPlan)
  }

  /** Sorted rendered rows: multiset equality, exact for every measure. */
  private def rendered(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def assertRoutedEqualsUnrouted(view: String)(
      q: MetricView => org.apache.spark.sql.DataFrame): Unit = {
    val (plain, mat) = toy
    val routed = q(mat.get(view))
    val scans = scanned(routed)
    assert(scans.size == 1 && scans.head.contains("by_abc"), scans.mkString("\n"))
    assert(rendered(routed) == rendered(q(plain.get(view))))
  }

  test("routed CUBE, ROLLUP and grouping-sets list equal the unrouted single pass") {
    assertRoutedEqualsUnrouted("mv")(_.queryCube(Seq("a", "b"), toyMeasures))
    assertRoutedEqualsUnrouted("mv")(_.queryRollup(Seq("a", "b", "c"), toyMeasures))
    assertRoutedEqualsUnrouted("mv")(_.queryGroupingSets(
      Seq(Seq("c", "a"), Seq("b"), Seq("b"), Seq()), toyMeasures))
  }

  test("routed grouping sets apply the WHERE at every grain") {
    assertRoutedEqualsUnrouted("mv")(
      _.queryCube(Seq("a", "b"), toyMeasures, where = Some("c = 'k' AND a <> 'z'")))
  }

  test("routed grouping sets keep a real NULL dim apart from an aggregated-away one") {
    assertRoutedEqualsUnrouted("mv")(_.queryCube(Seq("a", "b"), Seq("n")))
    val r = toy._2.get("mv").queryCube(Seq("a", "b"), Seq("n")).collect()
    def n(gid: Long) = r.collect {
      case row if row.getString(0) == "x" && row.isNullAt(1) && row.getLong(2) == gid => row.getLong(3)
    }.toSeq
    // x's NULL-b group (gid 0) is a strict part of x's subtotal (gid 1)
    assert(n(0L).size == 1 && n(1L).size == 1 && n(0L).head < n(1L).head, r.mkString("\n"))
  }

  test("grouping sets no single rollup covers take the row-level single pass") {
    val (plain, mat) = toy
    val q = (v: MetricView) => v.queryGroupingSets(Seq(Seq("a", "b"), Seq("c")), toyMeasures)
    val uncovered = q(mat.get("mv_split"))
    assert(scanned(uncovered).isEmpty, scanned(uncovered).mkString("\n"))
    val out = rendered(uncovered)
    assert(out == rendered(q(plain.get("mv_split"))))
    // (a, b): 3 x {p, q, NULL} combos; (c): 2 values
    assert(out.size == 9 + 2, out.mkString("\n"))
  }
}
