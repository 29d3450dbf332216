package graft.perfbench

import graft.api.MetricViewCatalog
import graft.model.Models
import graft.spec.{Specs, YamlParser}
import org.apache.spark.sql.SparkSession

/** Set-up of the nine reference metric views over a data dir, timed by
  * layer, and the unmaterialized twin catalog that serves references. */
object Catalogs {
  /** Views whose rollups and baselines the dashboard reads, in build
    * order (`mv_orders_dist` and `mv_orders_stats` also declare
    * rollups; no tile reads them). */
  val materialized = Seq("mv_orders_simple", "mv_order_metrics", "mv_orders_topk")
  val specs: Seq[(String, String)] = Specs.all.toSeq.sortBy(_._1)

  final case class SetUp(catalog: MetricViewCatalog, matDir: String, layers: Seq[(String, Double)])

  private def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One full set-up into a fresh materialization dir: parse every spec,
    * register every view (CREATE-time validation), then build every
    * rollup and baseline. */
  def setUp(spark: SparkSession, dataDir: String, matDir: String): SetUp = {
    val parse = specs.map { case (_, y) => secs(YamlParser.parse(y))._2 }.sum
    val cat = new MetricViewCatalog(spark, Models.resolve(spark, dataDir, _), Some(matDir))
    val creates = specs.map { case (n, y) => n -> secs(cat.createOrReplace(n, y))._2 }
    val create = creates.map(_._2).sum
    // refresh = a forced full build into the versioned rollup dirs
    val builds = materialized.map(n => s"mat.build.${n}_s" -> secs(cat.refresh(n))._2)
    Log(f"set-up: parse ${parse * 1e3}%.0f ms, create ${create * 1e3}%.0f ms (" +
      creates.map(c => f"${c._1} ${c._2 * 1e3}%.0f").mkString(", ") + "), builds " +
      builds.map(b => f"${b._2}%.2f").mkString(" "))
    SetUp(cat, matDir, Seq("spec.parse_ms" -> parse * 1e3, "api.create_ms" -> create * 1e3) ++ builds)
  }

  /** Catalog without materialization over the same data, holding the
    * views the dashboard reads: the reference path. Registering it
    * re-points SQL names, so the served catalog is re-registered
    * afterwards. */
  def reference(spark: SparkSession, dataDir: String, served: MetricViewCatalog): MetricViewCatalog = {
    val raw = new MetricViewCatalog(spark, Models.resolve(spark, dataDir, _))
    materialized.foreach(n => raw.createOrReplace(n, Specs.all(n)))
    graft.sqlext.SqlMetricViews.registerAll(served)
    served.bind()
    raw
  }

  /** Rollup dirs of every aggregated materialized view under `matDir`. */
  def rollupRoots(matDir: String): Seq[String] =
    specs.flatMap { case (view, yaml) =>
      YamlParser.parse(yaml).materialization.toSeq
        .flatMap(_.materializedViews).filter(_.isAggregated)
        .map(mv => s"$matDir/$view/${mv.name}/")
    }
}
