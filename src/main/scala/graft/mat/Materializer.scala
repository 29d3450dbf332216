package graft.mat

import graft.api.MetricView
import graft.plan.Expander
import graft.spec._
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builds and routes to materialized metric-view tables (reference
  * A9/A10 + S8: models/schema.yml:39-49/:105-129, README.md:326-353,
  * :399-431).
  *
  * Layout: `<workDir>/<view>/<matView>/` parquet + `<workDir>/<view>/
  * _spec_hash`. Rollups store *decomposed partials* with
  * CONTENT-ADDRESSED column names (`gp_<slug>__<semantic hash>`,
  * AggDecompose.partialName) so any re-grouping to a dim subset stays
  * exact — never an average of averages — and measures that need the
  * SAME partial share one stored column: an avg next to a sum of the
  * same input stores sum+count, not sum+sum+count, and a p50/p95
  * percentile pair stores ONE histogram array, not two (r8; the name
  * doubles as the cross-session resolution key, so the stored-hash
  * marker carries a naming-scheme version to invalidate pre-r8
  * caches).
  *
  * Scale: a rollup is |dim-combination| rows — tiny next to the fact
  * table — so routed queries read KBs instead of TBs (the reference's
  * "~5 rows read", README.md:402). The baseline cache is the expanded
  * row-level relation: at 100 TB it would be a partitioned/Z-ordered
  * table; here plain parquet, but the routing logic is identical.
  */
final class Materializer(workDir: String, resolve: String => DataFrame) {

  private def viewDir(v: MetricView) = s"$workDir/${v.name}"
  private def path(v: MetricView, mvName: String) =
    Materializer.tablePath(workDir, v.name, mvName)
  private def hashFile(v: MetricView) = Paths.get(s"${viewDir(v)}/_spec_hash")

  /** Stored build marker: spec hash + the partial SCHEME version —
    * naming (the cross-session column-resolution key) AND physical
    * layout. A change to either must invalidate caches built under the
    * old scheme even though the spec (and its user-visible spec_hash)
    * is unchanged. p2 = content-addressed names (r8); p3 = histogram
    * partials carry the trailing clamped-count slot (r9) — a p2 rollup
    * read under p3 would misparse 256 bins as 255 + a bogus clamp. */
  private def storedHash(v: MetricView) = v.spec.materializationHash + "#p3"

  def isBuilt(v: MetricView): Boolean =
    Files.exists(hashFile(v)) &&
      new String(Files.readAllBytes(hashFile(v))).trim == storedHash(v) &&
      v.spec.materialization.toSeq.flatMap(_.materializedViews)
        .forall(mv => VersionedTable.exists(path(v, mv.name)))

  def invalidate(v: MetricView): Unit =
    if (Files.exists(hashFile(v))) Files.delete(hashFile(v))

  /** Materialize every declared view. Idempotent per spec hash: an
    * unchanged spec is not rebuilt (CREATE OR REPLACE cache
    * preservation, reference macros/generate_metric_views.sql:78-79).
    *
    * Every write goes through [[VersionedTable]] (write next version →
    * atomic pointer flip), so a rebuild serves stale-but-complete reads
    * while in flight — `mode: relaxed`, reference schema.yml:108. */
  def build(v: MetricView, force: Boolean = false): Unit = {
    if (!force && isBuilt(v)) return
    v.spec.materialization.foreach { mat =>
      mat.materializedViews.foreach { mv =>
        val df =
          if (mv.isAggregated) Materializer.rollupFrame(SparkSession.active, v, mv, resolve)
          else v.baselineFrame
        VersionedTable.write(df, path(v, mv.name))
      }
      markBuilt(v)
    }
  }

  /** Rebuild only the unaggregated (baseline) caches — the batch half of
    * an incremental refresh (rollups fold; a row-level cache without a
    * transaction log recomputes). */
  def buildUnaggregated(v: MetricView): Unit =
    v.spec.materialization.toSeq.flatMap(_.materializedViews)
      .filterNot(_.isAggregated)
      .foreach(mv => VersionedTable.write(v.baselineFrame, path(v, mv.name)))

  /** Record the spec hash after an out-of-band (incremental) build. */
  def markBuilt(v: MetricView): Unit = {
    Files.createDirectories(Paths.get(viewDir(v)))
    Files.write(hashFile(v), storedHash(v).getBytes)
  }

  /** Drop the stored rollup/baseline tables (spec changed — incremental
    * state must restart from scratch). */
  def reset(v: MetricView): Unit = {
    invalidate(v)
    v.spec.materialization.toSeq.flatMap(_.materializedViews)
      .foreach(mv => VersionedTable.destroy(path(v, mv.name)))
  }

  /** The built baseline cache, if declared and current. */
  def baseline(v: MetricView): Option[DataFrame] =
    for {
      mat <- v.spec.materialization
      mv <- mat.materializedViews.find(_.mvType == "unaggregated")
      if isBuilt(v)
    } yield VersionedTable.read(SparkSession.active, path(v, mv.name))

  /** Window-measure base routing (r11): a window plan's step 1
    * collapses the fact relation to (query dims ∪ order ∪ reset keys)
    * partials; when some aggregated rollup's dims cover that base
    * grain AND its stored partial columns include every partial the
    * frame needs (content-addressed names — a rollup built for
    * `total_revenue` stores `gp_sum_total_price__…`, the exact column
    * a `trailing sum(total_price)` frame re-aggregates), the collapse
    * can re-aggregate the ROLLUP instead of scanning the fact table.
    * The frame math is unchanged — partial merges are associative, so
    * re-collapsing day-grain rollup partials is bit-identical to
    * collapsing fact rows — only the input is rollup-scale. Returns
    * the (where-filtered) rollup table; the WindowPlanner re-collapses
    * it to the base grain itself (`preAggregated` path). The reference
    * never routes windows (README.md:431) because its rollups store
    * FINALIZED measures; storing decomposed partials is what makes
    * this legal here. */
  def windowBase(
      v: MetricView,
      baseGrain: Seq[String],
      neededPartials: Seq[String],
      where: Option[String],
      whereDims: Seq[String]): Option[DataFrame] =
    cheapestCovering(v, baseGrain ++ whereDims) { r =>
      val stored = graft.plan.AggDecompose.distinctPartials(
        r.measures.flatMap(n =>
          v.decomposed(v.spec.measure(n)).toSeq.flatMap(_.partials)))
        .map(_.name).toSet
      neededPartials.forall(stored.contains)
    }.map(r => readFiltered(v, r, where))

  /** Routed plan: [[routedInput]] re-aggregated to `dims`. */
  def route(
      v: MetricView,
      dims: Seq[String],
      measures: Seq[Measure],
      where: Option[String],
      whereDims: Seq[String]): Option[DataFrame] =
    routedInput(v, dims, measures, where, whereDims).map { case (rows, aggCols) =>
      rows.groupBy(dims.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
    }

  /** A routed plan's input (reference A10, README.md:399-431): the
    * rollup covering the query dims, the WHERE's dims and every measure
    * (all decomposable, none windowed), where-filtered, plus each
    * measure's re-aggregation column over its stored partials. */
  def routedInput(
      v: MetricView,
      dims: Seq[String],
      measures: Seq[Measure],
      where: Option[String],
      whereDims: Seq[String]): Option[(DataFrame, Seq[Column])] =
    cheapestCovering(v, dims ++ whereDims)(r =>
      measures.forall(m => r.measures.contains(m.name) &&
        !m.isWindowed && v.decomposed(m).isDefined))
      .map { r =>
        (readFiltered(v, r, where),
          measures.map(m => v.decomposed(m).get.reaggregate(identity).as(m.name)))
      }

  /** Smallest built aggregated rollup whose dims cover `needed` and that
    * `serves` accepts — by ACTUAL row count (recorded at build time,
    * [[VersionedTable.rowCount]]), because dimension count is only a
    * proxy: one high-cardinality dim (e.g. order_date, thousands of
    * groups) makes a bigger table than two low-cardinality ones
    * (segment x status, ~15). Cost-based choice is what matters at
    * 100 TB, where the rollup size spread spans orders of magnitude;
    * dim count stays as the tie-break and the fallback for stats-less
    * tables. */
  private def cheapestCovering(v: MetricView, needed: Seq[String])(
      serves: MatViewSpec => Boolean): Option[MatViewSpec] =
    if (!isBuilt(v)) None
    else v.spec.materialization.toSeq.flatMap(_.materializedViews)
      .filter(r => r.isAggregated && needed.toSet.subsetOf(r.dimensions.toSet) && serves(r))
      .sortBy(r => (VersionedTable.rowCount(path(v, r.name)).getOrElse(Long.MaxValue),
        r.dimensions.size))
      .headOption

  /** The rollup's live snapshot, filtered by the (dim-level) WHERE. */
  private def readFiltered(v: MetricView, r: MatViewSpec, where: Option[String]): DataFrame = {
    val spark = SparkSession.active
    val pre = VersionedTable.read(spark, path(v, r.name))
    where.fold(pre)(w => pre.filter(Expander.dimFilter(spark, v.identitySpec, w)))
  }
}

object Materializer {

  /** Where view `view`'s materialized table `mv` lives under `workDir`. */
  def tablePath(workDir: String, view: String, mv: String): String =
    s"$workDir/$view/$mv"

  /** The distinct decomposed partials rollup `mv` stores. A windowed or
    * non-decomposable measure is refused by name: neither can be
    * materialized in an aggregated view. */
  def rollupPartials(v: MetricView, mv: MatViewSpec): Seq[graft.plan.PartialAgg] =
    graft.plan.AggDecompose.distinctPartials(
      mv.measures.flatMap { mName =>
        val m = v.spec.measure(mName)
        require(!m.isWindowed,
          s"rollup ${mv.name}: window measure $mName cannot be materialized in an aggregated view")
        val dec = v.decomposed(m).getOrElse(sys.error(
          s"rollup ${mv.name}: measure $mName ('${m.expr}') is not decomposable"))
        dec.partials
      })

  /** Rollup = the view's row-level expansion over the sources `resolve`
    * returns, grouped by the rollup's dims, with [[rollupPartials]]
    * aggregated. The batch build and the incremental fold (which
    * resolves the view source to the arriving batch) share it. */
  def rollupFrame(spark: SparkSession, v: MetricView, mv: MatViewSpec,
      resolve: String => DataFrame): DataFrame = {
    val dimCols = mv.dimensions.map(d => Expander.dimCol(spark, v.spec, d))
    val partials = rollupPartials(v, mv).map(_.agg)
    val needed = mv.dimensions.map(v.spec.dimension(_).expr) ++
      mv.measures.map(v.spec.measure(_).expr)
    Expander.rowLevel(spark, v.spec, resolve, needed)
      .groupBy(dimCols: _*)
      .agg(partials.head, partials.tail: _*)
  }
}
