package graft.streaming

import graft.api.MetricView
import graft.mat.{Materializer, VersionedTable}
import graft.spec.MatViewSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Incremental maintenance of aggregated rollups — the engine-native
  * version of the reference's "incremental refresh whenever possible"
  * (README.md:118, Lakeflow pipeline; SURVEY.md §2.9 T2).
  *
  * Because rollups store *decomposed partials* (sum/count/min/max —
  * graft.mat.Materializer), a batch of new source rows folds in with a
  * partial-aggregate union + re-aggregate: old partials ⊎ batch
  * partials → groupBy dims → merged partials. sum/count are always
  * incrementable; min/max only under append-only sources (enforced
  * here by contract — streaming file sources are append-only). HLL
  * sketch partials (approx-distinct measures) fold by register-max
  * union — also append-only-exact, estimates identical to a full
  * rebuild (StreamingSpec).
  *
  * Runs as Structured Streaming `foreachBatch` + Trigger.AvailableNow:
  * each invocation drains newly-arrived files and folds them into the
  * rollup. Each fold writes a NEW [[VersionedTable]] snapshot and flips
  * the pointer atomically, so concurrent readers keep a complete stale
  * snapshot mid-fold — the reference's `mode: relaxed` semantics
  * (schema.yml:108).
  *
  * Scale: a fold costs O(|batch| + |rollup|), never a source rescan —
  * at 100 TB the rollup side is |dim-combination| rows, so maintenance
  * cost tracks the arrival rate, not the table size.
  */
final class IncrementalMaterializer(
    spark: SparkSession,
    workDir: String,
    checkpointDir: String,
    resolve: String => DataFrame = name =>
      sys.error(s"incremental materializer has no resolver for joined source '$name'")) {

  /** Partial-agg frame of one batch of source rows for a rollup. The
    * batch stands in for the view source inside the full row-level
    * expansion, so semantic joins and the view filter apply to it
    * exactly as in a batch build (dim tables resolve via `resolve`;
    * they're treated as slowly-changing — the standard incremental-MV
    * contract for star joins). */
  private def batchPartials(v: MetricView, mv: MatViewSpec, batch: DataFrame): DataFrame =
    Materializer.rollupFrame(spark, v, mv,
      name => if (name == v.spec.source) batch else resolve(name))

  /** Merge partial frames: union → groupBy dims → re-merge partials
    * (sum of sums, sum of counts, min of mins, max of maxs). */
  private def merge(v: MetricView, mv: MatViewSpec, frames: Seq[DataFrame]): DataFrame = {
    val merged = frames.reduce(_.unionByName(_))
    val mergeAggs = Materializer.rollupPartials(v, mv).map(p => p.reagg(p.name).as(p.name))
    merged.groupBy(mv.dimensions.map(col): _*).agg(mergeAggs.head, mergeAggs.tail: _*)
  }

  /** Fold one micro-batch of new source rows into every aggregated
    * rollup of the view. The merged snapshot lands in a fresh version
    * directory (reading the old snapshot while writing the new one is
    * safe — they are different directories), then the pointer flips.
    * With `foldId` (daemon use), an id already in the snapshot's
    * ledger no-ops — a retried batch must not double-merge partials,
    * the sum-family analogue of the disjoint-ids guards elsewhere. */
  def foldBatch(v: MetricView, batch: DataFrame, foldId: Option[String] = None): Unit = {
    v.spec.materialization.toSeq.flatMap(_.materializedViews).filter(_.isAggregated)
      .foreach { mv =>
        val path = Materializer.tablePath(workDir, v.name, mv.name)
        VersionedTable.write({
          val fresh = batchPartials(v, mv, batch)
          if (VersionedTable.exists(path))
            merge(v, mv, Seq(VersionedTable.read(spark, path), fresh))
          else fresh
        }, path, foldId)
      }
  }

  /** Maintain the rollups from a streaming source of new rows: drains
    * available input (Trigger.AvailableNow) and folds each micro-batch.
    * The checkpoint remembers which files were already folded, so the
    * first call builds the rollup from scratch and every later call
    * touches only the delta. */
  def maintain(v: MetricView, stream: DataFrame): Unit = {
    val q = stream.writeStream
      .foreachBatch((batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        foldBatch(v, batch.toDF()))
      .option("checkpointLocation", s"$checkpointDir/${v.name}")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Forget fold progress (spec changed → rollups were reset; the next
    * maintain() must re-fold from the beginning of the source). */
  def resetCheckpoint(v: MetricView): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$checkpointDir/${v.name}"))
}
