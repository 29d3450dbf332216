package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted DSIR model store: the O(delta) path for keeping the
  * importance-weight model current as the corpus grows, and for
  * scoring candidate pools against a FIXED reference model — DSIR's
  * deployment shape (fit on the reference + a raw sample once, then
  * score every incoming crawl batch).
  *
  * The state is [[Dsir]]'s bucket-grain model — (b, tc, rc), ≤
  * `buckets` rows of plain summable longs — so a fold merges a delta
  * batch's counts by element-wise sum: EXACT, order-free, and
  * fold==rebuild holds by construction (q_dsir_incremental hash-gates
  * it against the batch SQL). Like [[DriftStore]], the store is
  * metadata-scale, so each fold rewrites it whole into the next
  * [[SnapshotRoot]] version ([[BucketStore.mergeFold]]); a replayed
  * batch no-ops.
  *
  * The target predicate is the caller's contract: folds must tag
  * deltas with the SAME predicate the store was initialized with
  * (it cannot be serialized — it is an arbitrary Column). The bucket
  * count IS stored and enforced ([[SnapshotRoot.requireParams]]): a
  * mismatched B would hash features into different buckets and
  * silently corrupt the model. */
object DsirStore {

  private def paramsLine(buckets: Int) = s"dsir v1 buckets=$buckets"

  private def requireSameParams(root: String, buckets: Int): Unit =
    SnapshotRoot.requireParams(root, paramsLine(buckets),
      "mismatched buckets corrupt the model")

  /** Initialize from a corpus scan (the one-time model fit). */
  def writeCounts(docs: DataFrame, targetPred: Column, root: String,
      buckets: Int = 4096, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val dbc = Dsir.docBucketCounts(docs, targetPred, buckets, idCol, textCol, Nil)
    BucketStore.seedFlat(root, "model", Dsir.modelOf(dbc))
    SnapshotRoot.writeParams(root, paramsLine(buckets))
  }

  /** Fold a delta batch's counts into the stored model — one delta
    * scan, element-wise sum merge, next-version commit. Replays of a
    * `foldId` already in the live ledger no-op. */
  def applyDelta(spark: SparkSession, root: String, delta: DataFrame,
      targetPred: Column, buckets: Int = 4096, idCol: String = "doc_id",
      textCol: String = "text", foldId: Option[String] = None): Unit = {
    requireSameParams(root, buckets)
    BucketStore.mergeFold(spark, root, "model", foldId)(
      _.unionByName(Dsir.modelOf(
          Dsir.docBucketCounts(delta, targetPred, buckets, idCol, textCol, Nil)))
        .groupBy("b").agg(sum("tc").as("tc"), sum("rc").as("rc")))
  }

  /** The live model counts (readers pin the resolved snapshot; Spark's
    * planned listing is manifest-checked — VERDICT r15 task 2). */
  def counts(spark: SparkSession, root: String): DataFrame = {
    val cur = SnapshotRoot.currentDir(root)
    BucketStore.checkPlannedListing(BucketStore.readLiveDir(spark, cur), cur, "model")
  }

  /** Score a candidate pool against the STORED model (pool rows
    * matching `targetPred` are the reference, not candidates — same
    * semantics as [[Dsir.scores]]). Cost: one pool scan + the
    * metadata-scale model read; the corpus the model was fitted on is
    * never touched. */
  def scoresFromState(spark: SparkSession, root: String, pool: DataFrame,
      targetPred: Column, buckets: Int = 4096, idCol: String = "doc_id",
      textCol: String = "text", carry: Seq[String] = Seq("source")): DataFrame = {
    requireSameParams(root, buckets)
    val model = Persists.cacheFor(counts(spark, root), 2)
    val dbc = Dsir.docBucketCounts(pool, targetPred, buckets, idCol, textCol, carry)
    Dsir.scoreAgainst(dbc, model, buckets, idCol, carry)
  }
}
