package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared batch-identity derivation for the continuous-maintenance
  * streams. Every persisted family guards replayed batches with an
  * applied-fold ledger, and the fold id must be STABLE across stream
  * restarts — `foreachBatch`'s `batchId` is not (without a durable
  * checkpoint each drain restarts at 0, so a second drain over a feed
  * with new files would no-op its first batches against the ledger and
  * silently DROP new data — ADVICE r10). The id is therefore derived
  * from batch CONTENT: (min id, max id, row count) over the id column,
  * which the ingest contract already makes unique per batch (delta ids
  * are new and disjoint across batches), and which a replay reproduces
  * byte-identically. The one aggregate also serves the non-empty check,
  * replacing a separate `isEmpty` action. */
private[graft] object Folds {

  /** `Some(foldId)` for a non-empty batch — the id embeds the batch's
    * min id, max id and row count — and `None` for an empty one. */
  def contentFoldId(batch: DataFrame, idCol: String = "doc_id"): Option[String] = {
    val r = batch.agg(
      min(col(idCol).cast("long")).as("lo"),
      max(col(idCol).cast("long")).as("hi"),
      count(lit(1)).as("n")).head()
    if (r.getLong(2) == 0L) None
    else Some(s"$idCol-${r.getLong(0)}-${r.getLong(1)}-${r.getLong(2)}")
  }

  /** Per-family wall-clock accounting across a drain — enabled by the
    * bench (one flag flip) so BENCH stage splits can show WHERE a
    * microbatch's time goes (probe vs absorb vs clusters vs drift vs
    * spans) without threading timers through every signature. Sums
    * across batches; read+reset with [[drain]]. */
  private[graft] object FamilyClock {
    @volatile var enabled = false
    private val sink = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
    def time[T](family: String)(f: => T): T =
      if (!enabled) f
      else {
        val t0 = System.nanoTime()
        try f finally sink.merge(family, (System.nanoTime() - t0) / 1e9,
          (a, b) => a + b)
      }
    def drain(): Seq[(String, Double)] = {
      val out = scala.collection.mutable.ArrayBuffer[(String, Double)]()
      sink.forEach((k, v) => out += (k -> v.doubleValue()))
      sink.clear()
      out.sortBy(_._1).toSeq
    }
  }

  /** Family folds fan out concurrently only when the session has the
    * headroom for several simultaneous jobs — on a small session
    * (local[4] test JVMs, tiny executors) concurrent folds contend for
    * execution-memory pages and can OOM where the serial order is
    * comfortably inside budget; the scheduling-tail win the fan-out
    * buys only exists when cores would otherwise sit idle. */
  def fanOut(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.sparkContext.defaultParallelism >= 16

  /** Run `f` on a background thread when fan-out is on, inline when
    * off; the returned future is already complete in the inline case. */
  def launch(spark: org.apache.spark.sql.SparkSession)(f: => Unit): scala.concurrent.Future[Unit] = {
    import scala.concurrent.ExecutionContext.Implicits.global
    if (fanOut(spark)) scala.concurrent.Future(f)
    else { f; scala.concurrent.Future.successful(()) }
  }

  /** Apply a durable checkpoint location when the caller has one —
    * restart-monotonic batch ids and exactly-once file-source progress;
    * without it the content-derived fold ids above still make replays
    * idempotent, but a NEW run() over the same feed re-reads all files. */
  def withCheckpoint[T](w: org.apache.spark.sql.streaming.DataStreamWriter[T],
      checkpoint: Option[String]): org.apache.spark.sql.streaming.DataStreamWriter[T] =
    checkpoint.fold(w)(c => w.option("checkpointLocation", c))
}
