package graft.streaming

import org.apache.spark.sql.DataFrame

/** Continuous dedup end-to-end (r10, VERDICT r9 task 5): per arrival
  * batch of the document stream ([[ContinuousIngest]] drives it), the
  * whole dedup state — near-dup pair log, band index,
  * duplicate-cluster label store — is maintained by composing the
  * pieces the engine already owns:
  *
  *  1. [[graft.ops.IncrementalDedup.deltaPairs]] matches the batch
  *     against the persisted band index in O(batch) and the verified
  *     pairs append to a pairs log (the audit artifact a curation
  *     pipeline keeps);
  *  2. [[graft.ops.IncrementalDedup.applyDelta]] absorbs the batch
  *     into the index (banded rows, census contributions, id-bucketed
  *     doc store) so LATER batches match against it — match first,
  *     then absorb, per that method's order contract;
  *  3. [[graft.ops.IncrementalClusters.applyDelta]] folds the batch's
  *     structural keys into the persisted label store in
  *     O(batch + touched clusters), behind its crash-consistent
  *     snapshot flip.
  *
  * Equivalence (gated by ContinuousIngestSpec, and what makes
  * q_stream_curation hash-oracle-able by the BATCH curation SQL):
  * after the stream drains, the label store equals batch CC over
  * corpus ∪ all batches (per-fold equivalence composes — the
  * IncrementalClustersSpec sequential-fold case generalizes
  * batch-by-batch), and the pairs
  * log holds exactly the batch pipeline's pairs restricted to pairs
  * involving ≥1 streamed doc (every pair lands in the batch of its
  * LATER member, whose probe sees the earlier member through the
  * index).
  *
  * Scale shape: each microbatch pays the O(batch) probe + fold costs
  * measured flat across corpus decades in BENCH_SCALE (inc_dedup_*,
  * inc_clusters_*); the stream adds only microbatch scheduling. State
  * lives in the persisted artifacts, NOT in Spark streaming state —
  * the state store would re-shuffle corpus-scale state per batch,
  * while the artifacts are exactly the bucketed/pruned layouts the
  * incremental operators were built around.
  */
object ContinuousDedup {

  /** Process one arrived batch: match → log pairs → absorb into the
    * index → fold labels. `keyedOf` derives the cluster fold's input
    * (idCol, structural key columns, carried columns) from the raw
    * batch — key derivation runs INSIDE the batch, the streaming
    * posture (nothing precomputed outside the stream).
    *
    * The batch is banded ONCE (r11): the probe and the absorb both
    * read one cached slim banded frame instead of re-tokenizing and
    * re-hashing the batch twice — the daemon's largest per-batch fixed
    * cost before this fix.
    *
    * `foldId` (r11): a stable batch identity makes the batch RETRYABLE
    * (ADVICE r10) — the index ledger skips a completed probe+absorb,
    * the label store's snapshot ledger skips a committed cluster fold,
    * and the pairs land in a fold-named partition directory written
    * with overwrite semantics, so a replay replaces rather than
    * double-appends. Without it the behavior is the r10 one: a crash
    * between families wedges on the disjoint-ids guard. */
  def processBatch(batch: DataFrame, indexPath: String, clusterPath: String,
      pairsLog: String, keyedOf: DataFrame => DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      keyCols: Seq[String] = Seq("k1", "k2"), nBuckets: Int = 64,
      foldId: Option[String] = None,
      /** false = the caller folds the cluster family itself through an
        * external combined guard collect (r15, [[prepareClustersFold]]
        * — the ingest daemon's posture); probe/absorb/pairs only. */
      clusters: Boolean = true): Unit = {
    if (foldId.isEmpty && batch.isEmpty) return
    val spark = batch.sparkSession
    val indexDone = foldId.exists(
      graft.ops.SnapshotRoot.liveLedger(indexPath).contains)
    // the CLUSTER fold is independent of the index family (different
    // state root, own ledger) — run it concurrently with probe+absorb
    // when the session has fan-out headroom (r11: the probe dominates
    // the daemon's per-batch wall clock, and overlapping the cluster
    // fold is free on any non-saturated cluster; Folds.launch falls
    // back to inline on small sessions). The retry contract is
    // per-family, so a failure on either side leaves the other
    // committed and skippable.
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    val clustersF = if (!clusters) scala.concurrent.Future.successful(())
      else Folds.launch(spark)(Folds.FamilyClock.time("clusters") {
      graft.ops.IncrementalClusters.applyDelta(spark, clusterPath, keyedOf(batch),
        idCol, keyCols, nBuckets, foldId = foldId)
    })
    try {
      if (!indexDone) {
        // one banded frame for probe AND absorb (epoch-swept registration,
        // the IncrementalSpans cache posture — the probe's pair pipeline,
        // its bucket collect, and the absorb's two appends all read it)
        val banded = graft.ops.Persists.cacheFor(
          graft.ops.IncrementalDedup.bandedOf(batch, textCol, idCol), 64)
        // the probe's MATCH POINT is deltaPairs construction: the
        // candidate-pair cache materializes here (the bucket collect),
        // and every corpus-store read in the pair plan pins its file
        // listing now — so the pairs WRITE (which replays the cache and
        // runs the verify joins over those pinned listings) can overlap
        // the absorb, whose index writes are pure appends the pinned
        // listings never see (r11: write and absorb were the two
        // serialized tails of the daemon's critical path)
        val pairs = Folds.FamilyClock.time("dedup_probe") {
          graft.ops.IncrementalDedup.deltaPairs(
            spark, indexPath, batch, textCol, idCol, preBanded = Some(banded))
        }
        val writeF = Folds.launch(spark)(Folds.FamilyClock.time("dedup_pairs_write") {
          foldId match {
            case Some(fid) => // replayable slot: overwrite, never append
              pairs.write.mode("overwrite").parquet(s"$pairsLog/fold=$fid")
            case None =>
              pairs.write.mode("append").parquet(pairsLog)
          }
        })
        try Folds.FamilyClock.time("dedup_absorb") {
          // ledger committed below by THIS caller, after the pairs
          // write also lands: a ledger written by the absorb alone
          // would make a retry skip a probe whose pairs never hit disk
          graft.ops.IncrementalDedup.applyDelta(spark, indexPath, batch,
            textCol, idCol, foldId = None, preBanded = Some(banded))
        } finally Await.result(writeF, Duration.Inf)
        foldId.foreach(graft.ops.SnapshotRoot.appendLedger(indexPath, _))
      }
    } finally Await.result(clustersF, Duration.Inf)
  }

  /** The cluster-label fold prepared for an EXTERNAL combined guard
    * collect (r15, VERDICT r14 task 5): the ingest daemon unions this
    * family's legs — the delta-bounded micro graph itself — with every
    * other id-guarded store's into ONE driver round-trip per
    * microbatch, removing the last genuine per-batch collect outside
    * the fusion. Key derivation still runs INSIDE the batch
    * ([[processBatch]]'s streaming posture); ledger/replay semantics
    * are [[graft.ops.IncrementalClusters.prepareFold]]'s. */
  def prepareClustersFold(batch: DataFrame, clusterPath: String,
      keyedOf: DataFrame => DataFrame, idCol: String = "doc_id",
      keyCols: Seq[String] = Seq("k1", "k2"), nBuckets: Int = 64,
      foldId: Option[String] = None): Option[graft.ops.GuardedFold] =
    graft.ops.IncrementalClusters.prepareFold(batch.sparkSession,
      clusterPath, keyedOf(batch), idCol, keyCols, nBuckets,
      foldId = foldId)
}
