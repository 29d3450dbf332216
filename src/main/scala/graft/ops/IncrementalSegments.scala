package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental segment-level dedup state — the continuous form of
  * [[SegmentDedup]]: a persisted KEEPER table (distinct segment
  * fingerprint → its first-observed (doc_id, pos) occurrence) plus the
  * doc store, folded per arrival batch, so streaming ingest strips
  * corpus-wide boilerplate with O(delta + matched) work per batch
  * instead of re-deduping the corpus.
  *
  * Fold (applyDelta): segment the delta (narrow codegen), take each
  * fingerprint's within-delta min (doc_id, pos) candidate, CLAIM the
  * fingerprints the store has not seen (anti-join against the
  * fbucket-pruned keeper store streamed through a broadcast semi-join
  * — the corpus-side store is never shuffled), and append the claimed
  * keepers + the delta docs. Both tables are append-only
  * ([[BucketStore.append]]: hard-link + O(delta) file moves,
  * per-bucket compaction) under one [[SnapshotRoot]] — a single
  * pointer flip commits keepers and docs together, and a replayed
  * batch no-ops.
  *
  * Keeper contract — FIRST OBSERVED wins: fold order first, then
  * (doc_id, pos) within a fold. This is the streaming-native rule
  * (a segment's canonical copy is the one that arrived first — later
  * arrivals are the duplicates to strip); it equals the batch rule
  * (global min (doc_id, pos)) exactly when batches arrive in doc-id
  * order, which is the fold==rebuild contract the oracle gates. Out of
  * order, the keeper differs but the INVARIANT a pipeline needs holds
  * either way: exactly one keeper per distinct segment, stable once
  * claimed (a claim is never re-assigned — reprocessing earlier docs
  * can't flap downstream rebuilds). */
object IncrementalSegments {

  private val keepersSchema = StructType(Seq(
    StructField("fp", StringType), StructField("doc_id", LongType),
    StructField("pos", IntegerType), StructField("fbucket", IntegerType)))
  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("text", StringType), StructField("dbucket", IntegerType)))

  private def fbucket(fp: org.apache.spark.sql.Column, n: Int) =
    pmod(xxhash64(fp), lit(n.toLong)).cast("int")
  private def dbucket(id: org.apache.spark.sql.Column, n: Int) =
    pmod(id.cast("long"), lit(n.toLong)).cast("int")

  private def segsOf(docs: DataFrame, n: Int): DataFrame =
    SegmentDedup.segmentRows(docs,
      SegmentDedup.tokenWindowsFromTokens(
        TextOps.tokensOf(docs, "text"), n), "doc_id", "text")

  private def paramsLine(n: Int, nBuckets: Int) = s"n=$n nBuckets=$nBuckets"

  private def requireSameParams(root: String, n: Int, nBuckets: Int): Unit =
    SnapshotRoot.requireParams(root, paramsLine(n, nBuckets),
      "a mismatched window silently matches nothing")

  /** Batch-build the state from `docs` (doc_id, source, text). */
  def writeState(docs: DataFrame, root: String, n: Int = 16,
      nBuckets: Int = 64): Unit = {
    val segs = segsOf(docs.select(col("doc_id"), col("text")), n)
    val keepers = segs.groupBy("fp")
      .agg(min(struct(col("doc_id"), col("pos"))).as("k"))
      .select(col("fp"), col("k.doc_id").as("doc_id"), col("k.pos").as("pos"))
    SnapshotRoot.seed(root) { v1 =>
      Bucketing.writePartitioned(
        keepers.withColumn("fbucket", fbucket(col("fp"), nBuckets)),
        s"$v1/keepers", Seq("fbucket"))
      Bucketing.writePartitioned(
        docs.select(col("doc_id"), col("source"), col("text"))
          .withColumn("dbucket", dbucket(col("doc_id"), nBuckets)),
        s"$v1/docs", Seq("dbucket"))
      // guard the FIRST fold too (r13)
      Seq("keepers", "docs").foreach(BucketStore.initManifest(v1, _))
      SnapshotRoot.writeParams(root, paramsLine(n, nBuckets))
    }
  }

  /** Fold one arrival batch (doc_id, source, text). */
  def applyDelta(spark: SparkSession, root: String, delta: DataFrame,
      n: Int = 16, nBuckets: Int = 64, foldId: Option[String] = None): Unit =
    GuardedFold.runStandalone(
      prepareFold(spark, root, delta, n, nBuckets, foldId))

  /** The fold split at its guard collect (r14, VERDICT r13 task 4):
    * the daemon unions these legs with every other family's into ONE
    * driver round-trip per microbatch — see [[GuardedFold]]. */
  private[graft] def prepareFold(spark: SparkSession, root: String,
      delta: DataFrame, n: Int = 16, nBuckets: Int = 64,
      foldId: Option[String] = None): Option[GuardedFold] = {
    requireSameParams(root, n, nBuckets)
    SnapshotRoot.begin(root, foldId).map { fold =>
      val cur = fold.liveDir
      val d = Persists.cacheFor(
        TextOps.keepTokens(delta, "doc_id", "source", "text"), 64)
      // within-delta keeper candidates — the same skew-immune partial
      // min as the batch path
      val cand = Persists.cacheFor(
        segsOf(d, n).groupBy("fp")
          .agg(min(struct(col("doc_id"), col("pos"))).as("k"))
          .withColumn("fbucket", fbucket(col("fp"), nBuckets)), 64)

      // the docs append depends only on the cached delta, so it starts
      // CONCURRENTLY with the guard collect (r12) — files staged in the
      // unflipped next version are not an observable mutation
      fold.async(BucketStore.append(spark, cur, fold.dir, "docs", "dbucket",
        d.select("doc_id", "source", "text") // shared token cols stay out
          .withColumn("dbucket", dbucket(col("doc_id"), nBuckets)),
        identity, docsSchema))

      // the legs' store read lists files at plan-build time and can
      // throw with the docs append in flight
      fold.orAbandon {
        // ONE fused collect (r12): the new-ids legs plus the delta's
        // fingerprint buckets (keeper-store read pruning)
        GuardedFold.newIds(fold, d,
            BucketStore.readChecked(spark, docsSchema, cur, "docs"),
            extra = Seq(cand.agg(collect_set(col("fbucket")).as("arr"))
              .select(lit("fb").as("t"), lit(0L).as("a"), lit(0L).as("b"),
                col("arr")))) { meta =>
          val fBuckets = GuardedFold.one(meta, "fb").getSeq[Int](3)
          // claims: candidate fingerprints the (bucket-pruned) store has
          // not seen — the store streams, the delta broadcasts. A short
          // listing here would under-detect "seen" and append duplicate
          // keeper claims, so the read is manifest-checked + exact-files
          val store = BucketStore.readChecked(spark, keepersSchema, cur, "keepers")
            .filter(col("fbucket").isin(fBuckets.map(Integer.valueOf): _*))
          val seen = store.join(broadcast(cand.select("fp")), Seq("fp"), "left_semi")
            .select("fp")
          val claims = cand.join(seen, Seq("fp"), "left_anti")
            .select(col("fp"), col("k.doc_id").as("doc_id"),
              col("k.pos").as("pos"), col("fbucket"))
          BucketStore.append(spark, cur, fold.dir, "keepers", "fbucket",
            claims, identity, keepersSchema)
        }
      }
    }
  }

  def readKeepers(spark: SparkSession, root: String): DataFrame =
    BucketStore.readChecked(spark, keepersSchema,
        SnapshotRoot.currentDir(root), "keepers")
      .select("fp", "doc_id", "pos")

  /** The per-doc dedup verdict over everything in the state — the
    * [[SegmentDedup.dedup]] output shape served from the maintained
    * keeper table (equal to a batch dedup over the same docs when
    * batches arrived in doc-id order). */
  def dedupFromState(spark: SparkSession, root: String, n: Int = 16,
      sep: String = " "): DataFrame = {
    val cur = SnapshotRoot.currentDir(root)
    val docs = BucketStore.readChecked(spark, docsSchema, cur, "docs")
      .select("doc_id", "source", "text")
    val segs = Persists.cacheFor(segsOf(docs, n), 2)
    val kept = segs.join(readKeepers(spark, root)
        .select(col("fp"), col("doc_id").as("__kid"), col("pos").as("__kpos")), "fp")
      .filter(col("doc_id") === col("__kid") && col("pos") === col("__kpos"))
    val perDoc = kept.groupBy("doc_id").agg(
      count(lit(1)).as("kept_segments"),
      concat_ws(sep, transform(
        array_sort(collect_list(struct(col("pos"), col("seg")))),
        s => s.getField("seg"))).as("new_text"))
    val counts = segs.groupBy("doc_id").agg(count(lit(1)).as("n_segments"))
    docs
      .join(counts, Seq("doc_id"), "left")
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_segments", coalesce(col("n_segments"), lit(0L)))
      .withColumn("kept_segments", coalesce(col("kept_segments"), lit(0L)))
      .withColumn("new_text", coalesce(col("new_text"), lit("")))
  }
}
