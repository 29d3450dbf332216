package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted per-document fingerprint state — the fold path for the
  * two corpus cards that still re-hashed raw text every run (VERDICT
  * r11 missing-2 / task 8): the SPLIT-LEAKAGE card (duplicate openings
  * spanning train/val/test) and the CORPUS-DIFF card (added / removed /
  * changed / unchanged between snapshot versions).
  *
  * One slim table under a [[SnapshotRoot]], partitioned by
  * `dbucket = pmod(doc_id, B)` (the doc-store posture):
  *  - `fp`    — the [[CorpusDiff]] content fingerprint (md5 per content
  *    column, concatenated), so a later snapshot diffs against the
  *    store WITHOUT re-hashing the old corpus;
  *  - `pfp`   — the split-leakage prefix fingerprint (md5 of the
  *    first-8-token lowercased opening; NULL for blank docs), the
  *    leakage card's join key;
  *  - `split` — the deterministic train/val/test assignment
  *    ([[Sampling.splitAssign]], a pure doc_id hash).
  *
  * Both cards are served from these fixed-width rows: leakage is a
  * distinct + self-join at (pfp, split) grain, diff is the
  * [[CorpusDiff.diffFps]] full-outer at (doc_id, fp) grain — document
  * TEXT is read exactly once per document, at ingest. Folds are pure
  * O(delta) appends ([[BucketStore.append]] — hard-links + O(delta)
  * file moves, per-bucket compaction), with the engine's standard
  * new-ids guard ([[GuardedFold.newIds]]) and fold ledger, so the
  * store drops into [[graft.streaming.ContinuousIngest]] as another
  * family unchanged.
  *
  * Equivalence contract (the oracle gates): after any fold sequence
  * covering the corpus, [[splitLeakageCard]] equals the batch card
  * over raw text (q_split_leakage_incremental runs the batch SQL), and
  * [[diffAgainst]](newDocs) equals [[CorpusDiff.diff]](corpus, newDocs)
  * (q_corpus_diff_incremental runs the batch diff SQL) — both hold
  * because every row is a pure per-document function of the text, so
  * union-of-folds == whole-corpus derivation exactly. */
object FingerprintStore {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("fp", StringType), StructField("pfp", StringType),
    StructField("split", StringType), StructField("dbucket", IntegerType)))

  private def dbucket(id: Column, n: Int) =
    pmod(id, lit(n.toLong)).cast("int")

  /** The slim row derivation — ONE narrow scan per document, shared by
    * writeState and applyDelta so fold == rebuild by construction.
    * `fp` must stay definitionally identical to [[CorpusDiff]]'s
    * fingerprint and `pfp`/`split` to the batch leakage card's — the
    * oracle hash gates pin all three. */
  private def rows(docs: DataFrame, nBuckets: Int): DataFrame = {
    // tokensOf: consumes the daemon's shared per-batch token frame when
    // the caller attached one (identical values by construction — the
    // oracle hash gates stay byte-exact), the inline split otherwise
    val toks = TextOps.tokensOf(docs, "text", lowered = true)
    docs.select(
      col("doc_id").cast("long").as("doc_id"),
      col("source"),
      CorpusDiff.fpOf(Seq("text")).as("fp"),
      when(length(trim(col("text"))) > 0,
        md5(concat_ws(" ", slice(toks, 1, 8)))).as("pfp"),
      Sampling.splitAssign(col("doc_id")).as("split"),
      dbucket(col("doc_id").cast("long"), nBuckets).as("dbucket"))
  }

  /** Offline build: fingerprint state for `docs` at `root` (the table
    * lives under `v<N>/fps` like every BucketStore-managed root). */
  def writeState(docs: DataFrame, root: String, nBuckets: Int = 64): Unit =
    SnapshotRoot.seed(root) { v1 =>
      Bucketing.writePartitioned(rows(docs, nBuckets), s"$v1/fps", Seq("dbucket"))
      BucketStore.initManifest(v1, "fps") // first-fold guard (r13)
    }

  /** Fold one arrival batch (doc_id, source, text): new-ids guard
    * (broadcast semi over the store), then one O(delta) append. */
  def applyDelta(spark: SparkSession, root: String, delta: DataFrame,
      nBuckets: Int = 64, foldId: Option[String] = None): Unit =
    GuardedFold.runStandalone(prepareFold(spark, root, delta, nBuckets, foldId))

  /** The fold split at its guard collect (r14, VERDICT r13 task 4):
    * the daemon unions these legs with every other family's into ONE
    * driver round-trip per microbatch — see [[GuardedFold]]. */
  private[graft] def prepareFold(spark: SparkSession, root: String,
      delta: DataFrame, nBuckets: Int = 64,
      foldId: Option[String] = None): Option[GuardedFold] = {
    SnapshotRoot.begin(root, foldId).map { fold =>
      val cur = fold.liveDir
      val d = Persists.cacheFor(rows(delta, nBuckets), 2)
      // the overlap guard is a broadcast semi over the store — a
      // realistic delta's ids hash into every bucket, so literal
      // pruning bought nothing
      GuardedFold.newIds(fold, d,
          BucketStore.readChecked(spark, schema, cur, "fps")) { _ =>
        BucketStore.append(spark, cur, fold.dir, "fps", "dbucket", d,
          identity, schema)
      }
    }
  }

  /** The live fingerprint table (manifest-checked exact read — a
    * short listing here silently shrinks every card built on it). */
  def readFps(spark: SparkSession, root: String): DataFrame =
    BucketStore.readChecked(spark, schema,
      SnapshotRoot.currentDir(root), "fps")

  /** Split-leakage card from the maintained state — the batch card's
    * exact shape ((pfp, split) distinct collapse BEFORE the self-join)
    * over stored fingerprints instead of a corpus re-tokenize. */
  def splitLeakageCard(spark: SparkSession, root: String): DataFrame = {
    val d = readFps(spark, root)
      .filter(col("pfp").isNotNull)
      .select(col("pfp").as("fp"), col("split")).distinct()
    val a = d.select(col("fp"), col("split").as("split_a"))
    val b = d.select(col("fp"), col("split").as("split_b"))
    a.join(b, "fp").filter(col("split_a") < col("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("shared_fingerprints"))
      .orderBy("split_a", "split_b")
  }

  /** Diff a NEW snapshot against the maintained state: only the new
    * side's text is hashed; the old side is the store's fixed-width
    * rows. Identical output to [[CorpusDiff.diff]](storedDocs, newDf). */
  def diffAgainst(spark: SparkSession, root: String, newDf: DataFrame,
      contentCols: Seq[String] = Seq("text"),
      carry: Seq[String] = Seq("source")): DataFrame = {
    val oldFps = readFps(spark, root).select(
      col("doc_id") +: (col("fp").as("__fp_o") +:
        carry.map(c => col(c).as(s"__o_$c"))): _*)
    CorpusDiff.diffFps(oldFps, newDf, "doc_id", contentCols, carry)
  }
}
