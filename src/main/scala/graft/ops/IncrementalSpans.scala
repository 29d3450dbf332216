package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental exact-substring span maintenance: keep the
  * [[DupSpans]] output current as document batches arrive, at
  * O(delta + affected docs) instead of a corpus re-gram — the span
  * pillar's version of the O(delta) folds the engine already has for
  * pair dedup ([[IncrementalDedup]]), cluster labels
  * ([[IncrementalClusters]]), ANN cells ([[IvfIndex.appendIndexed]])
  * and the drift profile ([[DriftStore]]).
  *
  * == State (ONE [[SnapshotRoot]], four bucket-partitioned tables per
  * version — a single pointer flip keeps them mutually consistent) ==
  *  - `grams`  (gh, doc_id) distinct pairs where `gh = xxhash64(g)` —
  *    FIXED-WIDTH, not the gram string (r11): the store's only job is
  *    answering "which corpus docs contain a delta gram", and a hash
  *    collision merely adds a doc to the affected set whose spans then
  *    re-derive bit-identically, so the match can run on 8-byte longs
  *    while the corpus-proportional scan reads a fraction of the
  *    string-store bytes. Partitioned by `gbucket = pmod(gh, B)`;
  *  - `gramdf` (g, df) document-frequency PARTIALS (reads sum them),
  *    partitioned by `pmod(xxhash64(g), B)` — df stays keyed by the
  *    EXACT gram string, because a collision here would overcount df
  *    and invent spans (the correctness contract is string-exact);
  *  - `docs`   (doc_id, text), partitioned by
  *    `dbucket = pmod(doc_id, B)` — affected docs re-gram from a
  *    pruned read, never a corpus scan (the IncrementalDedup doc-store
  *    posture);
  *  - `spans`  the [[DupSpans]] output rows, partitioned like `docs`.
  *
  * == Fold (applyDelta) ==
  *  1. gram the delta (O(delta));
  *  2. corpus docs sharing ≥1 delta gram = the AFFECTED set: only
  *     their spans can change, because a span depends solely on its
  *     own grams' df and the delta shifts df only for grams it
  *     contains — any corpus doc holding such a gram is matched here,
  *     so untouched docs' rows are bit-stable by construction. The
  *     slim hash store streams through a codegen
  *     `BloomFilterMightContain` prefilter built from the delta's gram
  *     hashes in the same pass as the guard stats (the
  *     [[Decontamination.scanBloom]] posture), then a broadcast join
  *     against the delta hash set removes the bloom's false positives;
  *  3. re-derive spans for affected ∪ delta docs: their grams come
  *     from the pruned doc-store read + the delta, their post-delta
  *     df = stored df (slim 2-column store STREAMED through a
  *     broadcast semi-join — never shuffled) + the delta's per-gram
  *     distinct-doc count;
  *  4. write the next snapshot: gram/df/doc stores are APPEND-ONLY
  *     (every existing file hard-linked, the delta's part files moved
  *     in — O(delta) bytes, because a day-batch's grams hash into
  *     every bucket and a rewrite-touched-buckets design would
  *     rewrite the corpus-scale gram store per fold), with per-bucket
  *     compaction past `compactAt` files (gramdf partials summed);
  *     the spans table needs delete+insert semantics and rewrites its
  *     O(affected) touched buckets; one atomic pointer flip commits
  *     all four ([[SnapshotRoot]] crash contract).
  *
  * == Driver-action budget (r12) ==
  * The fold runs exactly ONE collect (the IncrementalClusters
  * fused-collect lesson: every separate driver action is a scheduler
  * round-trip): a tagged-union aggregate serving the delta-contract
  * stats, the id-overlap guard and the touched-doc bucket list (which
  * materializes the cached affected set). The three O(delta) appends
  * launch CONCURRENTLY with that collect — they depend only on the
  * delta caches, and staging files in the unflipped next version is
  * not an observable mutation — so the critical path is
  * guard-collect → span re-derive → span-bucket rewrite, with the
  * appends hidden under it. r11 ran two serialized collects (the
  * first built a bloom prefilter for the second's store scan), but
  * the scan's broadcast semi-join against the exact delta hash set
  * already paid the full broadcast, so the bloom bought nothing the
  * semi didn't — dropping it removed a scheduler round-trip from the
  * critical path. At a delta grain where the gram hash set outgrows a
  * broadcast, reinstate the bloom as the ONLY filter (false-positive
  * affected docs re-derive bit-identically).
  *
  * Equivalence contract (the oracle gate): after any fold sequence,
  * `spans` equals [[DupSpans.duplicateSpans]] over the union of
  * everything ever written — q_dup_spans_incremental runs the BATCH
  * span SQL. Delta ids must be unique and absent from the store
  * (enforced loudly before any mutation, [[GuardedFold.newIds]]).
  *
  * `foldId` (r11, the ContinuousIngest retry contract): a caller
  * folding under a retrying stream passes a stable batch identity;
  * ids recorded in the live snapshot's fold ledger no-op
  * ([[SnapshotRoot.begin]]), so a multi-family batch whose LATER
  * family crashed can re-run this fold without tripping the new-ids
  * guard.
  */
object IncrementalSpans {

  import org.apache.spark.sql.types._
  // explicit read schemas: a just-initialized store can hold EMPTY
  // tables (a corpus with no duplicates writes zero span partitions),
  // and parquet cannot infer a schema from an empty directory
  private val gramsSchema = StructType(Seq(StructField("gh", LongType),
    StructField("doc_id", LongType), StructField("gbucket", IntegerType)))
  private val gramdfSchema = StructType(Seq(StructField("g", StringType),
    StructField("df", LongType), StructField("gbucket", IntegerType)))
  private val docsSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("dbucket", IntegerType)))
  private val spansSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("span_start", LongType), StructField("span_end", LongType),
    StructField("n_docs_max", LongType), StructField("dbucket", IntegerType)))

  /** Tokenize + gram (doc_id, pos, g) — DupSpans' own gram stage, so
    * the fold==rebuild contract holds by construction. */
  private def gramsOf(docs: DataFrame, n: Int): DataFrame =
    DupSpans.gramRows(docs, n)

  private def gbucket(gh: Column, nBuckets: Int) =
    pmod(gh, lit(nBuckets.toLong)).cast("int")
  private def dbucket(id: Column, nBuckets: Int) =
    pmod(id, lit(nBuckets.toLong)).cast("int")

  /** Spans from grams + an (already ≥2-filtered) df frame — DupSpans'
    * own island stage (shared definition, no divergence risk). */
  private def spansFrom(grams: DataFrame, dupDf: DataFrame, n: Int): DataFrame =
    DupSpans.spansFrom(grams, dupDf, n)

  /** Offline build: state for `docs` at `root` (v1 + pointer). The
    * (g, doc_id) pair table and the df table are cached — grams/gramdf/
    * spans all derive from them, and without the cache each of the
    * four writes would re-tokenize the corpus; the four writes run
    * concurrently (disjoint directories), the applyDelta posture. */
  def writeState(docs: DataFrame, root: String, n: Int = 8,
      nBuckets: Int = 64): Unit = {
    val d = docs.select(col("doc_id"), col("text"))
    val g = gramsOf(d, n)
    // per-doc distinct gram stream — NARROW (array_distinct in-row),
    // replacing the r10 corpus-wide (g, doc_id) distinct shuffle
    val dgs = Persists.cacheFor(DupSpans.docGramSets(d, n), 64)
    val df = Persists.cacheFor(
      dgs.groupBy("g").agg(count(lit(1)).as("df")), 64)
    val spans = spansFrom(g, df.filter(col("df") >= 2), n)

    SnapshotRoot.seed(root) { v1 =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      Seq(
        Future(Bucketing.writePartitioned(
          dgs.select(xxhash64(col("g")).as("gh"), col("doc_id"))
            .withColumn("gbucket", gbucket(col("gh"), nBuckets)), s"$v1/grams", Seq("gbucket"))),
        Future(Bucketing.writePartitioned(
          df.withColumn("gbucket", gbucket(xxhash64(col("g")), nBuckets)),
          s"$v1/gramdf", Seq("gbucket"))),
        Future(Bucketing.writePartitioned(
          d.withColumn("dbucket", dbucket(col("doc_id"), nBuckets)), s"$v1/docs", Seq("dbucket"))),
        Future(Bucketing.writePartitioned(
          spans.withColumn("dbucket", dbucket(col("doc_id"), nBuckets)),
          s"$v1/spans", Seq("dbucket"))))
        .foreach(Await.result(_, Duration.Inf))
      // guard the FIRST fold too (r13)
      Seq("grams", "gramdf", "docs", "spans")
        .foreach(BucketStore.initManifest(v1, _))
    }
  }

  /** The live (g, df) gram doc-frequency table — append-only partials
    * summed, so readers see exact whole-corpus df after any fold
    * sequence. Serves downstream df consumers (novelty scoring,
    * boilerplate screens) from the maintained state instead of a
    * corpus re-gram. */
  def readGramDf(spark: SparkSession, root: String): DataFrame =
    BucketStore.readChecked(spark, gramdfSchema,
        SnapshotRoot.currentDir(root), "gramdf")
      .groupBy("g").agg(sum("df").as("df"))

  /** The live span output (the [[DupSpans.duplicateSpans]] shape). */
  def readSpans(spark: SparkSession, root: String): DataFrame =
    BucketStore.readChecked(spark, spansSchema,
        SnapshotRoot.currentDir(root), "spans")
      .select("doc_id", "span_start", "span_end", "n_docs_max")

  /** Fold one delta batch (see object scaladoc). */
  def applyDelta(spark: SparkSession, root: String, delta: DataFrame,
      n: Int = 8, nBuckets: Int = 64, foldId: Option[String] = None): Unit =
    GuardedFold.runStandalone(
      prepareFold(spark, root, delta, n, nBuckets, foldId))

  /** The fold split at its guard collect (r14, VERDICT r13 task 4):
    * the daemon unions these legs with every other family's into ONE
    * driver round-trip per microbatch — see [[GuardedFold]]. The three
    * append-only table writes still launch at prepare time, concurrent
    * with whichever guard collect (own or combined) follows. */
  private[graft] def prepareFold(spark: SparkSession, root: String,
      delta: DataFrame, n: Int = 8, nBuckets: Int = 64,
      foldId: Option[String] = None): Option[GuardedFold] =
    SnapshotRoot.begin(root, foldId).map { fold =>
      val cur = fold.liveDir
      // shared-token columns (if the daemon attached them) survive the
      // narrowing select so gramsOf/docGramSets skip the re-split
      val d = Persists.cacheFor(TextOps.keepTokens(delta, "doc_id", "text"), 64)
      val dg = Persists.cacheFor(gramsOf(d, n), 64)
      // per-doc distinct gram stream — NARROW (array_distinct in-row):
      // serves df accounting, the store append and the match set without
      // any corpus- or delta-wide distinct shuffle (r11)
      val dgs = Persists.cacheFor(DupSpans.docGramSets(d, n), 64)

      // the three APPEND-ONLY table writes (grams / gramdf / docs —
      // pure O(delta), independent of the affected set) launch
      // concurrently with the guard collect below (r12: they used to
      // wait behind two serialized collects + the span re-derive,
      // stretching the fold's critical path by their full cost). Files
      // staged in the unflipped next version are not an observable
      // mutation; a guard failure abandons it.
      def append(table: String, bucketCol: String, deltaRows: DataFrame,
          compact: DataFrame => DataFrame, schema: org.apache.spark.sql.types.StructType): Unit =
        fold.async(BucketStore.append(spark, cur, fold.dir, table, bucketCol,
          deltaRows, compact, schema))

      // Append-only stores (grams / gramdf / docs): a delta's grams hash
      // into EVERY bucket (millions of distinct grams per day-batch), so
      // a rewrite-touched-buckets design would rewrite the corpus-scale
      // gram store on every fold — the first sweep of this operator
      // measured exactly that (3.8× fold cost at a 100× corpus). Instead
      // the next snapshot hard-links every existing file and MOVES the
      // delta's part files into the bucket dirs — O(delta) bytes written
      // — and buckets whose file count passes `compactAt` are rolled up
      // (gramdf partials summed, pair/doc files merged) in one extra
      // partitioned write job, keeping file counts bounded under
      // continuous folding (BucketStore's contract, shared with
      // IncrementalSegments).
      // per-doc distinct by construction — no shuffle before the
      // bucket repartition (an intra-doc xxhash collision could leave a
      // rare duplicate pair row; readers distinct/semi-join, harmless)
      val deltaPairs = dgs.select(xxhash64(col("g")).as("gh"), col("doc_id"))
      append("grams", "gbucket",
        deltaPairs.withColumn("gbucket", gbucket(col("gh"), nBuckets)),
        identity, gramsSchema)
      append("gramdf", "gbucket",
        dgs.select(col("g"), lit(1L).as("df"))
          .withColumn("gbucket", gbucket(xxhash64(col("g")), nBuckets)),
        rows => rows.groupBy("g", "gbucket").agg(sum("df").as("df"))
          .select("g", "df", "gbucket"),
        gramdfSchema)
      append("docs", "dbucket",
        d.select("doc_id", "text") // never persist shared token columns
          .withColumn("dbucket", dbucket(col("doc_id"), nBuckets)),
        identity, docsSchema)

      // prepare-time failure (plan analysis) with appends in flight
      fold.orAbandon {
        // ---- affected corpus docs: share ≥1 gram hash with the delta.
        // The fixed-width hash store streams through a broadcast
        // semi-join against the exact delta hash set. (A residual
        // xxhash64 collision only widens the affected set — see the
        // class doc.) r12 dropped the r11 bloom prefilter + literal
        // bucket pruning on this scan: both required a PRIOR driver
        // collect (serializing two scheduler round-trips into the
        // critical path), the broadcast semi-join that removed the
        // bloom's false positives was already paying the full delta
        // hash-set broadcast, and a day-scale delta's grams hash into
        // every bucket, so the `isin` pruned nothing. At a delta grain
        // where the gram hash set outgrows a broadcast, the bloom
        // becomes the ONLY filter (false-positive affected docs merely
        // re-derive their spans bit-identically) — that variant restores
        // the two-phase shape, it never reinstates the exact broadcast.
        // no distinct on the semi's build: the broadcast build dedupes,
        // and a semi never multiplies matched store rows
        // manifest-checked exact read (VERDICT r15 task 1): a short grams
        // listing MISSES affected docs — their stale spans would carry
        // into the new snapshot unrewritten, silently
        val dghSet = dgs.select(xxhash64(col("g")).as("gh"))
        val touchedDocs = Persists.cacheFor(
          BucketStore.readChecked(spark, gramsSchema, cur, "grams")
            .join(broadcast(dghSet), Seq("gh"), "left_semi")
            .select("doc_id").distinct(), 64)

        // ---- ONE fused guard collect (r12; was two serialized jobs):
        // the new-ids legs (docs store semi-joined against the broadcast
        // delta ids — no literal pruning, see above; the stats leg also
        // carries the delta's doc buckets) and the touched docs' bucket
        // list — the leg that materializes the cached affected set.
        GuardedFold.newIds(fold, d,
            BucketStore.readChecked(spark, docsSchema, cur, "docs"),
            statsArr = collect_set(dbucket(col("doc_id"), nBuckets)),
            extra = Seq(touchedDocs
              .agg(collect_set(dbucket(col("doc_id"), nBuckets)).as("arr"))
              .select(lit("touched").as("t"), lit(0L).as("a"), lit(0L).as("b"),
                col("arr")))) { meta =>
          val dBucketsTouched =
            Option(GuardedFold.one(meta, "touched").getSeq[Int](3)).getOrElse(Seq.empty).toArray
          val dBucketsDelta = GuardedFold.one(meta, "stats").getSeq[Int](3).toArray

          // ---- re-derive spans for affected ∪ delta
          // commit-phase reads feeding the span re-derive (their rows land
          // in the rewrite): same exact-read posture as the rewrite itself
          val affectedText = BucketStore.readChecked(spark, docsSchema, cur, "docs")
            .filter(col("dbucket").isin(dBucketsTouched.map(Integer.valueOf): _*))
            .join(touchedDocs, "doc_id").select("doc_id", "text")
          val affGrams = Persists.cacheFor(gramsOf(affectedText, n).unionByName(dg), 64)

          // post-delta df for every gram of the affected set: stored df
          // (slim store streamed through a broadcast semi-join of the
          // grams we need) + the delta's per-gram distinct-doc
          // contribution. gramdf rows are PARTIAL increments (append-only
          // store; the delta contributes one df=1 partial per (doc, gram)
          // from the narrow per-doc distinct stream), so post-delta df is
          // ONE sum over store ∪ delta partials — no per-delta
          // pre-aggregate, no full-outer merge arithmetic (r11). The
          // semi-join key is the gram HASH (8-byte broadcast, not
          // affected-scale strings); a collision lets a stranger gram's
          // partials through, but df still groups by the exact string and
          // the island join downstream is string-keyed, so extras drop
          // harmlessly — same correctness argument as the hash-keyed
          // store.
          val needed = affGrams.select(xxhash64(col("g")).as("gh")).distinct()
          val newDf = BucketStore.readChecked(spark, gramdfSchema, cur, "gramdf")
            .select(col("g"), col("df"))
            .unionByName(dgs.select(col("g"), lit(1L).as("df")))
            .join(broadcast(needed), xxhash64(col("g")) === col("gh"), "left_semi")
            .groupBy("g").agg(sum("df").as("df"))
          val newSpans = Persists.cacheFor(
            spansFrom(affGrams, newDf.filter(col("df") >= 2), n), 64)

          // the spans table alone needs delete+insert semantics (affected
          // docs' old rows must go), so it keeps the rewrite-touched-
          // buckets path; its touched set is O(affected ∪ delta docs)
          val spanBuckets = (dBucketsTouched ++ dBucketsDelta).distinct.sorted
          // this read FEEDS the rewrite (delete+insert) of the touched
          // buckets — enumerate its files explicitly (BucketStore.readExact
          // rationale: a silently short spark.read listing here would drop
          // carried span rows into the rewritten buckets permanently).
          // Count-validate THIS listing against the spans manifest (ADVICE
          // r15): spans commits whole per version (rewrite), so the check
          // is exact — matching the sibling stores' read-adjacent checks
          BucketStore.checkManifest(cur, "spans",
            BucketStore.countPartitionedData(s"$cur/spans"))
          val touchedSpanFiles = spanBuckets.flatMap { b =>
            SnapshotRoot.listDir(new java.io.File(s"$cur/spans/dbucket=$b"))
              .filter(f => f.isFile && !f.getName.startsWith("_") &&
                !f.getName.startsWith("."))
              .map(_.toString)
          }
          val touchedSpanRows = BucketStore
            .readExact(spark, spansSchema, s"$cur/spans", touchedSpanFiles)
            .getOrElse(spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], spansSchema))
            .join(touchedDocs, Seq("doc_id"), "left_anti")
            .select("doc_id", "span_start", "span_end", "n_docs_max")
            .unionByName(newSpans)
            .withColumn("dbucket", dbucket(col("doc_id"), nBuckets))
          BucketStore.rewrite(cur, fold.dir, "spans", "dbucket",
            spanBuckets.toIndexedSeq, touchedSpanRows)
        }
      }
    }
}
