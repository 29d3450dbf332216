package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental near-dup dedup: match NEWLY-ARRIVED documents against a
  * persisted corpus index in O(delta) — the shape a continuously-fed
  * 100 TB training corpus actually needs. Re-running the batch
  * pipeline ([[MinHashLSH.candidatePairs]]) on corpus ∪ delta re-reads,
  * re-tokenizes and re-hashes the WHOLE corpus to dedup a day's
  * arrivals; here the corpus contributes only its once-written slim
  * band-bucket index (three fixed-width columns) plus one columnar
  * (id, text) scan in the verify stage — never a re-tokenize, re-hash
  * or text shuffle.
  *
  * Per-delta-batch cost, by stage (the "O(delta)" claim covers hash
  * and SHUFFLE work; ONE corpus-proportional SCAN remains — the slim
  * 3-fixed-width-column index stream. The verify stage's text read is
  * partition-pruned since r9; it was the second residual and the
  * larger one — 1.85× fixed-delta cost for a 100× corpus in
  * BENCH_SCALE_r08 was dominated by that (id, text) column read):
  *  - delta signatures: per-row, shuffle-free, O(delta);
  *  - bucket census: the delta's bucket set aggregates O(delta)
  *    rows, then a BROADCAST of that (tiny) set prunes the corpus
  *    bucket-count table — the corpus side streams, never shuffles;
  *  - pair generation: delta-banded ⋈ (index ∪ delta) members of
  *    surviving buckets, again broadcast on the delta side — buckets
  *    containing no delta doc never produce work;
  *  - verify: exact Jaccard over shingles of candidate ids only —
  *    shingles are BUILT for candidates only, and since r9 the corpus
  *    text read is PRUNED TO STORAGE too: the index keeps the corpus
  *    docs partitioned by `pmod(doc_id, dBuckets)`, the candidate ids'
  *    bucket values become a literal partition predicate (static
  *    pruning, the IvfIndex probe pattern), and only directories
  *    holding a candidate are opened. Delta text never touches the
  *    store — it comes straight from the delta frame. (At 100 TB the
  *    id-bucketed doc store is not a second copy of the corpus: it IS
  *    the canonical layout a continuously-fed pipeline keeps its docs
  *    in — the offline index job owns writing it here.)
  *
  * EQUIVALENCE CONTRACT (spec-gated, and the reason the DuckDB oracle
  * can hash-gate this operator): the output equals the batch pipeline
  * run on corpus ∪ delta, restricted to pairs involving ≥1 delta doc.
  * Bucket occupancy counts add (index ids and delta ids are disjoint
  * by contract), so the 2-to-maxBucketSize census over combined counts
  * is exactly the union pipeline's census on every bucket a delta doc
  * touches — and buckets untouched by the delta cannot produce a
  * delta-involving pair.
  */
object IncrementalDedup {

  /** Write the corpus's slim band-bucket index (band, bucket, doc_id)
    * plus its per-bucket occupancy census (band, bucket, n) — the
    * one-time O(corpus) cost every later delta batch amortizes. The
    * census is written so delta batches never re-aggregate the index;
    * both tables are ids-only. Since r9 the index also owns the
    * id-bucketed doc store (`docs/`, partitioned by
    * `dbucket = pmod(id, dBuckets)`) the verify stage prunes against —
    * see the class doc for why this is the canonical corpus layout,
    * not a copy. */
  def writeIndex(corpus: DataFrame, path: String,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 64, bands: Int = 16, w: Int = 3, seed: Long = 42L,
      salt: String = "", dBuckets: Int = 256): Unit = {
    require(k % bands == 0, "k must be divisible by bands")
    require(dBuckets > 0)
    val banded = Persists.cache(
      MinHashLSH.bandBuckets(
        MinHashLSH.sigTable(corpus, textCol, idCol, k, w, seed, salt), k, bands, salt)
        .select(col("__id").as("doc_id"), col("__band").as("band"),
          col("__bucket").as("bucket")))
    banded.write.mode("overwrite").parquet(s"$path/banded")
    banded.groupBy("band", "bucket").agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$path/census")
    banded.unpersist()
    // repartition by the partition column first: a default-partitioned
    // frame writes |tasks|×|buckets| tiny files whose listing/open cost
    // then taxes EVERY probe's verify read (the IncrementalClusters
    // writeState lesson)
    Bucketing.writePartitioned(
      corpus.select(col(idCol), col(textCol),
        pmod(col(idCol).cast("long"), lit(dBuckets.toLong)).cast("int").as("dbucket"))
        .repartition(col("dbucket")),
      s"$path/docs", Seq("dbucket"))
    // layout properties are NOT hash-family params: a probe reads them
    // from the artifact instead of having to re-supply them
    java.nio.file.Files.write(java.nio.file.Paths.get(path).resolve("layout"),
      s"dBuckets=$dBuckets".getBytes("UTF-8"))
    // commit manifests at init (r14): probes and absorbs list these
    // tables live; a silently SHORT listing would drop index entries —
    // which surfaces as silently MISSED duplicates, the quietest
    // corruption in the engine. At-least semantics (a crashed absorb's
    // extra appended files are tolerated; see applyDelta's crash note).
    recordManifests(path)
    // record the hash-family parameters the index was built with:
    // probing with a different family yields silently-empty matches,
    // not an error — the IndexStore shape-header principle. The salt
    // itself is a per-run SECRET, so only its md5 is stored (enough to
    // detect a mismatch, not enough to reconstruct the fold state).
    java.nio.file.Files.write(java.nio.file.Paths.get(path).resolve("params"),
      paramsLine(k, bands, w, seed, salt).getBytes("UTF-8"))
  }

  /** Per-table data-file manifests for the live-append index layout
    * (r14): `banded`/`census` are flat, `docs` is dbucket-partitioned. */
  private def recordManifests(indexPath: String): Unit = {
    BucketStore.recordManifest(indexPath, "banded",
      BucketStore.countFlatData(s"$indexPath/banded"))
    BucketStore.recordManifest(indexPath, "census",
      BucketStore.countFlatData(s"$indexPath/census"))
    BucketStore.recordManifest(indexPath, "docs",
      BucketStore.countPartitionedData(s"$indexPath/docs"))
  }

  /** Refuse a probe/absorb whose fresh listing of any index table is
    * SHORTER than the last recorded manifest (at-least semantics: a
    * crash between an absorb's appends and its manifest update leaves
    * extras, which the probe tolerates — only truncation refuses). */
  private def checkManifests(indexPath: String): Unit = {
    BucketStore.checkManifestAtLeast(indexPath, "banded",
      BucketStore.countFlatData(s"$indexPath/banded"))
    BucketStore.checkManifestAtLeast(indexPath, "census",
      BucketStore.countFlatData(s"$indexPath/census"))
    BucketStore.checkManifestAtLeast(indexPath, "docs",
      BucketStore.countPartitionedData(s"$indexPath/docs"))
  }

  private def paramsLine(k: Int, bands: Int, w: Int, seed: Long, salt: String): String = {
    val saltCheck = java.security.MessageDigest.getInstance("MD5")
      .digest(salt.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"k=$k bands=$bands w=$w seed=$seed saltMd5=$saltCheck"
  }

  private def requireSameParams(indexPath: String,
      k: Int, bands: Int, w: Int, seed: Long, salt: String): Unit = {
    val p = java.nio.file.Paths.get(indexPath).resolve("params")
    require(java.nio.file.Files.exists(p),
      s"no params file at $indexPath — not a writeIndex artifact")
    val stored = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
    val probe = paramsLine(k, bands, w, seed, salt)
    require(stored == probe,
      s"index at $indexPath was built with [$stored] but probed with [$probe] — " +
        "mismatched hash families silently miss every match; rebuild or re-probe")
  }

  /** Absorb a delta batch into the persisted index (r10) — the write
    * half of CONTINUOUS operation: after [[deltaPairs]] has matched a
    * batch, this folds it in so every LATER batch matches against it
    * through the index alone. O(delta) compute, append-only writes:
    *  - the delta's slim banded rows append to `banded/`;
    *  - its per-bucket counts append to `census/` — correct because
    *    the probe's occupancy combine already GROUP-SUMS census rows
    *    per (band, bucket), so contribution rows simply add;
    *  - its (id, text) rows append into the id-bucketed doc store's
    *    partition directories (one file per touched bucket).
    * Order contract: match FIRST, then absorb — an absorbed batch
    * would meet its own banded rows in the probe's member union and
    * double-count its bucket occupancy. Same append posture as the
    * cluster key index (file counts bounded by periodic compaction in
    * production; the IncrementalClusters.compactKeys pattern). */
  def applyDelta(spark: SparkSession, indexPath: String, delta: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 64, bands: Int = 16, w: Int = 3, seed: Long = 42L,
      salt: String = "", foldId: Option[String] = None,
      preBanded: Option[DataFrame] = None): Unit = {
    requireSameParams(indexPath, k, bands, w, seed, salt)
    if (foldId.exists(SnapshotRoot.liveLedger(indexPath).contains)) return // replayed batch
    val layoutFile = java.nio.file.Paths.get(indexPath).resolve("layout")
    require(java.nio.file.Files.exists(layoutFile),
      s"no layout file at $indexPath — rebuild the index with writeIndex (r9 layout)")
    val dBuckets = new String(java.nio.file.Files.readAllBytes(layoutFile), "UTF-8")
      .trim.stripPrefix("dBuckets=").toInt
    // manifest guard (r14): fail the absorb before its appends if the
    // live index lists short — readers keep matching against the last
    // complete layout and the stream's retry re-runs the batch
    checkManifests(indexPath)
    // cacheFor(2): both append jobs read the banded rows. A caller that
    // already banded the batch for its probe (ContinuousDedup: match
    // first, then absorb) passes it in — the r11 shared-frame fix, one
    // tokenize+hash per batch instead of two.
    val banded = preBanded.getOrElse(Persists.cacheFor(
      MinHashLSH.bandBuckets(
        MinHashLSH.sigTable(delta, textCol, idCol, k, w, seed, salt), k, bands, salt)
        .select(col("__id").as("doc_id"), col("__band").as("band"),
          col("__bucket").as("bucket")), actions = 2))
    // the three appends are independent (disjoint directories) — run
    // them concurrently (the IncrementalSpans r11 posture: small jobs
    // overlap instead of paying three serialized scheduling tails)
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      Seq(
        Future(banded.write.mode("append").parquet(s"$indexPath/banded")),
        Future(banded.groupBy("band", "bucket").agg(count(lit(1)).as("n"))
          .write.mode("append").parquet(s"$indexPath/census")),
        Future(delta.select(col(idCol), col(textCol),
            pmod(col(idCol).cast("long"), lit(dBuckets.toLong)).cast("int").as("dbucket"))
          .repartition(col("dbucket"))
          .write.mode("append").partitionBy("dbucket").parquet(s"$indexPath/docs")))
        .foreach(Await.result(_, Duration.Inf))
    }
    if (preBanded.isEmpty) banded.unpersist()
    // re-record manifests after the appends land (before the ledger):
    // a crash in between leaves them stale-SHORT, which the at-least
    // check tolerates by design
    recordManifests(indexPath)
    // record the absorbed batch LAST: the ledger marks a COMPLETE
    // absorb, so a retrying stream skips it instead of double-appending
    // (this index's appends are not snapshot-versioned, so a crash
    // mid-absorb still needs an index rebuild — the ledger closes the
    // common cross-family retry window, not that one; the versioned
    // folds (clusters/spans/drift) are fully atomic)
    foldId.foreach(SnapshotRoot.appendLedger(indexPath, _))
  }

  /** The slim banded frame of `delta` under the default hash family —
    * the shared input of [[deltaPairsGuarded]] and [[applyDelta]]
    * (`preBanded`), exposed so a streaming caller can band a batch
    * once, cache it, and feed both (ContinuousDedup, r11). */
  def bandedOf(delta: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 64, bands: Int = 16, w: Int = 3, seed: Long = 42L,
      salt: String = ""): DataFrame =
    MinHashLSH.bandBuckets(
      MinHashLSH.sigTable(delta, textCol, idCol, k, w, seed, salt), k, bands, salt)
      .select(col("__id").as("doc_id"), col("__band").as("band"),
        col("__bucket").as("bucket"))

  /** Near-dup candidate pairs INVOLVING the delta, verified with exact
    * Jaccard. Output (a_id, b_id, jaccard), a_id < b_id — the batch
    * pipeline's shape, restricted to delta-involving pairs. Corpus
    * text comes from the index's bucket-partitioned doc store (pruned
    * to candidate buckets); delta text from `delta` itself — no full
    * corpus-table scan anywhere in the probe (r9).
    *
    * @param delta the newly-arrived docs; ids must be disjoint from
    *              the index's
    */
  def deltaPairs(spark: SparkSession, indexPath: String,
      delta: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 64, bands: Int = 16, w: Int = 3, seed: Long = 42L,
      maxBucketSize: Int = 1000, salt: String = "",
      preBanded: Option[DataFrame] = None): DataFrame =
    deltaPairsGuarded(spark, indexPath, delta, textCol, idCol,
      k, bands, w, seed, maxBucketSize, salt, preBanded = preBanded).pairs

  /** [[deltaPairs]] plus the quarantine list — the adversarial posture
    * for the shape it matters MOST in: hostile content arrives as
    * deltas. Delta docs whose (combined-occupancy) buckets exceed
    * `maxBucketSize` surface in `quarantined` for exact verification
    * instead of silently skipping dedup. Probe parameters (k/bands/w/
    * seed/salt) must MATCH the index's — enforced against the stored
    * params file, because a mismatched hash family does not error, it
    * silently matches nothing.
    *
    * `broadcastDelta`: the delta-derived tables (bucket set, slim
    * banded rows) are broadcast by default — right whenever a batch of
    * arrivals fits executor/driver broadcast limits, which is the
    * normal ingest cadence. A backfill-sized delta (≫ millions of
    * docs) must pass false: the joins fall back to shuffles on the
    * bucket key and the corpus index pays one shuffle — still never a
    * re-hash.
    *
    * NOT lazy since r9: turning the candidate ids into a LITERAL
    * partition predicate (static pruning — the point of the doc-store
    * layout) requires materializing the pair pipeline at construction
    * time (it lands in the Persists cache the returned plan reads).
    * Callers build this frame to execute it, which every current call
    * site does immediately. */
  def deltaPairsGuarded(spark: SparkSession, indexPath: String,
      delta: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 64, bands: Int = 16, w: Int = 3, seed: Long = 42L,
      maxBucketSize: Int = 1000, salt: String = "",
      broadcastDelta: Boolean = true,
      preBanded: Option[DataFrame] = None): MinHashLSH.GuardedPairs = {
    require(k % bands == 0, "k must be divisible by bands")
    requireSameParams(indexPath, k, bands, w, seed, salt)
    // manifest guard (r14), reader side: the probe's member union and
    // verify read pin their file listings HERE (construction time) —
    // a short listing now would silently miss duplicates, so refuse
    checkManifests(indexPath)
    val bc: DataFrame => DataFrame =
      if (broadcastDelta) broadcast(_) else identity

    // delta's slim banded table — cached: census, membership and pair
    // join all read it; fixed-width rows (the batch path's cache rule).
    // A caller sharing one banded frame between probe and absorb passes
    // it pre-cached (ContinuousDedup, r11).
    val dBanded = preBanded.getOrElse(Persists.cache(
      MinHashLSH.bandBuckets(
        MinHashLSH.sigTable(delta, textCol, idCol, k, w, seed, salt), k, bands, salt)
        .select(col("__id").as("doc_id"), col("__band").as("band"),
          col("__bucket").as("bucket"))))

    // combined occupancy for the buckets the delta touches: delta count
    // + stored corpus count (0 when the bucket is new). A right-outer
    // join can't broadcast its preserved (small) side, so the combine
    // is a UNION of count contributions instead: the corpus census
    // STREAMS through a broadcast left-semi (its only role is serving
    // the counts of delta-touched buckets), then a sum over a
    // delta-bucket-sized table.
    val dCounts = dBanded.groupBy("band", "bucket").agg(count(lit(1)).as("n"))
    // probe reads validate Spark's OWN planned listing against the
    // index manifests (at-least — live-append layout): a short listing
    // here under-counts occupancy / misses members / drops candidate
    // text, each a silently-wrong dedup verdict (VERDICT r15 task 2)
    // whole-dir reads with no pruning predicate above them — pack the
    // store's tiny append files into parallelism-bounded tasks (r19;
    // the index accumulates ~32 part files per absorbed batch, and
    // unpacked reads ran ~60 2-file tasks each per probe)
    val cCensus = BucketStore.packStore(spark, BucketStore.checkPlannedListing(
      BucketStore.readLiveDir(spark, s"$indexPath/census"), indexPath, "census",
      atLeast = true))
    val combined = Persists.cache(
      cCensus.join(bc(dCounts.select("band", "bucket")),
          Seq("band", "bucket"), "left_semi")
        .select(col("band"), col("bucket"), col("n"))
        .unionByName(dCounts)
        .groupBy("band", "bucket").agg(sum("n").as("n")))
    val okBuckets = Persists.cache(
      combined.filter(col("n") >= 2 && col("n") <= maxBucketSize)
        .select("band", "bucket"))
    // delta docs in over-cap buckets: excluded from pairing, handed
    // back for exact verification (see MinHashLSH.GuardedPairs)
    val quarantined = dBanded
      .join(bc(combined.filter(col("n") > maxBucketSize)
        .select("band", "bucket")), Seq("band", "bucket"), "left_semi")
      .select(col("doc_id").as(idCol))
      .distinct()

    // members of surviving delta-touched buckets: corpus index rows
    // (broadcast-semi-pruned — no index shuffle) ∪ the delta's own rows
    val members = BucketStore.packStore(spark, BucketStore.checkPlannedListing(
        BucketStore.readLiveDir(spark, s"$indexPath/banded"), indexPath, "banded",
        atLeast = true))
      .join(bc(okBuckets), Seq("band", "bucket"), "left_semi")
      .unionByName(dBanded.join(bc(okBuckets), Seq("band", "bucket"), "left_semi"))

    // delta-involving pairs only: the DELTA side broadcasts and the
    // member table streams, so buckets without a delta doc never
    // produce work and the corpus index never shuffles. Normalize to
    // a_id < b_id (delta⟷corpus AND delta⟷delta pairs both arise).
    val dSlim = dBanded.join(bc(okBuckets), Seq("band", "bucket"), "left_semi")
      .select(col("band"), col("bucket"), col("doc_id").as("d_id"))
    // cacheFor(2): the candidate-bucket collect below is an action that
    // consumes this plan — a single registration would release the
    // cache there and make the caller's terminal action recompute the
    // whole pipeline
    val pairs = Persists.cacheFor(
      members.select(col("band"), col("bucket"), col("doc_id").as("o_id"))
        .join(bc(dSlim), Seq("band", "bucket"))
        .filter(col("d_id") =!= col("o_id"))
        .select(least(col("d_id"), col("o_id")).as("a_id"),
          greatest(col("d_id"), col("o_id")).as("b_id"))
        .dropDuplicates("a_id", "b_id"), actions = 2)

    val candIds = pairs.select(col("a_id").as("__id"))
      .union(pairs.select(col("b_id").as("__id"))).distinct()
    // verify-stage text: corpus candidates come from the index's
    // id-bucketed doc store behind a LITERAL partition predicate —
    // only directories holding a candidate id are opened. The collect
    // is metadata-scale (≤ dBuckets distinct bucket values; pairs is
    // cached, so this doesn't recompute the pipeline). Delta ids in
    // candBuckets at most open directories that also hold corpus
    // candidates — never rows that survive the semi-join below.
    val layoutFile = java.nio.file.Paths.get(indexPath).resolve("layout")
    require(java.nio.file.Files.exists(layoutFile),
      s"no layout file at $indexPath — rebuild the index with writeIndex (r9 layout)")
    val dBuckets = new String(java.nio.file.Files.readAllBytes(layoutFile), "UTF-8")
      .trim.stripPrefix("dBuckets=").toInt
    val candBuckets = candIds
      .select(pmod(col("__id").cast("long"), lit(dBuckets.toLong)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val corpusCand = BucketStore.checkPlannedListing(
        BucketStore.readLiveDir(spark, s"$indexPath/docs"), indexPath, "docs",
        atLeast = true)
      .filter(col("dbucket").isin(candBuckets: _*))
      .select(col(idCol), col(textCol))
    val verifyDocs = corpusCand.unionByName(delta.select(col(idCol), col(textCol)))
    val sh = MinHashLSH.shingleLookup(verifyDocs, textCol, idCol, candIds, w)
    val verified = pairs
      .join(sh.select(col("__id").as("a_id"), col("__sh").as("a_sh")), "a_id")
      .join(sh.select(col("__id").as("b_id"), col("__sh").as("b_sh")), "b_id")
      .withColumn("jaccard", MinHashLSH.jaccardCol(col("a_sh"), col("b_sh")))
      .select("a_id", "b_id", "jaccard")
    MinHashLSH.GuardedPairs(verified, quarantined)
  }
}
