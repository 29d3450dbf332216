package graft.ops

import graft.{Queries, SparkSpec}

/** Gate for the Persists release contract (VERDICT r2 "What's wrong"
  * #2): operators persist intermediates for their self-join stages, and
  * the QueryExecutionListener hook must unpersist them once the
  * caller's terminal action finishes — a 38-query bench JVM must not
  * accumulate dead cache blocks.
  */
class PersistLifecycleSpec extends SparkSpec {

  /** Suite-position independence (r13): earlier suites' fold-posture
    * registrations (`cacheFor(_, 64)`) legitimately stay cached for up
    * to 64 subsequent actions — a suite that runs an applyDelta within
    * that window of this one would otherwise fail the ZERO-persistent-
    * RDDs assertions below with a leak that isn't this spec's. Start
    * from a clean registry; the per-query release contract is then
    * asserted on this suite's own actions only. */
  override def beforeAll(): Unit = {
    super.beforeAll()
    Persists.releaseAll()
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (spark.sparkContext.getPersistentRDDs.nonEmpty &&
      System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** The release listener fires on the (async) listener bus; poll. */
  private def awaitNoPersistentRDDs(label: String): Unit = {
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (spark.sparkContext.getPersistentRDDs.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"$label left persistent RDDs: ${spark.sparkContext.getPersistentRDDs.values.map(_.name)}")
  }

  private val persistingQueries =
    Seq("q_dedup_minhash", "q_dedup_winnow", "q_embed_neardup",
      "q_ngram_jaccard", "q_dedup_simhash")

  persistingQueries.foreach { name =>
    test(s"$name releases every persisted dataset after its action") {
      val n = Queries.all(name)(spark, sfDir).count()
      assert(n > 0, s"$name returned no rows")
      awaitNoPersistentRDDs(name)
    }
  }

  test("simhash nearDuplicates releases its fingerprint cache") {
    SimHash.nearDuplicates(graft.model.Tables.documents(spark, sfDir)).count()
    awaitNoPersistentRDDs("nearDuplicates")
  }

  test("a registration whose plan never executes is swept after maxEpochAge actions (ADVICE r4)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.storage.StorageLevel
    val old = Persists.maxEpochAge
    Persists.maxEpochAge = 3
    try {
      val ds = Persists.cache(graft.model.Tables.documents(spark, sfDir)
        .select(col("doc_id"), (length(col("text")) + 1).as("len_plus")))
      assert(ds.storageLevel == StorageLevel.MEMORY_AND_DISK)
      // never executed — unrelated actions must age the registration out
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (ds.storageLevel != StorageLevel.NONE && System.nanoTime() < deadline) {
        spark.range(5).count() // each completed action advances the epoch
        Thread.sleep(50)
      }
      assert(ds.storageLevel == StorageLevel.NONE,
        "stale never-executed persist was not swept")
    } finally Persists.maxEpochAge = old
  }

  test("an unrelated action does not release another query's persist (ADVICE r3 race)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.storage.StorageLevel
    val ds = Persists.cache(
      graft.model.Tables.documents(spark, sfDir).select(col("doc_id"), length(col("text")).as("len")))
    assert(ds.storageLevel == StorageLevel.MEMORY_AND_DISK)
    // an unrelated action completes; with the old drain-everything
    // release this unpersisted ds before its owner ever ran
    spark.range(10).count()
    Thread.sleep(1000) // listener bus is async; give a wrong release time to land
    assert(ds.storageLevel == StorageLevel.MEMORY_AND_DISK,
      "unrelated action released a persist it did not consume")
    // the owning action then consumes and releases it
    ds.count()
    awaitNoPersistentRDDs("unrelated-action race")
  }
}
