package graft.streaming

import graft.SparkSpec
import graft.model.Tables
import graft.ops.{ConnectedComponents, DriftStore, DupSpans, IncrementalClusters, IncrementalSpans}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ingest daemon's retry contract (r11, ADVICE r10): a multi-family
  * batch whose LATER family crashed must be re-runnable — the families
  * that already committed skip via their applied-fold ledgers (keyed by
  * a content-derived batch identity, stable across stream restarts),
  * instead of wedging on the disjoint-ids guards or double-counting
  * ledger-less state. */
class ContinuousRetrySpec extends SparkSpec {

  private def keyedOf(df: DataFrame): DataFrame =
    graft.ExtQueries.clusterKeyedOf(df)

  private def labelMap(path: String) =
    IncrementalClusters.readLabels(spark, path)
      .select("doc_id", "component")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def profRows(df: DataFrame) = df.select("source", "lang", "c", "h")
    .collect().map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getLong(2)}|" +
      r.getSeq[Long](3).mkString(",")).toSet

  test("replaying a fully-committed batch is a no-op for every family") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 4 === 0)
    val delta = docs.filter(col("doc_id") % 4 === 1)
    val p = java.nio.file.Files.createTempDirectory("graft-retry").toString
    val daemon = ContinuousIngest.Layout(p, keyedOf, optional = Set.empty,
      spanBuckets = 16).seed(corpus, docs)
    val l = daemon.layout

    def foldAll(): Unit = assert(ContinuousIngest.fold(daemon, delta))
    foldAll()
    val labels1 = labelMap(l.state)
    val prof1 = profRows(DriftStore.profile(spark, l.drift))
    val spans1 = IncrementalSpans.readSpans(spark, l.spans)
      .collect().map(_.toSeq).toSet
    val pairs1 = spark.read.parquet(l.pairs)
      .select("a_id", "b_id").collect().map(_.toSeq).toSeq

    foldAll() // the retry: every family must skip, nothing may throw
    assert(labelMap(l.state) == labels1)
    assert(profRows(DriftStore.profile(spark, l.drift)) == prof1)
    assert(IncrementalSpans.readSpans(spark, l.spans)
      .collect().map(_.toSeq).toSet == spans1)
    val pairs2 = spark.read.parquet(l.pairs)
      .select("a_id", "b_id").collect().map(_.toSeq).toSeq
    assert(pairs2.sortBy(_.toString) == pairs1.sortBy(_.toString),
      "pairs log must not grow on replay (fold-dir overwrite semantics)")
  }

  test("a batch whose later families never ran resumes cleanly through the daemon") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 4 === 0)
    val all = docs
    val p = java.nio.file.Files.createTempDirectory("graft-retry2").toString
    val daemon = ContinuousIngest.Layout(p, keyedOf, optional = Set.empty,
      spanBuckets = 16).seed(corpus, docs)
    val l = daemon.layout
    (1 to 3).foreach(i => docs.filter(col("doc_id") % 4 === i)
      .coalesce(1).write.parquet(s"$p/feed/b$i"))

    // simulate the crash: batch 1's DEDUP family committed, then the
    // process died before drift/spans — exactly the wedge ADVICE r10
    // describes (the r10 behavior was a permanent disjoint-ids throw)
    val b1 = docs.filter(col("doc_id") % 4 === 1)
    val fid1 = Folds.contentFoldId(b1).get
    ContinuousDedup.processBatch(b1, l.index, l.state, l.pairs, keyedOf,
      foldId = Some(fid1))

    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$p/feed/b*")
    val n = ContinuousIngest.run(stream, daemon)
    assert(n == 3)

    // every family ends exactly where a crash-free run would
    val keyedAll = keyedOf(all)
    val expLabels = ConnectedComponents.run(
      keyedAll.select(col("doc_id").as("id")),
      ConnectedComponents.keyEdges(keyedAll, "doc_id", Seq("k1", "k2")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelMap(l.state) == expLabels)
    assert(profRows(DriftStore.profile(spark, l.drift)) ==
      profRows(DriftStore.profileOf(all)))
    assert(IncrementalSpans.readSpans(spark, l.spans)
      .collect().map(_.toSeq).toSet ==
      DupSpans.duplicateSpans(all, n = 8).collect().map(_.toSeq).toSet)
  }
}
