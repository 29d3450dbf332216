package graft.streaming

import graft.SparkSpec
import graft.model.Tables
import graft.ops.{ConnectedComponents, IncrementalClusters, IncrementalDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The dedup family's per-batch fold ([[ContinuousDedup.processBatch]])
  * outside the daemon: the externalized-clusters contract. The
  * stream-level dedup checks (labels, pairs log, absorbed index ==
  * the batch pipeline over the union) ride ContinuousIngestSpec's
  * drain. */
class ContinuousDedupSpec extends SparkSpec {

  private def keyedOf(df: DataFrame): DataFrame =
    graft.ExtQueries.clusterKeyedOf(df)

  test("processBatch(clusters=false) + an external fused fold == the default path") {
    // the externalized-clusters contract (r15): a caller passing
    // clusters=false MUST fold the family itself with the SAME foldId
    // (prepareClustersFold through a combined collect) — this drives
    // both halves together and pins the composed result against the
    // ordinary processBatch outcome
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 4 === 0)
    val delta = docs.filter(col("doc_id") % 4 === 1)
    val p = java.nio.file.Files.createTempDirectory("graft-cont-extcc").toString
    IncrementalDedup.writeIndex(corpus, s"$p/index")
    IncrementalClusters.writeState(keyedOf(corpus), "doc_id", Seq("k1", "k2"), s"$p/state")

    val fid = Folds.contentFoldId(delta).get
    val prepared = ContinuousDedup.prepareClustersFold(
      delta, s"$p/state", keyedOf, foldId = Some(fid))
    assert(prepared.isDefined)
    ContinuousDedup.processBatch(delta, s"$p/index", s"$p/state",
      s"$p/pairs", keyedOf, foldId = Some(fid), clusters = false)
    // probe/absorb advanced; the clusters family did NOT
    assert(graft.ops.SnapshotRoot.liveLedger(s"$p/index").contains(fid))
    val labelsBefore = IncrementalClusters.readLabels(spark, s"$p/state")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keyedCorpus = keyedOf(corpus)
    assert(labelsBefore == ConnectedComponents.run(
      keyedCorpus.select(col("doc_id").as("id")),
      ConnectedComponents.keyEdges(keyedCorpus, "doc_id", Seq("k1", "k2")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      "clusters=false must leave the label store untouched")

    // the external half: fold through the combined collect
    graft.ops.GuardedFold.collectAll(Seq("clusters" -> prepared.get)).foreach {
      case (g, meta) => g.commit(meta)
    }
    val keyedAll = keyedOf(corpus.unionByName(delta))
    assert(IncrementalClusters.readLabels(spark, s"$p/state")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      ConnectedComponents.run(
        keyedAll.select(col("doc_id").as("id")),
        ConnectedComponents.keyEdges(keyedAll, "doc_id", Seq("k1", "k2")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      "external fused fold must reach the default path's labels")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
  }
}
