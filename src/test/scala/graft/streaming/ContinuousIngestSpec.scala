package graft.streaming

import graft.SparkSpec
import graft.model.Tables
import graft.ops.{ConnectedComponents, DriftStore, DupSpans, IncrementalClusters, IncrementalSpans, MinHashLSH, SnapshotRoot}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The full ingest daemon (ContinuousIngest): ONE stream maintains all
  * nine state families — dedup index + pairs log, cluster labels,
  * drift profile, spans, the corpus metrics rollup, segment keepers,
  * BM25 index, DSIR model and fingerprint store — and each family
  * equals its batch re-derivation over everything written. The daemon
  * is the only streaming entry point for these families, so this one
  * drain also carries each family's stream-level checks (one snapshot
  * version per fold, the pairs log, the absorbed band index). */
class ContinuousIngestSpec extends SparkSpec {

  private def keyedOf(df: DataFrame): DataFrame =
    graft.ExtQueries.clusterKeyedOf(df)

  test("one stream maintains labels + drift profile + spans, all == batch") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 4 === 0)
    val streamed = docs.filter(col("doc_id") % 4 =!= 0)
    val all = corpus.unionByName(streamed)
    val p = java.nio.file.Files.createTempDirectory("graft-cont-ingest").toString
    // offline builds, one per family (the metrics rollup folds the
    // corpus under fold id "seed")
    val daemon = ContinuousIngest.Layout(p, keyedOf, spanBuckets = 16)
      .seed(corpus, all)
    val l = daemon.layout
    val cat = daemon.catalog.get
    val mv = cat.get(ContinuousIngest.MetricsView)
    val im = cat.incremental.get
    (1 to 3).foreach(i => docs.filter(col("doc_id") % 4 === i)
      .coalesce(1).write.parquet(s"$p/feed/b$i"))

    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$p/feed/b*")
    val n = ContinuousIngest.run(stream, daemon)
    assert(n == 3, s"expected 3 microbatches, got $n")

    // fingerprint store: the stream-maintained leakage card equals one
    // from a store built over the union in one shot (pure per-document
    // rows — fold == rebuild under any arrival order)
    val fpsBatch = java.nio.file.Files
      .createTempDirectory("graft-ci-fps-batch").toString
    graft.ops.FingerprintStore.writeState(
      all.select("doc_id", "source", "text"), fpsBatch)
    assert(graft.ops.FingerprintStore.splitLeakageCard(spark, l.fps)
      .collect().toSeq ==
      graft.ops.FingerprintStore.splitLeakageCard(spark, fpsBatch)
        .collect().toSeq,
      "stream-maintained leakage card == batch rebuild")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(fpsBatch))

    // DSIR model: stream-folded counts score identically to a model
    // fitted on the union in one shot (element-wise count sums are
    // exact under any arrival order)
    assert(graft.ops.DsirStore.scoresFromState(spark, l.dsir, all,
        ContinuousIngest.DsirTarget)
      .collect().map(_.toSeq).toSet ==
      graft.ops.Dsir.scores(all, ContinuousIngest.DsirTarget).collect().map(_.toSeq).toSet)

    // BM25 index: the stream-maintained scores equal a same-corpus
    // batch scoring (additive tables — exact under any arrival order)
    for (q <- Seq("dup merge stream", "dup merge stream window"))
      assert(graft.ops.Bm25Index.scoresFromState(spark, l.bm25, q)
        .collect().map(_.toSeq).toSet ==
        graft.ops.Bm25.scores(all.select("doc_id", "source", "text"), q)
          .collect().map(_.toSeq).toSet, s"bm25 scores for '$q'")

    // segment keepers: one claim per distinct fingerprint of the union,
    // and the kept-segment TOTAL equals the batch dedup's (the keeper
    // IDENTITY is arrival-order-dependent here — %4 batches are not
    // id-ordered — but each distinct segment keeps exactly one copy
    // under either rule)
    val keepers = graft.ops.IncrementalSegments.readKeepers(spark, l.segs)
      .collect()
    assert(keepers.map(_.getString(0)).distinct.length == keepers.length,
      "one keeper per fingerprint")
    val incKept = graft.ops.IncrementalSegments
      .dedupFromState(spark, l.segs)
      .agg(sum("kept_segments")).head().getLong(0)
    val batchKept = graft.ops.SegmentDedup.dedup(all,
        graft.ops.SegmentDedup.tokenWindows(col("text"), 16), sep = " ")
      .agg(sum("kept_segments")).head().getLong(0)
    assert(incKept == batchKept && incKept == keepers.length)

    // metrics rollup == batch partials over the union; a replayed fold
    // id no-ops (the ledger guard)
    cat.materializer.get.markBuilt(mv)
    val live = mv.query(Seq("source"), Seq("doc_count", "char_sum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val expect = all.groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("cs"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(live == expect, "stream-maintained rollup == batch aggregate")
    im.foldBatch(mv, corpus, foldId = Some("seed")) // replay: must no-op
    val replayed = mv.query(Seq("source"), Seq("doc_count", "char_sum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(replayed == expect, "replayed fold id must not double-merge")

    // dedup labels == batch CC over the union
    val gotLabels = IncrementalClusters.readLabels(spark, l.state)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keyedAll = keyedOf(docs)
    val expLabels = ConnectedComponents.run(
      keyedAll.select(col("doc_id").as("id")),
      ConnectedComponents.keyEdges(keyedAll, "doc_id", Seq("k1", "k2")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotLabels == expLabels)

    // drift profile == whole-corpus profile
    def profRows(df: DataFrame) = df.select("source", "lang", "c", "h")
      .collect().map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getLong(2)}|" +
        r.getSeq[Long](3).mkString(",")).toSet
    assert(profRows(DriftStore.profile(spark, l.drift)) ==
      profRows(DriftStore.profileOf(all)))

    // span table == batch re-gram over the union
    assert(IncrementalSpans.readSpans(spark, l.spans)
      .collect().map(_.toSeq).toSet ==
      DupSpans.duplicateSpans(all, n = 8).collect().map(_.toSeq).toSet)

    // one snapshot version per fold: seed v1 + 3 folds
    for (root <- Seq(l.drift, l.spans, l.bm25))
      assert(SnapshotRoot.currentVersion(root) == "v4", s"$root version")

    // the pairs log == batch candidate pairs restricted to pairs
    // involving >=1 streamed doc: every pair lands in the batch of its
    // LATER member, whose probe sees the earlier member through the
    // index (the absorb-after-match order contract)
    val streamedIds = streamed.select("doc_id").collect().map(_.getLong(0)).toSet
    val logged = spark.read.parquet(l.pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batchPairs = MinHashLSH.candidatePairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(t => streamedIds(t._1) || streamedIds(t._2)).toSet
    assert(logged == batchPairs,
      s"pair diff: ${(batchPairs diff logged).take(5)} / ${(logged diff batchPairs).take(5)}")

    // the index absorbed every streamed doc: a LATER probe matches
    // against streamed content through the index alone
    val bandedIds = spark.read.parquet(s"${l.index}/banded")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(streamedIds.subsetOf(bandedIds))

    // daemon introspection (r12): every family's ledger shows the 3
    // drained folds, and the last fold id is the content-derived id of
    // the final batch — ledger truth across the three ledger layouts
    // (plain file, labels subroot, snapshot-versioned)
    val status = ContinuousIngest.status(spark, l.roots)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(status.keySet == Set("dedup_index", "clusters", "drift",
      "spans", "segments", "bm25", "dsir", "fingerprints"))
    assert(status.values.forall(_._1 == 3L),
      s"every family should have 3 applied folds: $status")
    val lastBatch = docs.filter(col("doc_id") % 4 === 3)
    val expectId = Folds.contentFoldId(lastBatch).get
    assert(status.values.forall(_._2 == expectId),
      s"last fold id should be $expectId: $status")
  }
}
