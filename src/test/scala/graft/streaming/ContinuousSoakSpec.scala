package graft.streaming

import graft.SparkSpec
import graft.model.Tables
import graft.ops.{ConnectedComponents, DriftStore, DupSpans, IncrementalClusters, IncrementalSegments, IncrementalSpans, SnapshotRoot}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Long-run daemon soak (r11, VERDICT r10 task 7): 30 sequential
  * microbatches through [[ContinuousIngest.fold]], the daemon's
  * per-batch fold over all nine families. The per-family 30-fold
  * specs already exist (clusters/spans); this gates the COMPOSED
  * daemon's steady state:
  *  - every store's file count stays bounded (compaction engages:
  *    cluster keys, span gram/df/doc buckets);
  *  - snapshot GC keeps ≤2 versions per SnapshotRoot family;
  *  - per-fold wall time stays flat across the run (no accumulating
  *    fixed cost);
  *  - the final state equals a batch rebuild over everything.
  */
class ContinuousSoakSpec extends SparkSpec {

  private def keyedOf(df: DataFrame): DataFrame =
    graft.ExtQueries.clusterKeyedOf(df)

  private def versionDirs(root: String): Seq[String] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(_.getName).toSeq

  private def filesUnder(path: String): Int = {
    val f = new java.io.File(path)
    if (!f.exists()) 0
    else if (f.isFile) {
      val n = f.getName
      if (!n.startsWith("_") && !n.startsWith(".")) 1 else 0
    } else Option(f.listFiles()).getOrElse(Array.empty).map(c => filesUnder(c.toString)).sum
  }

  test("30 daemon folds: bounded files, <=2 snapshot versions, flat fold time, state == batch") {
    // suite-position independence: late in the full run the shared JVM
    // carries other suites' not-yet-swept cache blocks; 30 folds × ~6
    // cached frames each (epoch-swept, 64-action lifetime) on top of
    // that can push the driver past its broadcast-build headroom. Start
    // clean and sweep aggressively for the duration — both are
    // performance hints, not semantics.
    spark.catalog.clearCache()
    val savedAge = graft.ops.Persists.maxEpochAge
    graft.ops.Persists.maxEpochAge = 8L
    try soak() finally graft.ops.Persists.maxEpochAge = savedAge
  }

  private def soak(): Unit = {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 31 === 30)
    val p = java.nio.file.Files.createTempDirectory("graft-soak").toString
    val daemon = ContinuousIngest.Layout(p, keyedOf, spanBuckets = 8,
      nBuckets = 8).seed(corpus, docs)
    val l = daemon.layout
    val cat = daemon.catalog.get
    val mv = cat.get(ContinuousIngest.MetricsView)

    val times = scala.collection.mutable.ArrayBuffer[Double]()
    (0 until 30).foreach { i =>
      val t0 = System.nanoTime()
      assert(ContinuousIngest.fold(daemon, docs.filter(col("doc_id") % 31 === i)))
      times += (System.nanoTime() - t0) / 1e9
      // periodic hygiene between folds (suites run sequentially, so
      // this clobbers nothing live): 31 folds x 9 families on a
      // local[4] test JVM accumulate enough not-yet-swept cache blocks
      // late in the full suite to exhaust the unified pool — observed
      // once as UNABLE_TO_ACQUIRE_MEMORY in a mid-fold HashAggregate.
      // Performance hint only, not semantics (every store is on disk).
      if (i % 10 == 9) spark.catalog.clearCache()
    }

    // ---- snapshot GC: every SnapshotRoot family retains <= 2 versions
    assert(versionDirs(l.spans).size <= 2, s"spans versions: ${versionDirs(l.spans)}")
    assert(versionDirs(l.drift).size <= 2)
    assert(versionDirs(s"${l.state}/labels").size <= 2)
    assert(versionDirs(s"${l.state}/keys").size <= 2)
    assert(versionDirs(s"${l.metrics}/mv_corpus/by_source_lang").size <= 2,
      "metrics rollup versions must GC")
    assert(versionDirs(l.segs).size <= 2, "segment store versions must GC")
    assert(versionDirs(l.bm25).size <= 2, "bm25 index versions must GC")
    assert(versionDirs(l.dsir).size <= 2, "dsir model versions must GC")
    assert(versionDirs(l.fps).size <= 2, "fingerprint store versions must GC")

    // ---- compaction keeps file counts bounded under continuous folding
    val keyFiles = filesUnder(SnapshotRoot.currentDir(s"${l.state}/keys"))
    assert(keyFiles <= 33, s"cluster key index grew to $keyFiles files")
    val spanCur = SnapshotRoot.currentDir(l.spans)
    val segCur = SnapshotRoot.currentDir(l.segs)
    for (table <- Seq("keepers", "docs")) {
      val worst = Option(new java.io.File(s"$segCur/$table").listFiles())
        .getOrElse(Array.empty).filter(_.isDirectory)
        .map(d => filesUnder(d.toString)).maxOption.getOrElse(0)
      assert(worst <= 17, s"segment $table bucket grew to $worst files")
    }
    for (table <- Seq("grams", "gramdf", "docs")) {
      val worst = Option(new java.io.File(s"$spanCur/$table").listFiles())
        .getOrElse(Array.empty).filter(_.isDirectory)
        .map(d => filesUnder(d.toString)).maxOption.getOrElse(0)
      assert(worst <= 17, s"span $table bucket grew to $worst files")
    }
    val bm25Cur = SnapshotRoot.currentDir(l.bm25)
    for (table <- Seq("postings", "df", "doclen", "stats")) {
      val worst = Option(new java.io.File(s"$bm25Cur/$table").listFiles())
        .getOrElse(Array.empty).filter(_.isDirectory)
        .map(d => filesUnder(d.toString)).maxOption.getOrElse(0)
      assert(worst <= 17, s"bm25 $table bucket grew to $worst files")
    }
    val fpsWorst = Option(new java.io.File(
        s"${SnapshotRoot.currentDir(l.fps)}/fps").listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory)
      .map(d => filesUnder(d.toString)).maxOption.getOrElse(0)
    assert(fpsWorst <= 17, s"fingerprint bucket grew to $fpsWorst files")

    // ---- flat per-fold time: the last third must not cost more than
    // 2.5x the first third (generous JIT/host-noise band; an
    // accumulating fixed cost trips this immediately at 30 folds)
    val first = times.take(10).sum / 10
    val last = times.takeRight(10).sum / 10
    assert(last <= first * 2.5,
      f"fold time grew: first-10 avg $first%.2f s, last-10 avg $last%.2f s")

    // ---- final state == batch rebuild over everything ever written
    val keyedAll = keyedOf(docs)
    val expLabels = ConnectedComponents.run(
      keyedAll.select(col("doc_id").as("id")),
      ConnectedComponents.keyEdges(keyedAll, "doc_id", Seq("k1", "k2")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(IncrementalClusters.readLabels(spark, l.state)
      .select("doc_id", "component")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expLabels)
    def profRows(df: DataFrame) = df.select("source", "lang", "c", "h")
      .collect().map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getLong(2)}|" +
        r.getSeq[Long](3).mkString(",")).toSet
    assert(profRows(DriftStore.profile(spark, l.drift)) ==
      profRows(DriftStore.profileOf(docs)))
    assert(IncrementalSpans.readSpans(spark, l.spans)
      .collect().map(_.toSeq).toSet ==
      DupSpans.duplicateSpans(docs, n = 8).collect().map(_.toSeq).toSet)
    // 31-fold keeper state: one keeper per distinct segment, kept total
    // == batch dedup over everything (count equality holds under ANY
    // arrival order; identity needs id-ordered folds)
    val incKept = IncrementalSegments.dedupFromState(spark, l.segs)
      .agg(sum("kept_segments")).head().getLong(0)
    val batchKept = graft.ops.SegmentDedup.dedup(docs,
        graft.ops.SegmentDedup.tokenWindows(col("text"), 16), sep = " ")
      .agg(sum("kept_segments")).head().getLong(0)
    assert(incKept == batchKept, s"kept totals: inc $incKept vs batch $batchKept")
    // 31-fold BM25 index == batch scoring over everything (additive
    // tables — exact under any arrival order, 30 compactions included)
    assert(graft.ops.Bm25Index
      .scoresFromState(spark, l.bm25, "dup merge stream", nBuckets = 8)
      .collect().map(_.toSeq).toSet ==
      graft.ops.Bm25.scores(docs.select("doc_id", "source", "text"),
        "dup merge stream").collect().map(_.toSeq).toSet,
      "31-fold bm25 index == batch scores")
    // positional-postings reads post-compaction (r13, VERDICT r12
    // task 5: phrase and MaxScore top-k read positions through the
    // same compaction path the score gate above exercises, but were
    // ungated): the 31-fold index must serve them identically to a
    // one-shot batch index over everything
    val bm25Batch = java.nio.file.Files
      .createTempDirectory("graft-soak-bm25-batch").toString
    graft.ops.Bm25Index.writeState(
      docs.select("doc_id", "source", "text"), bm25Batch, nBuckets = 8)
    val phrase = docs.orderBy("doc_id").select("text").head()
      .getString(0).toLowerCase.trim.split("\\s+").take(3).mkString(" ")
    val gotPhrase = graft.ops.Bm25Index
      .phraseFromState(spark, l.bm25, phrase, nBuckets = 8)
      .collect().map(_.toSeq).toSet
    assert(gotPhrase.nonEmpty, s"probe phrase '$phrase' must hit")
    assert(gotPhrase == graft.ops.Bm25Index
      .phraseFromState(spark, bm25Batch, phrase, nBuckets = 8)
      .collect().map(_.toSeq).toSet,
      "31-fold positional phrase reads == batch index")
    assert(graft.ops.Bm25Index
      .topKFromState(spark, l.bm25, "dup merge stream", k = 10, nBuckets = 8)
      .collect().map(_.toSeq).toSeq ==
      graft.ops.Bm25Index
        .topKFromState(spark, bm25Batch, "dup merge stream", k = 10, nBuckets = 8)
        .collect().map(_.toSeq).toSeq,
      "31-fold MaxScore top-k == batch index")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(bm25Batch))
    // 31-fold fingerprint store: the leakage card equals a one-shot
    // rebuild over everything (pure per-document rows)
    val fpsBatch = java.nio.file.Files
      .createTempDirectory("graft-soak-fps-batch").toString
    graft.ops.FingerprintStore.writeState(
      docs.select("doc_id", "source", "text"), fpsBatch)
    assert(graft.ops.FingerprintStore.splitLeakageCard(spark, l.fps)
      .collect().toSeq ==
      graft.ops.FingerprintStore.splitLeakageCard(spark, fpsBatch)
        .collect().toSeq,
      "31-fold leakage card == batch rebuild")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(fpsBatch))
    // 31-fold DSIR model == one-shot fit over everything (element-wise
    // count sums — exact under any arrival order)
    assert(graft.ops.DsirStore.scoresFromState(spark, l.dsir, docs, ContinuousIngest.DsirTarget)
      .collect().map(_.toSeq).toSet ==
      graft.ops.Dsir.scores(docs, ContinuousIngest.DsirTarget).collect().map(_.toSeq).toSet,
      "31-fold dsir model == batch scores")
    cat.materializer.get.markBuilt(mv)
    assert(mv.query(Seq("source"), Seq("doc_count", "char_sum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
      docs.groupBy("source").agg(count(lit(1)).as("n"), sum("n_chars").as("cs"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
      "31-fold metrics rollup == batch aggregate")
    info(f"fold times: first-10 ${first}%.2f s avg, last-10 ${last}%.2f s avg")
  }
}
