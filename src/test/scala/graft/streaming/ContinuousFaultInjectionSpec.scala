package graft.streaming

import graft.SparkSpec
import graft.model.Tables
import graft.ops.{ConnectedComponents, DriftStore, DupSpans, IncrementalClusters, IncrementalSpans, SnapshotRoot}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-level manifest fault injection (VERDICT r14 task 2). The r14
  * tamper tests are per-store unit tests; the integration seam they
  * protect — a committed store losing a data file between microbatches
  * makes the NEXT daemon batch REFUSE (manifest short-listing guard)
  * rather than commit a silently-truncated snapshot, with every family
  * either cleanly committed through its ledger or cleanly not — gets
  * its proof here, in the ContinuousSoakSpec style:
  *
  *  1. drain batch 1 through the full nine-family daemon;
  *  2. delete one committed data file from an id-guarded store (bm25
  *     postings) — the quiet corruption class that is ROUTINE at
  *     cluster scale;
  *  3. the next daemon run fails; the tampered family committed
  *     NOTHING past its ledger (pointer and applied-folds unmoved) and
  *     no family recorded a fold its state doesn't have;
  *  4. restore the file; the retry drains the remaining batches to
  *     exact batch-rebuild equality (the soak's contract).
  */
class ContinuousFaultInjectionSpec extends SparkSpec {

  private def keyedOf(df: DataFrame): DataFrame =
    graft.ExtQueries.clusterKeyedOf(df)

  private def statusOf(l: ContinuousIngest.Layout): Map[String, (Long, String)] =
    ContinuousIngest.status(spark, l.roots)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap

  /** Drain the `feed` under the daemon root, checkpointed so a retry
    * resumes after the last committed batch. */
  private def drain(daemon: ContinuousIngest.Seeded): Long = {
    val p = daemon.layout.root
    val stream = spark.readStream.schema(Tables.documents(spark, sfDir).schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$p/feed/b*")
    ContinuousIngest.run(stream, daemon, checkpoint = Some(s"$p/ckpt"))
  }

  test("a deleted committed file fails the NEXT batch at its ledger; restore -> retry drains to batch equality") {
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 4 === 0)
    val all = docs
    val p = java.nio.file.Files.createTempDirectory("graft-faultinj").toString

    // offline seeds, one per family (the ContinuousIngestSpec setup)
    val daemon = ContinuousIngest.Layout(p, keyedOf, spanBuckets = 16,
      nBuckets = 16).seed(corpus, all)
    val l = daemon.layout

    // ---- batch 1 drains clean
    docs.filter(col("doc_id") % 4 === 1).coalesce(1).write.parquet(s"$p/feed/b1")
    assert(drain(daemon) == 1)
    val fid1 = Folds.contentFoldId(docs.filter(col("doc_id") % 4 === 1)).get
    val st1 = statusOf(l)
    assert(st1.values.forall(_ == ((1L, fid1))), s"after batch 1: $st1")
    val bm25VerBefore = SnapshotRoot.currentVersion(l.bm25)

    // ---- tamper BETWEEN microbatches: one committed postings data
    // file vanishes from the live bm25 snapshot
    val postings = new java.io.File(
      s"${SnapshotRoot.currentDir(l.bm25)}/postings")
    val victim = SnapshotRoot.listDir(postings)
      .filter(_.isDirectory).flatMap(SnapshotRoot.listDir)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .head
    val stash = java.nio.file.Paths.get(p, "stashed_" + victim.getName)
    java.nio.file.Files.move(victim.toPath, stash)

    // ---- the NEXT batch must fail loudly (manifest short-listing)...
    docs.filter(col("doc_id") % 4 === 2).coalesce(1).write.parquet(s"$p/feed/b2")
    docs.filter(col("doc_id") % 4 === 3).coalesce(1).write.parquet(s"$p/feed/b3")
    val e = intercept[Exception] { drain(daemon) }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("manifest")),
      s"expected a manifest refusal in the cause chain, got: ${chain(e)}")

    // ...with NO family committed past its ledger: the tampered family
    // is EXACTLY where batch 1 left it (pointer and ledger unmoved);
    // every other family either committed batch 2 through its ledger
    // or didn't run — never a third state
    val fid2 = Folds.contentFoldId(docs.filter(col("doc_id") % 4 === 2)).get
    val st2 = statusOf(l)
    assert(st2("bm25") == ((1L, fid1)),
      s"tampered family must not advance: ${st2("bm25")}")
    assert(SnapshotRoot.currentVersion(l.bm25) == bm25VerBefore,
      "tampered family's snapshot pointer must not move")
    st2.foreach { case (fam, s) =>
      assert(s == ((1L, fid1)) || s == ((2L, fid2)),
        s"family $fam in a state its ledger doesn't record: $s")
    }

    // ---- restore the file: the retry drains b2 AND b3
    java.nio.file.Files.move(stash, victim.toPath)
    assert(drain(daemon) == 2)
    val fid3 = Folds.contentFoldId(docs.filter(col("doc_id") % 4 === 3)).get
    val st3 = statusOf(l)
    assert(st3.values.forall(_ == ((3L, fid3))), s"after the retry: $st3")

    // ---- final-state equality with a batch rebuild (the soak's
    // contract): the tampered family and three witnesses
    assert(graft.ops.Bm25Index
      .scoresFromState(spark, l.bm25, "dup merge stream", nBuckets = 16)
      .collect().map(_.toSeq).toSet ==
      graft.ops.Bm25.scores(all.select("doc_id", "source", "text"),
        "dup merge stream").collect().map(_.toSeq).toSet,
      "bm25 state after tamper+retry == batch scoring over the union")
    assert(IncrementalSpans.readSpans(spark, l.spans)
      .collect().map(_.toSeq).toSet ==
      DupSpans.duplicateSpans(all, n = 8).collect().map(_.toSeq).toSet)
    val keyedAll = keyedOf(all)
    assert(IncrementalClusters.readLabels(spark, l.state)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      ConnectedComponents.run(
        keyedAll.select(col("doc_id").as("id")),
        ConnectedComponents.keyEdges(keyedAll, "doc_id", Seq("k1", "k2")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    def profRows(df: DataFrame) = df.select("source", "lang", "c", "h")
      .collect().map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getLong(2)}|" +
        r.getSeq[Long](3).mkString(",")).toSet
    assert(profRows(DriftStore.profile(spark, l.drift)) ==
      profRows(DriftStore.profileOf(all)))

    graft.ops.Persists.releaseAll()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
  }

  test("a tampered MERGE-REWRITE store (drift) fails the batch through the guardless settle path; restore -> retry") {
    // the bm25 case above exercises the BucketStore-append class whose
    // refusal rides the guarded commit fan-out; the drift profile is
    // the other class — a whole-table merge-rewrite in a GUARDLESS
    // family future, whose failure must settle through the outer
    // `others :+ guardedF` seam without any family committing past its
    // ledger (the 9348d0c fix, proven here at stream level)
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 4 === 0)
    val p = java.nio.file.Files.createTempDirectory("graft-faultinj-drift").toString
    val daemon = ContinuousIngest.Layout(p, keyedOf, optional = Set.empty,
      spanBuckets = 16, nBuckets = 16).seed(corpus, docs)
    val l = daemon.layout
    docs.filter(col("doc_id") % 4 === 1).coalesce(1).write.parquet(s"$p/feed/b1")
    assert(drain(daemon) == 1)
    val fid1 = Folds.contentFoldId(docs.filter(col("doc_id") % 4 === 1)).get
    assert(statusOf(l).values.forall(_ == ((1L, fid1))))
    val driftVerBefore = SnapshotRoot.currentVersion(l.drift)

    val victim = SnapshotRoot.listDir(
      new java.io.File(SnapshotRoot.currentDir(l.drift)))
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    val stash = java.nio.file.Paths.get(p, "stashed_" + victim.getName)
    java.nio.file.Files.move(victim.toPath, stash)

    docs.filter(col("doc_id") % 4 === 2).coalesce(1).write.parquet(s"$p/feed/b2")
    docs.filter(col("doc_id") % 4 === 3).coalesce(1).write.parquet(s"$p/feed/b3")
    val e = intercept[Exception] { drain(daemon) }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("manifest")),
      s"expected a manifest refusal, got: ${chain(e)}")
    val fid2 = Folds.contentFoldId(docs.filter(col("doc_id") % 4 === 2)).get
    val st2 = statusOf(l)
    assert(st2("drift") == ((1L, fid1)),
      s"tampered drift store must not advance: ${st2("drift")}")
    assert(SnapshotRoot.currentVersion(l.drift) == driftVerBefore)
    st2.foreach { case (fam, s) =>
      assert(s == ((1L, fid1)) || s == ((2L, fid2)),
        s"family $fam in a state its ledger doesn't record: $s")
    }

    java.nio.file.Files.move(stash, victim.toPath)
    assert(drain(daemon) == 2)
    val fid3 = Folds.contentFoldId(docs.filter(col("doc_id") % 4 === 3)).get
    assert(statusOf(l).values.forall(_ == ((3L, fid3))))
    def profRows(df: DataFrame) = df.select("source", "lang", "c", "h")
      .collect().map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getLong(2)}|" +
        r.getSeq[Long](3).mkString(",")).toSet
    assert(profRows(DriftStore.profile(spark, l.drift)) ==
      profRows(DriftStore.profileOf(docs)),
      "drift profile after tamper+retry == whole-corpus profile")
    assert(IncrementalSpans.readSpans(spark, l.spans)
      .collect().map(_.toSeq).toSet ==
      DupSpans.duplicateSpans(docs, n = 8).collect().map(_.toSeq).toSet)

    graft.ops.Persists.releaseAll()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
  }

  test("a tampered GUARD-LEG store (segments docs) fails the batch at prepare; restore -> retry") {
    // third class (r16): the bm25 case fails at the APPEND's manifest
    // check and the drift case at the merge-rewrite read; this one hits
    // the GUARD LEG itself — the id-overlap leg enumerates the docs
    // store via BucketStore.readChecked at prepare, so a lost docs file
    // refuses the batch BEFORE any overlap count can be silently
    // under-counted (the corruption the r16 guard-read campaign closes:
    // a short listing passing a guard that must refuse)
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 4 === 0)
    val p = java.nio.file.Files.createTempDirectory("graft-faultinj-segs").toString
    val daemon = ContinuousIngest.Layout(p, keyedOf, optional = Set("segments"),
      spanBuckets = 16, nBuckets = 16).seed(corpus, docs)
    val l = daemon.layout
    docs.filter(col("doc_id") % 4 === 1).coalesce(1).write.parquet(s"$p/feed/b1")
    assert(drain(daemon) == 1)
    val fid1 = Folds.contentFoldId(docs.filter(col("doc_id") % 4 === 1)).get
    assert(statusOf(l).values.forall(_ == ((1L, fid1))))
    val segsVerBefore = SnapshotRoot.currentVersion(l.segs)

    // tamper the docs table — the GUARD input, not a rewrite input
    val docsDir = new java.io.File(
      s"${SnapshotRoot.currentDir(l.segs)}/docs")
    val victim = SnapshotRoot.listDir(docsDir)
      .filter(_.isDirectory).flatMap(SnapshotRoot.listDir)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .head
    val stash = java.nio.file.Paths.get(p, "stashed_" + victim.getName)
    java.nio.file.Files.move(victim.toPath, stash)

    docs.filter(col("doc_id") % 4 === 2).coalesce(1).write.parquet(s"$p/feed/b2")
    docs.filter(col("doc_id") % 4 === 3).coalesce(1).write.parquet(s"$p/feed/b3")
    val e = intercept[Exception] { drain(daemon) }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("manifest")),
      s"expected a manifest refusal, got: ${chain(e)}")
    val fid2 = Folds.contentFoldId(docs.filter(col("doc_id") % 4 === 2)).get
    val st2 = statusOf(l)
    assert(st2("segments") == ((1L, fid1)),
      s"tampered segments store must not advance: ${st2("segments")}")
    assert(SnapshotRoot.currentVersion(l.segs) == segsVerBefore)
    st2.foreach { case (fam, s) =>
      assert(s == ((1L, fid1)) || s == ((2L, fid2)),
        s"family $fam in a state its ledger doesn't record: $s")
    }

    java.nio.file.Files.move(stash, victim.toPath)
    assert(drain(daemon) == 2)
    val fid3 = Folds.contentFoldId(docs.filter(col("doc_id") % 4 === 3)).get
    assert(statusOf(l).values.forall(_ == ((3L, fid3))))
    // final-state equality: one keeper per distinct fingerprint and the
    // kept-segment total equals the batch dedup's over the union
    val keepers = graft.ops.IncrementalSegments.readKeepers(spark, l.segs)
      .collect()
    assert(keepers.map(_.getString(0)).distinct.length == keepers.length)
    val incKept = graft.ops.IncrementalSegments
      .dedupFromState(spark, l.segs)
      .agg(sum("kept_segments")).head().getLong(0)
    val batchKept = graft.ops.SegmentDedup.dedup(docs,
        graft.ops.SegmentDedup.tokenWindows(col("text"), 16), sep = " ")
      .agg(sum("kept_segments")).head().getLong(0)
    assert(incKept == batchKept && incKept == keepers.length,
      "segment state after tamper+retry == batch dedup over the union")

    graft.ops.Persists.releaseAll()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
  }
}
