package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, length}
import org.apache.spark.sql.types._

/** The r13 commit-manifest contract (VERDICT r12 task 1): every
  * BucketStore commit records its per-table data-file count, and the
  * next fold REFUSES to assemble a snapshot whose fresh listing of the
  * live table disagrees with what the committing fold recorded. This is
  * the loud-failure guard behind the r12 soak defect, where a silently
  * short directory listing committed a snapshot holding only the fold's
  * delta. */
class BucketStoreSpec extends SparkSpec {

  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType),
    StructField("b", IntegerType)))

  private def rows(ids: Range): DataFrame =
    ids.map(i => (i.toLong, i.toLong * 10, i % 4)).toDF("id", "v", "b")

  private def fold(root: String, delta: DataFrame): Unit =
    SnapshotRoot.fold(root) { next =>
      BucketStore.append(spark, next.liveDir, next.dir, "t", "b", delta,
        identity, schema)
    }

  test("append commits a manifest; a fold over a short listing fails loudly") {
    val root = java.nio.file.Files.createTempDirectory("bstore").toString
    Bucketing.writePartitioned(rows(0 until 8), s"$root/v1/t", Seq("b"))
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "_current"),
      "v1".getBytes("UTF-8"))

    fold(root, rows(8 until 12))
    val cur = SnapshotRoot.currentDir(root)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(cur, "_manifest_t")), "commit manifest written")
    assert(spark.read.schema(schema).parquet(s"$cur/t").count() == 12)

    // a second clean fold passes the manifest guard and re-records
    fold(root, rows(12 until 16))
    assert(spark.read.schema(schema)
      .parquet(s"${SnapshotRoot.currentDir(root)}/t").count() == 16)

    // tamper: remove one committed data file out from under the store —
    // the next fold's listing now disagrees with the manifest and the
    // fold must fail BEFORE assembling a truncated snapshot
    val tdir = new java.io.File(s"${SnapshotRoot.currentDir(root)}/t")
    val victim = SnapshotRoot.listDir(tdir).filter(_.isDirectory)
      .flatMap(d => SnapshotRoot.listDir(d))
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .head
    java.nio.file.Files.delete(victim.toPath)
    val e = intercept[IllegalArgumentException] { fold(root, rows(16 until 20)) }
    assert(e.getMessage.contains("commit manifest"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("writeState records an init manifest: the FIRST fold is guarded too") {
    val root = java.nio.file.Files.createTempDirectory("bstore_init").toString
    val corpus = Seq((1L, "w", "alpha beta gamma"), (2L, "w", "delta words"))
      .toDF("doc_id", "source", "text")
    FingerprintStore.writeState(corpus, root)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      SnapshotRoot.currentDir(root), "_manifest_fps")), "init manifest written")
    // lose a committed v1 data file: the FIRST applyDelta must refuse
    val victim = SnapshotRoot.listDir(
        new java.io.File(s"${SnapshotRoot.currentDir(root)}/fps"))
      .filter(_.isDirectory).flatMap(d => SnapshotRoot.listDir(d))
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .head
    java.nio.file.Files.delete(victim.toPath)
    val e = intercept[IllegalArgumentException] {
      FingerprintStore.applyDelta(spark, root,
        Seq((3L, "w", "epsilon zeta")).toDF("doc_id", "source", "text"),
        foldId = Some("b1"))
    }
    assert(e.getMessage.contains("commit manifest"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    Persists.releaseAll() // the failed fold's cacheFor registrations
  }

  // ---- r14 (VERDICT r13 task 1): the same tamper contract for the two
  // snapshot stores that assemble OUTSIDE BucketStore — the clusters
  // label/keys stores and the IVF cell layout.

  test("clusters label store: a fold over a short label listing refuses") {
    val root = java.nio.file.Files.createTempDirectory("cstore").toString
    val corpus = Seq((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "z"),
        (4L, "c", "w"))
      .toDF("doc_id", "k1", "k2")
    IncrementalClusters.writeState(corpus, "doc_id", Seq("k1", "k2"), root,
      nBuckets = 8)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      IncrementalClusters.currentLabelsDir(root), "_manifest_labels")),
      "label init manifest written")
    // clean fold passes the guard and re-records the manifest
    IncrementalClusters.applyDelta(spark, root,
      Seq((10L, "a", "q")).toDF("doc_id", "k1", "k2"),
      "doc_id", Seq("k1", "k2"), nBuckets = 8)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      IncrementalClusters.currentLabelsDir(root), "_manifest_labels")),
      "fold re-records the label manifest")
    // tamper: lose one committed label data file — the next fold must
    // refuse BEFORE any plan pins the truncated listing
    val victim = SnapshotRoot.listDir(
        new java.io.File(IncrementalClusters.currentLabelsDir(root)))
      .filter(d => d.isDirectory && d.getName.startsWith("cbucket="))
      .flatMap(d => SnapshotRoot.listDir(d))
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .head
    java.nio.file.Files.delete(victim.toPath)
    val e = intercept[IllegalArgumentException] {
      IncrementalClusters.applyDelta(spark, root,
        Seq((11L, "d", "r")).toDF("doc_id", "k1", "k2"),
        "doc_id", Seq("k1", "k2"), nBuckets = 8)
    }
    assert(e.getMessage.contains("commit manifest"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    Persists.releaseAll()
  }

  test("clusters key index: a fold over a short keys listing refuses") {
    val root = java.nio.file.Files.createTempDirectory("kstore").toString
    val corpus = Seq((1L, "a", "x"), (2L, "a", "y"), (3L, "b", "z"))
      .toDF("doc_id", "k1", "k2")
    IncrementalClusters.writeState(corpus, "doc_id", Seq("k1", "k2"), root,
      nBuckets = 8)
    val victim = SnapshotRoot.listDir(
        new java.io.File(IncrementalClusters.currentKeysDir(root)))
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.delete(victim.toPath)
    val e = intercept[IllegalArgumentException] {
      IncrementalClusters.applyDelta(spark, root,
        Seq((11L, "d", "r")).toDF("doc_id", "k1", "k2"),
        "doc_id", Seq("k1", "k2"), nBuckets = 8)
    }
    assert(e.getMessage.contains("commit manifest"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    Persists.releaseAll()
  }

  test("ivf cell layout: an append/compaction over a short listing refuses") {
    val root = java.nio.file.Files.createTempDirectory("ivfstore").toString + "/ivf"
    val vecs = (0L until 32L)
      .map(i => (i, Array.tabulate(4)(d => (i % 7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val model = IvfIndex.train(vecs, k = 4, iters = 2, sampleSize = 16)
    IvfIndex.writeIndexed(vecs, root, model)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      SnapshotRoot.currentDir(root), "_manifest_cells")),
      "cell init manifest written")
    // clean fold passes and re-records
    val d1 = (100L until 108L)
      .map(i => (i, Array.tabulate(4)(d => (i % 5 + d).toFloat)))
      .toDF("vec_id", "embedding")
    IvfIndex.appendIndexed(d1, root, model)
    // tamper: lose one committed cell file — the next fold must refuse
    val victim = SnapshotRoot.listDir(
        new java.io.File(SnapshotRoot.currentDir(root)))
      .filter(d => d.isDirectory && d.getName.startsWith("__cell="))
      .flatMap(d => SnapshotRoot.listDir(d))
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.delete(victim.toPath)
    val d2 = (200L until 204L)
      .map(i => (i, Array.tabulate(4)(d => (i % 3 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      IvfIndex.appendIndexed(d2, root, model)
    }
    assert(e.getMessage.contains("commit manifest"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  // ---- r14 round-out: the remaining unguarded stores — the two
  // merge-rewrite snapshot stores (drift profile, dsir model), whose
  // fold reads the WHOLE live table, and the dedup index, whose short
  // listing silently MISSES duplicates rather than corrupting state.

  test("drift profile: a fold over a short profile listing refuses") {
    val root = java.nio.file.Files.createTempDirectory("driftstore").toString + "/drift"
    val docs = Seq((1L, "a", "en", "hello world"), (2L, "b", "en", "more text"))
      .toDF("doc_id", "source", "lang", "text")
      .withColumn("n_chars", length(col("text")))
    DriftStore.writeProfile(docs, root)
    // clean fold passes and re-records
    DriftStore.applyDelta(spark,
      root, Seq((3L, "a", "en", "third doc"))
        .toDF("doc_id", "source", "lang", "text")
        .withColumn("n_chars", length(col("text"))), foldId = Some("f1"))
    val victim = SnapshotRoot.listDir(
        new java.io.File(SnapshotRoot.currentDir(root)))
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.delete(victim.toPath)
    val e = intercept[IllegalArgumentException] {
      DriftStore.applyDelta(spark,
        root, Seq((4L, "c", "en", "fourth"))
          .toDF("doc_id", "source", "lang", "text")
          .withColumn("n_chars", length(col("text"))), foldId = Some("f2"))
    }
    assert(e.getMessage.contains("commit manifest"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("dsir model: a fold over a short model listing refuses") {
    val root = java.nio.file.Files.createTempDirectory("dsirstore").toString + "/dsir"
    val docs = Seq((1L, "en", "hello world"), (2L, "fr", "bonjour monde"))
      .toDF("doc_id", "lang", "text")
    DsirStore.writeCounts(docs, col("lang") === "en", root, buckets = 64)
    val victim = SnapshotRoot.listDir(
        new java.io.File(SnapshotRoot.currentDir(root)))
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.delete(victim.toPath)
    val e = intercept[IllegalArgumentException] {
      DsirStore.applyDelta(spark, root,
        Seq((3L, "en", "third doc")).toDF("doc_id", "lang", "text"),
        col("lang") === "en", buckets = 64, foldId = Some("f1"))
    }
    assert(e.getMessage.contains("commit manifest"), e.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
  }

  test("dedup index: probe and absorb over a short index listing refuse") {
    val root = java.nio.file.Files.createTempDirectory("dedupidx").toString + "/idx"
    val docs = (1L to 8L).map(i => (i, s"document number $i with shared text"))
      .toDF("doc_id", "text")
    IncrementalDedup.writeIndex(docs, root)
    val delta = Seq((100L, "a fresh arrival document")).toDF("doc_id", "text")
    // clean probe + absorb pass and re-record
    IncrementalDedup.deltaPairs(spark, root, delta).collect()
    IncrementalDedup.applyDelta(spark, root, delta, foldId = Some("f1"))
    val victim = SnapshotRoot.listDir(new java.io.File(s"$root/banded"))
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.delete(victim.toPath)
    val delta2 = Seq((200L, "another arrival")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.deltaPairs(spark, root, delta2).collect()
    }
    assert(e.getMessage.contains("commit manifest"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      IncrementalDedup.applyDelta(spark, root, delta2, foldId = Some("f2"))
    }
    assert(e2.getMessage.contains("commit manifest"), e2.getMessage)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(root).getParentFile)
    Persists.releaseAll()
  }

  test("readExact over many tiny files packs to min(files, parallelism) partitions") {
    // a whole-store read feeds narrow per-row builds: it keeps one task
    // per file up to the parallelism, unlike a snapshot read, which packs
    // a sub-split directory into one partition
    val par = spark.sparkContext.defaultParallelism
    for (nFiles <- Seq(par - 1, 3 * par)) {
      val dir = s"${java.nio.file.Files.createTempDirectory("bstore-pack")}/t"
      rows(0 until 10 * nFiles).repartition(nFiles).write.parquet(dir)
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
      assert(files.size == nFiles)
      val df = BucketStore.readExact(spark, schema, dir, files).get
      assert(df.rdd.getNumPartitions == math.min(nFiles, par))
      assert(df.count() == 10L * nFiles)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir).getParentFile)
    }
  }

  test("listDir: missing dir is empty, file target throws instead of null") {
    assert(SnapshotRoot.listDir(new java.io.File("/no/such/dir")).isEmpty)
    val f = java.nio.file.Files.createTempFile("notadir", ".txt")
    // File.listFiles would return null here; the snapshot machinery
    // must get an exception, never an empty carry-over set
    intercept[java.io.IOException] { SnapshotRoot.listDir(f.toFile) }
    java.nio.file.Files.delete(f)
  }
}
