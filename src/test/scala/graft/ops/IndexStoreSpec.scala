package graft.ops

import graft.SparkSpec
import graft.model.Tables
import org.apache.spark.sql.functions._

/** Persisted ANN index artifacts (VERDICT r7 residual #3): train
  * offline once, persist, load in another session, probe a
  * cell-partitioned layout with directory-level pruning. */
class IndexStoreSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val queries = emb.filter(col("vec_id") < 10)

  test("IVF model save -> load round-trips bit-identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-store").toString
    val trained = IvfIndex.train(emb)
    IndexStore.saveIvf(trained, dir)
    val loaded = IndexStore.loadIvf(dir)
    assert(loaded.centroids.length == trained.centroids.length)
    trained.centroids.zip(loaded.centroids).foreach { case (t, l) =>
      assert(java.util.Arrays.equals(t, l)) // exact doubles, not approx
    }
    // and the loaded model produces the identical query plan output
    val a = IvfIndex.topK(emb, queries, k = 5, trained).collect().map(_.toSeq).toSet
    val b = IvfIndex.topK(emb, queries, k = 5, loaded).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("LSH plane tensor save -> load round-trips bit-identically (identical buckets)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-store").toString
    val planes = Similarity.planesFor(tables = 8, bits = 10, dim = 64, seed = 42L)
    IndexStore.savePlanes(planes, dir)
    val loaded = IndexStore.loadPlanes(dir)
    (planes.flatten: Array[Array[Double]]).zip(loaded.flatten: Array[Array[Double]])
      .foreach { case (t, l) => assert(java.util.Arrays.equals(t, l)) }
    val a = emb.select(graft.functions.HyperplaneBuckets(col("embedding"), planes))
      .collect().map(_.toSeq)
    val b = emb.select(graft.functions.HyperplaneBuckets(col("embedding"), loaded))
      .collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("shape drift fails loudly at load") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-bad")
    java.nio.file.Files.write(dir.resolve("ivf_centroids.txt"),
      "2 3\n1.0 2.0 3.0\n".getBytes) // header claims 2 rows, file has 1
    intercept[IllegalArgumentException] { IndexStore.loadIvf(dir.toString) }
  }

  test("appendIndexed folds a delta O(delta): probe == same-model full rebuild; only touched cells gain files") {
    val corpus = emb.filter(col("vec_id") % 10 =!= 7)
    val delta = emb.filter(col("vec_id") % 10 === 7)
    val model = IvfIndex.train(corpus)
    val base = java.nio.file.Files.createTempDirectory("graft-ivf-inc").toString
    // incremental: corpus layout + delta fold with the corpus model
    IvfIndex.writeIndexed(corpus, s"$base/inc", model)
    val preFold = cellFiles(s"$base/inc")
    IvfIndex.appendIndexed(delta, s"$base/inc", model)
    val postFold = cellFiles(s"$base/inc")
    // rebuild: the whole union written fresh with the SAME model
    IvfIndex.writeIndexed(corpus.unionByName(delta), s"$base/rebuild", model)

    val a = IvfIndex.topKIndexed(spark, s"$base/inc", queries, k = 5, model)
    val b = IvfIndex.topKIndexed(spark, s"$base/rebuild", queries, k = 5, model)
    assert(a.collect().map(_.toSeq).toSet == b.collect().map(_.toSeq).toSet)

    // the fold only ADDED files, never rewrote one, and only in the
    // cells the delta maps to — the touched-cell write claim
    preFold.foreach { case (f, sig) =>
      assert(postFold.get(f).contains(sig), s"fold rewrote an existing file: $f")
    }
    val deltaCells = delta
      .select(IvfIndex.cellExpr(col("embedding"), model).as("c"))
      .distinct().collect().map(_.getInt(0)).toSet
    val grownCells = postFold.keySet.diff(preFold.keySet)
      .map(_.replaceAll(".*__cell=(\\d+)/.*", "$1").toInt)
    assert(grownCells == deltaCells,
      s"files appeared in cells $grownCells but the delta maps to $deltaCells")

    // r16 tamper: the probe validates Spark's planned listing against
    // the cells manifest (at-least mode — the store live-appends); a
    // lost cell file must refuse the probe, not silently shrink the
    // neighbor pool
    val cur = SnapshotRoot.currentDir(s"$base/inc")
    val victims = Option(new java.io.File(cur).listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(victims.nonEmpty)
    assert(victims.head.delete())
    val e = intercept[IllegalArgumentException] {
      IvfIndex.topKIndexed(spark, s"$base/inc", queries, k = 5, model).collect()
    }
    assert(e.getMessage.contains("manifest"))
  }

  test("30 sequential folds: per-cell file count stays bounded by compaction; probe == rebuild") {
    val corpus = emb.filter(col("vec_id") % 10 =!= 7)
    val baseDelta = emb.filter(col("vec_id") % 50 === 7) // 10 rows
    val model = IvfIndex.train(corpus)
    val base = java.nio.file.Files.createTempDirectory("graft-ivf-compact").toString
    IvfIndex.writeIndexed(corpus, s"$base/inc", model)
    val compactAt = 2
    var compactedEver = false
    val deltas = (1 to 30).map(i =>
      baseDelta.withColumn("vec_id", col("vec_id") + lit(100000L * i)))
    deltas.foreach { d =>
      IvfIndex.appendIndexed(d, s"$base/inc", model, compactAt = compactAt)
      compactedEver ||= IvfIndex.lastCompactedCells > 0
    }
    assert(compactedEver, "30 folds at compactAt=2 never triggered a compaction")
    assert(SnapshotRoot.currentVersion(s"$base/inc") != "v1",
      "compaction never rolled the live layout past v1 across 30 folds")
    // bounded live layout: every cell dir holds at most compactAt
    // files (an append can push a cell to compactAt+1, but the fold's
    // own compaction pass then rewrites it)
    val live = new java.io.File(SnapshotRoot.currentDir(s"$base/inc"))
    val perCell = Option(live.listFiles()).get
      .filter(d => d.isDirectory && d.getName.startsWith("__cell="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perCell.nonEmpty && perCell.forall(_._2 <= compactAt),
      s"unbounded cells after 30 folds: ${perCell.filter(_._2 > compactAt).toSeq}")
    // version GC: at most the live version and one superseded stay
    val versions = Option(new java.io.File(s"$base/inc").listFiles()).get
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
    assert(versions.length <= 2, s"GC left ${versions.map(_.getName).toSeq}")
    // equivalence: probe over the folded+compacted layout == probe
    // over a fresh same-model rebuild of the union
    IvfIndex.writeIndexed(deltas.foldLeft(corpus)(_ unionByName _),
      s"$base/rebuild", model)
    val a = IvfIndex.topKIndexed(spark, s"$base/inc", queries, k = 5, model)
    val b = IvfIndex.topKIndexed(spark, s"$base/rebuild", queries, k = 5, model)
    assert(a.collect().map(_.toSeq).toSet == b.collect().map(_.toSeq).toSet)
  }

  test("crash mid-compaction: readers stay on the complete old snapshot; next fold rebuilds") {
    val model = IvfIndex.train(emb)
    val base = java.nio.file.Files.createTempDirectory("graft-ivf-crash").toString
    IvfIndex.writeIndexed(emb, s"$base/layout", model)
    val before = IvfIndex.topKIndexed(spark, s"$base/layout", queries, k = 5, model)
      .collect().map(_.toSeq).toSet
    // simulate a compaction that died after staging: a partial next
    // version and a leftover stage dir exist, but the pointer never
    // flipped
    val v2 = java.nio.file.Paths.get(s"$base/layout/v2/__cell=0")
    java.nio.file.Files.createDirectories(v2)
    java.nio.file.Files.write(v2.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
    val st = java.nio.file.Paths.get(s"$base/layout/.stage_v2/__cell=1")
    java.nio.file.Files.createDirectories(st)
    java.nio.file.Files.write(st.resolve("part-junk.parquet"), Array[Byte](4, 5))
    assert(IvfIndex.topKIndexed(spark, s"$base/layout", queries, k = 5, model)
      .collect().map(_.toSeq).toSet == before,
      "a crashed compaction's leftovers disturbed the live snapshot")
    // the next fold discards the partial leftovers and commits cleanly
    // (compactAt=0 forces every cell through the compaction rewrite)
    val delta = emb.filter(col("vec_id") % 50 === 7)
      .withColumn("vec_id", col("vec_id") + lit(900000L))
    IvfIndex.appendIndexed(delta, s"$base/layout", model, compactAt = 0)
    val after = IvfIndex.topKIndexed(spark, s"$base/layout", queries, k = 5, model)
    IvfIndex.writeIndexed(emb.unionByName(delta), s"$base/rebuild", model)
    val rebuilt = IvfIndex.topKIndexed(spark, s"$base/rebuild", queries, k = 5, model)
    assert(after.collect().map(_.toSeq).toSet == rebuilt.collect().map(_.toSeq).toSet)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/layout/.stage_v2")), "stage leftover not cleaned")
  }

  private def cellFiles(dir: String): Map[String, (Long, Long)] =
    org.apache.commons.io.FileUtils.listFiles(new java.io.File(dir), null, true)
      .toArray.map(_.asInstanceOf[java.io.File])
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> (f.lastModified(), f.length())).toMap

  test("IVF-partitioned layout: probe prunes directories and matches the in-session probe") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val model = IvfIndex.train(emb)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-layout").toString + "/emb"
    IvfIndex.writeIndexed(emb, path, model)

    val nprobe = 4
    val indexed = IvfIndex.topKIndexed(spark, path, queries, k = 5, model, nprobe)
    val inSession = IvfIndex.topK(emb, queries, k = 5, model, nprobe)
    assert(indexed.collect().map(_.toSeq).toSet ==
      inSession.collect().map(_.toSeq).toSet)

    // plan gate: the probe predicate reaches the scan as a partition
    // filter and selects exactly the probed cell directories — the
    // static-plan convention (an unexecuted AQE wrapper hides scans)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probed = queries
        .select(explode(IvfIndex.probeCellsExpr(col("embedding"), model, nprobe)).as("c"))
        .distinct().count()
      val gated = IvfIndex.topKIndexed(spark, path, queries, k = 5, model, nprobe)
      val scan = gated.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec if s.relation.location.rootPaths.exists(
          _.toString.contains("graft-ivf-layout")) => s
      }.head
      // Spark ALSO inserts a DynamicPruningExpression for the broadcast
      // join on __cell; the static isin alone must already select
      // exactly the probed dirs (DPP can't be evaluated pre-execution)
      val staticFilters = scan.partitionFilters.filterNot(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression]))
      assert(staticFilters.nonEmpty,
        "probe predicate must reach the scan as a static PartitionFilter:\n" + scan)
      val selected = scan.relation.location.listFiles(staticFilters, Nil).size
      val totalCells = spark.read.parquet(SnapshotRoot.currentDir(path))
        .select("__cell").distinct().count()
      assert(selected == probed && selected < totalCells,
        s"expected $probed of $totalCells cell dirs read, got $selected")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
