package graft.ops

import graft.SparkSpec

/** Pins the fold-commit protocol: replay, abandon, crash leftovers,
  * ledger order and the params check (plain files, no Spark), and the
  * snapshot-retention contract (VERDICT r14 task 3): a flip
  * GC's everything older than the `retain` most recent superseded
  * versions. K=1 (the default, unchanged behavior) protects a reader
  * that resolved the pointer before ONE flip; a reader whose plan
  * pinned a version and then survives TWO flips scans deleted files —
  * under K≥2 the same reader succeeds. Daemon roots with long
  * concurrent readers raise SPARK_GRAFT_SNAPSHOT_RETAIN; at 100 TB the
  * knob maps onto the table format's snapshot-retention policy.
  */
class SnapshotRootSpec extends SparkSpec {
  import spark.implicits._

  private def mkRoot(tag: String): String = {
    val root = s"target/snapshot_root_spec_$tag"
    SnapshotRoot.seed(root)(v1 => Seq((1L, "a")).toDF("id", "s").write.parquet(v1))
    root
  }

  /** Build the next version as a fresh parquet dir and flip to it. */
  private def fold(root: String, retain: Int): Unit = {
    val n = SnapshotRoot.currentVersion(root).drop(1).toLong + 1
    val next = SnapshotRoot.begin(root).get
    Seq((n, s"v$n")).toDF("id", "s").write.parquet(next.dir)
    next.commit(retain)
  }

  private def versions(root: String): Set[String] =
    SnapshotRoot.listDir(new java.io.File(root))
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(_.getName).toSet

  test("retain=1 (default) keeps exactly one superseded version") {
    val root = mkRoot("k1")
    fold(root, retain = 1) // v1 -> v2: v1 retained
    assert(versions(root) == Set("v1", "v2"))
    fold(root, retain = 1) // v2 -> v3: v1 GC'd
    assert(versions(root) == Set("v2", "v3"))
    assert(SnapshotRoot.currentVersion(root) == "v3")
  }

  test("a reader crossing TWO flips fails under K=1 and succeeds under K=2") {
    // K=1: the documented two-flip hazard — the reader's pinned files
    // are GC'd mid-query
    val r1 = mkRoot("reader_k1")
    val pinned1 = spark.read.parquet(SnapshotRoot.currentDir(r1)) // pins v1
    pinned1.collect() // plan resolved against v1's files
    fold(r1, retain = 1); fold(r1, retain = 1) // two flips: v1 deleted
    intercept[Exception] { spark.read.parquet(s"$r1/v1").collect() }

    // K=2: the same reader survives both flips
    val r2 = mkRoot("reader_k2")
    val pinned2 = spark.read.parquet(SnapshotRoot.currentDir(r2))
    assert(pinned2.collect().length == 1)
    fold(r2, retain = 2); fold(r2, retain = 2)
    assert(versions(r2) == Set("v1", "v2", "v3"))
    assert(pinned2.collect().map(_.getLong(0)).toSeq == Seq(1L),
      "a reader pinned on v1 must still read v1's bytes after two flips under K=2")
    // a third flip under K=2 finally GC's v1
    fold(r2, retain = 2)
    assert(versions(r2) == Set("v2", "v3", "v4"))
  }

  test("defaultRetain honors the env contract shape") {
    // the env isn't set in tests — the default must be 1 (unchanged
    // pre-r15 behavior) and the explicit-arg path must reject K<1
    assert(SnapshotRoot.defaultRetain == 1)
    val root = mkRoot("badk")
    intercept[IllegalArgumentException] {
      SnapshotRoot.begin(root).get.commit(retain = 0)
    }
  }

  // ---- the fold-commit protocol on plain files (no Spark involved)

  private def plainRoot(tag: String): String = {
    val root = java.nio.file.Files.createTempDirectory(s"snaproot_$tag").toString + "/r"
    SnapshotRoot.seed(root)(v1 => put(v1, "data", "seed"))
    root
  }

  private def put(dir: String, name: String, body: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), body.getBytes("UTF-8"))
  }

  private def exists(root: String, rel: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(root, rel))

  private def tree(root: String): Seq[String] = {
    val base = java.nio.file.Paths.get(root)
    val w = java.nio.file.Files.walk(base)
    try {
      val out = Seq.newBuilder[String]
      w.forEach(p => out += base.relativize(p).toString)
      out.result().sorted
    } finally w.close()
  }

  test("a replayed fold id is a no-op and creates no next directory") {
    val root = plainRoot("replay")
    SnapshotRoot.fold(root, Some("b1"))(next => put(next.dir, "data", "b1"))
    assert(SnapshotRoot.currentVersion(root) == "v2")
    var ran = false
    SnapshotRoot.fold(root, Some("b1")) { _ => ran = true }
    assert(!ran, "a replayed fold must not run its body")
    assert(SnapshotRoot.begin(root, Some("b1")).isEmpty)
    assert(SnapshotRoot.currentVersion(root) == "v2")
    assert(!exists(root, "v3"), "a replay must not start a next version")
  }

  test("a body that throws leaves the pointer unmoved and no partial directory") {
    val root = plainRoot("throw")
    val e = intercept[IllegalStateException] {
      SnapshotRoot.fold(root, Some("b1")) { next =>
        put(next.dir, "data", "partial")
        // a concurrent write still running when the body fails: the
        // abandon must wait it out, or it lands after the delete
        next.async { Thread.sleep(300); put(s"${next.dir}/late", "data", "late") }
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(SnapshotRoot.currentVersion(root) == "v1")
    assert(!exists(root, "v2"), "the partial next version must be dropped")
    assert(SnapshotRoot.liveLedger(root).isEmpty)
    // the id was never committed, so the retry folds
    SnapshotRoot.fold(root, Some("b1"))(next => put(next.dir, "data", "b1"))
    assert(SnapshotRoot.currentVersion(root) == "v2")
    assert(SnapshotRoot.liveLedger(root) == Seq("b1"))
  }

  test("a partial next version left by a crash is rebuilt from scratch") {
    val root = plainRoot("crash")
    put(s"$root/v2", "stale", "crashed fold") // the pointer never reached it
    SnapshotRoot.fold(root)(next => put(next.dir, "data", "fresh"))
    assert(SnapshotRoot.currentVersion(root) == "v2")
    assert(tree(s"$root/v2") == Seq("", "data"),
      "the crashed fold's leftovers must not ride into the committed version")
  }

  test("the ledger keeps commit order across folds and is carried by id-less folds") {
    val root = plainRoot("order")
    Seq("b3", "b1", "b2").foreach { id =>
      SnapshotRoot.fold(root, Some(id))(next => put(next.dir, "data", id))
    }
    assert(SnapshotRoot.liveLedger(root) == Seq("b3", "b1", "b2"))
    SnapshotRoot.fold(root)(next => put(next.dir, "data", "compaction"))
    assert(SnapshotRoot.currentVersion(root) == "v5")
    assert(SnapshotRoot.liveLedger(root) == Seq("b3", "b1", "b2"),
      "a fold without an id must carry the ledger forward")
  }

  test("a _params mismatch fails before any mutation") {
    val root = plainRoot("params")
    SnapshotRoot.writeParams(root, "n=4 nBuckets=8")
    SnapshotRoot.requireParams(root, "n=4 nBuckets=8", "unused")
    val before = tree(root)
    val e = intercept[IllegalArgumentException] {
      SnapshotRoot.requireParams(root, "n=8 nBuckets=8",
        "a mismatched window silently matches nothing")
      SnapshotRoot.fold(root)(next => put(next.dir, "data", "never"))
    }
    assert(e.getMessage.contains("built with [n=4 nBuckets=8]"), e.getMessage)
    assert(e.getMessage.contains("n=8 nBuckets=8"), e.getMessage)
    assert(tree(root) == before, "a refused fold must not touch the root")
    assert(SnapshotRoot.currentVersion(root) == "v1")
  }
}
