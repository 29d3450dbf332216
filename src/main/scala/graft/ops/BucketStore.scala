package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Shared file-level machinery for bucket-partitioned tables inside a
  * [[SnapshotRoot]] version directory — extracted from IncrementalSpans
  * (r11) so every append-only incremental store commits the same way:
  *
  *  - [[append]]: next snapshot hard-links every existing file and
  *    MOVES the delta's part files into the bucket dirs — O(delta)
  *    bytes written; buckets whose file count passes `compactAt` are
  *    rolled up (caller-supplied `compact`, e.g. summing df partials)
  *    in one extra partitioned write, keeping file counts bounded
  *    under continuous folding;
  *  - [[rewrite]]: delete+insert semantics for tables whose touched
  *    buckets must be REPLACED (old rows go away); untouched buckets
  *    hard-link.
  *
  * Both stage under `_`-prefixed dirs inside the NEXT version dir, so
  * a crash anywhere leaves the current snapshot untouched (the caller
  * commits the [[SnapshotRoot.Fold]] last). Metadata-scale flat stores
  * instead rewrite whole per fold ([[seedFlat]], [[mergeFold]]). */
private[graft] object BucketStore {

  /** Telemetry: total oversized-bucket compactions performed by
    * [[append]] in this JVM. Probes diff it around a fold to attribute
    * fold-time variance to compaction reps (r14, VERDICT r13 task 6) —
    * a LongAdder because one fold runs its table appends as concurrent
    * Futures. */
  val compactedBuckets = new java.util.concurrent.atomic.LongAdder

  private def bucketOf(f: java.io.File): Int = f.getName.split("=")(1).toInt
  // SnapshotRoot.listDir (r13): a transient-IO null listing must THROW,
  // not read as "no files" — treating it as empty made one r12 soak
  // fold commit a snapshot holding ONLY its delta (VERDICT r12 task 1)
  private def dirs(path: String): Array[java.io.File] =
    SnapshotRoot.listDir(new java.io.File(path))
      .filter(f => f.isDirectory && f.getName.contains("="))
  private def dataFiles(dir: java.io.File): Array[java.io.File] =
    SnapshotRoot.listDir(dir)
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))

  // ---- append-only commit manifest (r13, VERDICT r12 task 1) ----
  // Each committed version records its per-table data-file count in
  // `_manifest_<table>`. The next fold refuses to assemble a snapshot
  // whose fresh listing of the live table disagrees with the count the
  // committing fold recorded — the second line of defense behind the
  // throwing listings: it catches ANY silent truncation (a short
  // listing the filesystem didn't error on, external file loss)
  // loudly, at metadata scale, before a corrupted snapshot can commit.
  private def manifestPath(dir: String, table: String) =
    java.nio.file.Paths.get(dir, s"_manifest_$table")
  private def readManifest(dir: String, table: String): Option[Int] = {
    val p = manifestPath(dir, table)
    if (!java.nio.file.Files.exists(p)) None
    else {
      val raw = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
      // an unparseable manifest is the same class of loud failure as a
      // count mismatch — name the path/table instead of a bare NFE
      try Some(raw.toInt)
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"commit manifest for table '$table' at $p is unreadable " +
            s"('$raw') — refusing to fold against a store whose last " +
            "commit record is corrupt")
      }
    }
  }
  private def writeManifest(dir: String, table: String, count: Int): Unit =
    java.nio.file.Files.write(manifestPath(dir, table),
      count.toString.getBytes("UTF-8"))
  /** Record the commit manifest for a table just written at INIT time
    * (a store's writeState) so the FIRST fold is guarded too — without
    * it the listing-vs-manifest check only engages from the second
    * fold on. */
  def initManifest(versionDir: String, table: String): Unit =
    writeManifest(versionDir, table,
      dirs(s"$versionDir/$table").map(dataFiles(_).length).sum)

  private def requireManifest(cur: String, table: String, listed: Int): Unit =
    readManifest(cur, table).foreach { m =>
      require(listed == m,
        s"table '$table' at $cur lists $listed data files but its commit " +
          s"manifest records $m — refusing to assemble a snapshot from a " +
          "short directory listing (possible transient IO / external loss)")
    }

  // ---- manifest surface for the NON-BucketStore snapshot stores (r14,
  // VERDICT r13 task 1): the clusters label store and the IVF cell
  // layout assemble their snapshots directly (their version dir IS the
  // partitioned table), and the cluster key index appends flat files
  // into its live version. They get the same commit-manifest +
  // count-invariant defense; only the directory shapes differ.

  /** Data-file count across the `<col>=<v>` partition dirs of
    * `tableDir` (throwing listings — the SnapshotRoot contract). */
  def countPartitionedData(tableDir: String): Int =
    dirs(tableDir).map(dataFiles(_).length).sum

  /** Data-file count of a FLAT directory (no partition dirs). */
  def countFlatData(dir: String): Int =
    SnapshotRoot.listDir(new java.io.File(dir))
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))

  /** Record a commit manifest for a store whose version dir is not a
    * BucketStore table layout (label/cell/keys stores). */
  def recordManifest(versionDir: String, table: String, count: Int): Unit =
    writeManifest(versionDir, table, count)

  /** Seed a metadata-scale flat store at `root`: `df` as one file in
    * `v1`, with its commit manifest — [[mergeFold]] reads the whole live
    * table, so the first fold is guarded against a short listing too. */
  def seedFlat(root: String, table: String, df: DataFrame): Unit =
    SnapshotRoot.seed(root) { v1 =>
      df.repartition(1).write.parquet(v1)
      recordManifest(v1, table, countFlatData(v1))
    }

  /** Fold a [[seedFlat]] store by rewriting it whole: one file in the
    * next version holding `merge` of the live rows (the merge folds the
    * delta in). The live rows are read from EXACTLY the manifest-checked
    * files ([[readExact]] rationale): the merge REPLACES the store, so a
    * silently short listing would truncate it permanently. A `foldId`
    * already in the ledger no-ops — the rows carry no document identity,
    * so a replayed batch would otherwise double-count. */
  def mergeFold(spark: SparkSession, root: String, table: String,
      foldId: Option[String])(merge: DataFrame => DataFrame): Unit =
    SnapshotRoot.fold(root, foldId) { next =>
      val live = dataFiles(new java.io.File(next.liveDir)).map(_.toString).toIndexedSeq
      requireManifest(next.liveDir, table, live.length)
      merge(spark.read.parquet(live: _*)).repartition(1).write.parquet(next.dir)
      recordManifest(next.dir, table, countFlatData(next.dir))
    }

  /** Read EXACTLY the given data files — never a fresh directory
    * listing. `spark.read.parquet(dir)` does its OWN listing, and that
    * listing can silently go short exactly like the engine-side
    * `File.listFiles` class r13 made loud: one r15 soak lost the seed
    * corpus' postings ROWS to a bucket compaction whose Spark-side
    * re-listing missed the carried files, while every file-count
    * manifest stayed consistent — the manifests audit the files a
    * commit WRITES, not the rows a rewrite READS. Enumerating the
    * (manifest-checked) listing's files explicitly turns that silent
    * drop into a loud FileNotFoundException. `basePath` keeps Hive
    * partition-column derivation (`bucket=N` path segments) working
    * over explicit paths. Returns None for an empty file list. */
  def readExact(spark: SparkSession, schema: StructType, basePath: String,
      files: Seq[String]): Option[DataFrame] =
    if (files.isEmpty) None
    else {
      val df = spark.read.option("basePath", basePath)
        .schema(schema).parquet(files: _*)
      Some(packStore(spark, df))
    }

  /** Pack a whole-store read of tiny files into sensibly-sized tasks:
    * [[graft.mat.VersionedTable.pack]] with its file floor kept below
    * one split too, so the read runs `max(ceil(bytes / split),
    * min(files, parallelism))` tasks. A bucketed incremental store at
    * fixture scale holds ~64 buckets x few-KB append files, and Spark's
    * split packing charges each file the 4 MB openCostInBytes, so
    * unpacked whole-store reads exploded into ~2-file tasks
    * (q_passage_dedup_incremental: 774 scan tasks, pure scheduler
    * overhead). Lowering openCostInBytes globally was probed and
    * rejected: it is also the split-size floor (maxSplitBytes =
    * min(maxPartitionBytes, max(openCost, bytesPerCore))), so
    * single-file fixture scans fragmented and the suite's total task
    * count rose 6022->7041. The file floor is kept below one split
    * here, not in the snapshot read, because these reads feed narrow
    * per-row builds (gram builds, label projections, probe joins) that
    * keep full parallelism only if the scan does; one partition would
    * serialize them into one task. At 100 TB store files are
    * split-sized and the byte term dominates — the coalesce is a no-op. */
  private[graft] def packStore(spark: SparkSession, df: DataFrame): DataFrame =
    graft.mat.VersionedTable.pack(spark, df, oneBelowSplit = false)

  /** Exact-count check: the snapshot was committed whole and is only
    * ever replaced whole (label rewrites, cell compactions). */
  def checkManifest(versionDir: String, table: String, listed: Int): Unit =
    requireManifest(versionDir, table, listed)

  /** Manifest-checked exact read of a WHOLE table snapshot: enumerate
    * the data files engine-side (throwing listings), count-validate
    * against the commit manifest, then read exactly those files
    * ([[readExact]]). This is the read posture for GUARD legs and
    * serve paths (VERDICT r15 tasks 1-2): a silently short Spark-side
    * listing in a guard leg UNDER-COUNTS the id overlap and can pass a
    * guard that must refuse — admitting a duplicate id that
    * first-observed-wins semantics then entrench; in a serve path it
    * silently returns wrong query answers. The enumeration is one
    * File.listFiles per bucket dir — microseconds against a fold or
    * probe plan build. Empty tables read as an empty frame. */
  def readChecked(spark: SparkSession, schema: StructType, cur: String,
      table: String): DataFrame = {
    val files = dirs(s"$cur/$table").flatMap(dataFiles).map(_.toString).toSeq
    requireManifest(cur, table, files.length)
    readExact(spark, schema, s"$cur/$table", files)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
  }

  // Schema memo for directory-shaped LIVE reads (r19, guide §1.2/§6):
  // `spark.read.parquet(dir)` pays footer schema inference on every
  // call (~55-65 ms measured, ConstrProbe) but a store's schema is
  // fixed at writeState time — appends, compactions and rewrites all
  // preserve it. The FIRST read of a dir infers and memoizes; later
  // reads supply the schema explicitly. The file LISTING itself stays
  // per-call fresh (spark.read lists at read time), so the manifest
  // guards still audit the live file set — only the schema re-derive
  // is skipped. Keyed by (session, dir); version-dir keys retire with
  // their snapshot, live-append dirs never change schema.
  private val dirSchemas = scala.collection.concurrent.TrieMap[
    (SparkSession, String), StructType]()

  /** Directory read with memoized schema (fresh listing every call). */
  def readLiveDir(spark: SparkSession, dir: String): DataFrame = {
    val sch = dirSchemas.getOrElseUpdate((spark, dir),
      spark.read.parquet(dir).schema)
    spark.read.schema(sch).parquet(dir)
  }

  /** Validate a directory-shaped read's OWN planned listing against
    * the commit manifest, returning the frame unchanged. `df.inputFiles`
    * reads the file index Spark built eagerly at `spark.read.parquet`
    * time — the EXACT listing the scan will consume — so this closes
    * the Spark-side short-listing window for serve/probe paths
    * (VERDICT r15 task 2) where [[readChecked]]'s explicit-file
    * enumeration would be wrong for the plan shape: partition-pruned
    * probes (wbucket/__cell/dbucket literal predicates) keep their
    * directory-shaped scan and its pruning metadata, and the check
    * costs one in-memory array length — no extra listing. `atLeast`
    * matches the store's commit mode (live-append stores may
    * legitimately exceed a stale manifest; see
    * [[checkManifestAtLeast]]). */
  def checkPlannedListing(df: DataFrame, versionDir: String, table: String,
      atLeast: Boolean = false): DataFrame = {
    val listed = df.inputFiles.length
    if (atLeast) checkManifestAtLeast(versionDir, table, listed)
    else requireManifest(versionDir, table, listed)
    df
  }

  /** Live-append check: the listing may legitimately EXCEED the
    * manifest (a crash between an in-place append and its manifest
    * update leaves extra files, which downstream tolerates — duplicate
    * key rows / re-appended cell files); only a SHORT listing is the
    * silent-truncation class this machinery refuses. */
  def checkManifestAtLeast(versionDir: String, table: String, listed: Int): Unit =
    readManifest(versionDir, table).foreach { m =>
      require(listed >= m,
        s"table '$table' at $versionDir lists $listed data files but its " +
          s"commit manifest records $m — refusing to fold against a short " +
          "directory listing (possible transient IO / external loss)")
    }

  def append(spark: SparkSession, cur: String, nextDir: String,
      table: String, bucketCol: String, deltaRows: DataFrame,
      compact: DataFrame => DataFrame, schema: StructType,
      compactAt: Int = 16): Unit = {
    // manifest check FIRST (ADVICE r13): a short listing of the live
    // table fails the fold before the expensive distributed delta write
    val curDirs = dirs(s"$cur/$table").map(f => bucketOf(f) -> f).toMap
    val curCounts = curDirs.map { case (b, d) => b -> dataFiles(d).length }
    requireManifest(cur, table, curCounts.valuesIterator.sum)
    val stage = s"$nextDir/_stage_$table"
    deltaRows.repartition(col(bucketCol))
      .write.partitionBy(bucketCol).parquet(stage)
    val tdir = new java.io.File(s"$nextDir/$table")
    java.nio.file.Files.createDirectories(tdir.toPath)
    val stageDirs = dirs(stage).map(f => bucketOf(f) -> f).toMap
    val stageCounts = stageDirs.map { case (b, d) => b -> dataFiles(d).length }
    val oversized = (curDirs.keySet ++ stageDirs.keySet).filter { b =>
      curCounts.getOrElse(b, 0) + stageCounts.getOrElse(b, 0) > compactAt
    }
    curDirs.foreach { case (b, cd) =>
      if (!oversized(b))
        SnapshotRoot.linkDirInto(cd, new java.io.File(tdir, cd.getName))
    }
    stageDirs.foreach { case (b, sd) =>
      if (!oversized(b)) {
        val dst = new java.io.File(tdir, sd.getName)
        java.nio.file.Files.createDirectories(dst.toPath)
        dataFiles(sd).foreach { f => // spark part names are unique across writes
          java.nio.file.Files.move(f.toPath, dst.toPath.resolve(f.getName))
        }
      }
    }
    if (oversized.nonEmpty) {
      compactedBuckets.add(oversized.size.toLong)
      // the compaction's input is EXACTLY the oversized buckets' files
      // from the listings already validated above ([[readExact]]) — a
      // fresh spark.read listing here silently dropped the carried
      // files once (r15 soak: the seed corpus' rows vanished from the
      // compacted bucket while every file-count manifest held, because
      // manifests audit what a commit writes, not what a rewrite reads)
      def oversizedFiles(ds: Map[Int, java.io.File]): Seq[String] =
        oversized.toSeq.sorted.flatMap(b =>
          ds.get(b).map(dataFiles(_).map(_.toString).toSeq).getOrElse(Seq.empty))
      val rows = Seq(
        BucketStore.readExact(spark, schema, s"$cur/$table", oversizedFiles(curDirs)),
        BucketStore.readExact(spark, schema, stage, oversizedFiles(stageDirs)))
        .flatten.reduce(_.unionByName(_))
      val stage2 = s"$nextDir/_compact_$table"
      compact(rows).repartition(col(bucketCol))
        .write.partitionBy(bucketCol).parquet(stage2)
      oversized.foreach { b =>
        val src = new java.io.File(s"$stage2/$bucketCol=$b")
        val dst = new java.io.File(tdir, s"$bucketCol=$b")
        if (src.isDirectory) require(src.renameTo(dst), s"rename failed: $src")
        else java.nio.file.Files.createDirectories(dst.toPath)
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage2))
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
    // post-assembly invariant: every non-compacted bucket must hold
    // exactly cur + delta files; a short listing or lost move anywhere
    // above fails the fold HERE, before the caller can flip the pointer
    val outCounts = dirs(tdir.toString)
      .map(d => bucketOf(d) -> dataFiles(d).length).toMap
    (curDirs.keySet ++ stageDirs.keySet).filterNot(oversized).foreach { b =>
      val want = curCounts.getOrElse(b, 0) + stageCounts.getOrElse(b, 0)
      require(outCounts.getOrElse(b, 0) == want,
        s"append invariant violated for '$table' $bucketCol=$b: assembled " +
          s"${outCounts.getOrElse(b, 0)} data files, expected $want " +
          s"(${curCounts.getOrElse(b, 0)} carried + ${stageCounts.getOrElse(b, 0)} delta)")
    }
    writeManifest(nextDir, table, outCounts.valuesIterator.sum)
  }

  def rewrite(cur: String, nextDir: String, table: String,
      bucketCol: String, touched: Seq[Int], rows: DataFrame): Unit = {
    // manifest check FIRST (ADVICE r13): fail before the staged write
    val curAll = dirs(s"$cur/$table")
    requireManifest(cur, table, curAll.map(dataFiles(_).length).sum)
    val stage = s"$nextDir/_stage_$table"
    rows.repartition(col(bucketCol))
      .write.partitionBy(bucketCol).parquet(stage)
    val tdir = new java.io.File(s"$nextDir/$table")
    java.nio.file.Files.createDirectories(tdir.toPath)
    touched.foreach { b =>
      val src = new java.io.File(s"$stage/$bucketCol=$b")
      val dst = new java.io.File(tdir, s"$bucketCol=$b")
      if (src.isDirectory) {
        require(src.renameTo(dst), s"rename failed: $src -> $dst")
      } else java.nio.file.Files.createDirectories(dst.toPath)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
    val carried = curAll.filter(f => !touched.contains(bucketOf(f)))
    carried.foreach(srcF => SnapshotRoot.linkDirInto(srcF,
      new java.io.File(tdir, srcF.getName)))
    // carried buckets must arrive intact; touched buckets hold whatever
    // the rewrite produced (delete+insert semantics — counts may shrink)
    val outCounts = dirs(tdir.toString)
      .map(d => bucketOf(d) -> dataFiles(d).length).toMap
    carried.foreach { srcF =>
      val b = bucketOf(srcF); val want = dataFiles(srcF).length
      require(outCounts.getOrElse(b, 0) == want,
        s"rewrite carry invariant violated for '$table' $bucketCol=$b: " +
          s"assembled ${outCounts.getOrElse(b, 0)} data files, expected $want")
    }
    writeManifest(nextDir, table, outCounts.valuesIterator.sum)
  }
}
