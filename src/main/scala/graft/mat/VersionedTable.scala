package graft.mat

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Versioned parquet table with an atomically-flipped current-version
  * pointer — the engine's stand-in for a transactional table format
  * (which is what a 100 TB deployment would use for its rollup/baseline
  * caches).
  *
  * Layout: `<dir>/v<N>/` complete parquet snapshots plus `<dir>/_current`
  * containing the live version name. A writer materializes the NEXT
  * version directory in full and only then flips `_current` with an
  * atomic rename, so:
  *
  *  - a reader that resolved the pointer before the flip keeps reading
  *    the previous, complete snapshot — the reference's `mode: relaxed`
  *    stale-read-during-refresh contract
  *    (/root/reference/models/schema.yml:108, README.md:355-361);
  *  - no reader ever observes a half-written table (a plain
  *    `mode("overwrite")` deletes the directory before rewriting it —
  *    a concurrent scan mid-overwrite fails or returns partial rows).
  *
  * Old versions are garbage-collected on write, keeping one previous
  * snapshot for in-flight readers.
  */
object VersionedTable {

  private def pointer(dir: String): Path = Paths.get(dir, "_current")

  /** The live version name (e.g. "v3"), if the table exists. */
  def currentVersion(dir: String): Option[String] =
    if (Files.exists(pointer(dir)))
      Some(new String(Files.readAllBytes(pointer(dir))).trim)
    else None

  def exists(dir: String): Boolean = currentVersion(dir).isDefined

  /** Absolute path of the live snapshot. */
  def currentPath(dir: String): Option[String] =
    currentVersion(dir).map(v => s"$dir/$v")

  // Relation cache keyed by the RESOLVED version path (r19): a version
  // directory is immutable once the pointer flips to it (writers only
  // create new versions; GC only removes superseded ones), so its
  // schema + file index never change while it is the current snapshot.
  // `spark.read.parquet`'s footer inference + listing cost ~55-65 ms
  // per call (ConstrProbe) and routed queries resolve several rollups
  // per construction. A refresh flips the pointer to a NEW path —
  // a different cache key — so staleness is impossible by construction.
  // The same immutability lets the split count be computed once here.
  private val relations = scala.collection.concurrent.TrieMap[
    (SparkSession, String), DataFrame]()

  /** Read the live snapshot, packed to its byte-derived split count
    * ([[pack]]). The returned plan is pinned to the version directory it
    * resolved — a concurrent write + pointer flip does not disturb it.
    *
    * A snapshot that fits in one split — a rollup, or a fixture-scale
    * baseline of a few files — reads as ONE partition: `coalesce(1)`'s
    * `SinglePartition` output already satisfies any aggregate's or
    * window's distribution, EnsureRequirements adds no Exchange, and a
    * routed re-aggregation, a DISTINCT over the baseline or a window
    * over it runs inside the scan's single task — one job instead of a
    * map stage, a shuffle and a reduce stage. Larger snapshots keep
    * their byte split count, floored at one task per file up to the
    * parallelism. Filters still reach the scan: predicate pushdown
    * moves a Filter below the coalesce's Repartition, so data and
    * partition filters land on the scan unchanged. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val p = currentPath(dir).getOrElse(
      sys.error(s"versioned table at $dir has no current version"))
    relations.getOrElseUpdate((spark, p), pack(spark, spark.read.parquet(p)))
  }

  /** Pack a whole-directory file read into a split count derived from
    * its bytes: ONE partition when the files fit in one split
    * (`ceil(bytes / maxPartitionBytes) <= 1`), else
    * `max(ceil(bytes / maxPartitionBytes), min(files, parallelism))` —
    * a no-op once files are split-sized, and at most `parallelism`
    * tasks for many small files. The one-split case drops the file
    * floor because it made every multi-file sub-split baseline read as
    * several partitions, so each aggregate or window above it planned
    * an Exchange that AQE ran as 2-3 jobs. Above one split the floor
    * stays, so a snapshot of many files keeps a task per file up to the
    * parallelism. Callers whose consumers are narrow per-row builds pass
    * `oneBelowSplit = false` to keep the file floor below one split too
    * (see [[graft.ops.BucketStore.packStore]]). Predicates above the
    * result still push to the scan (pinned by VersionedTableSpec), so
    * pruned reads may pack too. */
  private[graft] def pack(spark: SparkSession, df: DataFrame,
      oneBelowSplit: Boolean = true): DataFrame = {
    val files = df.inputFiles
    if (files.isEmpty) df
    else {
      val targetSplit = math.max(1L,
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")))
      val totalBytes = files.map(f =>
        new java.io.File(new java.net.URI(f).getPath).length()).sum
      val splits = (totalBytes + targetSplit - 1) / targetSplit
      val n =
        if (oneBelowSplit && splits <= 1) 1L
        else math.max(splits, math.min(files.length.toLong,
          spark.sparkContext.defaultParallelism.toLong))
      df.coalesce(math.max(1, n.toInt))
    }
  }

  /** Write `df` as the next version and atomically flip the pointer. */
  def write(df: DataFrame, dir: String, extras: Map[String, String] = Map.empty): Unit = {
    Files.createDirectories(Paths.get(dir))
    val curN = currentVersion(dir).map(versionNumber).getOrElse(0L)
    val next = s"v${curN + 1}"
    df.write.mode("overwrite").parquet(s"$dir/$next")
    // caller metadata ("_"-prefixed, invisible to the parquet reader)
    // lands INSIDE the version dir before the flip — atomic with the
    // data, the DriftStore ledger pattern (e.g. applied-fold ledgers)
    extras.foreach { case (name, content) =>
      require(name.startsWith("_"), s"extra file '$name' must be _-prefixed")
      Files.write(Paths.get(dir, next, name), content.getBytes)
    }
    // snapshot stats, captured while the version is being produced: the
    // count-star re-read is answered from parquet footer metadata (no
    // row scan), and routing uses it to pick the CHEAPEST covering
    // rollup by actual size rather than by dimension count. Stored
    // inside the version dir ("_"-prefixed files are invisible to the
    // parquet reader), so stats flip atomically with the data.
    val rows = df.sparkSession.read.parquet(s"$dir/$next").count()
    Files.write(Paths.get(dir, next, "_rowcount"), rows.toString.getBytes)
    val tmp = Paths.get(dir, "_current.tmp")
    Files.write(tmp, next.getBytes)
    Files.move(tmp, pointer(dir),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // GC: drop snapshots older than the one just superseded (that one
    // stays for readers that resolved the pointer before the flip)
    listVersions(dir).filter(versionNumber(_) < curN)
      .foreach { v =>
        deleteRecursively(Paths.get(dir, v))
        evict(s"$dir/$v") // a later destroy+rebuild could reuse the name
      }
  }

  /** Drop cached relations for a version path that no longer exists —
    * destroy+rebuild restarts numbering at v1, so a stale entry under a
    * reused path would serve the OLD snapshot's file index. */
  private def evict(pathPrefix: String): Unit =
    relations.keys.filter(_._2.startsWith(pathPrefix))
      .foreach(relations.remove)

  /** Row count of the live snapshot, if its write recorded one (tables
    * written before stats existed simply report None — routing then
    * falls back to the dimension-count proxy). */
  def rowCount(dir: String): Option[Long] =
    currentPath(dir).map(p => Paths.get(p, "_rowcount")).filter(Files.exists(_))
      .map(p => new String(Files.readAllBytes(p)).trim.toLong)

  /** Remove the table entirely (spec invalidation). */
  def destroy(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) deleteRecursively(p)
    evict(s"$dir/") // numbering restarts at v1 on rebuild
  }

  private def versionNumber(v: String): Long = v.drop(1).toLong

  private def listVersions(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Nil
    else Files.list(p).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.matches("v\\d+")).toSeq
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.toSeq.foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
