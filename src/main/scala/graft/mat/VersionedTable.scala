package graft.mat

import graft.ops.SnapshotRoot
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned parquet table — a rollup or baseline snapshot committed
  * through [[graft.ops.SnapshotRoot]], the engine's stand-in for a
  * transactional table format (which is what a 100 TB deployment would
  * use for its rollup/baseline caches). A writer materializes the NEXT
  * version in full and only then flips the pointer, so:
  *
  *  - a reader that resolved the pointer before the flip keeps reading
  *    the previous, complete snapshot — the reference's `mode: relaxed`
  *    stale-read-during-refresh contract
  *    (/root/reference/models/schema.yml:108, README.md:355-361);
  *  - no reader ever observes a half-written table (a plain
  *    `mode("overwrite")` deletes the directory before rewriting it —
  *    a concurrent scan mid-overwrite fails or returns partial rows).
  *
  * On top of the commit protocol this object keeps what a rollup
  * needs: the per-version relation cache, split packing and the
  * `_rowcount` stat.
  */
object VersionedTable {

  /** The live version name (e.g. "v3"), if the table exists. */
  def currentVersion(dir: String): Option[String] = SnapshotRoot.liveVersion(dir)

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

  /** Write `df` as the next version and commit it: `foldId` lands in
    * the version's fold ledger, and a `foldId` already there no-ops
    * without evaluating `df`. Cached relations of the versions the GC
    * deletes are evicted (a later destroy+rebuild could reuse a name). */
  def write(df: => DataFrame, dir: String, foldId: Option[String] = None): Unit =
    SnapshotRoot.fold(dir, foldId) { next =>
      val frame = df
      frame.write.mode("overwrite").parquet(next.dir)
      // snapshot stats, captured while the version is being produced:
      // the count-star re-read is answered from parquet footer metadata
      // (no row scan), and routing uses it to pick the CHEAPEST covering
      // rollup by actual size rather than by dimension count. Stored
      // inside the version dir ("_"-prefixed files are invisible to the
      // parquet reader), so stats flip atomically with the data.
      val rows = frame.sparkSession.read.parquet(next.dir).count()
      Files.write(Paths.get(next.dir, "_rowcount"), rows.toString.getBytes)
    }.foreach(v => relations.keys.filter(_._2 == s"$dir/$v").foreach(relations.remove))

  /** Row count of the live snapshot, if its write recorded one (tables
    * written before stats existed simply report None — routing then
    * falls back to the dimension-count proxy). */
  def rowCount(dir: String): Option[Long] =
    currentPath(dir).map(p => Paths.get(p, "_rowcount")).filter(Files.exists(_))
      .map(p => new String(Files.readAllBytes(p)).trim.toLong)

  /** Remove the table entirely (spec invalidation). Numbering restarts
    * at v1 on rebuild, so every cached relation under `dir` goes too —
    * a stale entry under a reused path would serve the OLD snapshot's
    * file index. */
  def destroy(dir: String): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    relations.keys.filter(_._2.startsWith(s"$dir/")).foreach(relations.remove)
  }
}
