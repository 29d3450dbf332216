package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measurement core shared by every main (Bench, Verify, ScaleBench,
  * RoutingBench, the tools) and by the test harness: the one session
  * factory, the timing statistics, [[measure.JobCounter]] and
  * [[measure.Json]]. */
package object measure {

  /** Generated-class cache size. The 100-entry default holds far fewer
    * codegen units than a 136-query library cycles per sweep, so every
    * query re-Janino-compiled its stages on every run (~30% of suite
    * time, 134.5 -> 95.7 s at sf0.1). Not a local-mode knob: executors
    * pay the same compile on a cluster that runs a query library larger
    * than the default cache. ~5k classes x ~10-50 KB bytecode is a
    * bounded metaspace cost. */
  val CodegenCacheEntries = 5000

  /** Worker threads for a main: `SPARK_GRAFT_CPUS`, else 32. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.toInt)

  /** The only session builder: `local[cpus]` with as many shuffle
    * partitions, the engine's SQL extensions, UTC, nanosecond parquet
    * timestamps read as longs, and the warehouse under `target/`. */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sqlext.GraftExtensions")
      // local-mode knob: fixture files are ~10-30 MB, so the 128 MB
      // default gives one scan task per table and idles the other
      // cores; 8 MB splits restore scan parallelism. (On a real
      // cluster with TB-scale tables the default is correct.)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      // explicit-file reads (BucketStore.readExact/readChecked) pass
      // per-file root paths; above the default threshold (32) Spark
      // spawns a distributed listing JOB per read -- pure scheduler
      // overhead on a local FS (measured 2.6x on
      // q_passage_dedup_incremental). Against object storage on a
      // cluster the distributed listing is right.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "8192")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Paths.get("target", "spark-warehouse").toAbsolutePath.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `df` to completion through the `noop` sink. `count()` would
    * let column pruning skip most computed columns, under-measuring
    * real work. */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Wall seconds `f` takes. */
  def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Minimum wall seconds over `n` >= 1 runs of `f`. */
  def minOf(n: Int)(f: => Unit): Double = (1 to n).map(_ => seconds(f)).min

  /** Median, averaging the two middle values of an even-sized sample;
    * -1 (the artifacts' "no reading") when empty. */
  def median(v: Seq[Double]): Double = {
    val s = v.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Writes `json` plus a newline to `path`, creating parent dirs: the
    * artifact survives stdout truncation. */
  def writeArtifact(path: String, json: String): Unit = {
    val out = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(out.toAbsolutePath.getParent)
    java.nio.file.Files.writeString(out, json + "\n")
  }
}
