package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** What a workload hands back to [[Main]]: its end-to-end numbers (from
  * untraced runs) or its per-layer numbers (traced runs) by metric name,
  * the correctness tally, and extra fields for the run record. Names
  * and units are declared in BENCHMARK.json; run.py prints exactly
  * those, so a name missing there fails the run. */
final case class Outcome(attempted: Int, failures: Seq[(String, String)],
    metrics: Map[String, Double], record: Seq[(String, String)] = Nil)

/** Run context: where the run may write, its seed and its time budget. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
    dataRoot: Path, workDir: Path, outDir: Path, startNs: Long, sessionS: Double) {
  /** The generated tables, made beforehand by [[Generate]]. */
  def data(): String = Fixture.base(spark, dataRoot)

  /** `setup_s`: process start until now. */
  def setupSeconds(): Double = (System.nanoTime() - startNs) / 1e9
}

/** Benchmark entry: `Main --workload <dashboard|ingest> --seed <n>
  * --seconds <s> --trace <0|1> --data <dir> --work <dir> --out <dir>`.
  *
  * One fresh JVM per run, `local[4]`, one client thread. The last line
  * of stdout is the result object with metric values by name; run.py
  * attaches the units from BENCHMARK.json. Everything else goes to
  * stderr or to the run record under `--out`. */
object Main {
  val cores = 4

  def session(workDir: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sqlext.GraftExtensions")
      // the same local-mode settings as the engine's own bench mains
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "8192")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()

  /** `--key value` pairs; a missing key fails the run. */
  def options(args: Array[String]): String => String = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    k => opts.getOrElse(k, sys.error(s"missing --$k"))
  }

  def main(args: Array[String]): Unit = {
    val opt = options(args)
    val workload = opt("workload")
    require(Set("dashboard", "ingest")(workload), s"unknown workload '$workload'")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    Log(f"session ready in $sessionS%.2f s")
    val ctx = Ctx(spark, seed, seconds, trace, Paths.get(opt("data")).toAbsolutePath,
      work, Paths.get(opt("out")).toAbsolutePath, t0, sessionS)
    val out =
      try workload match {
        case "dashboard" => Dashboard.run(ctx)
        case "ingest" => Ingest.run(ctx)
      } finally spark.stop()

    val failed = out.failures.size.min(out.attempted)
    out.failures.foreach { case (k, e) => System.err.println(s"[perfbench] FAILED $k: $e") }
    val metrics = Json.obj(out.metrics.toSeq.sorted.map { case (k, v) => k -> Json.num(v) })
    val record = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "trace" -> trace.toString, "attempted" -> out.attempted.toString,
      "failures" -> Json.arr(out.failures.map { case (k, e) =>
        Json.obj(Seq("shape" -> Json.str(k), "error" -> Json.str(e))) }),
      "metrics" -> metrics) ++ out.record)
    Files.createDirectories(ctx.outDir)
    Files.writeString(ctx.outDir.resolve(s"run-$workload-seed$seed-trace${if (trace) 1 else 0}.json"),
      record + "\n")
    println(Json.obj(Seq("correct" -> out.failures.isEmpty.toString,
      "attempted" -> out.attempted.toString, "failed" -> failed.toString, "metrics" -> metrics)))
  }
}

/** Generates the input tables: `Generate --data <dir> --work <dir>`.
  * run.py calls it in a JVM of its own before the first run of a build,
  * so no timed run generates tables in its process. */
object Generate {
  def main(args: Array[String]): Unit = {
    val opt = Main.options(args)
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = Main.session(work)
    spark.sparkContext.setLogLevel("ERROR")
    try Fixture.base(spark, Paths.get(opt("data")).toAbsolutePath) finally spark.stop()
  }
}
