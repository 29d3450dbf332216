package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import scala.collection.mutable

/** Order statistics used by every workload. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile that still leaves at least ten samples above
    * it: with n samples that is the (n−10)/n quantile, floored to a whole
    * percent. Returns (percentile, value); needs n ≥ 11. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    require(xs.size >= 11, s"tail percentile needs ≥11 samples, got ${xs.size}")
    val p = math.floor(100.0 * (xs.size - 10) / xs.size).toInt
    // the nearest-rank value at p leaves ≥10 samples strictly above it
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.size).toInt)
    (p, s(rank - 1))
  }
}

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}

/** A closed interval of wall time, in nanoseconds since process start. */
final case class Span(name: String, start: Long, end: Long, parent: String, queryId: Int) {
  def ms: Double = (end - start) / 1e6
}

/** Work counters for one query or batch, gathered by [[ExecListener]]. */
final class ExecCounts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskBusyMs = 0.0
  var inputBytes = 0L; var inputRows = 0L
  var shuffleBytes = 0L; var spillBytes = 0L; var outputBytes = 0L
  /** (submission, completion) wall-clock millis of every finished stage */
  val stageWindows = mutable.ArrayBuffer[(Long, Long)]()

  /** Milliseconds of [fromMs, toMs] during which no stage was running:
    * scheduler, driver and planning time inside the execution span. */
  def driverGapMs(fromMs: Long, toMs: Long): Double = {
    val clipped = stageWindows.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (toMs - fromMs) - covered).toDouble
  }
}

/** Bench-owned listener: counts jobs, stages, tasks and bytes into the
  * current [[ExecCounts]]. Callers drain the listener bus
  * ([[GraftBridge.drainListenerBus]]) before reading, so the counts are
  * complete and repeat exactly for the same work. */
final class ExecListener extends SparkListener {
  @volatile private var current = new ExecCounts
  def reset(): ExecCounts = synchronized { val c = current; current = new ExecCounts; c }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { current.jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    current.stages += 1
    for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
      current.stageWindows += ((s, c))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    current.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      current.taskBusyMs += m.executorRunTime
      current.inputBytes += m.inputMetrics.bytesRead
      current.inputRows += m.inputMetrics.recordsRead
      current.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      current.spillBytes += m.diskBytesSpilled
      current.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** In-memory span store plus the listener, for one traced run. Spans
  * are written out once, when the run ends. */
final class Tracer(spark: SparkSession) {
  val listener = new ExecListener
  spark.sparkContext.addSparkListener(listener)
  val spans = mutable.ArrayBuffer[Span]()
  private val t0 = System.nanoTime()

  def now: Long = System.nanoTime() - t0
  def span[T](name: String, parent: String, queryId: Int)(f: => T): T = {
    val s = now
    try f finally spans += Span(name, s, now, parent, queryId)
  }
  /** Deterministic: every queued listener event is delivered on return. */
  def drain(): ExecCounts = { GraftBridge.drainListenerBus(spark); listener.reset() }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map(s => Json.obj(Seq("name" -> Json.str(s.name),
      "start_ns" -> s.start.toString, "end_ns" -> s.end.toString,
      "parent" -> Json.str(s.parent), "query" -> s.queryId.toString)))
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

/** Result equality: decimals exactly, doubles within a relative 1e-9,
  * everything else by value; rows are matched after sorting on the
  * exact-typed columns, so row order never matters. */
object Compare {
  private def exactKey(r: Row): String =
    r.toSeq.map {
      case _: Double | _: Float | _: java.math.BigDecimal => "~"
      case null => "null"
      case v => v.toString
    }.mkString("\u0001")

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || x == y ||
        math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: Float, y: Float) => same(x.toDouble, y.toDouble)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case (x: Row, y: Row) => x.length == y.length && (0 until x.length).forall(i => same(x.get(i), y.get(i)))
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
    case (x: scala.collection.Map[_, _], y: scala.collection.Map[_, _]) =>
      x.size == y.size && x.forall { case (k, v) => y.asInstanceOf[scala.collection.Map[Any, Any]].get(k).exists(same(v, _)) }
    case (x, y) => x == y
  }

  /** None when equal, else a one-line description of the first difference. */
  def diff(got: Seq[Row], want: Seq[Row]): Option[String] = {
    if (got.size != want.size) return Some(s"${got.size} rows, expected ${want.size}")
    val g = got.sortBy(exactKey); val w = want.sortBy(exactKey)
    g.zip(w).find { case (x, y) => !same(x, y) }.map { case (x, y) => s"row $x, expected $y" }
  }
}

/** Progress lines on stderr, with seconds since the JVM started. */
object Log {
  private val start = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - start) / 1e3}%8.2f s  $msg")
}

/** Process-level probes. */
object Probe {
  /** Used heap after a forced collection, in MB. Several collections
    * settle weak/soft references and finalizable objects. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Files a DataFrame reads, all under one of `roots`? */
  def readsOnlyUnder(df: DataFrame, roots: Seq[String]): Boolean = {
    val files = df.inputFiles.toSeq
    files.nonEmpty && files.forall(f => roots.exists(r => f.contains(r)))
  }
}
