package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import scala.collection.mutable

/** One query of a workload.
  *
  * @param family    the shape family, for per-family reporting
  * @param key       the question (view, grouping, measures, literals);
  *                  shapes with equal keys must return equal results
  * @param sql       issued as SQL text (its build time is `sqlext.sql`)
  * @param routed    must be answered from rollup files only
  * @param build     issues the query through the served catalog
  * @param reference the same question through the unmaterialized
  *                  catalog; None when the served path already is the
  *                  unmaterialized path, so the timed result is its own
  *                  reference
  */
final case class Shape(family: String, key: String, sql: Boolean, routed: Boolean,
    build: () => DataFrame, reference: Option[() => DataFrame])

/** Layer times and counts of one traced query. */
final case class QueryTrace(key: String, family: String, sql: Boolean, wallMs: Double,
    buildMs: Double, optimizeMs: Double, physicalMs: Double, execMs: Double,
    counts: ExecCounts, driverGapMs: Double, routedOk: Option[Boolean])

/** The closed-loop client: one thread, the next query is issued only
  * after the previous one returned its rows. Records latencies, keeps
  * every result for the correctness check, and in traced mode records
  * one span per layer around the calls into it. */
final class Client(tracer: Option[Tracer], rollupRoots: Seq[String]) {
  /** (family, ms) of every untraced query */
  val latencies = mutable.ArrayBuffer[(String, Double)]()
  val traces = mutable.ArrayBuffer[QueryTrace]()
  val results = mutable.ArrayBuffer[(Shape, Array[Row])]()
  val errors = mutable.ArrayBuffer[(String, String)]()
  var attempted = 0
  private var nextId = 0
  /** (untraced, traced) ms of every query a traced run sent both ways */
  private val pairs = mutable.ArrayBuffer[(Double, Double)]()

  /** Sends `shape` as the workload's next query: once in an untraced
    * run; in a traced run twice back to back, traced and untraced, the
    * traced one first when `tracedFirst`, so [[layers]] compares the
    * tracing overhead on the same queries. */
  def issue(shape: Shape, tracedFirst: Boolean): Unit =
    if (tracer.isEmpty) run(shape, traced = false)
    else {
      val a = run(shape, traced = tracedFirst)
      val b = run(shape, traced = !tracedFirst)
      for (x <- a; y <- b) pairs += (if (tracedFirst) (y, x) else (x, y))
    }

  /** (percentile, ms) of the untraced latencies' tail. */
  def tail: (Int, Double) = Stats.tail(latencies.map(_._2).toSeq)

  /** The end-to-end metrics of an untraced run. */
  def endToEnd(setupS: Double, queryWallS: Double, batchS: Seq[Double], heapMb: Double): Map[String, Double] = {
    val lat = latencies.map(_._2).toSeq
    Map("setup_s" -> setupS, "query_p50_ms" -> Stats.median(lat), "query_tail_ms" -> tail._2,
      "queries_per_s" -> lat.size / queryWallS, "batch_p50_s" -> Stats.median(batchS),
      "retained_heap_mb" -> heapMb)
  }

  /** Per-layer numbers of a traced run's queries, with the tracing
    * overhead: traced over untraced latency of the same queries, less 1. */
  def layers: Seq[(String, Double)] =
    Layers.of(traces.toSeq) :+
      ("trace.overhead_pct" -> 100.0 * (Stats.median(pairs.map { case (u, t) => t / u }.toSeq) - 1))

  /** Writes a traced run's spans to `path` and detaches its listener. */
  def closeTrace(path: java.nio.file.Path): Unit = tracer.foreach { t => t.write(path); t.close() }

  /** Runs one query; returns its latency in ms, or None when it failed. */
  def run(shape: Shape, traced: Boolean): Option[Double] = {
    attempted += 1
    nextId += 1
    try {
      val ms = tracer.filter(_ => traced) match {
        case None =>
          val t0 = System.nanoTime()
          val rows = shape.build().collect()
          val ms = (System.nanoTime() - t0) / 1e6
          results += ((shape, rows))
          latencies += ((shape.family, ms))
          ms
        case Some(t) =>
          val tr = traceOne(t, shape, nextId)
          traces += tr
          tr.wallMs
      }
      Some(ms)
    } catch { case e: Throwable =>
      errors += ((shape.key, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}"))
      None
    }
  }

  private def traceOne(t: Tracer, shape: Shape, qid: Int): QueryTrace = {
    t.drain()
    val q0 = t.now
    val df = t.span(if (shape.sql) "sqlext.sql" else "api.construct", "query", qid)(shape.build())
    val qe = df.queryExecution
    t.span("catalyst.optimize", "query", qid)(qe.optimizedPlan)
    t.span("catalyst.physical", "query", qid)(qe.executedPlan)
    val e0 = System.currentTimeMillis()
    val rows = t.span("exec", "query", qid)(df.collect())
    val e1 = System.currentTimeMillis()
    t.spans += Span("query", q0, t.now, "", qid)
    results += ((shape, rows))
    val counts = t.drain()
    val routedOk = if (shape.routed) Some(Probe.readsOnlyUnder(df, rollupRoots)) else None
    // the four layer spans run back to back and cover the query span
    val mine = t.spans.takeRight(5)
    val Seq(build, opt, phys, exec, wall) = mine.map(_.ms).toSeq
    QueryTrace(shape.key, shape.family, shape.sql, wall, build, opt, phys, exec,
      counts, counts.driverGapMs(e0, e1), routedOk)
  }

  /** Per traced query: its key and work counts, for the run record. */
  def countsJson: String = Json.arr(traces.toSeq.map(tr => Json.obj(Seq(
    "key" -> Json.str(tr.key), "jobs" -> tr.counts.jobs.toString,
    "stages" -> tr.counts.stages.toString, "tasks" -> tr.counts.tasks.toString,
    "input_rows" -> tr.counts.inputRows.toString))))

  /** Reference results by question key. */
  private val refs = mutable.HashMap[String, Either[String, Array[Row]]]()
  private def compute(r: () => DataFrame): Either[String, Array[Row]] =
    try Right(r().collect()) catch { case e: Throwable => Left(s"reference failed: $e") }
  private def reference(shape: Shape): Option[Either[String, Array[Row]]] =
    shape.reference.map(r => refs.getOrElseUpdate(shape.key, compute(r)))

  /** Computes the references of `shapes` now, untimed, before the timed
    * phase, on one thread per core (the references read the
    * unmaterialized catalog only); later shapes get theirs in
    * [[verify]]. */
  def prepare(shapes: Seq[Shape]): Unit = {
    val todo = shapes.filter(s => s.reference.isDefined && !refs.contains(s.key)).distinctBy(_.key)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.cores)
    try todo.map(s => s.key -> pool.submit(() => compute(s.reference.get)))
      .foreach { case (k, f) => refs(k) = f.get() }
    finally pool.shutdown()
  }

  /** Correctness: every result against its shape's reference, and every
    * routed shape's plan against the rollup dirs. Returns failures as
    * (shape key, error). */
  def verify(): Seq[(String, String)] = {
    val bad = mutable.ArrayBuffer[(String, String)]()
    // a result served by the unmaterialized path is the reference for
    // every shape that asks the same question (same key)
    results.foreach { case (shape, rows) =>
      if (shape.reference.isEmpty && !refs.contains(shape.key)) refs(shape.key) = Right(rows)
    }
    results.foreach { case (shape, rows) =>
      reference(shape).orElse(refs.get(shape.key)).foreach {
        case Left(err) => bad += ((shape.key, err))
        case Right(w) => Compare.diff(rows.toSeq, w.toSeq).foreach(d => bad += ((shape.key, d)))
      }
    }
    results.map(_._1).filter(_.routed).distinctBy(_.key).foreach { shape =>
      if (!Probe.readsOnlyUnder(shape.build(), rollupRoots))
        bad += ((shape.key, "routed shape read files outside its rollup dirs"))
    }
    traces.filter(_.routedOk.contains(false)).foreach(tr =>
      bad += ((tr.key, "traced routed query read files outside its rollup dirs")))
    bad.toSeq
  }
}

/** Per-layer numbers of the traced queries of a run. */
object Layers {
  def of(traces: Seq[QueryTrace]): Seq[(String, Double)] = {
    def med(f: QueryTrace => Double, sel: QueryTrace => Boolean = _ => true) = {
      val xs = traces.filter(sel).map(f)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def mean(f: QueryTrace => Double) =
      if (traces.isEmpty) 0.0 else traces.map(f).sum / traces.size
    val eligible = traces.filter(_.routedOk.isDefined)
    Seq(
      "api.construct_ms" -> med(_.buildMs, !_.sql),
      "sqlext.sql_ms" -> med(_.buildMs, _.sql),
      "catalyst.optimize_ms" -> med(_.optimizeMs),
      "catalyst.physical_ms" -> med(_.physicalMs),
      "exec.ms" -> med(_.execMs),
      "exec.jobs" -> mean(_.counts.jobs.toDouble),
      "exec.stages" -> mean(_.counts.stages.toDouble),
      "exec.tasks" -> mean(_.counts.tasks.toDouble),
      "exec.driver_gap_ms" -> med(_.driverGapMs),
      "exec.task_busy_ms" -> med(_.counts.taskBusyMs),
      "exec.input_mb" -> mean(_.counts.inputBytes / 1e6),
      "exec.input_rows" -> mean(_.counts.inputRows.toDouble),
      "exec.shuffle_mb" -> mean(_.counts.shuffleBytes / 1e6),
      "exec.spill_mb" -> mean(_.counts.spillBytes / 1e6),
      "mat.routed_ratio" ->
        (if (eligible.isEmpty) 0.0 else eligible.count(_.routedOk.contains(true)).toDouble / eligible.size))
  }
}
