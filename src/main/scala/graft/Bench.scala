package graft

import graft.measure.{JobCounter, Json}
import scala.collection.mutable

/** Bench main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Queries are evaluated through the `noop` sink ([[measure.sink]]).
  * Materializations are built once before timing (the analogue of the
  * reference's offline pipeline refresh — routed queries are *supposed*
  * to show the routed speed, README.md:424-431).
  *
  * == Measurement protocol (r12, VERDICT r11 tasks 1/5) ==
  *  1. WARM-UP sweep: every query runs once, untimed. This pays JIT,
  *     code-cache and scan-cache warmup AND builds every once-per-JVM
  *     staged artifact (band indexes, label stores, span/bm25/segment
  *     state, stream feeds).
  *  2. TIMED sweeps: 5 interleaved sweeps (A B C … ×5) — every query
  *     gets ≥5 samples; `queries` reports the min, `medians` the
  *     median, `runs` every sample in sweep order. Interleaving keeps
  *     repeats of one query ~a full sweep apart, so a host-contention
  *     spike shorter than a sweep cannot set the recorded number.
  *     For queries that consume a staged artifact, these samples are
  *     the SERVING cost (probe / replay of the maintained store) —
  *     the deployed recurring shape.
  *  3. DEDICATED STAGE PASS: the staging pipelines themselves (state
  *     builds + incremental folds — the one-time and per-delta costs
  *     the serving numbers amortize) are re-measured in isolation:
  *     staging is cleared and rebuilt SPARK_GRAFT_STAGE_RUNS (≥5)
  *     times per stage-owning query; `stages` reports per-stage
  *     MEDIANS, `stages_min` the per-stage MIN (the band-gate
  *     statistic, SCALE.md r17), `stage_runs` every rep. r11 reported
  *     n=1 stage splits sampled inside a contended full sweep, which is
  *     how the spans fold's 2× regression hid behind ambient drift.
  */
object Bench {

  /** Self-evaluating band gate (r17; limits from [[BandBudgets]] since
    * r18 — one structure both enforced and printed, VERDICT r17
    * task 4): the budgets applied to `stages_min`, so the artifact
    * declares its own verdict instead of leaving the arithmetic to a
    * reader. Triples are [reading, limit, pass]. The bm25 fold band
    * additionally requires ZERO bucket compactions in every rep
    * (ADVICE r17: `all_pass` used to check only the timings, so it
    * could mask a compaction regression that invalidates the fold
    * reading) — emitted as its own [total, 0, pass] triple. */
  private[graft] def evalBands(
      stageMins: Seq[(String, Seq[(String, Double)])],
      counters: Map[String, Map[String, Vector[Long]]]): String = {
    def minOf(q: String, st: String): Option[Double] =
      stageMins.collectFirst { case (`q`, ss) => ss }.flatMap(
        _.collectFirst { case (`st`, v) if v >= 0 => v })
    val parts = BandBudgets.stageBands.map { b =>
      minOf(b.query, b.stage)
        .map(v => s""""${b.name}":[${f"$v%.3f"},${b.limit},${v <= b.limit}]""")
        .getOrElse(s""""${b.name}":null""") // a missing stage FAILS all_pass
    }
    val comp = counters.get(BandBudgets.bm25CompactionQuery)
      .flatMap(_.get(BandBudgets.bm25CompactionCounter))
    val compJson = comp
      .map(v => s""""bm25_zero_compactions":[${v.sum},0,${v.forall(_ == 0L)}]""")
      .getOrElse(""""bm25_zero_compactions":null""")
    val allPass = BandBudgets.stageBands.forall(b =>
      minOf(b.query, b.stage).exists(_ <= b.limit)) &&
      comp.exists(_.forall(_ == 0L))
    s"""{${(parts :+ compJson).mkString(",")},"all_pass":$allPass}"""
  }

  /** A query's failure message as the artifact's `errors` value: one
    * JSON string of at most 200 characters. */
  private[graft] def errorJson(msg: String): String = Json.str(msg, max = 200)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = measure.session(measure.envCpus)

    // untimed setup: catalog registration + rollup/baseline build
    SparkEntry.catalog(spark, sfDir)
    SparkEntry.matCatalog(spark, sfDir)

    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt)
    val stageRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_STAGE_RUNS", "5").toInt)

    // staged-artifact dependents run right after the query that owns
    // the staging cost, so the owner's warm-up run (not the
    // dependent's) pays the pipeline: q_curation and q_train_export
    // reuse q_dedup_clusters' staged labels via the batch manifest,
    // and alphabetically they would run first. An unknown owner fails
    // loudly (ADVICE r9).
    val runAfterOwner = Map(
      "q_curation" -> "q_dedup_manifest",
      "q_train_export" -> "q_dedup_manifest")
    runAfterOwner.foreach { case (dep, owner) =>
      require(SparkEntry.queries.contains(owner) && SparkEntry.queries.contains(dep),
        s"bench order: unknown query in dependency $dep -> $owner") }
    val byName = SparkEntry.queries.toSeq.sortBy(_._1)
    val ordered = byName.filterNot { case (n, _) => runAfterOwner.contains(n) }
      .flatMap { case e @ (n, _) =>
        e +: byName.filter { case (d, _) => runAfterOwner.get(d).contains(n) } }

    // failed runs never participate in the min/median (ADVICE r3); a
    // query with zero successful runs reports -1 and lands in "errors"
    val lastErr = mutable.LinkedHashMap[String, String]()
    val times = mutable.LinkedHashMap[String, Vector[Double]]()
    ordered.foreach { case (name, _) => times(name) = Vector.empty }
    def runOne(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        record: Boolean): Unit =
      try {
        val t = measure.seconds(measure.sink(fn(spark, sfDir)))
        if (record) times(name) = times(name) :+ t
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        lastErr(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    // 1. warm-up (untimed; builds every staged artifact)
    ordered.foreach { case (name, fn) => runOne(name, fn, record = false) }

    // stage-owning = wrote a stageTimings entry during warm-up
    val stageOwners = ordered.filter { case (n, _) =>
      ExtQueries.stageTimings.contains(n) }

    // 2. timed interleaved sweeps. Sweep 1 additionally records each
    // query's SCHEDULING SHAPE — Spark job and task counts — for the
    // artifact's scaling block (VERDICT r18 task 2: per-query 8c/32c
    // wall ratios read ≈1 at sf0.1 because every query is floor-
    // dominated; task counts let the driver separate task-parallel
    // queries from driver-bound ones without a second SF). Counts are
    // read AFTER the clock stops (JobCounter.take drains the bus), so
    // nothing rides the recorded seconds; later sweeps run exactly as
    // before.
    val nJobs = mutable.LinkedHashMap[String, Long]()
    val nTasks = mutable.LinkedHashMap[String, Long]()
    val shape = new JobCounter(spark)
    for (r <- 1 to runs) {
      for ((name, fn) <- ordered) {
        runOne(name, fn, record = true)
        if (r == 1) {
          val c = shape.take()
          nJobs(name) = c.jobs
          nTasks(name) = c.tasks
        }
      }
      if (r == 1) shape.close()
    }

    // 3. dedicated stage pass: per rep, clear staging and re-run every
    // stage-owning query so its build records fresh per-stage clocks.
    // Counters (counts, not seconds) are collected apart from the stage
    // durations so artifact consumers never misread a count as seconds.
    val stageSamples = mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, Vector[Double]]]()
    val counterSamples = mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, Vector[Long]]]()
    def append[T](into: mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, Vector[T]]],
        name: String, readings: Seq[(String, T)]): Unit = {
      val per = into.getOrElseUpdate(name, mutable.LinkedHashMap())
      readings.foreach { case (k, v) => per(k) = per.getOrElse(k, Vector.empty) :+ v }
    }
    for (_ <- 1 to stageRuns) {
      Staging.clear()
      ExtQueries.stageTimings.clear()
      ExtQueries.stageCounters.clear()
      stageOwners.foreach { case (name, fn) =>
        try {
          measure.sink(fn(spark, sfDir))
          ExtQueries.stageTimings.get(name).foreach(append(stageSamples, name, _))
          ExtQueries.stageCounters.get(name).foreach(append(counterSamples, name, _))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] stage pass $name failed: ${e.getMessage}")
        }
      }
    }

    val results = times.toSeq.map { case (k, ts) =>
      (k, if (ts.isEmpty) -1.0 else ts.min)
    }
    val qs = Json.obj(results.map { case (k, v) => k -> v.toString })
    val medians = Json.obj(times.map { case (k, ts) => k -> f"${measure.median(ts)}%.4f" })
    val runsJson = Json.series(times)
    // a query that failed in one sweep but succeeded in another is a
    // transient flake, not a hard failure — "errors" lists only queries
    // with ZERO successful runs; flakes are visible as a short "runs"
    // array (ADVICE r4)
    val hardErrs = lastErr.filter { case (k, _) => times(k).isEmpty }
    val errs = Json.obj(hardErrs.map { case (k, v) => k -> errorJson(v) })
    val total = results.map(_._2).filter(_ >= 0).sum
    // the reference's headline claim (README.md:424-431, "10-100x for
    // common aggregation patterns"), MEASURED (VERDICT r6 task 1):
    // same query, plain catalog (full expansion) vs materialized
    // catalog (5-row rollup scan), on an orders table replicated R=512x
    // (~77M rows / ~1.1GB parquet at sf0.1) so the fact-scan side has
    // real work to skip.
    val routing =
      try Some(RoutingBench.measure(spark, sfDir,
        sys.env.get("SPARK_GRAFT_ROUTING_REPLICAS").fold(RoutingBench.DefaultReplicas)(_.toInt)))
      catch { case e: Throwable =>
        System.err.println(s"[bench] routing bench failed: ${e.getMessage}"); None }
    // per-run samples for BOTH sides (VERDICT r14 task 4) plus the
    // medians (VERDICT r16 task 4): the band, not just the min, is the
    // artifact — the unrouted min-of-3 swung the headline 16×→33×
    // between rounds on host load alone, and the median is the
    // spread-robust second statistic for bursty hosts
    val routingJson = routing.map(r =>
      f""","routing_speedup":${r.speedup}%.2f,"routing":${Json.obj(r.fields)}""")
      .getOrElse(""","routing_speedup":-1""")

    // per-stage MEDIANS from the dedicated pass (backward-compatible
    // scalar shape), with every rep alongside
    val sortedSamples = stageSamples.toSeq.sortBy(_._1)
    val stageMedians: Seq[(String, Seq[(String, Double)])] =
      sortedSamples.map { case (q, ss) =>
        q -> ss.toSeq.map { case (st, v) => st -> measure.median(v) } }
    // per-stage MIN over the dedicated reps — the band-gate statistic
    // (r17): stage timings are lower-bounded, so host contention only
    // ever ADDS time, and the r17 run showed minutes-long bursts INSIDE
    // reps that boundary witnesses read right through (rep 5 ran
    // 2.2x slow on every substage incl. trivial ones while its control
    // read 0.987). Each rep is a complete fresh rebuild, so the min is
    // a valid full measurement of the op — the same policy as the
    // suite's min-of-5 — while staying exactly as sensitive to a real
    // regression, which elevates every rep including the quietest.
    val stageMins: Seq[(String, Seq[(String, Double)])] =
      sortedSamples.map { case (q, ss) =>
        q -> ss.toSeq.map { case (st, v) =>
          st -> (if (v.isEmpty) -1.0 else v.min) } }
    def renderStages(src: Seq[(String, Seq[(String, Double)])]): String =
      Json.obj(src.map { case (q, ss) => q -> Json.obj(ss.map { case (k, v) => k -> Json.sec(v) }) })
    val stages = renderStages(stageMedians)
    val stagesMin = renderStages(stageMins)
    val stageRunsJson = Json.obj(sortedSamples.map { case (q, ss) =>
      q -> Json.series(ss, Json.sec) })
    // counts live under their own field, NOT in the seconds-typed
    // stages map (ADVICE r14) — every rep's value, they're tiny
    val sortedCounters = counterSamples.toSeq.sortBy(_._1)
    def renderCounters(src: Seq[(String, mutable.LinkedHashMap[String, Vector[Long]])]) =
      Json.obj(src.map { case (q, cs) => q -> Json.series(cs) })
    val countersJson = renderCounters(sortedCounters)

    // Self-evaluating band gate (r17; see evalBands — budgets live in
    // BandBudgets, the one structure enforced AND printed). Only
    // meaningful at the SF the bands were measured at (sf0.1); other
    // SFs emit null.
    val bandsJson = if (!sfDir.contains("sf0.1")) "null" else
      evalBands(stageMins,
        counterSamples.map { case (q, cs) => q -> cs.toMap }.toMap)
    // per-query scheduling shape from sweep 1 (VERDICT r18 task 2) —
    // ADDITIVE fields; the existing queries/medians/runs maps are
    // untouched so PERF keeps its per-query round-over-round table
    val nJobsJson = Json.obj(nJobs.map { case (k, v) => k -> v.toString })
    val nTasksJson = Json.obj(nTasks.map { case (k, v) => k -> v.toString })
    val sf = Json.str(sfDir)
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"medians":$medians,"runs":$runsJson,"n_jobs":$nJobsJson,"n_tasks":$nTasksJson,"errors":$errs$routingJson,"stages":$stages,"stages_min":$stagesMin,"stage_runs":$stageRunsJson,"counters":$countersJson,"bands":$bandsJson,"sf":$sf}"""
    // the artifact must survive stdout truncation (BENCH_r05 lost its
    // tail once the per-run arrays made the line long) — also write it
    // to a file so the full queries/runs/errors maps are recoverable
    measure.writeArtifact("target/bench_result.json", json)

    // compact summary as the FINAL line (r14, VERDICT r13 task 2): the
    // full line outgrew the driver's 2000-char tail window at 135
    // queries. This line carries the headline numbers (total,
    // query/error counts, routing with both sides' bands and medians,
    // the BUDGET-PINNED stage medians and mins, counters) — the
    // complete maps stay in the full line above and in
    // target/bench_result.json.
    // Stages are CAPPED to the budget-pinned queries (ADVICE r14) —
    // the pinned set is exactly what the round contract audits: spans
    // fold ≤6s, clusters fold ≤4s, bm25 write<15/fold<10, stream_fold
    // band (SCALE.md).
    val pinned = Set("q_dup_spans_incremental", "q_dedup_clusters_incremental",
      "q_bm25_incremental", "q_stream_curation")
    // the band-checked stage keys — the minimum the summary must carry
    val bandStages = Map(
      "q_dup_spans_incremental" -> Set("fold"),
      "q_dedup_clusters_incremental" -> Set("fold"),
      "q_bm25_incremental" -> Set("write_state", "fold"),
      "q_stream_curation" -> Set("stream_fold"))
    def onlyBand(src: Seq[(String, Seq[(String, Double)])]) =
      src.flatMap { case (q, ss) =>
        bandStages.get(q).map(ks =>
          q -> ss.filter { case (k, _) => ks(k) })
      }.filter(_._2.nonEmpty)
    val pinnedCounters = renderCounters(sortedCounters.filter { case (q, _) => pinned(q) })
    // the band-gate statistic always rides the summary: min over reps
    // for the band stages (SCALE.md r17 band rule)
    val minBand = renderStages(onlyBand(stageMins))
    def summaryWith(st: String, ct: String) =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_errors":${hardErrs.size}$routingJson,"stages":$st,"stages_min":$minBand,"counters":$ct,"bands":$bandsJson,"sf":$sf,"detail":"target/bench_result.json"}"""
    // degradation ladder, most→least informative, first fit ≤1600 of
    // the driver's 2000-char tail window (r17: the r16 summary fit
    // 1800 but an 800-char post-summary WARN evicted its head — the
    // log-level clamp below is the real fix; the smaller cap is slack.
    // ADVICE r17: the cap now matches this comment — 1900 left only
    // 100 chars of slack, smaller than the WARN that already failed)
    val candidates = Seq(
      summaryWith(renderStages(stageMedians.filter { case (q, _) => pinned(q) }), pinnedCounters),
      summaryWith(renderStages(onlyBand(stageMedians)), pinnedCounters),
      summaryWith(renderStages(onlyBand(stageMedians)), "{}"),
      summaryWith("{}", "{}"))
    val summary = candidates.find(_.length <= 1600).getOrElse(candidates.last)
    if (summary != candidates.head)
      System.err.println(s"[bench] summary degraded to ${summary.length} chars " +
        "(full maps remain in the long line and target/bench_result.json)")

    // the JSON lines are the LAST stdout acts, after all Spark activity
    // is quiesced: r12 lost the tail to a listener-bus stack trace;
    // r16 lost the summary's HEAD to a StateStore maintenance WARN
    // logged AFTER the summary at JVM shutdown (VERDICT r16 task 2).
    // Root level ERROR silences late maintenance/shutdown threads that
    // outlive spark.stop(); stop() quiesces everything stoppable.
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(json)
    println(summary)
    System.out.flush()
  }
}
