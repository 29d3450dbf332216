package graft.tools

import graft.measure
import graft.measure.{JobCounter, JobCounts, Json}

/** Per-query profiling harness for the optimization rounds (guide §1:
  * measure first). For every registered query it records, over one
  * noop-sink run after a full warm-up sweep:
  *
  *   - wall seconds (construction + action, the bench's clock),
  *   - Spark job / stage / task counts,
  *   - shuffle read+write bytes and spill bytes (scheduler metrics),
  *   - the formatted physical plan, written to `<plansDir>/<q>_<tag>.txt`.
  *
  * Scheduling-shape numbers (jobs/stages/tasks/bytes) are contention-
  * immune, so this can run while other work shares the host; only the
  * wall column needs a quiet machine. Output: one `PROFILE_JSON` line.
  *
  * Usage: `sbt "runMain graft.tools.QueryProfile [tag] [namePrefix...]"`
  * with SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench. `tag`
  * (default "before") names the plan files; name prefixes filter the
  * profiled set (plans+metrics only — warm-up always runs everything
  * so staged artifacts exist).
  */
object QueryProfile {

  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("before")
    val prefixes = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val plansDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r18"))
    java.nio.file.Files.createDirectories(plansDir)
    val spark = measure.session(measure.envCpus)

    graft.SparkEntry.catalog(spark, sfDir)
    graft.SparkEntry.matCatalog(spark, sfDir)

    val ordered = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    val keep: String => Boolean =
      if (prefixes.isEmpty) _ => true else n => prefixes.exists(n.startsWith)
    // warm-up sweep: JIT + staged artifacts (same as Bench step 1)
    ordered.foreach { case (name, fn) =>
      try measure.sink(fn(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[profile] warmup $name failed: ${e.getMessage}") }
    }
    // min over SPARK_GRAFT_PROFILE_RUNS full fn+noop repeats (default 1;
    // scheduling-shape metrics come from the FIRST repeat only)
    val profRuns = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "1").toInt)
    val rows = ordered.filter { case (n, _) => keep(n) }.flatMap { case (name, fn) =>
      try {
        val counter = new JobCounter(spark)
        var counts = JobCounts()
        // split the bench's clock: construct (ONE fn call per repeat —
        // some fns fold state per invocation, so plan capture reuses
        // the first repeat's DataFrame), analyze+plan, then execute
        var best = Double.MaxValue
        var bc = 0.0
        var bp = 0.0
        var plan = ""
        for (r <- 1 to profRuns) {
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan // force analysis + physical planning
          val t2 = System.nanoTime()
          measure.sink(df)
          val t3 = System.nanoTime()
          val sec = (t3 - t0) / 1e9
          if (sec < best) {
            best = sec; bc = (t1 - t0) / 1e9; bp = (t2 - t1) / 1e9
          }
          if (r == 1) {
            counts = counter.take()
            counter.close()
            plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          }
        }
        java.nio.file.Files.writeString(plansDir.resolve(s"${name}_$tag.txt"), plan)
        Some((name, best, bc, bp, counts))
      } catch { case e: Throwable =>
        System.err.println(s"[profile] $name failed: ${e.getMessage}")
        None
      }
    }
    val mb = (b: Long) => f"${b / 1048576.0}%.1f"
    println("query                                sec  build   plan   jobs stages  tasks  shufR_MB shufW_MB spill_MB")
    rows.sortBy(-_._2).foreach { case (n, sec, tc, tp, a) =>
      println(f"$n%-36s ${sec}%6.3f ${tc}%6.3f ${tp}%6.3f ${a.jobs}%5d ${a.stages}%6d ${a.tasks}%6d  ${mb(a.shuffleReadBytes)}%8s ${mb(a.shuffleWriteBytes)}%8s ${mb(a.spillBytes)}%8s")
    }
    val json = Json.obj(rows.map { case (n, sec, tc, tp, a) =>
      n -> s"""{"sec":${Json.sec(sec)},"build_sec":${Json.sec(tc)},"plan_sec":${Json.sec(tp)},"jobs":${a.jobs},"stages":${a.stages},"tasks":${a.tasks},"shuf_read_mb":${mb(a.shuffleReadBytes)},"shuf_write_mb":${mb(a.shuffleWriteBytes)},"spill_mb":${mb(a.spillBytes)},"input_mb":${mb(a.inputBytes)}}"""
    })
    measure.writeArtifact(s"target/profile_$tag.json", json)
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(s"PROFILE_JSON $json")
  }
}
