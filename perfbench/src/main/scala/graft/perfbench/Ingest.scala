package graft.perfbench

import graft.api.MetricViewCatalog
import graft.ops.DriftStore
import graft.streaming.Folds
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `ingest`: live corpus metrics and state folds beside reads.
  *
  * The corpus metric view `mv_corpus` is registered with a streaming
  * source over a feed dir, so `refresh` drains new files through the
  * engine's incremental path ([[graft.streaming.IncrementalMaterializer]]:
  * partial merge, versioned flip). The daemon's drift-profile family
  * folds each arrival through its public `applyDelta` with the daemon's
  * content-derived fold id. The seed corpus is a quarter of the
  * documents; the rest arrives as `batches` files split by a hash of
  * (doc_id, seed). After each batch the client sends a fixed burst
  * of MEASURE() reads against the live rollup plus `graft_daemon_status`,
  * so every fold flips rollup versions under the readers: a cache that
  * over-invalidates or serves stale data shows here.
  *
  * The full nine-family `ContinuousIngest.run` is not driven: on a
  * 4-core host its cold first microbatch alone takes ~55 s and its
  * offline set-up ~50 s, more than a run can spend. The run length is
  * set by the fixed work (batches and bursts), not by `--seconds`. */
object Ingest {
  val batches = 3
  val burstRounds = 3
  /** State families folded per batch, timed one by one. */
  val families = Seq("metrics", "drift")

  private def secs(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

  /** Offline drift state over the seed corpus, then the corpus view
    * whose first refresh folds the seed file into its rollup. */
  private def setUp(spark: SparkSession, docs: DataFrame, corpus: DataFrame, p: String)
      : (MetricViewCatalog, Seq[(String, Double)]) = {
    val builds = Seq(
      "drift" -> secs(DriftStore.writeProfile(corpus, s"$p/drift")))
    corpus.coalesce(1).write.parquet(s"$p/feed/b0")
    val cat = new MetricViewCatalog(spark,
      { case "documents" => spark.read.parquet(s"$p/feed/b*"); case n => sys.error(s"no source $n") },
      Some(s"$p/metrics"),
      streamSource = {
        case "documents" => Some(spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$p/feed/b*"))
        case _ => None
      })
    cat.createOrReplace("mv_corpus", graft.spec.Specs.corpusMetrics)
    val seedFold = secs(cat.refresh("mv_corpus"))
    (cat, (builds :+ ("metrics_seed" -> seedFold)).map { case (f, s) => s"ops.state_build.${f}_s" -> s })
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.data()
    val docs = graft.model.Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 4 === 0)
    val arrivals = docs.filter(col("doc_id") % 4 =!= 0)
      .withColumn("__b", pmod(xxhash64(col("doc_id"), lit(ctx.seed)), lit(batches.toLong)))
    val p = ctx.workDir.resolve("ingest").toString
    val (cat, buildLayers) = setUp(spark, docs, corpus, p)
    val setupS = ctx.setupSeconds()
    Log("set-up done: " + buildLayers.map(b => f"${b._2}%.2f").mkString(" "))
    val seedDocs = corpus.count()
    val mv = cat.get("mv_corpus")

    // the reference path: the same view, unmaterialized, over the seed
    // corpus plus every document that arrived so far
    var arrived: DataFrame = corpus.limit(0)
    val refCat = new MetricViewCatalog(spark,
      { case "documents" => corpus.unionByName(arrived); case n => sys.error(s"no source $n") })
    refCat.createOrReplace("mv_corpus_ref", graft.spec.Specs.corpusMetrics)
    graft.sqlext.SqlMetricViews.registerAll(cat)
    cat.bind()
    val statusSql = s"SELECT family, applied_folds FROM graft_daemon_status('drift=$p/drift')"

    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
    val client = new Client(tracer, Seq(s"$p/metrics/mv_corpus/by_source_lang/"))
    val failures = mutable.ArrayBuffer[(String, String)]()
    val batchS = mutable.ArrayBuffer[Double]()
    val batchCounts = mutable.ArrayBuffer[ExecCounts]()
    val familyS = mutable.ArrayBuffer[Map[String, Double]]()
    var readS = 0.0
    var arrivedDocs = 0L

    for (b <- 1 to batches) {
      val batch = arrivals.filter(col("__b") === b - 1).drop("__b")
      batch.coalesce(1).write.parquet(s"$p/feed/b$b")
      val fresh = spark.read.parquet(s"$p/feed/b$b")
      val n = fresh.count()
      arrivedDocs += n
      tracer.foreach(_.drain())
      val t0 = System.nanoTime()
      val fid = Folds.contentFoldId(fresh)
      val fam = Seq(
        "metrics" -> secs(cat.refresh("mv_corpus")),
        "drift" -> secs(DriftStore.applyDelta(spark, s"$p/drift", fresh, foldId = fid)))
      batchS += (System.nanoTime() - t0) / 1e9
      familyS += fam.toMap
      tracer.foreach(t => batchCounts += t.drain())
      arrived = arrived.unionByName(fresh)
      Log(f"batch $b ($n docs): ${batchS.last}%.2f s " + fam.map(f => f"${f._2}%.2f").mkString(" "))

      val total = seedDocs + arrivedDocs
      val shapes = Seq(
        Shape("sql_by_source", s"by_source@$b", sql = true, routed = true,
          () => spark.sql("SELECT source, MEASURE(doc_count) AS doc_count, " +
            "MEASURE(char_sum) AS char_sum FROM mv_corpus GROUP BY source"),
          Some(() => refCat.get("mv_corpus_ref").query(Seq("source"), Seq("doc_count", "char_sum")))),
        Shape("by_lang", s"by_lang@$b", sql = false, routed = true,
          () => mv.query(Seq("lang"), Seq("doc_count", "char_p90")),
          Some(() => refCat.get("mv_corpus_ref").query(Seq("lang"), Seq("doc_count", "char_p90")))),
        Shape("total", s"total@$b", sql = false, routed = true,
          () => mv.query(Nil, Seq("doc_count")),
          Some(() => spark.range(1).select(lit(total).as("doc_count")))),
        Shape("sql_daemon_status", s"status@$b", sql = true, routed = false,
          () => spark.sql(statusSql),
          Some(() => spark.createDataFrame(Seq(("drift", b.toLong))).toDF("family", "applied_folds"))))
      val r0 = System.nanoTime()
      for (round <- 0 until burstRounds; (shape, j) <- shapes.zipWithIndex)
        client.issue(shape, tracedFirst = (round + j) % 2 == 1)
      readS += (System.nanoTime() - r0) / 1e9
      // the references see this batch's arrivals: verify before the next
      failures ++= client.errors ++ client.verify()
      client.errors.clear(); client.results.clear()
      // one refresh folds exactly the one new file: one version flip
      val version = graft.mat.VersionedTable.currentVersion(s"$p/metrics/mv_corpus/by_source_lang")
      if (!version.contains(s"v${b + 1}"))
        failures += ((s"rollup_version@$b", s"rollup at $version, expected v${b + 1}"))
    }
    val heapMb = Probe.retainedHeapMb()
    client.closeTrace(ctx.outDir.resolve(s"spans-ingest-seed${ctx.seed}.jsonl"))

    val values: Map[String, Double] =
      if (!ctx.trace) client.endToEnd(setupS, readS, batchS.toSeq, heapMb)
      else (client.layers ++ buildLayers ++ Seq(
        "setup.session_s" -> ctx.sessionS,
        "streaming.batch_s" -> Stats.median(batchS.toSeq),
        "streaming.docs_per_s" -> arrivedDocs / batchS.sum,
        "streaming.batch_jobs" -> batchCounts.map(_.jobs.toDouble).sum / batches,
        "streaming.batch_output_mb" -> batchCounts.map(_.outputBytes / 1e6).sum / batches) ++
        families.map(f => s"family.${f}_s" -> Stats.median(familyS.map(_(f)).toSeq))
      ).toMap
    Outcome(client.attempted, failures.toSeq, values, Seq(
      "data" -> Fixture.sizesJson(dir),
      "seed_docs" -> seedDocs.toString, "arrived_docs" -> arrivedDocs.toString,
      "batch_s" -> Json.arr(batchS.map(Json.num).toSeq),
      "reads" -> client.latencies.size.toString, "tail_percentile" -> client.tail._1.toString,
      "counts_by_query" -> client.countsJson,
      "family_s_by_batch" -> Json.arr(familyS.map(m => Json.obj(m.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) })).toSeq)))
  }
}
