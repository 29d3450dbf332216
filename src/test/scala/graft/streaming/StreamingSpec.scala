package graft.streaming

import graft.SparkSpec
import graft.model.Tables
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  private lazy val s = spark
  import StreamingOps._

  private def eventData(n: Int): Seq[Event] = {
    val rnd = new scala.util.Random(11)
    (0 until n).map { i =>
      Event(i.toLong, new Timestamp(1700000000000L + rnd.nextInt(200000) * 1000L),
        rnd.nextInt(5).toLong, if (rnd.nextBoolean()) "click" else "view",
        math.round(rnd.nextDouble() * 10000.0) / 100.0)
    }
  }

  test("streaming sessionization == batch sessionization on a closed stream") {
    val sp = s
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val data = eventData(300)
    val cutoff = new Timestamp(1700000000000L + 5L * 24 * 3600 * 1000)
    // per-user far-future sentinels: the gap rule closes each user's
    // last real session in-line (AvailableNow never produces the extra
    // batch an event-time timeout flush would need)
    val sentinels = (0 until 5).map(u => Event(900000L + u,
      new Timestamp(1700000000000L + 10L * 24 * 3600 * 1000), u.toLong, "view", 0.0))

    val stream = MemoryStream[Event]
    stream.addData(data ++ sentinels)
    val sessions = sessionize(stream.toDS(), gapSeconds = 600L)
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = s.table("sess_out")
      .filter(col("session_start") < lit(cutoff))
      .select("user_id", "session_start", "n_events", "n_clicks")
      .collect().map(_.toSeq).toSet

    val batch = graft.ops.Sessionize(
      sp.createDataFrame(data), gapSeconds = 600L)
      .select("user_id", "session_start", "n_events", "n_clicks")
      .collect().map(_.toSeq).toSet

    assert(streamed == batch)
  }

  test("windowed agg: streaming AvailableNow == batch on same data") {
    val events = Tables.events(s, sfDir)
    val batch = windowedValue(events)
      .select("window_start", "event_type", "n_events", "total_value")
      .collect().map(_.toSeq).toSet

    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_in").toString
    events.write.mode("overwrite").parquet(tmp)
    val stream = s.readStream.schema(events.schema).parquet(tmp)
    runAvailableNow(windowedValue(stream)
      .select("window_start", "event_type", "n_events", "total_value"),
      "win_out", org.apache.spark.sql.streaming.OutputMode.Append)
    // append mode only emits closed windows; compare on the emitted set
    val streamed = s.table("win_out").collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch))
  }

  test("stream-stream interval join == batch join on a closed stream") {
    val events = Tables.events(s, sfDir)
    def purchases(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"), col("value").as("purchase_value"))
    def clicks(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("value").as("click_value"))
    val cols = Seq("purchase_id", "user_id", "p_ts", "c_ts", "click_value")
    // the SAME intervalJoin call on static frames IS the batch join
    // (watermarks are no-ops there — unified Dataset API)
    val batch = intervalJoin(purchases(events), clicks(events),
        "user_id", "c_user", "p_ts", "c_ts", 1800L)
      .select(cols.map(col): _*).collect().map(_.toSeq)

    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_ij").toString
    events.write.mode("overwrite").parquet(tmp)
    val src = s.readStream.schema(events.schema).parquet(tmp)
    runAvailableNow(
      intervalJoin(purchases(src), clicks(src),
        "user_id", "c_user", "p_ts", "c_ts", 1800L)
        .select(cols.map(col): _*),
      "ij_out")
    val streamed = s.table("ij_out").collect().map(_.toSeq)
    assert(streamed.nonEmpty)
    // multiset equality: duplicate (purchase, click) pairs must not
    // collapse or multiply across the two execution modes
    assert(streamed.groupBy(identity).view.mapValues(_.size).toMap ==
      batch.groupBy(identity).view.mapValues(_.size).toMap)
  }

  test("streaming dedup within watermark == batch dropDuplicates") {
    val events = Tables.events(s, sfDir)
    // hour-bucketed key: duplicate keys are by construction within one
    // watermark horizon of each other, so streaming state never evicts
    // a key that could still see a duplicate → result equals batch
    val keyed = events.withColumn("hour_bucket",
      date_trunc("hour", col("ts")))
    val keys = Seq("user_id", "event_type", "hour_bucket")
    val batch = keyed.dropDuplicates(keys)
      .select("user_id", "event_type", "hour_bucket")
      .collect().map(_.toSeq).toSet

    val tmp = java.nio.file.Files.createTempDirectory("graft_dedup_in").toString
    events.write.mode("overwrite").parquet(tmp)
    val stream = s.readStream.schema(events.schema).parquet(tmp)
      .withColumn("hour_bucket", date_trunc("hour", col("ts")))
    runAvailableNow(
      dedupStream(stream, keys).select("user_id", "event_type", "hour_bucket"),
      "dedup_out", org.apache.spark.sql.streaming.OutputMode.Append)
    val streamed = s.table("dedup_out").collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("emit-on-arrival operators: noDataBatch=false is result-identical") {
    // r19: dedup emits each first-seen key in its ARRIVAL batch and the
    // stream-stream inner join emits matches when both rows are present
    // — the trailing empty microbatch only evicts state, so skipping it
    // (the q_stream_dedup / q_stream_join replay optimization) must not
    // change the sink. Both compared against their batch equivalents.
    val events = Tables.events(s, sfDir)
    val keyed = events.withColumn("hour_bucket", date_trunc("hour", col("ts")))
    val keys = Seq("user_id", "event_type", "hour_bucket")
    val batchDedup = keyed.dropDuplicates(keys)
      .select("user_id", "event_type", "hour_bucket")
      .collect().map(_.toSeq).toSet
    val tmp = java.nio.file.Files.createTempDirectory("graft_nodata").toString
    events.coalesce(1).write.mode("overwrite").parquet(tmp)
    val stream = s.readStream.schema(events.schema).parquet(tmp)
    runAvailableNow(
      dedupStream(stream.withColumn("hour_bucket", date_trunc("hour", col("ts"))), keys)
        .select("user_id", "event_type", "hour_bucket"),
      "nodata_dedup_out", noDataBatch = false)
    assert(s.table("nodata_dedup_out").collect().map(_.toSeq).toSet == batchDedup)

    def purchases(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"))
    def clicks(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("value").as("click_value"))
    val cols = Seq("purchase_id", "user_id", "p_ts", "c_ts", "click_value")
    val batchJoin = intervalJoin(purchases(events), clicks(events),
        "user_id", "c_user", "p_ts", "c_ts", 1800L)
      .select(cols.map(col): _*).collect().map(_.toSeq)
    runAvailableNow(
      intervalJoin(purchases(stream), clicks(stream),
        "user_id", "c_user", "p_ts", "c_ts", 1800L)
        .select(cols.map(col): _*),
      "nodata_ij_out", noDataBatch = false)
    val streamed = s.table("nodata_ij_out").collect().map(_.toSeq)
    assert(streamed.groupBy(identity).view.mapValues(_.size).toMap ==
      batchJoin.groupBy(identity).view.mapValues(_.size).toMap)
    // the override must restore the session conf
    assert(s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") == "true")
  }

  /** Row-set comparison that treats binary HLL register columns by
    * their ESTIMATE: Array[Byte] compares by reference anyway, and the
    * semantic contract is the estimate. (The engine-owned GraftHll
    * registers are actually build-order-INDEPENDENT — register max is
    * commutative — but comparing by estimate keeps the test about the
    * contract, not the encoding.) */
  private def normRows(rows: Array[org.apache.spark.sql.Row]): Set[Seq[Any]] =
    rows.map(_.toSeq.map {
      case b: Array[Byte] => graft.functions.GraftHll.estimate(b)
      case x => x
    }).toSet

  test("incremental rollup maintenance == full recompute after appends") {
    val cat = graft.SparkEntry.catalog(s, sfDir)
    val v = cat.get("mv_orders_simple")
    val work = java.nio.file.Files.createTempDirectory("graft_inc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val inc = new IncrementalMaterializer(s, work, ckpt)

    val src = graft.model.Models.stgOrders(s, sfDir)
    val part1 = src.filter(col("order_id") % 2 === 0)
    val part2 = src.filter(col("order_id") % 2 =!= 0)

    inc.foldBatch(v, part1)
    inc.foldBatch(v, part2)

    val mv = v.spec.materialization.get.materializedViews.find(_.isAggregated).get
    val incremental = normRows(
      graft.mat.VersionedTable.read(s, s"$work/${v.name}/${mv.name}").collect())
    // full recompute over the whole input with the same stored-partial
    // set (content-addressed names, shared across measures)
    val partialCols = graft.plan.AggDecompose.distinctPartials(
      mv.measures.flatMap(m => v.decomposed(v.spec.measure(m)).get.partials)).map(_.agg)
    val full = normRows(part1.unionByName(part2)
      .groupBy("order_status")
      .agg(partialCols.head, partialCols.tail: _*)
      .collect())
    assert(incremental == full)
  }

  test("histogram (approx-percentile) partials fold incrementally == full recompute") {
    // bin counts ADD across batches — the fold is exact, so the folded
    // rollup must equal a from-scratch build bin-for-bin (stronger than
    // the estimate-level HLL comparison above)
    val cat = graft.SparkEntry.catalog(s, sfDir)
    val v = cat.get("mv_orders_dist")
    val work = java.nio.file.Files.createTempDirectory("graft_inc_hist").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_hist").toString
    val inc = new IncrementalMaterializer(s, work, ckpt)

    val src = graft.model.Models.stgOrders(s, sfDir)
    inc.foldBatch(v, src.filter(col("order_id") % 2 === 0))
    inc.foldBatch(v, src.filter(col("order_id") % 2 =!= 0))

    val mv = v.spec.materialization.get.materializedViews.find(_.isAggregated).get
    val incremental = graft.mat.VersionedTable
      .read(s, s"$work/${v.name}/${mv.name}").collect().map(_.toSeq).toSet
    // p50 and p95 share ONE content-addressed histogram column; the
    // auto-domained p50 (r9) derives different [lo, hi) literals so it
    // stores its own — the schema is (status, count partial, declared
    // bin array, auto bin array), and crucially NOT four partials
    val partialCols = graft.plan.AggDecompose.distinctPartials(
      mv.measures.flatMap(m => v.decomposed(v.spec.measure(m)).get.partials)).map(_.agg)
    assert(partialCols.size == 3,
      s"expected count + shared declared histogram + auto histogram, got ${partialCols.size}")
    val full = src.groupBy("order_status")
      .agg(partialCols.head, partialCols.tail: _*)
      .collect().map(_.toSeq).toSet
    assert(incremental == full)
  }

  test("incremental maintenance through a real file stream (AvailableNow)") {
    val cat = graft.SparkEntry.catalog(s, sfDir)
    val v = cat.get("mv_orders_simple")
    val work = java.nio.file.Files.createTempDirectory("graft_inc2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt2").toString
    val srcDir = java.nio.file.Files.createTempDirectory("graft_src").toString
    val inc = new IncrementalMaterializer(s, work, ckpt)
    val src = graft.model.Models.stgOrders(s, sfDir)

    src.limit(500).write.mode("append").parquet(srcDir)
    inc.maintain(v, s.readStream.schema(src.schema).parquet(srcDir))
    src.limit(500).write.mode("append").parquet(srcDir) // new files arrive
    inc.maintain(v, s.readStream.schema(src.schema).parquet(srcDir))

    val mv = v.spec.materialization.get.materializedViews.find(_.isAggregated).get
    val got = graft.mat.VersionedTable.read(s, s"$work/${v.name}/${mv.name}")
      .agg(sum(col(pname(v, "order_count")))).collect()(0).getLong(0)
    assert(got == 1000L)
  }

  /** Stored column name of a measure's first partial (content-addressed
    * — AggDecompose.partialName). */
  private def pname(v: graft.api.MetricView, measure: String): String =
    v.decomposed(v.spec.measure(measure)).get.partials.head.name

  test("stream refresh refuses a windowed or non-decomposable rollup measure by name") {
    // the incremental fold shares the batch build's rollup partials, so
    // it refuses what the build refuses with the same named error
    val srcDir = java.nio.file.Files.createTempDirectory("graft_refuse_src").toString
    val work = java.nio.file.Files.createTempDirectory("graft_refuse_work").toString
    val src = graft.model.Models.stgOrders(s, sfDir)
    src.limit(100).write.mode("append").parquet(srcDir)
    val cat = new graft.api.MetricViewCatalog(s,
      resolve = _ => s.read.parquet(srcDir),
      materializationDir = Some(work),
      streamSource = _ => Some(s.readStream.schema(src.schema).parquet(srcDir)))
    def spec(measure: String) =
      s"""version: 0.1
         |source: stg_orders
         |dimensions:
         |  - name: order_status
         |    expr: order_status
         |  - name: order_date
         |    expr: order_date
         |measures:
         |  - name: total_revenue
         |    expr: sum(total_price)
         |  - name: trailing_7d_revenue
         |    expr: sum(total_price)
         |    window:
         |      - order: order_date
         |        range: trailing 7 day
         |  - name: unique_customers
         |    expr: count(distinct customer_id)
         |materialization:
         |  schedule: every 8 weeks
         |  mode: relaxed
         |  materialized_views:
         |    - name: by_status
         |      type: aggregated
         |      dimensions:
         |        - order_status
         |      measures:
         |        - total_revenue
         |        - $measure
         |""".stripMargin
    def refreshError(view: String, measure: String): String = {
      cat.createOrReplace(view, spec(measure))
      val e = intercept[Exception](cat.refresh(view))
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n")
    }
    val windowed = refreshError("mv_refuse_window", "trailing_7d_revenue")
    assert(windowed.contains("rollup by_status: window measure trailing_7d_revenue " +
      "cannot be materialized in an aggregated view"), windowed)
    val distinct = refreshError("mv_refuse_distinct", "unique_customers")
    assert(distinct.contains("rollup by_status: measure unique_customers " +
      "('count(distinct customer_id)') is not decomposable"), distinct)
  }

  test("catalog.refresh routes through incremental fold when a stream source exists") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_cat_src").toString
    val work = java.nio.file.Files.createTempDirectory("graft_cat_work").toString
    val src = graft.model.Models.stgOrders(s, sfDir)

    val cat = new graft.api.MetricViewCatalog(s,
      resolve = name => s.read.parquet(srcDir),
      materializationDir = Some(work),
      streamSource = name => Some(s.readStream.schema(src.schema).parquet(srcDir)))
    src.limit(400).write.mode("append").parquet(srcDir)
    val v = cat.createOrReplace("mv_orders_simple", graft.spec.Specs.all("mv_orders_simple"))

    cat.refresh("mv_orders_simple") // first refresh = initial fold of everything
    val mv = v.spec.materialization.get.materializedViews.find(_.isAggregated).get
    val path = s"$work/${v.name}/${mv.name}"
    def total = graft.mat.VersionedTable.read(s, path)
      .agg(sum(col(pname(v, "order_count")))).collect()(0).getLong(0)
    assert(total == 400L)
    val v1 = graft.mat.VersionedTable.currentVersion(path)

    src.limit(600).write.mode("append").parquet(srcDir) // delta arrives
    cat.refresh("mv_orders_simple") // folds ONLY the delta
    assert(total == 1000L)
    assert(graft.mat.VersionedTable.currentVersion(path) != v1) // new snapshot, not overwrite

    // routed query sees the folded state (isBuilt marked by refresh)
    val routed = v.query(Seq("order_status"), Seq("order_count"))
    assert(routed.agg(sum("order_count")).collect()(0).getLong(0) == 1000L)
  }

  test("versioned swap: a reader pinned before a rebuild keeps a complete snapshot") {
    val work = java.nio.file.Files.createTempDirectory("graft_swap").toString
    val cat = new graft.api.MetricViewCatalog(s,
      graft.model.Models.resolve(s, sfDir, _), Some(work))
    val v = cat.createOrReplace("mv_orders_simple", graft.spec.Specs.all("mv_orders_simple"))
    cat.refresh("mv_orders_simple")

    val mv = v.spec.materialization.get.materializedViews.find(_.isAggregated).get
    val path = s"$work/${v.name}/${mv.name}"
    val pinned = graft.mat.VersionedTable.read(s, path) // resolves the pre-rebuild pointer
    val before = normRows(pinned.collect())

    cat.materializer.get.build(v, force = true) // concurrent-rebuild stand-in

    // the pinned reader still scans its complete old snapshot...
    assert(normRows(pinned.collect()) == before)
    // ...and a fresh reader resolves the flipped pointer to the new one
    assert(normRows(graft.mat.VersionedTable.read(s, path).collect()) == before)
  }

  // The two tests below MEASURE the bounded-state claim the scaladocs
  // argue (VERDICT r7 residual #2): drive ≥2 microbatches with
  // advancing event time and read the state-store metrics — rows must
  // actually be EVICTED once the watermark passes them, and the final
  // state must hold only the horizon's keys, not the stream's lifetime.

  private def hourEvent(id: Long, hoursAfterT0: Long, user: Long): Event =
    Event(id, new Timestamp(1700000000000L + hoursAfterT0 * 3600L * 1000L),
      user, "view", 1.0)

  test("dedup state is evicted once the watermark passes it (measured over 3 microbatches)") {
    val sp = s
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val stream = MemoryStream[Event]
    val q = dedupStream(stream.toDF(), Seq("user_id"), "1 hour")
      .writeStream.format("memory").queryName("dedup_evict_out")
      .outputMode("append").start()
    try {
      stream.addData((0 until 50).map(i => hourEvent(i.toLong, 0, i.toLong)))
      q.processAllAvailable() // batch 1: 50 keys enter state at t0
      stream.addData(Seq(hourEvent(1000, 4, 10000)))
      q.processAllAvailable() // batch 2: watermark advances to t0+3h
      stream.addData(Seq(hourEvent(1001, 8, 10001)))
      q.processAllAvailable() // batch 3: t0 keys (t0+1h < t0+3h) evict
      val states = q.recentProgress.toSeq.flatMap(_.stateOperators)
      val removed = states.map(_.numRowsRemoved).sum
      assert(removed >= 50, s"expected the 50 t0 keys evicted, removed=$removed\n" +
        states.map(so => s"total=${so.numRowsTotal} removed=${so.numRowsRemoved}").mkString("\n"))
      val finalTotal = q.recentProgress.toSeq.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators.map(_.numRowsTotal).sum
      assert(finalTotal <= 2, // only the horizon's keys remain, not 52
        s"state should hold only in-horizon keys, total=$finalTotal")
    } finally q.stop()
  }

  test("stream-stream join state is evicted past watermark+horizon (measured over 3 microbatches)") {
    val sp = s
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val purchases = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val left = purchases.toDF()
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("value").as("purchase_value"))
    val right = clicks.toDF()
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("value").as("click_value"))
    val q = intervalJoin(left, right, "user_id", "c_user", "p_ts", "c_ts",
        horizonSeconds = 1800L, watermark = "1 hour")
      .writeStream.format("memory").queryName("ij_evict_out")
      .outputMode("append").start()
    try {
      purchases.addData((0 until 25).map(i => hourEvent(i.toLong, 0, i.toLong)))
      clicks.addData((0 until 25).map(i => hourEvent(100L + i, 0, i.toLong)))
      q.processAllAvailable() // batch 1: both sides buffer 25 rows at t0
      purchases.addData(Seq(hourEvent(1000, 6, 10000)))
      clicks.addData(Seq(hourEvent(1001, 6, 10000)))
      q.processAllAvailable() // batch 2: watermark advances to t0+5h
      purchases.addData(Seq(hourEvent(1002, 12, 10001)))
      clicks.addData(Seq(hourEvent(1003, 12, 10001)))
      q.processAllAvailable() // batch 3: t0 buffers are past wm+horizon
      val states = q.recentProgress.toSeq.flatMap(_.stateOperators)
      val removed = states.map(_.numRowsRemoved).sum
      assert(removed >= 50, s"expected both t0 buffers (25+25) evicted, removed=$removed\n" +
        states.map(so => s"total=${so.numRowsTotal} removed=${so.numRowsRemoved}").mkString("\n"))
      val finalTotal = q.recentProgress.toSeq.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators.map(_.numRowsTotal).sum
      assert(finalTotal <= 4, s"join state should hold only in-horizon rows, total=$finalTotal")
    } finally q.stop()
  }

  test("staged event stream is a single parquet file (oracle-load-bearing)") {
    // q_stream_dedup's DISTINCT oracle (and q_stream_window's cutoff
    // oracle) rely on Trigger.AvailableNow seeing ONE data file → one
    // microbatch → watermark 0 while all rows process. More than one
    // file would let batch splits drop late rows nondeterministically.
    val staged = graft.ExtQueries.stageEvents(s, sfDir)
    val parts = new java.io.File(staged).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts == 1, s"staged dir $staged has $parts parquet files")
  }

  test("clearStaging keeps the cross-JVM staged events copy") {
    // another JVM that memoized this path before the clear still reads it
    val staged = graft.ExtQueries.stageEvents(s, sfDir)
    graft.Staging.clear()
    assert(new java.io.File(staged, "_SUCCESS").exists(), s"$staged lost its _SUCCESS")
    assert(graft.ExtQueries.stageEvents(s, sfDir) == staged)
  }

  test("clearStaging keeps the cross-JVM staged IVF index") {
    // the IVF index sits at the same kind of shared path as the events copy
    val staged = graft.ExtQueries.stageIvfIndex(s, sfDir)
    graft.Staging.clear()
    assert(new java.io.File(staged, "ivf_centroids.txt").exists(),
      s"$staged lost its ivf_centroids.txt")
    assert(graft.ExtQueries.stageIvfIndex(s, sfDir) == staged)
  }
}
