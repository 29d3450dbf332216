package graft.perfbench

import graft.api.{MetricViewCatalog, SpineSpec}
import org.apache.spark.sql.DataFrame
import scala.collection.mutable
import scala.util.Random

/** `dashboard`: interactive reads at sf0.1 against the materialized
  * catalog, where DataFrame and SQL shapes share one catalog.
  *
  * Each family is one dashboard tile type over the reference views
  * (routed and non-routed measures, a cube over grouping sets, a date
  * spine, a trailing window, two sketches, DISTINCT, SQL MEASURE()).
  * The seed draws `variants` literal sets per family; each cycle issues
  * one query per family, in a seeded order, with the variant drawn from
  * a Zipf law, so shapes repeat the way dashboard refreshes do while
  * the family mix of every cycle stays fixed. Results are rollup-scale,
  * so construction, planning and per-job fixed cost dominate.
  *
  * Each cycle also sends two fresh shapes, a routed query and a SQL
  * MEASURE() over the baseline, on a date range no other query of the
  * run uses: they are never warmed and never repeat, so what a plan or
  * result cache costs on new shapes (misses, growth, invalidation)
  * shows beside what it saves on repeated ones. A cycle is eleven
  * queries: with an odd count the median and the tail percentile fall
  * inside one family's samples rather than between two.
  *
  * The run:
  *  1. set up the materialized catalog into a fresh dir (timed: with
  *     session start it is `setup_s`, process start to ready to serve);
  *  2. draw every cycle, build the unmaterialized reference catalog and
  *     compute the reference result of every shape (untimed, on
  *     concurrent threads);
  *  3. untimed warm-up, every repeated shape once, so JIT, codegen and
  *     relation caches are filled as in a long-running server;
  *  4. a fixed number of closed-loop cycles, one per [[secondsPerCycle]]
  *     of `--seconds`: every run, and both sides of an A/B, time the
  *     same number of queries and read the same tail percentile;
  *  5. correctness: every timed result against its reference, every
  *     routed shape against its rollup dirs (untimed). */
object Dashboard {
  val variants = 2
  val zipfS = 1.1
  /** About the time one cycle takes on a 4-core host. */
  val secondsPerCycle = 4.0
  /** Length of a fresh shape's date range. */
  val freshDays = 30

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.data()
    val served = Catalogs.setUp(spark, dir, ctx.workDir.resolve("mat").toString)
    val setupS = ctx.setupSeconds()
    val tiles = new Tiles(ctx, served.catalog, Catalogs.reference(spark, dir, served.catalog))
    val cycles = (0 until math.max(2, math.ceil(ctx.seconds / secondsPerCycle).toInt)).map(tiles.cycle)
    val roots = Catalogs.rollupRoots(served.matDir)
    val client = new Client(if (ctx.trace) Some(new Tracer(spark)) else None, roots)
    client.prepare(tiles.pool ++ cycles.flatten)
    Log(s"references of ${tiles.pool.size} repeated shapes and ${cycles.size} cycles ready")

    val warm = new Client(None, roots)
    tiles.pool.foreach(warm.run(_, traced = false))
    Log("warm-up done")
    val cycleS = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    for ((cycle, i) <- cycles.zipWithIndex) {
      val c0 = System.nanoTime()
      for ((shape, j) <- cycle.zipWithIndex) client.issue(shape, tracedFirst = (i + j) % 2 == 1)
      cycleS += (System.nanoTime() - c0) / 1e9
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val heapMb = Probe.retainedHeapMb()
    client.closeTrace(ctx.outDir.resolve(s"spans-dashboard-seed${ctx.seed}.jsonl"))
    Log(s"timed phase done: ${cycles.map(_.size).sum} queries in ${cycles.size} cycles")

    val failures = warm.errors.toSeq ++ client.errors.toSeq ++ client.verify()
    Log("verification done")
    val familyP50 = client.latencies.toSeq.groupBy(_._1).toSeq.sortBy(_._1).map { case (f, xs) =>
      f -> Json.num(Stats.median(xs.map(_._2)))
    }
    val values: Map[String, Double] =
      if (!ctx.trace) client.endToEnd(setupS, wallS, cycleS.toSeq, heapMb)
      else (client.layers ++ served.layers ++ Seq(
        "setup.session_s" -> ctx.sessionS,
        "mat.route_speedup" -> routeSpeedup(client))).toMap
    Outcome(client.attempted + warm.attempted, failures, values, Seq(
      "data" -> Fixture.sizesJson(dir),
      "queries" -> client.latencies.size.toString, "cycles" -> cycles.size.toString,
      "tail_percentile" -> client.tail._1.toString, "tail_samples" -> client.latencies.size.toString,
      "family_p50_ms" -> Json.obj(familyP50),
      "counts_by_query" -> client.countsJson))
  }

  /** Median latency of the raw-path twins over that of their routed
    * twins (families `twin_raw` / `twin_routed`). A diagnostic: a
    * faster raw path lowers it. */
  private def routeSpeedup(c: Client): Double = {
    def med(f: String) = Stats.median(c.traces.filter(_.family == f).map(_.wallMs).toSeq)
    med("twin_raw") / med("twin_routed")
  }

  /** The seeded tile shapes: `pool` holds every repeated shape, and
    * cycle `i` is the i-th round of the closed loop. */
  private final class Tiles(ctx: Ctx, mat: MetricViewCatalog, raw: MetricViewCatalog) {
    private val rng = new Random(ctx.seed)
    private def one[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
    private def year = 1995 + rng.nextInt(6)
    private val S = Fixture.statuses
    private val G = Fixture.segments

    private type Build = MetricViewCatalog => DataFrame
    private def shape(family: String, routed: Boolean, key: String, q: Build,
        ref: Option[Build]): Shape =
      Shape(family, s"$family[$key]", sql = false, routed, () => q(mat), ref.map(r => () => r(raw)))
    private def sqlShape(family: String, routed: Boolean, key: String, text: String,
        ref: Option[Build]): Shape =
      Shape(family, s"$family[$key]", sql = true, routed, () => ctx.spark.sql(text),
        ref.map(r => () => r(raw)))

    /** Every family with its `variants` literal sets, drawn once. A
      * family variant is one query, or a routed query with its raw twin
      * (same question through the unmaterialized catalog: the twin's
      * result is the routed query's reference, and the pair gives the
      * routing speedup). */
    private val families: Seq[IndexedSeq[Seq[Shape]]] = {
      val gen: Seq[() => Seq[Shape]] = Seq(
        () => {
          val st = one(S)
          val q: Build = _.get("mv_order_metrics").query(Seq("market_segment"),
            Seq("total_orders", "total_revenue"), Some(s"order_status = '$st'"))
          Seq(shape("twin_routed", routed = true, st, q, Some(q)),
            Shape("twin_raw", s"twin_routed[$st]", sql = false, routed = false, () => q(raw), None))
        },
        () => {
          val g = one(G)
          val q: Build = _.get("mv_order_metrics").queryCube(Seq("market_segment", "order_status"),
            Seq("total_revenue", "total_orders"), Some(s"market_segment <> '$g'"))
          Seq(shape("cube_routed", routed = true, g, q, Some(q)))
        },
        () => {
          val y = year; val m = 1 + rng.nextInt(10)
          val from = f"$y-$m%02d-01"; val to = f"$y-${m + 2}%02d-01"
          val q: Build = _.get("mv_orders_simple").querySpine(Seq("order_status", "order_date"),
            Seq("order_count", "total_revenue"), SpineSpec("order_date", "day", zeroFill = Seq("order_count")),
            Some(s"order_date >= date'$from' AND order_date < date'$to'"))
          Seq(shape("spine", routed = false, from, q, Some(q)))
        },
        () => {
          val st = one(S)
          Seq(sqlShape("sql_routed", routed = true, st,
            s"""SELECT market_segment, MEASURE(total_revenue) AS total_revenue,
               |MEASURE(total_orders) AS total_orders FROM mv_order_metrics
               |WHERE order_status = '$st' GROUP BY market_segment""".stripMargin,
            Some(_.get("mv_order_metrics").query(Seq("market_segment"),
              Seq("total_revenue", "total_orders"), Some(s"order_status = '$st'")))))
        },
        () => {
          val st = one(S)
          Seq(sqlShape("sql_distinct", routed = false, st,
            s"""SELECT order_priority, MEASURE(unique_customers) AS unique_customers
               |FROM mv_orders_simple WHERE order_status = '$st'
               |GROUP BY order_priority""".stripMargin,
            Some(_.get("mv_orders_simple").query(Seq("order_priority"),
              Seq("unique_customers"), Some(s"order_status = '$st'")))))
        },
        () => {
          val y = year
          val q: Build = _.get("mv_order_metrics").query(Seq("order_date"),
            Seq("trailing_7d_revenue"), Some(s"order_year = $y"))
          Seq(shape("window_baseline", routed = false, y.toString, q, Some(q)))
        },
        () => {
          val st = one(S)
          val q: Build = _.get("mv_orders_simple").query(Seq("order_status"),
            Seq("approx_unique_customers", "order_count"), Some(s"order_status <> '$st'"))
          Seq(shape("sketch_hll", routed = true, st, q, Some(q)))
        },
        () => {
          val st = one(S)
          Seq(sqlShape("sql_sketch_topk", routed = true, st,
            s"""SELECT order_status, MEASURE(top_customers) AS top_customers
               |FROM mv_orders_topk WHERE order_status <> '$st'
               |GROUP BY order_status""".stripMargin,
            Some(_.get("mv_orders_topk").query(Seq("order_status"),
              Seq("top_customers"), Some(s"order_status <> '$st'")))))
        })
      gen.map(f => (0 until variants).map(_ => f()))
    }

    /** First days of the fresh date ranges, one per cycle: a seeded
      * permutation, so no two cycles share a range. */
    private val freshStarts = rng.shuffle((0 to Fixture.days - freshDays).toIndexedSeq)

    /** The two fresh shapes of cycle `i`. The routed one is answered
      * from the `orders_by_day` rollup; the SQL one filters on a
      * dimension its view's rollups lack, so it reads the baseline. */
    private def fresh(i: Int): Seq[Shape] = {
      val from = Fixture.firstDay.plusDays(freshStarts(i).toLong)
      val range = s"order_date >= date'$from' AND order_date < date'${from.plusDays(freshDays.toLong)}'"
      val q: Build = _.get("mv_orders_simple").query(Seq("order_status"),
        Seq("order_count", "total_revenue"), Some(range))
      Seq(shape("fresh_routed", routed = true, from.toString, q, Some(q)),
        sqlShape("fresh_sql", routed = false, from.toString,
          s"""SELECT market_segment, MEASURE(total_revenue) AS total_revenue,
             |MEASURE(avg_order_value) AS avg_order_value FROM mv_order_metrics
             |WHERE $range GROUP BY market_segment""".stripMargin,
          Some(_.get("mv_order_metrics").query(Seq("market_segment"),
            Seq("total_revenue", "avg_order_value"), Some(range)))))
    }

    private val zipfCdf: IndexedSeq[Double] = {
      val w = (1 to variants).map(k => 1.0 / math.pow(k, zipfS))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    private def zipf(): Int = {
      val u = rng.nextDouble()
      zipfCdf.indexWhere(u <= _) max 0
    }

    def pool: Seq[Shape] = families.flatten.flatten
    def cycle(i: Int): Seq[Shape] =
      rng.shuffle(families.map(_(zipf())) ++ fresh(i).map(Seq(_))).flatten
  }
}
