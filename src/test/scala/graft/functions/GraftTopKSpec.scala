package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** SpaceSaving sketch contracts (GraftTopK scaladoc): exactness below
  * capacity regardless of partitioning, the published error bounds
  * beyond it, heavy-hitter presence, and the SQL registry. */
class GraftTopKSpec extends SparkSpec {

  import spark.implicits._

  private def topkRows(df: org.apache.spark.sql.DataFrame, sql: String): Seq[Row] =
    df.agg(expr(sql).as("t")).select(explode(col("t")).as("e"))
      .select("e.item", "e.cnt", "e.err").collect().toSeq

  test("exact regime: counts match groupBy exactly, any partitioning") {
    // 40 distinct keys with distinct frequencies, capacity 64 > 40
    val raw = (1 to 40).flatMap(i => Seq.fill(i)(s"k$i"))
    val truth = raw.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (parts <- Seq(1, 3, 17)) {
      val df = raw.toDF("k").repartition(parts)
      val got = topkRows(df, "graft_topk(k, 10, 64)")
      assert(got.size == 10)
      // top-10 by (cnt desc, item asc): frequencies 40..31, all exact
      assert(got.map(_.getLong(1)).toSeq == (40 to 31 by -1).map(_.toLong))
      got.foreach { r =>
        assert(r.getLong(2) == 0L, s"exact regime must report err=0: $r")
        assert(r.getLong(1) == truth(r.getString(0)))
      }
    }
  }

  test("beyond capacity: cnt >= true >= cnt - err, heavy hitters present") {
    // zipf-ish stream: 5 heavy keys (300 each) + 200 singletons, cap 32
    val raw = scala.util.Random.javaRandomToRandom(new java.util.Random(7))
      .shuffle((1 to 5).flatMap(i => Seq.fill(300)(s"heavy$i")) ++
        (1 to 200).map(i => s"rare$i"))
    val truth = raw.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = raw.size
    val df = raw.toDF("k").repartition(4)
    val got = topkRows(df, "graft_topk(k, 8, 32)")
    assert(got.size == 8)
    got.foreach { r =>
      val t = truth(r.getString(0))
      assert(r.getLong(1) >= t, s"cnt must overcount: $r true=$t")
      assert(r.getLong(1) - r.getLong(2) <= t, s"cnt-err must undercount: $r true=$t")
    }
    // every key with true freq > n/capacity must be reported
    val mustHave = truth.filter(_._2 > n / 32).keySet
    val reported = got.map(_.getString(0)).toSet
    assert(mustHave.subsetOf(reported),
      s"missing heavy hitters: ${mustHave -- reported}")
  }

  test("partial/merge split == whole (exact regime, byte-level identity)") {
    val raw = (1 to 30).flatMap(i => Seq.fill(i % 7 + 1)(s"v$i"))
    val df = raw.toDF("k")
    val whole = df.agg(expr("graft_topk_agg(k, 128)").as("st"))
      .select(expr("graft_topk_extract(st, 30)").cast("string")).head.getString(0)
    val split = df.withColumn("half", length(col("k")) % 2)
      .groupBy("half").agg(expr("graft_topk_agg(k, 128)").as("st"))
      .agg(expr("graft_topk_merge(st)").as("m"))
      .select(expr("graft_topk_extract(m, 30)").cast("string")).head.getString(0)
    assert(whole == split)
  }

  /** The state encoder as first written (DataOutputStream, big-endian,
    * version 1): stored rollups hold these bytes. */
  private def streamEncoded(st: GraftTopK.State): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeByte(1)
    out.writeInt(st.capacity)
    out.writeBoolean(st.evicted)
    out.writeInt(st.counts.size)
    val it = st.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val kb = e.getKey.getBytes("UTF-8")
      out.writeInt(kb.length); out.write(kb)
      out.writeLong(e.getValue()(0)); out.writeLong(e.getValue()(1))
    }
    out.flush(); bos.toByteArray
  }

  /** Random states, some past capacity (evicted) and some merged; few
    * distinct counts, so ties are common at every k boundary. */
  private def randomStates(seed: Long): Seq[GraftTopK.State] = {
    val rnd = new scala.util.Random(seed)
    (0 until 40).map { i =>
      val cap = 1 + rnd.nextInt(24)
      def fill(): GraftTopK.State = {
        val st = new GraftTopK.State(cap)
        (0 until rnd.nextInt(80)).foreach { _ =>
          val key = if (rnd.nextBoolean()) s"k${rnd.nextInt(30)}" else s"ü${rnd.nextInt(6)}-é"
          GraftTopK.update(st, key)
        }
        st
      }
      if (i % 3 == 0) GraftTopK.mergeInto(fill(), fill()) else fill()
    }
  }

  test("state bytes equal the stream encoder's, and decode back to the same state") {
    randomStates(11).foreach { st =>
      val bytes = GraftTopK.serialize(st)
      assert(bytes.sameElements(streamEncoded(st)))
      val back = GraftTopK.deserialize(bytes)
      assert(back.capacity == st.capacity && back.evicted == st.evicted)
      assert(back.counts.size == st.counts.size)
      st.counts.forEach((k, v) => assert(back.counts.get(k).sameElements(v), k))
      assert(GraftTopK.serialize(back).sameElements(bytes))
    }
  }

  test("extract == the full-sort reference, ties at the k boundary included") {
    randomStates(12).foreach { st =>
      val entries = scala.jdk.CollectionConverters.MapHasAsScala(st.counts).asScala.toSeq
        .map { case (item, c) => (item, c(0), c(1)) }
        .sortBy { case (item, cnt, _) => (-cnt, item) }
      for (k <- Seq(1, 2, 3, 5, 8, 100)) {
        val got = GraftTopK.extract(GraftTopK.serialize(st), k).array.toSeq.map { r =>
          val row = r.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
          (row.getUTF8String(0).toString, row.getLong(1), row.getLong(2))
        }
        assert(got == entries.take(k), s"k=$k")
      }
    }
  }

  test("a k far above the entry count returns every entry, sized by the state") {
    // the heap is sized by min(k, entries): a k of 2^31-1 on a five-entry
    // state must neither allocate k slots nor drop entries
    val st = new GraftTopK.State(1000000)
    Seq("a", "b", "b", "c", "c", "c", "d", "e").foreach(GraftTopK.update(st, _))
    val got = GraftTopK.extract(GraftTopK.serialize(st), Int.MaxValue).array.toSeq.map { r =>
      val row = r.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      (row.getUTF8String(0).toString, row.getLong(1))
    }
    assert(got == Seq("c" -> 3L, "b" -> 2L, "a" -> 1L, "d" -> 1L, "e" -> 1L))
    // through SQL, with k as an int literal and as a bigint beyond int
    // range (clamped to Int.MaxValue rather than wrapped negative)
    val df = Seq("a", "b", "b").toDF("k").agg(expr("graft_topk_agg(k, 1000000)").as("st"))
    for (k <- Seq("2000000000", "3000000000")) {
      val items = df.select(explode(expr(s"graft_topk_extract(st, $k)")).as("e"))
        .select("e.item").collect().map(_.getString(0)).toSeq
      assert(items == Seq("b", "a"), s"k=$k")
    }
  }

  test("capacity mismatch between merged states fails loudly") {
    val a = new GraftTopK.State(4); val b = new GraftTopK.State(8)
    intercept[IllegalArgumentException] { GraftTopK.mergeInto(a, b) }
  }

  test("non-key types and bad literals are rejected at analysis") {
    val df = Seq((1.5, "x")).toDF("d", "s")
    intercept[Exception] { df.agg(expr("graft_topk(d, 3, 16)")).schema }
    intercept[Exception] { df.agg(expr("graft_topk(s, 3, 0)")).schema }
  }

  test("null literals fail type-check, not with an NPE (ADVICE r10)") {
    val df = Seq(("x", 1)).toDF("s", "n")
    def analysisFailure(sql: String): Unit = {
      val e = intercept[Exception] { df.agg(expr(sql)).schema }
      assert(!e.isInstanceOf[NullPointerException], s"NPE leaked for: $sql")
    }
    analysisFailure("graft_topk(s, 3, CAST(NULL AS INT))")
    analysisFailure("graft_topk(s, CAST(NULL AS INT), 16)")
    analysisFailure("graft_hist_agg(n, CAST(NULL AS DOUBLE), 10.0, 8)")
    analysisFailure("graft_hist_quantile(graft_hist_agg(n, 0.0, 10.0, 8), CAST(NULL AS DOUBLE), 0.0, 10.0)")
  }
}
