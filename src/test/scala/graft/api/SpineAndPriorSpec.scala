package graft.api

import graft.SparkSpec
import graft.spec.RangeSpec
import java.sql.Date
import org.apache.spark.sql.functions._

/** querySpine (date-spine gap fill) and `range: prior` (period-over-
  * period) semantics on toy series where every expectation is
  * hand-checkable. The sf-scale end-to-end paths are q_mv_spine and
  * q_win_prior (DuckDB-oracled). */
class SpineAndPriorSpec extends SparkSpec {

  private val yaml =
    """version: 0.1
      |source: series
      |dimensions:
      |  - name: grp
      |    expr: grp
      |  - name: d
      |    expr: d
      |measures:
      |  - name: total
      |    expr: sum(v)
      |  - name: cum
      |    expr: sum(v)
      |    window:
      |      - order: d
      |        range: cumulative
      |        semiadditive: last
      |  - name: avg_v
      |    expr: avg(v)
      |""".stripMargin

  private def catalogFor(rows: Seq[(String, String, Long)]): MetricViewCatalog = {
    import spark.implicits._
    val df = rows.toDF("grp", "ds", "v").withColumn("d", to_date(col("ds")))
      .select("grp", "d", "v")
    val cat = new MetricViewCatalog(spark, Map("series" -> df).apply(_))
    cat.createOrReplace("mv", yaml)
    cat
  }

  test("day spine densifies to combos x calendar with zero/ffill/null rules") {
    // group a: days 1, 4 present; group b: day 2 only. Calendar = [1, 4].
    val cat = catalogFor(Seq(
      ("a", "2020-01-01", 5L), ("a", "2020-01-04", 7L), ("b", "2020-01-02", 3L)))
    val out = cat.get("mv").querySpine(Seq("grp", "d"), Seq("total", "cum", "avg_v"),
        SpineSpec("d", "day", zeroFill = Seq("total"), ffill = Seq("cum")))
      .orderBy("grp", "d")
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        r.get(2), r.get(3), r.get(4)))

    assert(out.length == 8) // 2 groups x 4 days
    val a = out.filter(_._1 == "a")
    assert(a.map(_._2).toSeq ==
      Seq("2020-01-01", "2020-01-02", "2020-01-03", "2020-01-04"))
    // zero-fill: absent days read 0 in the measure's native type
    assert(a.map(_._3.asInstanceOf[Long]).toSeq ==
      Seq(5L, 0L, 0L, 7L))
    // ffill: the running total carries across the gap
    assert(a.map(_._4.asInstanceOf[Long]).toSeq ==
      Seq(5L, 5L, 5L, 12L))
    // untouched measure: null on absent days
    assert(a.map(_._5 == null).toSeq == Seq(false, true, true, false))
    // ffill before the group's first present day stays null (b on day 1)
    val b = out.filter(_._1 == "b")
    assert(b.head._2 == "2020-01-01" && b.head._4 == null)
    assert(b.map(_._3.asInstanceOf[Long]).toSeq ==
      Seq(0L, 3L, 0L, 0L))
  }

  test("month spine steps by calendar month over month-start dates") {
    val cat = catalogFor(Seq(
      ("a", "2020-01-01", 2L), ("a", "2020-04-01", 9L)))
    val out = cat.get("mv").querySpine(Seq("d"), Seq("total"),
        SpineSpec("d", "month", zeroFill = Seq("total")))
      .orderBy("d").collect()
    assert(out.map(_.getDate(0).toString).toSeq ==
      Seq("2020-01-01", "2020-02-01", "2020-03-01", "2020-04-01"))
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 0L, 0L, 9L))
  }

  test("spine rejects fills for unqueried measures and foreign date dims") {
    val cat = catalogFor(Seq(("a", "2020-01-01", 1L)))
    intercept[IllegalArgumentException] {
      cat.get("mv").querySpine(Seq("d"), Seq("total"),
        SpineSpec("d", "day", zeroFill = Seq("cum")))
    }
    intercept[IllegalArgumentException] {
      cat.get("mv").querySpine(Seq("grp"), Seq("total"), SpineSpec("d", "day"))
    }
  }

  test("empty filtered result densifies to no rows, with or without other dims") {
    val cat = catalogFor(Seq(("a", "2020-01-01", 1L), ("b", "2020-01-03", 2L)))
    val spine = SpineSpec("d", "day", zeroFill = Seq("total"), ffill = Seq("cum"))
    assert(cat.get("mv").querySpine(Seq("grp", "d"), Seq("total", "cum"), spine,
      where = Some("grp = 'none'")).collect().isEmpty)
    assert(cat.get("mv").querySpine(Seq("d"), Seq("total", "cum"), spine,
      where = Some("grp = 'none'")).collect().isEmpty)
  }

  test("result rows with a NULL date drop; their combo still densifies") {
    // a: day 1 plus a NULL-date row; b: day 3; c: only a NULL-date row
    val cat = catalogFor(Seq(("a", "2020-01-01", 1L), ("a", null, 5L),
      ("b", "2020-01-03", 2L), ("c", null, 4L)))
    val out = cat.get("mv").querySpine(Seq("grp", "d"), Seq("total", "avg_v"),
        SpineSpec("d", "day", zeroFill = Seq("total")))
      .orderBy("grp", "d").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2), Option(r.get(3))))
    assert(out.toSeq == Seq(
      ("a", "2020-01-01", 1L, Some(1.0)), ("a", "2020-01-02", 0L, None), ("a", "2020-01-03", 0L, None),
      ("b", "2020-01-01", 0L, None), ("b", "2020-01-02", 0L, None), ("b", "2020-01-03", 2L, Some(2.0)),
      ("c", "2020-01-01", 0L, None), ("c", "2020-01-02", 0L, None), ("c", "2020-01-03", 0L, None)))
  }

  test("day spine with no other dims fills zero, carries ffill and leaves the rest null") {
    val cat = catalogFor(Seq(
      ("a", "2020-01-02", 5L), ("b", "2020-01-02", 1L), ("a", "2020-01-05", 7L)))
    val out = cat.get("mv").querySpine(Seq("d"), Seq("total", "cum", "avg_v"),
        SpineSpec("d", "day", zeroFill = Seq("total"), ffill = Seq("cum")))
      .orderBy("d").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2), Option(r.get(3))))
    assert(out.toSeq == Seq(
      ("2020-01-02", 6L, 6L, Some(3.0)), ("2020-01-03", 0L, 6L, None),
      ("2020-01-04", 0L, 6L, None), ("2020-01-05", 7L, 13L, Some(7.0))))
  }

  test("month spine densifies every combo and carries ffill across months") {
    val cat = catalogFor(Seq(("a", "2020-01-01", 2L), ("b", "2020-03-01", 5L)))
    val out = cat.get("mv").querySpine(Seq("grp", "d"), Seq("total", "cum"),
        SpineSpec("d", "month", zeroFill = Seq("total"), ffill = Seq("cum")))
      .orderBy("grp", "d").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2), Option(r.get(3))))
    assert(out.toSeq == Seq(
      ("a", "2020-01-01", 2L, Some(2L)), ("a", "2020-02-01", 0L, Some(2L)),
      ("a", "2020-03-01", 0L, Some(2L)),
      ("b", "2020-01-01", 0L, None), ("b", "2020-02-01", 0L, None),
      ("b", "2020-03-01", 5L, Some(5L))))
  }

  private val priorYaml =
    """version: 0.1
      |source: series
      |dimensions:
      |  - name: d
      |    expr: d
      |measures:
      |  - name: total
      |    expr: sum(v)
      |  - name: prior
      |    expr: sum(v)
      |    window:
      |      - order: d
      |        range: prior 1 month
      |        semiadditive: last
      |""".stripMargin

  test("prior-month frame pins one period back; missing period reads null") {
    import spark.implicits._
    // months: Jan=1, Feb=2, Apr=10 (March absent)
    val df = Seq(("2020-01-01", 1L), ("2020-02-01", 2L), ("2020-04-01", 10L))
      .toDF("ds", "v").withColumn("d", to_date(col("ds"))).select("d", "v")
    val cat = new MetricViewCatalog(spark, Map("series" -> df).apply(_))
    cat.createOrReplace("mvp", priorYaml)
    val out = cat.get("mvp").query(Seq("d"), Seq("total", "prior"))
      .orderBy("d").collect()
    val prior = out.map(r => Option(r.get(2)).map(_.asInstanceOf[Long]))
    assert(prior.toSeq == Seq(None, Some(1L), None))
  }

  test("prior parse: units, plurals, week rejection") {
    assert(RangeSpec.parse("prior 1 month") == RangeSpec.Prior(1, "month"))
    assert(RangeSpec.parse("prior 12 months") == RangeSpec.Prior(12, "month"))
    assert(RangeSpec.parse("prior 2 years") == RangeSpec.Prior(2, "year"))
    intercept[RuntimeException] { RangeSpec.parse("prior 1 week") }
  }
}
