package graft

import org.scalatest.funsuite.AnyFunSuite

/** The artifact arithmetic and gates the measurement mains print:
  * the shared median, the errors map's JSON strings, and the
  * self-evaluating band gates. */
class BenchControlSpec extends AnyFunSuite {

  test("median: odd, even, empty") {
    assert(measure.median(Vector(3.0, 1.0, 2.0)) == 2.0)
    assert(measure.median(Vector(4.0, 1.0, 2.0, 3.0)) == 2.5)
    // an even-sized rep count averages the middle pair, not the upper one
    assert(measure.median(Vector(9.0, 5.0)) == 7.0)
    assert(measure.median(Vector.empty) == -1.0)
  }

  test("errors JSON: cut before escaping, every control char escaped") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    def parsed(msg: String): String =
      mapper.readTree(s"""{"q_x":${Bench.errorJson(msg)}}""").get("q_x").asText
    // a quote at characters 199-200: escape-then-cut left a lone `\`
    // that escaped the closing quote
    val quoted = "a" * 199 + "\"tail"
    assert(parsed(quoted) == quoted.take(200))
    val ctl = "col\tname\r\nnext\u0001end"
    assert(parsed(ctl) == ctl)
  }

  test("evalBands: limits from BandBudgets, zero-compactions rides all_pass") {
    val mins = BandBudgets.stageBands.groupBy(_.query).toSeq.map { case (q, bs) =>
      q -> bs.map(b => b.stage -> (b.limit - 0.1)) } // every band passes
    val cleanCounters = Map(BandBudgets.bm25CompactionQuery ->
      Map(BandBudgets.bm25CompactionCounter -> Vector(0L, 0L, 0L)))
    val ok = Bench.evalBands(mins, cleanCounters)
    assert(ok.contains(""""all_pass":true"""), ok)
    assert(ok.contains(""""bm25_zero_compactions":[0,0,true]"""), ok)
    // a compaction in one rep invalidates the fold reading (ADVICE r17:
    // the r17 gate checked only the timings)
    val dirty = Map(BandBudgets.bm25CompactionQuery ->
      Map(BandBudgets.bm25CompactionCounter -> Vector(0L, 3L, 0L)))
    val bad = Bench.evalBands(mins, dirty)
    assert(bad.contains(""""all_pass":false"""), bad)
    assert(bad.contains(""""bm25_zero_compactions":[3,0,false]"""), bad)
    // a missing stage fails all_pass rather than vanish
    val missing = Bench.evalBands(mins.filterNot(_._1 == "q_stream_curation"),
      cleanCounters)
    assert(missing.contains(""""stream_fold":null"""), missing)
    assert(missing.contains(""""all_pass":false"""), missing)
  }

  test("sweepBandsJson: every BandBudgets row + cc depth, self-evaluated") {
    val allOk = BandBudgets.sweepBands.map { case (k, lim) => k -> (lim - 0.1) }.toMap
    val ok = ScaleBench.sweepBandsJson(allOk, 5, 5)
    assert(ok.contains(""""all_pass":true"""), ok)
    assert(ok.contains(""""cc_depth":[5,6,true]"""), ok)
    // one fold ratio over its ceiling flips the verdict
    val bad = ScaleBench.sweepBandsJson(allOk + ("spans" -> 99.0), 5, 5)
    assert(bad.contains(""""all_pass":false"""), bad)
    // a missing row fails all_pass rather than vanish
    val missing = ScaleBench.sweepBandsJson(allOk - "dsir", 5, 5)
    assert(missing.contains(""""dsir":null""") &&
      missing.contains(""""all_pass":false"""), missing)
    // CC depth growing past base+slack is a scale regression
    val deep = ScaleBench.sweepBandsJson(allOk, 5, 8)
    assert(deep.contains(""""cc_depth":[8,6,false]""") &&
      deep.contains(""""all_pass":false"""), deep)
  }

  test("burstSplit keeps the min and bounds kept spread at spreadCap") {
    val (keep, out) = RoutingBench.burstSplit(Vector(2.0, 6.2, 2.2, 1.9, 2.1))
    assert(keep == Vector(2.0, 2.2, 1.9, 2.1) && out == Vector(6.2))
    assert(keep.max / keep.min <= RoutingBench.spreadCap)
    val (allKeep, none) = RoutingBench.burstSplit(Vector(1.0, 1.1, 1.2))
    assert(allKeep.size == 3 && none.isEmpty)
  }
}
