package graft

/** End-to-end smoke: every registered query runs and returns rows at
  * sf0.001. Value-level correctness is the driver's DuckDB-oracle gate;
  * targeted semantics tests live in the per-module specs. */
class SmokeSpec extends SparkSpec {
  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  Queries.all.foreach { case (name, fn) =>
    test(s"$name runs and returns rows") {
      val df = fn(spark, sfDir)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("every query has an oracle or is explicitly rows-only") {
    val noOracle = Queries.all.keySet -- Queries.oracles.keySet
    assert(noOracle.forall(Queries.rowsOnly.contains),
      s"queries missing oracle SQL without rows-only justification: $noOracle")
  }

  test("query names == oracled names ∪ rows-only names, exactly") {
    assert(Queries.all.keySet == Queries.oracles.keySet ++ Queries.rowsOnly)
    assert((Queries.oracles.keySet intersect Queries.rowsOnly).isEmpty)
  }

  test("every oracle name is a query name") {
    val stray = Queries.oracles.keySet -- Queries.all.keySet
    assert(stray.isEmpty, s"oracle SQL without a query: $stray")
  }

  test("no name appears in two of the per-file registries") {
    val files = Seq(Queries.registry, WindowQueries.registry, ExtQueries.registry)
      .map(_.map(_.name))
    files.foreach(names => assert(names.distinct == names, s"duplicate within a file: $names"))
    for (Seq(a, b) <- files.combinations(2)) {
      val both = a.toSet intersect b.toSet
      assert(both.isEmpty, s"registered in two files: $both")
    }
    assert(Queries.all.size == files.map(_.size).sum)
  }

  test("a name registered twice is refused") {
    val d = Queries.registry.head
    val e = intercept[IllegalArgumentException](QueryDef.byName(Seq(d, d)))
    assert(e.getMessage.contains(d.name))
  }
}
