package graft

/** Every spec runs on the same session settings as the mains: the one
  * factory in [[graft.measure]]. */
class MeasureSpec extends SparkSpec {

  test("SparkSpec.session carries the factory's settings") {
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold") == "8192")
    assert(conf.get("spark.sql.extensions").split(",").contains("graft.sqlext.GraftExtensions"))
    assert(conf.get("spark.master") == "local[4]")
  }
}
