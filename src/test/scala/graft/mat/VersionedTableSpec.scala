package graft.mat

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Snapshot reads packed to their byte-derived split count
  * ([[VersionedTable.pack]]): a snapshot within one split, one file or
  * several, reads as one partition, multi-split snapshots keep their
  * parallelism (a task per file up to it), predicates still reach the
  * scan, and a pointer flip is seen by the next read. */
class VersionedTableSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("a filter over a packed, partitioned snapshot reaches the scan") {
    val dir = s"${tmp("graft-vt-part")}/t"
    spark.range(0, 40).selectExpr("id", "cast(id % 4 as int) as p")
      .write.partitionBy("p").parquet(dir)
    val packed = VersionedTable.pack(spark, spark.read.parquet(dir))
      .filter("p = 1 and id > 20")
    val plan = packed.queryExecution.sparkPlan
    assert(plan.collect { case c: CoalesceExec => c }.nonEmpty, plan.toString)
    val scan = plan.collect { case f: FileSourceScanExec => f }.head
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "p")),
      s"partition predicate not on the scan:\n$plan")
    assert(scan.metadata("PushedFilters").contains("GreaterThan(id,20)"),
      s"data predicate not pushed:\n$plan")
    assert(packed.collect().map(_.getLong(0)).sorted.toSeq == (21L until 40L by 4L))
  }

  test("a one-file snapshot reads as a single partition") {
    val dir = tmp("graft-vt-one")
    VersionedTable.write(spark.range(0, 10).coalesce(1).toDF("id"), dir)
    val df = VersionedTable.read(spark, dir)
    assert(df.rdd.getNumPartitions == 1)
    assert(df.queryExecution.sparkPlan.outputPartitioning ==
      org.apache.spark.sql.catalyst.plans.physical.SinglePartition)
  }

  test("a multi-file snapshot within one split reads as a single partition") {
    // a fixture-scale baseline: several small files, together far below
    // the 8m split — one partition, so an aggregate above it plans no
    // Exchange
    val dir = tmp("graft-vt-sub")
    VersionedTable.write(spark.range(0, 4000, 1, 4).selectExpr("id", "id % 7 as k"), dir)
    val df = VersionedTable.read(spark, dir)
    assert(df.inputFiles.length == 4)
    assert(df.rdd.getNumPartitions == 1)
    assert(df.queryExecution.sparkPlan.outputPartitioning ==
      org.apache.spark.sql.catalyst.plans.physical.SinglePartition)
    val agg = df.groupBy("k").count()
    assert(agg.collect().map(_.getLong(1)).sum == 4000)
    val executed = agg.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(executed.collect {
      case e: ShuffleExchangeLike => e
      case e: ShuffleQueryStageExec => e
    }.isEmpty, executed.toString)
  }

  test("a snapshot of several files above the split size keeps more than one partition") {
    // own session: the split size is read per session, and the shared
    // spec session must keep its 8m
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "16k")
    val dir = tmp("graft-vt-multi")
    VersionedTable.write(s.range(0, 20000, 1, 2).selectExpr("id", "rand(7) as r"), dir)
    val df = VersionedTable.read(s, dir)
    val files = df.inputFiles
    assert(files.length == 2)
    assert(files.forall(f => new java.io.File(new java.net.URI(f).getPath).length() > 16 * 1024))
    assert(df.rdd.getNumPartitions > 1)
    assert(df.count() == 20000)
  }

  test("a snapshot of many files above one split keeps a task per file up to the parallelism") {
    // above one split the file floor stays: 8 small files of 2-3 splits
    // together read as min(files, parallelism) partitions, not as their
    // 2-3 byte splits
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "16k")
    val dir = tmp("graft-vt-floor")
    VersionedTable.write(s.range(0, 3000, 1, 8).selectExpr("id", "rand(7) as r"), dir)
    val df = VersionedTable.read(s, dir)
    val files = df.inputFiles
    val bytes = files.map(f => new java.io.File(new java.net.URI(f).getPath).length()).sum
    val splits = (bytes + 16 * 1024 - 1) / (16 * 1024)
    val par = s.sparkContext.defaultParallelism
    assert(files.length == 8)
    assert(splits >= 2 && splits < math.min(files.length, par), s"$bytes bytes, $splits splits")
    assert(df.rdd.getNumPartitions == math.min(files.length, par))
    assert(df.count() == 3000)
  }

  test("destroy closes every directory handle it opens") {
    // a leaked directory stream holds its fd until the JVM exits, and
    // every rollup rewrite GCs a superseded version: a long-running
    // daemon would walk into the process fd limit
    val fds = new java.io.File("/proc/self/fd")
    assume(fds.isDirectory, "needs /proc/self/fd")
    val dir = tmp("graft-vt-fds")
    (0 until 200).foreach(i => Files.createDirectories(Paths.get(dir, "v1", s"d$i")))
    Files.write(Paths.get(dir, "_current"), "v1".getBytes("UTF-8"))
    val before = fds.list().length
    VersionedTable.destroy(dir)
    System.gc()
    val after = fds.list().length
    assert(!Files.exists(Paths.get(dir)))
    assert(after - before < 50, s"destroy of 200 directories left ${after - before} more open fds")
  }

  test("after the pointer flips, the next read sees the new version's rows") {
    val dir = tmp("graft-vt-flip")
    VersionedTable.write(spark.range(0, 10).coalesce(1).toDF("id"), dir)
    assert(VersionedTable.read(spark, dir).count() == 10)
    VersionedTable.write(spark.range(0, 25).coalesce(1).toDF("id"), dir)
    assert(VersionedTable.currentVersion(dir).contains("v2"))
    assert(VersionedTable.read(spark, dir).collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 25L))
  }
}
