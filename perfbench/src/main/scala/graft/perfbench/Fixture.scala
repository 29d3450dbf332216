package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generated input tables, in the schema of the engine's fixture tables
  * (orders, customer, nation, region, documents).
  *
  * The tables come from one fixed recipe and never from the workload
  * seed: the seed picks query shapes, literals and the ingest batch
  * split, so every seed runs against the same data and run-to-run
  * differences come from the workload, not from table contents. Every
  * column is a hash of the row id and a column salt, so the output does
  * not depend on partitioning or task order. Generated dirs are cached
  * under `root`, keyed by recipe name, and written atomically (temp dir
  * + rename) so an interrupted generation is never reused.
  */
object Fixture {
  val dataSeed = 42L
  val orders = 150000L
  val customers = 15000L
  val documents = 4000L

  val statuses = Seq("F", "O", "P")
  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val firstDay = java.time.LocalDate.parse("1995-01-01")
  val days = 2404 // 1995-01-01 .. 2001-08-01
  val langs = Seq("en", "en", "en", "fr", "es", "zh", "de")
  private val vocab = Seq("the", "a", "data", "spark", "query", "row", "column",
    "table", "scan", "join", "agg", "group", "sort", "merge", "hash", "key",
    "value", "filter", "window", "stream", "batch", "order", "customer",
    "line", "part", "vector", "fast", "slow", "big", "small", "dup")

  private def h(id: Column, salt: Int): Column = xxhash64(id, lit(salt), lit(dataSeed))
  private def pick(values: Seq[String], id: Column, salt: Int): Column =
    element_at(array(values.map(lit): _*),
      (pmod(h(id, salt), lit(values.size.toLong)) + 1).cast("int"))

  /** Base tables (sf0.1 sizes). */
  def base(spark: SparkSession, root: Path): String =
    cached(root, s"base-v1-o$orders-c$customers-d$documents") { dir =>
      val id = col("id")
      spark.range(5).select(id.cast("int").as("r_regionkey"),
          element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
            (id + 1).cast("int")).as("r_name"))
        .coalesce(1).write.parquet(s"$dir/region.parquet")
      spark.range(25).select(id.cast("int").as("n_nationkey"),
          concat(lit("NATION_"), id.cast("string")).as("n_name"),
          (id % 5).cast("int").as("n_regionkey"))
        .coalesce(1).write.parquet(s"$dir/nation.parquet")
      spark.range(customers).select(id.as("c_custkey"),
          format_string("Customer#%09d", id).as("c_name"),
          pmod(h(id, 1), lit(25L)).cast("int").as("c_nationkey"),
          ((pmod(h(id, 2), lit(1100000L)) - 99999) / 100.0).as("c_acctbal"),
          pick(segments, id, 3).as("c_mktsegment"))
        .coalesce(1).write.parquet(s"$dir/customer.parquet")
      spark.range(orders).select(id.as("o_orderkey"),
          pmod(h(id, 4), lit(customers)).as("o_custkey"),
          pick(statuses, id, 5).as("o_orderstatus"),
          ((pmod(h(id, 6), lit(55000000L)) + 85000) / 100.0).as("o_totalprice"),
          date_add(lit(firstDay), pmod(h(id, 7), lit(days.toLong)).cast("int"))
            .cast("timestamp").as("o_orderdate"),
          pick(priorities, id, 8).as("o_orderpriority"))
        .repartition(4).write.parquet(s"$dir/orders.parquet")
      docs(spark).coalesce(2).write.parquet(s"$dir/documents.parquet")
      writeSizes(spark, dir)
    }

  /** Documents: random-vocabulary text where ~15% of documents copy an
    * earlier document's text and append one word, as near-duplicates do
    * in a real corpus. */
  private def docs(spark: SparkSession): DataFrame = {
    val id = col("doc_id")
    val isDup = id > 50 && pmod(h(id, 9), lit(100L)) < 15
    val src = when(isDup, id - 1 - pmod(h(id, 10), lit(50L))).otherwise(id)
    val nWords = (pmod(h(col("src"), 11), lit(80L)) + 8).cast("int")
    val words = transform(sequence(lit(0), nWords - 1), i =>
      element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(col("src"), i, lit(12), lit(dataSeed)), lit(vocab.size.toLong)) + 1)
          .cast("int")))
    val text = when(col("dup"), concat(array_join(words, " "), lit(" "), pick(vocab, id, 13)))
      .otherwise(array_join(words, " "))
    spark.range(documents).select(col("id").as("doc_id"))
      .select(id, src.as("src"), isDup.as("dup"))
      .select(id, text.as("text"), pick(langs, id, 14).as("lang"),
        concat(lit("src"), (id % 10).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Rows and MB of every table, recorded when the tables were written. */
  def sizesJson(dir: String): String = Files.readString(Paths.get(dir, "_sizes.json")).trim

  private def writeSizes(spark: SparkSession, dir: String): Unit = {
    val tables = Seq("region", "nation", "customer", "orders", "documents")
    val json = Json.obj(tables.map { t =>
      val p = Paths.get(dir, s"$t.parquet")
      val bytes = Files.walk(p).filter(Files.isRegularFile(_))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .mapToLong(Files.size(_)).sum()
      t -> Json.obj(Seq("rows" -> spark.read.parquet(p.toString).count().toString,
        "mb" -> Json.num(bytes / 1e6)))
    })
    Files.writeString(Paths.get(dir, "_sizes.json"), json + "\n")
  }

  private def cached(root: Path, recipe: String)(write: String => Unit): String = {
    val dir = root.resolve(recipe)
    if (Files.exists(dir.resolve("_done"))) return dir.toString
    Files.createDirectories(root)
    val tmp = Files.createTempDirectory(root, s".$recipe-")
    write(tmp.toString)
    Files.writeString(tmp.resolve("_done"), recipe + "\n")
    try Files.move(tmp, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.FileSystemException if Files.exists(dir.resolve("_done")) =>
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    }
    dir.toString
  }
}
