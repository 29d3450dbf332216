package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One `SparkEntry.queries` entry: its engine function and how its
  * rows are checked — `Right(sql)`, the DuckDB oracle re-deriving them, or
  * `Left(reason)`, why no SQL engine can (a rows-only check). */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Either[String, String])

object QueryDef {

  def oracled(name: String, run: (SparkSession, String) => DataFrame,
      sql: String): QueryDef = QueryDef(name, run, Right(sql))

  def rowsOnly(name: String, run: (SparkSession, String) => DataFrame,
      reason: String): QueryDef = QueryDef(name, run, Left(reason))

  /** `defs` by name, refusing a name registered twice. */
  def byName(defs: Seq[QueryDef]): Map[String, QueryDef] = {
    val twice = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(twice.isEmpty, s"queries registered twice: ${twice.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> d).toMap
  }
}
