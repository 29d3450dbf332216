package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** A store fold split at its guard collect (r14, VERDICT r13 task 4).
  *
  * Every id-guarded incremental store (bm25, fingerprints, segments,
  * spans, and — r15 — the cluster label store) folds in two phases:
  * ONE driver collect over a tagged-union guard frame (delta-contract
  * stats, id-overlap counts, bucket lists, and for clusters the
  * delta-bounded micro graph itself), then the commit (appends +
  * ledger + pointer flip) driven by the collected rows. Standalone
  * `applyDelta` calls run both phases themselves
  * ([[GuardedFold.runStandalone]], behavior unchanged); the ingest
  * daemon instead gathers every family's [[legs]] into ONE combined
  * collect per microbatch ([[GuardedFold.collectAll]]) — at nine
  * families the per-family guard round-trips were the largest measured
  * slice of the daemon's per-batch fixed cost (BENCH_DAEMONFLOOR_r13:
  * f = 8.56 s/batch, ~0.95 s/family, against a 3.5 s volume term;
  * r14's four-family fusion cut f to 5.74).
  *
  * Leg row shape, shared by every participating store:
  * `(t string, a long, b long, arr array<int>)` — `t` is the
  * store-local tag ("stats", "overlap", …); [[GuardedFold.collectAll]]
  * prefixes it with the family name for the union and strips the
  * prefix again when dispatching rows back to each [[commit]]. A tag
  * may repeat (r15, VERDICT r14 task 5): the clusters micro graph
  * ships one "edge"/"did" row per edge/delta id, so the dispatch hands
  * each family `Map[tag -> Array[Row]]`; single-row scalar tags read
  * through [[GuardedFold.one]].
  *
  * Failure contract: a failed combined collect calls every family's
  * [[abort]] (await in-flight pre-guard appends, drop the partial next
  * version) and rethrows — no family commits, every store stays on its
  * complete live snapshot, and the stream's retry re-runs the batch
  * under the per-family ledgers exactly as before. A failed commit
  * abandons its own next version ([[SnapshotRoot.Fold.abandon]]).
  */
private[graft] final case class GuardedFold(
    legs: DataFrame,
    commit: Map[String, Array[Row]] => Unit,
    abort: () => Unit = () => ())

private[graft] object GuardedFold {

  /** The guard-leg column set every store normalizes to. */
  val LegCols: Seq[String] = Seq("t", "a", "b", "arr")

  /** Null bucket-list column for legs that only carry scalars. */
  def noArr: org.apache.spark.sql.Column = lit(null).cast("array<int>").as("arr")

  /** The single row of a scalar guard tag — the shape every pre-r15
    * leg uses. Loud on a multi-row or missing tag: both would mean a
    * store's legs frame and its commit disagree about the contract. */
  def one(meta: Map[String, Array[Row]], t: String): Row = {
    val rs = meta.getOrElse(t, Array.empty[Row])
    require(rs.length == 1,
      s"guard tag '$t' expected exactly one row, got ${rs.length}")
    rs.head
  }

  /** The fold of an id-keyed store into `fold`'s next version. The
    * guard collects two legs over the delta's `doc_id`s — "stats" (rows,
    * distinct ids, and `statsArr` for the store's own use) and
    * "overlap" (ids already in `store`) — plus the store's `extra`
    * legs. The commit refuses a delta whose ids are not distinct and
    * new, then runs `body` and commits `fold`; any failure, in the
    * commit or the collect, abandons the next version. */
  def newIds(fold: SnapshotRoot.Fold, delta: DataFrame, store: DataFrame,
      statsArr: Column = noArr, extra: Seq[DataFrame] = Nil)(
      body: Map[String, Array[Row]] => Unit): GuardedFold = {
    val legs = (delta.agg(count(lit(1)).as("a"),
          count_distinct(col("doc_id")).as("b"), statsArr.as("arr"))
        .select(lit("stats").as("t"), col("a"), col("b"), col("arr")) +:
      store.join(broadcast(delta.select("doc_id")), Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("a"))
        .select(lit("overlap").as("t"), col("a"), lit(0L).as("b"), noArr) +:
      extra).reduce(_.unionByName(_))
    GuardedFold(legs, meta => fold.orAbandon {
      val stats = one(meta, "stats")
      require(stats.getLong(1) == stats.getLong(2),
        s"delta has ${stats.getLong(1)} rows but ${stats.getLong(2)} distinct doc ids")
      val overlap = one(meta, "overlap").getLong(1)
      require(overlap == 0L,
        s"$overlap delta doc_id(s) already present — delta ids must be new")
      body(meta)
      fold.commit()
    }, abort = () => fold.abandon())
  }

  /** One store folding alone: collect its own legs, then commit —
    * exactly the pre-r14 single-family applyDelta behavior. */
  def runStandalone(prepared: Option[GuardedFold]): Unit =
    prepared.foreach { g =>
      val meta =
        try {
          val rows = g.legs.collect()
          rows.foreach(r => requireLocalTag(r.getString(0), "standalone"))
          rows.groupBy(_.getString(0))
        }
        catch { case e: Throwable => g.abort(); throw e }
      g.commit(meta)
    }

  /** Family dispatch prefixes tags with `fam + "/"` and splits on the
    * FIRST "/" — correct only while store-local tags never contain
    * "/". Enforced at every collect so a future store can't silently
    * collide the dispatch (VERDICT r14 task 6). */
  private def requireLocalTag(t: String, fam: String): Unit =
    require(!t.contains("/"),
      s"store-local guard tag '$t' (family $fam) must not contain '/'")

  /** The daemon path: union every family's legs under a
    * `family/`-prefixed tag, collect ONCE, hand each family its rows
    * back (tag prefix stripped, grouped per tag). Returns per-family
    * row maps in input order; commits stay with the caller so it can
    * fan them out. */
  def collectAll(folds: Seq[(String, GuardedFold)]): Seq[(GuardedFold, Map[String, Array[Row]])] = {
    if (folds.isEmpty) return Seq.empty
    val combined = folds.map { case (fam, g) =>
      g.legs.select(concat(lit(fam + "/"), col("t")).as("t"),
        col("a"), col("b"), col("arr"))
    }.reduce(_.unionByName(_))
    try {
      // a family name containing "/" would mis-dispatch SILENTLY: its
      // rows group under the name's first segment, the family reads an
      // empty meta map, and an empty-legs commit can be a quiet no-op
      // fold — the same collision class as slashed tags; failing
      // inside the try routes it through the abort-all path, so
      // in-flight pre-guard appends still settle
      folds.foreach { case (fam, _) =>
        require(!fam.contains("/"),
          s"guard-fold family name '$fam' must not contain '/'")
      }
      // duplicate family names would each receive the UNION of both
      // families' rows from byFam (ADVICE r15) — cross-feeding edge/
      // did/scalar legs into both commits (doubled overlap counts
      // tripping guards, foreign edges entering the union-find)
      require(folds.map(_._1).distinct.size == folds.size,
        "guard-fold family names must be distinct, got: " +
          folds.map(_._1).mkString(", "))
      val rows = combined.collect()
      val byFam = rows.groupBy(_.getString(0).split("/", 2)(0))
      folds.map { case (fam, g) =>
        val famRows = byFam.getOrElse(fam, Array.empty[Row])
        famRows.foreach { r =>
          requireLocalTag(r.getString(0).split("/", 2)(1), fam)
        }
        g -> famRows.groupBy(_.getString(0).split("/", 2)(1))
      }
    } catch { case e: Throwable =>
      // collect failure OR a tag-invariant violation in dispatch: no
      // family commits; abort them all so in-flight pre-guard appends
      // settle and partial next versions drop before the rethrow
      folds.foreach { case (_, g) =>
        try g.abort() catch { case _: Throwable => () }
      }
      throw e
    }
  }
}
