package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** BM25 lexical retrieval (Robertson & Zaragoza 2009, the Okapi
  * formulation with Lucene's +1-inside-the-log idf so scores stay
  * positive) — the keyword-side complement to the ANN embedding path:
  * a curation pipeline uses it to pull "documents like this probe" for
  * audit, eval-set mining, and targeted decontamination.
  *
  * score(d, q) = Σ over DISTINCT query terms w present in d of
  *   idf(w) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
  *   idf(w) = ln((N − df + 0.5)/(df + 0.5) + 1).
  *
  * Determinism contract (what makes this hash-oracle-able): idf is
  * rounded to 6dp ONCE and fixed as DECIMAL(18,6); each (doc, term)
  * contribution is one deterministic double expression (every
  * operand exact: tf/dl/N are integers, avgdl the quotient of two
  * exact integers) rounded to 6dp and fixed as DECIMAL(18,6); a
  * document's score is the EXACT decimal sum of its term
  * contributions. Cross-row double addition never happens, so the
  * result is identical at any partitioning and re-derivable by any
  * engine with IEEE doubles ([[graft.ExtQueries.bm25Sql]]).
  *
  * Scale shape (batch): one (doc, term) partial-agg shuffle builds tf
  * (map-side combine collapses repeats), dl rides the same pass as a
  * within-doc count, df aggregates the tf table at vocab grain, and
  * the query-term filter broadcasts (a handful of literals) — the
  * corpus is never shuffled at token grain and non-matching docs drop
  * at the semi-join. Top-k is a total-order (score desc, doc_id asc)
  * limit: rows:k, never a global sort of the corpus.
  *
  * The persisted form ([[Bm25Index]]) serves the same scores without
  * touching the corpus: posting lists keyed by term hash-bucket, so a
  * probe reads only the query terms' buckets. */
object Bm25 {

  val K1 = 1.2
  val B = 0.75

  /** (doc_id, carry..., dl, w, tf) — per-document term frequencies and
    * length over whitespace tokens; token-free documents excluded. dl
    * is computed NARROW (array size before the explode) and rides the
    * group keys (functionally dependent on the doc), so the only
    * shuffle is the (doc, term) partial aggregate. */
  def termFreqs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", carry: Seq[String] = Seq("source")): DataFrame = {
    val base = docs.filter(length(trim(col(textCol))) > 0)
    val toks = TextOps.tokensOf(docs, textCol, lowered = true)
    base.select((col(idCol) +: carry.map(col)) ++ Seq(
        size(toks).cast("long").as("dl"),
        explode(toks).as("w")): _*)
      .groupBy((col(idCol) +: carry.map(col)) ++ Seq(col("dl"), col("w")): _*)
      .agg(count(lit(1)).as("tf"))
  }

  /** 6dp-fixed idf per term, from (w, df) rows + the corpus size. */
  def idf(dfTable: DataFrame, nDocs: Long): DataFrame =
    dfTable.select(col("w"),
      round(log((lit(nDocs).cast("double") - col("df").cast("double") + lit(0.5))
          / (col("df").cast("double") + lit(0.5)) + lit(1.0)), 6)
        .cast("decimal(18,6)").as("idf"))

  /** One (doc, term) BM25 contribution, 6dp-fixed. `avgdl` is the
    * exact-integer quotient sum(dl)/N computed by the caller. */
  private def contribution(avgdl: Double): Column =
    round(col("idf").cast("double")
        * (col("tf").cast("double") * lit(K1 + 1.0))
        / (col("tf").cast("double")
           + lit(K1) * (lit(1.0 - B) + lit(B) * (col("dl").cast("double") / lit(avgdl)))),
      6).cast("decimal(18,6)")

  /** Per-document scores for `query` over `docs`: (doc_id, carry...,
    * n_terms matched, score). Only documents containing at least one
    * distinct query term appear. */
  def scores(docs: DataFrame, query: String, idCol: String = "doc_id",
      textCol: String = "text", carry: Seq[String] = Seq("source")): DataFrame = {
    val qTerms = queryTerms(query)
    // cached: tf appears twice in the terminal plan (contribution join
    // + df derivation) and aliased subplans are not deduped
    val tf = Persists.cache(
      termFreqs(docs, idCol, textCol, carry)
        .filter(col("w").isin(qTerms: _*)))
    // N and Σdl over ALL scoreable docs (not just matches): one
    // corpus-grain narrow aggregate, driver metadata
    val stats = docs.filter(length(trim(col(textCol))) > 0)
      .select(size(TextOps.tokensOf(docs, textCol, lowered = true))
        .cast("long").as("dl"))
      .agg(count(lit(1)).as("n"), sum("dl").as("tot")).head()
    val nDocs = stats.getLong(0)
    require(nDocs > 0, "empty corpus")
    scoreMatches(tf, dfOf(tf), nDocs, stats.getLong(1), idCol, carry)
  }

  /** Distinct, order-stable query terms (classic BM25 sums over the
    * query's distinct terms). */
  def queryTerms(query: String): Seq[String] =
    query.toLowerCase.trim.split("\\s+").toSeq.filter(_.nonEmpty).distinct

  /** (w, df) from a query-term-filtered tf table — df counts DOCS. */
  private def dfOf(tf: DataFrame): DataFrame =
    tf.groupBy("w").agg(count(lit(1)).as("df"))

  /** Shared scoring tail: tf rows (already restricted to query terms)
    * + df + corpus stats → per-doc (n_terms, score). Both the batch
    * and the indexed path land here, so indexed == batch by
    * construction. */
  private[ops] def scoreMatches(tf: DataFrame, dfTable: DataFrame,
      nDocs: Long, totDl: Long, idCol: String,
      carry: Seq[String]): DataFrame = {
    val avgdl = totDl.toDouble / nDocs
    tf.join(idf(dfTable, nDocs), "w")
      .withColumn("__c", contribution(avgdl))
      .groupBy(col(idCol) +: carry.map(col): _*)
      .agg(count(lit(1)).as("n_terms"),
        sum("__c").cast("double").as("score"))
  }
}

/** Persisted BM25 inverted index — the continuous form of [[Bm25]]:
  * posting lists, document-frequency partials, doc lengths, and corpus
  * stats under one [[SnapshotRoot]], folded per arrival batch, so a
  * probe never touches the corpus and ingest pays O(delta) per batch.
  *
  * Layout (all append-only via [[BucketStore.append]] — hard-link +
  * O(delta) file moves, per-bucket compaction):
  *  - `postings` (w, doc_id, tf, dl, source, wbucket): term-hash
  *    buckets, dl/source denormalized so scoring needs no doc join;
  *  - `df` (w, df, wbucket): PARTIAL increments — reads sum them,
  *    compaction collapses them (the gramdf idiom);
  *  - `doclen` (doc_id, dl, dbucket): serves the new-ids guard;
  *  - `stats` (n_docs, tot_dl, sbucket=0): summable 1-row partials —
  *    N and Σdl at probe time cost a metadata-scale scan.
  *
  * Because every table is purely ADDITIVE, fold == rebuild holds
  * exactly under ANY arrival order — no ordering caveat like the
  * segment keeper's first-observed rule. A single pointer flip commits
  * all four tables; an applied-fold ledger makes replays no-op.
  *
  * Probe ([[scoresFromState]]): query terms → wbucket literals →
  * partition-pruned postings/df reads (only the query's buckets are
  * listed or read) → [[Bm25.scoreMatches]]. Probe cost scales with the
  * matched posting lists, never the corpus. Stopword-grade terms have
  * corpus-sized posting lists; callers cap them with `maxDfRatio`
  * (drop query terms with df > ratio·N — the standard guard; WAND-style
  * dynamic pruning would go here if exact top-k under huge lists were
  * needed). */
object Bm25Index {

  private val postingsSchema = StructType(Seq(
    StructField("w", StringType), StructField("doc_id", LongType),
    StructField("tf", LongType), StructField("dl", LongType),
    StructField("source", StringType),
    StructField("positions", ArrayType(IntegerType)),
    StructField("wbucket", IntegerType)))
  private val dfSchema = StructType(Seq(
    StructField("w", StringType), StructField("df", LongType),
    StructField("wbucket", IntegerType)))
  private val doclenSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("dl", LongType),
    StructField("dbucket", IntegerType)))
  private val statsSchema = StructType(Seq(
    StructField("n_docs", LongType), StructField("tot_dl", LongType),
    StructField("sbucket", IntegerType)))

  private def wbucket(w: Column, n: Int) =
    pmod(xxhash64(w), lit(n.toLong)).cast("int")

  /** Bucket ids for literal terms via the ENGINE's own expression tree
    * — the exact `cast(pmod(xxhash64(w), n) as int)` the write side
    * plans, EVALUATED DRIVER-SIDE on the literal terms (r19): the old
    * toDF→distinct→collect spelling scheduled a full Spark job (with a
    * distinct exchange) per probe just to hash a handful of query
    * literals, 1-5 such jobs per bm25-family query. Same expression
    * classes, same seed (42), so no reimplementation to drift —
    * Bm25Spec's probe-vs-store agreement gates it. */
  private def bucketsOf(spark: SparkSession, terms: Seq[String],
      nBuckets: Int): Seq[Integer] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Pmod, XxHash64}
    terms.distinct.map { w =>
      Cast(Pmod(XxHash64(Seq(Literal.create(w,
          org.apache.spark.sql.types.StringType)), 42L),
          Literal(nBuckets.toLong)), IntegerType)
        .eval(null).asInstanceOf[Int]
    }.distinct.map(Integer.valueOf).toSeq
  }
  private def dbucket(id: Column, n: Int) =
    pmod(id.cast("long"), lit(n.toLong)).cast("int")

  private def paramsLine(nBuckets: Int) = s"nBuckets=$nBuckets"

  /** The bucket count the index at `root` was built with — for
    * callers (the SQL TVF) that identify an index by path alone. */
  def storedBuckets(root: String): Int =
    SnapshotRoot.params(root).stripPrefix("nBuckets=").toInt

  private def requireSameParams(root: String, nBuckets: Int): Unit =
    SnapshotRoot.requireParams(root, paramsLine(nBuckets),
      "a mismatched bucket count probes the wrong dirs")

  /** The four index tables for a batch of docs (no store read). The tf
    * frame is cached for the four table writes (the fold posture —
    * epoch sweep reclaims any over-registration). Postings carry the
    * term's POSITIONS in the doc (0-based, sorted) so the index also
    * serves exact-phrase probes ([[phraseFromState]]); tf/dl here must
    * stay definitionally identical to [[Bm25.termFreqs]] — the
    * indexed==batch score spec gates that. */
  private def derive(docs: DataFrame, nBuckets: Int): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val tf = Persists.cacheFor(
      docs.filter(length(trim(col("text"))) > 0)
        .withColumn("__t", TextOps.tokensOf(docs, "text", lowered = true))
        .select(col("doc_id"), col("source"),
          size(col("__t")).cast("long").as("dl"),
          posexplode(col("__t")).as(Seq("pos", "w")))
        .groupBy("doc_id", "source", "dl", "w")
        .agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos"))).as("positions"))
        .withColumn("wbucket", wbucket(col("w"), nBuckets)), 4)
    val postings = tf.select("w", "doc_id", "tf", "dl", "source",
      "positions", "wbucket")
    val dfP = tf.groupBy("w", "wbucket").agg(count(lit(1)).as("df"))
      .select("w", "df", "wbucket")
    val dlens = tf.groupBy("doc_id").agg(first("dl").as("dl"))
    val doclen = dlens.withColumn("dbucket", dbucket(col("doc_id"), nBuckets))
    val stats = dlens
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_dl"))
      .withColumn("sbucket", lit(0))
    (postings, dfP, doclen, stats)
  }

  private def sumDf(rows: DataFrame): DataFrame =
    rows.groupBy("w", "wbucket").agg(sum("df").as("df"))
      .select("w", "df", "wbucket")
  private def sumStats(rows: DataFrame): DataFrame =
    rows.groupBy("sbucket").agg(sum("n_docs").as("n_docs"),
        sum("tot_dl").as("tot_dl"))
      .select("n_docs", "tot_dl", "sbucket")

  /** Batch-build the index from `docs` (doc_id, source, text). */
  def writeState(docs: DataFrame, root: String, nBuckets: Int = 64): Unit = {
    val (postings, dfP, doclen, stats) = derive(docs, nBuckets)
    SnapshotRoot.seed(root) { v1 =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      Seq(
        Future(Bucketing.writePartitioned(postings, s"$v1/postings", Seq("wbucket"))),
        Future(Bucketing.writePartitioned(dfP, s"$v1/df", Seq("wbucket"))),
        Future(Bucketing.writePartitioned(doclen, s"$v1/doclen", Seq("dbucket"))),
        Future(Bucketing.writePartitioned(stats, s"$v1/stats", Seq("sbucket"))))
        .foreach(Await.result(_, Duration.Inf))
      // guard the FIRST fold too (r13): record each table's commit
      // manifest at init, not only from the first append on
      Seq("postings", "df", "doclen", "stats")
        .foreach(BucketStore.initManifest(v1, _))
      SnapshotRoot.writeParams(root, paramsLine(nBuckets))
    }
  }

  /** Fold one arrival batch (doc_id, source, text): guard (delta-
    * contract stats + the new-ids check, ONE fused tagged-union collect
    * whose overlap leg streams the whole doclen store through a
    * broadcast semi over the delta ids — r13 replaced the dbucket-
    * pruned two-collect shape, see the comment below), then append the
    * batch's postings / df partials / doc lengths / stats partial.
    * O(delta) bytes written; the only corpus-proportional read is the
    * guard's doclen semi-join scan. */
  def applyDelta(spark: SparkSession, root: String, delta: DataFrame,
      nBuckets: Int = 64, foldId: Option[String] = None): Unit =
    GuardedFold.runStandalone(prepareFold(spark, root, delta, nBuckets, foldId))

  /** The fold split at its guard collect (r14, VERDICT r13 task 4):
    * the daemon unions these legs with every other family's into ONE
    * driver round-trip per microbatch — see [[GuardedFold]]. */
  private[graft] def prepareFold(spark: SparkSession, root: String,
      delta: DataFrame, nBuckets: Int = 64,
      foldId: Option[String] = None): Option[GuardedFold] = {
    requireSameParams(root, nBuckets)
    SnapshotRoot.begin(root, foldId).map { fold =>
      val cur = fold.liveDir
      val d = Persists.cacheFor(
        TextOps.keepTokens(delta, "doc_id", "source", "text"), 64)
      // ONE fused guard collect (r13, VERDICT r12 task 4 — was two
      // serialized driver round-trips). The overlap leg semi-joins the
      // whole doclen store against the broadcast delta ids instead of
      // dbucket-literal pruning — a realistic delta's ids hash into
      // every bucket, so the pruning bought nothing while forcing the
      // stats collect to complete first.
      GuardedFold.newIds(fold, d,
          BucketStore.readChecked(spark, doclenSchema, cur, "doclen")) { _ =>
        val (postings, dfP, doclen, stats) = derive(d, nBuckets)
        fold.async(BucketStore.append(spark, cur, fold.dir, "postings", "wbucket",
          postings, identity, postingsSchema))
        fold.async(BucketStore.append(spark, cur, fold.dir, "df", "wbucket",
          dfP, sumDf, dfSchema))
        fold.async(BucketStore.append(spark, cur, fold.dir, "doclen", "dbucket",
          doclen, identity, doclenSchema))
        fold.async(BucketStore.append(spark, cur, fold.dir, "stats", "sbucket",
          stats, sumStats, statsSchema))
      }
    }
  }

  /** Score `query` from the maintained index — [[Bm25.scores]] output,
    * identical values, no corpus read: postings and df reads prune to
    * the query terms' wbuckets (literal partition predicates), stats
    * is a metadata-scale sum. `maxDfRatio` drops query terms whose df
    * exceeds ratio·N (stopword guard; None scores every term). */
  def scoresFromState(spark: SparkSession, root: String, query: String,
      nBuckets: Int = 64, maxDfRatio: Option[Double] = None): DataFrame = {
    requireSameParams(root, nBuckets)
    val cur = SnapshotRoot.currentDir(root)
    val qTerms = Bm25.queryTerms(query)
    val qBuckets = bucketsOf(spark, qTerms, nBuckets)

    // serve-path listing contract (VERDICT r15 task 2): each probe
    // read validates Spark's OWN planned listing against the table's
    // commit manifest at plan build — a silently short listing here
    // returns wrong answers to a user query; the bucket-literal
    // pruning below stays with the directory-shaped scan
    val st = BucketStore.checkPlannedListing(
        spark.read.schema(statsSchema).parquet(s"$cur/stats"), cur, "stats")
      .agg(sum("n_docs"), sum("tot_dl")).head()
    require(!st.isNullAt(0) && st.getLong(0) > 0, "empty index")
    val nDocs = st.getLong(0); val totDl = st.getLong(1)

    val dfAll = BucketStore.checkPlannedListing(
        spark.read.schema(dfSchema).parquet(s"$cur/df"), cur, "df")
      .filter(col("wbucket").isin(qBuckets: _*))
      .filter(col("w").isin(qTerms: _*))
      .groupBy("w").agg(sum("df").as("df"))
    val keep = maxDfRatio match {
      case Some(r) => dfAll.filter(col("df").cast("double") <= lit(r) * nDocs)
      case None => dfAll
    }
    val tf = BucketStore.checkPlannedListing(
        spark.read.schema(postingsSchema).parquet(s"$cur/postings"),
        cur, "postings")
      .filter(col("wbucket").isin(qBuckets: _*))
      .filter(col("w").isin(qTerms: _*))
      .join(broadcast(keep.select("w")), Seq("w"), "left_semi")
      .select("w", "doc_id", "tf", "dl", "source")
    Bm25.scoreMatches(tf, keep, nDocs, totDl, "doc_id", Seq("source"))
  }

  /** Diagnostic: how many essential terms the last [[topKFromState]]
    * probe needed before the MaxScore bound closed (1 = maximal
    * pruning; |query terms| = it fell back to full scoring). */
  @volatile var lastEssentialTerms: Int = 0

  /** EXACT top-k BM25 from the index without aggregating every
    * matching document — the MaxScore family of dynamic pruning
    * (Turtle & Flood 1995; the WAND bound of Broder et al. 2003),
    * re-expressed in Spark's batch shape. This is the answer to
    * stopword-grade query terms that [[scoresFromState]]'s
    * `maxDfRatio` guard simply DROPS: here they keep contributing to
    * scores, but never drag the whole corpus through the shuffle.
    *
    * Per-term impact bound: contribution < idf(w)·(k1+1) (tf→∞ makes
    * the saturation factor approach k1+1), padded for the engine's
    * 6dp roundings. Terms are ordered by bound descending and an
    * ESSENTIAL prefix S grows from 1: only documents matching ≥1
    * essential term are fully scored (the non-essential terms'
    * posting reads are doc-pruned by a semi-join — their corpus-sized
    * lists are scanned columnar but never shuffled at list scale),
    * and the loop stops when the kth best score θ strictly exceeds
    * Σ bounds over non-essential terms: a document with no essential
    * term scores ≤ that sum < θ, so it cannot enter the top k — the
    * result equals full scoring exactly (spec-gated, and q_bm25_topk
    * hash-gates it against the full-scoring oracle). A rare+stopword
    * probe closes at |S| = 1; the worst case degrades to full
    * scoring, never to a wrong answer.
    *
    * `k` is driver-sized by contract (the loop collects the k
    * candidate scores to fix θ). Returns (doc_id, source, n_terms,
    * score) — the [[Bm25.scores]] shape, already cut to the top k by
    * (score desc, doc_id asc). */
  def topKFromState(spark: SparkSession, root: String, query: String,
      k: Int, nBuckets: Int = 64): DataFrame = {
    require(k > 0, "k must be positive")
    requireSameParams(root, nBuckets)
    val cur = SnapshotRoot.currentDir(root)
    val qTerms = Bm25.queryTerms(query)
    val qBuckets = bucketsOf(spark, qTerms, nBuckets)

    // serve-path listing contract — see [[scoresFromState]]
    val st = BucketStore.checkPlannedListing(
        spark.read.schema(statsSchema).parquet(s"$cur/stats"), cur, "stats")
      .agg(sum("n_docs"), sum("tot_dl")).head()
    require(!st.isNullAt(0) && st.getLong(0) > 0, "empty index")
    val nDocs = st.getLong(0); val totDl = st.getLong(1)

    def postingsFor(terms: Seq[String]) = {
      val tb = bucketsOf(spark, terms, nBuckets)
      BucketStore.checkPlannedListing(
          spark.read.schema(postingsSchema).parquet(s"$cur/postings"),
          cur, "postings")
        .filter(col("wbucket").isin(tb: _*))
        .filter(col("w").isin(terms: _*))
    }
    val dfAll = BucketStore.checkPlannedListing(
        spark.read.schema(dfSchema).parquet(s"$cur/df"), cur, "df")
      .filter(col("wbucket").isin(qBuckets: _*))
      .filter(col("w").isin(qTerms: _*))
      .groupBy("w").agg(sum("df").as("df"))
    // |query|-row driver metadata: df per present term → impact bounds.
    // The pad covers the engine's two 6dp roundings (idf + per-row
    // contribution) with orders of magnitude to spare — the bound only
    // needs to stay an upper bound, not to be tight.
    val dfMap = dfAll.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ub = dfMap.map { case (w, df) =>
      w -> (math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)
        * (Bm25.K1 + 1.0) + 1e-4)
    }
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("n_terms", LongType), StructField("score", DoubleType)))
    val ordered = dfMap.keys.toSeq.sortBy(w => (-ub(w), w))
    if (ordered.isEmpty) {
      lastEssentialTerms = 0
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), outSchema)
    }
    var e = 1
    while (true) {
      val essential = ordered.take(e)
      val restBound = ordered.drop(e).map(ub).sum
      val matched = postingsFor(essential).select("doc_id").distinct()
      val tfAll = postingsFor(ordered)
        .join(matched, Seq("doc_id"), "left_semi")
        .select("w", "doc_id", "tf", "dl", "source")
      val scored = Bm25.scoreMatches(tfAll, dfAll, nDocs, totDl,
        "doc_id", Seq("source"))
      val top = scored.orderBy(col("score").desc, col("doc_id").asc)
        .limit(k).collect()
      val theta =
        if (top.length >= k) top.map(_.getDouble(3)).min
        else Double.NegativeInfinity
      if (restBound < theta || e == ordered.size) {
        lastEssentialTerms = e
        return spark.createDataFrame(
          java.util.Arrays.asList(top: _*), outSchema)
      }
      e += 1
    }
    sys.error("unreachable")
  }

  /** TF-IDF top-k terms per document served from the MAINTAINED index
    * — keyword extraction without re-tokenizing the corpus (r12): tf
    * comes from the postings table, df from the summed df partials,
    * N from the stats partials; score = round(tf · ln(N/df), 6), ties
    * (score desc, term asc). Because the index tokenizes LOWERCASE and
    * skips token-free documents, the equivalent raw recompute is the
    * lowered+filtered TF-IDF (q_tfidf_incremental's oracle pins index
    * == recompute exactly). This is a corpus-grain profiling read —
    * all buckets scanned once, fixed-width rows, no text. */
  def tfidfFromState(spark: SparkSession, root: String, k: Int = 3,
      nBuckets: Int = 64): DataFrame = {
    requireSameParams(root, nBuckets)
    val cur = SnapshotRoot.currentDir(root)
    // serve-path listing contract — see [[scoresFromState]]
    val st = BucketStore.checkPlannedListing(
        spark.read.schema(statsSchema).parquet(s"$cur/stats"), cur, "stats")
      .agg(sum("n_docs")).head()
    require(!st.isNullAt(0) && st.getLong(0) > 0, "empty index")
    val nDocs = st.getLong(0)
    val tf = BucketStore.checkPlannedListing(
        spark.read.schema(postingsSchema).parquet(s"$cur/postings"),
        cur, "postings")
      .select("w", "doc_id", "tf")
    val dfT = BucketStore.checkPlannedListing(
        spark.read.schema(dfSchema).parquet(s"$cur/df"), cur, "df")
      .groupBy("w").agg(sum("df").as("df"))
    val scored = tf.join(dfT, "w")
      .withColumn("score",
        round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 6))
      .withColumnRenamed("w", "word")
    Sampling.topKPerGroup(scored, col("doc_id"), col("score"),
        col("word"), k = k)
      .select("doc_id", "rk", "word", "score")
  }

  /** Exact-phrase probe from the positional postings — (doc_id,
    * source, n_hits) for every document containing `phrase` as
    * consecutive tokens, without touching the corpus text: the i-th
    * phrase term's posting list is read (bucket-pruned), the per-doc
    * lists join on doc_id (k-1 joins for a k-term phrase, each side
    * already pruned to one term), and a phrase start is a position p
    * in term 0's list with p+i present in term i's list for every i —
    * in-row codegen HOFs over the sorted position arrays. The
    * decontamination/audit workhorse: "which documents contain this
    * eval sentence verbatim" at posting-list cost. */
  def phraseFromState(spark: SparkSession, root: String, phrase: String,
      nBuckets: Int = 64): DataFrame = {
    requireSameParams(root, nBuckets)
    val cur = SnapshotRoot.currentDir(root)
    val terms = phrase.toLowerCase.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    require(terms.nonEmpty, "empty phrase")
    val qBuckets = bucketsOf(spark, terms, nBuckets)
    // serve-path listing contract — see [[scoresFromState]]
    val posts = BucketStore.checkPlannedListing(
        spark.read.schema(postingsSchema).parquet(s"$cur/postings"),
        cur, "postings")
      .filter(col("wbucket").isin(qBuckets: _*))
    def readFor(w: String) = posts.filter(col("w") === w)
    val base = readFor(terms.head)
      .select(col("doc_id"), col("source"), col("positions").as("p0"))
    val joined = terms.indices.tail.foldLeft(base) { (acc, i) =>
      acc.join(readFor(terms(i))
        .select(col("doc_id"), col("positions").as(s"p$i")), "doc_id")
    }
    val starts = terms.indices.tail.foldLeft(col("p0")) { (c, i) =>
      filter(c, p => array_contains(col(s"p$i"), p + i))
    }
    joined.select(col("doc_id"), col("source"),
        size(starts).cast("long").as("n_hits"))
      .filter(col("n_hits") > 0)
  }
}
