package graft.ops

import graft.SparkSpec
import graft.model.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private def tiny: DataFrame = Seq(
    (1L, "srcA", "cat dog cat"),
    (2L, "srcA", "dog bird"),
    (3L, "srcB", "fish")).toDF("doc_id", "source", "text")

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet

  test("scores match the hand formula on a tiny corpus") {
    val s = Bm25.scores(tiny, "cat bird")
      .select("doc_id", "source", "n_terms", "score").collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 2: tf=1, dl=2 = avgdl → the length norm cancels exactly and
    // the score IS idf(bird) = round(ln((3-1+0.5)/1.5 + 1), 6)
    assert(s(2L).getDouble(3) == 0.980829)
    assert(s(2L).getLong(2) == 1L)
    // doc 1 matches only 'cat' with tf=2 (longer doc, tf saturation
    // still wins): 0.980829 * 4.4/3.65
    assert(s(1L).getDouble(3) > s(2L).getDouble(3))
    assert(s(1L).getLong(2) == 1L)
    // doc 3 matches nothing and must be absent
    assert(!s.contains(3L))
  }

  test("query terms dedupe and token-free docs are excluded") {
    val withEmpty = tiny.union(Seq((4L, "srcB", "   ")).toDF())
    val dup = Bm25.scores(withEmpty, "bird bird BIRD")
    val once = Bm25.scores(withEmpty, "bird")
    assert(rows(dup) == rows(once))
    assert(!dup.collect().map(_.getLong(0)).contains(4L))
  }

  test("indexed probe == batch scores on the documents fixture") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-bm25-idx").toString + "/s"
    Bm25Index.writeState(docs, root, nBuckets = 16)
    val batch = Bm25.scores(docs, "dup merge stream")
    val probe = Bm25Index.scoresFromState(spark, root, "dup merge stream", nBuckets = 16)
    assert(rows(batch) == rows(probe))
    assert(batch.count() > 0)
  }

  test("serve-path probe is manifest-checked: a lost postings file refuses the probe (r16 tamper)") {
    // the probe validates Spark's OWN planned listing against the
    // commit manifest at plan build — a short listing would silently
    // return wrong scores to a user query
    val root = java.nio.file.Files.createTempDirectory("graft-bm25-tamper").toString + "/s"
    Bm25Index.writeState(tiny, root, nBuckets = 8)
    val cur = SnapshotRoot.currentDir(root)
    val victims = Option(new java.io.File(s"$cur/postings").listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(victims.nonEmpty)
    assert(victims.head.delete())
    val e = intercept[IllegalArgumentException] {
      Bm25Index.scoresFromState(spark, root, "cat bird", nBuckets = 8).collect()
    }
    assert(e.getMessage.contains("manifest"))
  }

  test("a postings file lost BETWEEN collect and commit refuses the fold and leaves no partial version") {
    // the commit's four appends run concurrently: the postings append
    // refuses on its manifest while the other three are still writing
    // into the next version — the refused fold must wait them out and
    // drop that version, so neither a partial v2 nor a late write
    // survives the failure
    val root = java.nio.file.Files.createTempDirectory("graft-bm25-lost").toString + "/s"
    Bm25Index.writeState(tiny, root, nBuckets = 8)
    val g = Bm25Index.prepareFold(spark, root,
      Seq((10L, "srcA", "cat fish owl")).toDF("doc_id", "source", "text"), nBuckets = 8)
    assert(g.isDefined)
    val dispatched = GuardedFold.collectAll(Seq("bm25" -> g.get))
    val cur = SnapshotRoot.currentDir(root)
    val victims = SnapshotRoot.listDir(new java.io.File(s"$cur/postings"))
      .filter(_.isDirectory).flatMap(d => SnapshotRoot.listDir(d))
      .filter(_.getName.endsWith(".parquet"))
    assert(victims.nonEmpty, "fixture must produce committed postings")
    assert(victims.head.delete())
    val e = intercept[IllegalArgumentException] {
      dispatched.foreach { case (gf, meta) => gf.commit(meta) }
    }
    assert(e.getMessage.contains("manifest"), e.getMessage)
    assert(SnapshotRoot.currentDir(root) == cur,
      "a refused commit must leave the pointer on the old snapshot")
    assert(!new java.io.File(s"$root/v2").exists,
      "a refused commit must not leave a partial next version behind")
    Persists.releaseAll()
  }

  test("tfidfFromState == lowered TF-IDF recompute over token-bearing docs") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-bm25-tfidf").toString + "/s"
    Bm25Index.writeState(docs, root, nBuckets = 16)
    val served = Bm25Index.tfidfFromState(spark, root, k = 3, nBuckets = 16)
    // the index's tokenization contract: lowercase, token-free docs out
    val base = docs.filter(length(trim(col("text"))) > 0)
    val tf = base.select(col("doc_id"),
        explode(TextOps.tokens(lower(col("text")))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = base.count()
    val scored = tf.join(dfreq, "word")
      .withColumn("score", round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
    val expect = Sampling.topKPerGroup(scored, col("doc_id"), col("score"),
        col("word"), k = 3)
      .select("doc_id", "rk", "word", "score")
    assert(rows(served) == rows(expect))
    assert(served.count() > 0)
  }

  test("fold == rebuild: additive tables make the contract exact") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val mid = ids(ids.length / 2); val q3 = ids(3 * ids.length / 4)

    val inc = java.nio.file.Files.createTempDirectory("graft-bm25-inc").toString + "/s"
    Bm25Index.writeState(docs.filter(col("doc_id") < mid), inc, nBuckets = 16)
    // out-of-ID-order folds on purpose: additive state is order-free
    Bm25Index.applyDelta(spark, inc, docs.filter(col("doc_id") >= q3),
      nBuckets = 16, foldId = Some("b0"))
    Bm25Index.applyDelta(spark, inc,
      docs.filter(col("doc_id") >= mid && col("doc_id") < q3),
      nBuckets = 16, foldId = Some("b1"))

    val full = java.nio.file.Files.createTempDirectory("graft-bm25-full").toString + "/s"
    Bm25Index.writeState(docs, full, nBuckets = 16)

    val q = "dup merge stream window"
    assert(rows(Bm25Index.scoresFromState(spark, inc, q, nBuckets = 16)) ==
      rows(Bm25Index.scoresFromState(spark, full, q, nBuckets = 16)))

    // replayed fold no-ops: ledger short-circuits before any write
    val verBefore = SnapshotRoot.currentDir(inc)
    Bm25Index.applyDelta(spark, inc, docs.filter(col("doc_id") >= q3),
      nBuckets = 16, foldId = Some("b0"))
    assert(SnapshotRoot.currentDir(inc) == verBefore)

    // guard: a delta re-using an absorbed id must throw, store intact
    val ex = intercept[IllegalArgumentException] {
      Bm25Index.applyDelta(spark, inc, docs.limit(1), nBuckets = 16,
        foldId = Some("b2"))
    }
    assert(ex.getMessage.contains("must be new"))
    assert(SnapshotRoot.currentDir(inc) == verBefore)
  }

  test("maxDfRatio drops stopword-grade query terms") {
    val root = java.nio.file.Files.createTempDirectory("graft-bm25-stop").toString + "/s"
    Bm25Index.writeState(Seq(
      (1L, "a", "the cat"), (2L, "a", "the dog"), (3L, "a", "the the bird"))
      .toDF("doc_id", "source", "text"), root, nBuckets = 8)
    val capped = Bm25Index.scoresFromState(spark, root, "the cat",
      nBuckets = 8, maxDfRatio = Some(0.5))
    val catOnly = Bm25Index.scoresFromState(spark, root, "cat", nBuckets = 8)
    assert(rows(capped) == rows(catOnly),
      "'the' (df=N) must be dropped at ratio 0.5, leaving the 'cat' scores")
  }

  test("phrase probe: index-derived hits == brute-force text scan") {
    val root = java.nio.file.Files.createTempDirectory("graft-bm25-phrase").toString + "/s"
    Bm25Index.writeState(Seq(
      (1L, "a", "slow hash batch x slow hash batch"), // 2 hits
      (2L, "a", "slow hash x batch"),                 // terms present, not adjacent
      (3L, "b", "x slow hash batch"),                 // 1 hit
      (4L, "b", "hash batch slow"),                   // wrong order
      (5L, "b", "slow slow hash batch")               // overlap edge: 1 hit
    ).toDF("doc_id", "source", "text"), root, nBuckets = 8)
    val hits = Bm25Index.phraseFromState(spark, root, "slow hash batch", nBuckets = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(hits == Map(1L -> 2L, 3L -> 1L, 5L -> 1L))
    // repeated-term phrase: positions must shift per occurrence index
    val rep = Bm25Index.phraseFromState(spark, root, "slow slow hash", nBuckets = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rep == Map(5L -> 1L))
    // single-term phrase degenerates to tf
    val one = Bm25Index.phraseFromState(spark, root, "slow", nBuckets = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(one == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 2L))
  }

  test("phrase probe on the fixture == token-trigram scan") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-bm25-phrf").toString + "/s"
    Bm25Index.writeState(docs, root, nBuckets = 16)
    // brute force: count trigram windows equal to the phrase
    val toks = TextOps.tokens(lower(col("text")))
    val brute = docs.filter(length(trim(col("text"))) > 0)
      .withColumn("__t", toks)
      .filter(size(col("__t")) >= 3) // sequence(0, n) descends for n < 0
      .select(col("doc_id"), col("source"),
        size(filter(sequence(lit(0), size(col("__t")) - 3),
          i => element_at(col("__t"), i + 1) === "table" &&
            element_at(col("__t"), i + 2) === "value" &&
            element_at(col("__t"), i + 3) === "part")).cast("long").as("n_hits"))
      .filter(col("n_hits") > 0)
    assert(rows(Bm25Index.phraseFromState(spark, root, "table value part",
        nBuckets = 16)) == rows(brute))
  }

  test("MaxScore top-k == full scoring; rare+stopword probe closes at |S|=1") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-bm25-topk").toString + "/s"
    Bm25Index.writeState(docs, root, nBuckets = 16)
    val probe = "dup the part order"
    val got = Bm25Index.topKFromState(spark, root, probe, k = 15, nBuckets = 16)
      .collect().map(_.toSeq).toSeq
    assert(Bm25Index.lastEssentialTerms == 1,
      s"rare+stopword probe should close on the rare term alone, " +
        s"needed ${Bm25Index.lastEssentialTerms}")
    val full = Bm25Index.scoresFromState(spark, root, probe, nBuckets = 16)
      .orderBy(col("score").desc, col("doc_id").asc).limit(15)
      .collect().map(_.toSeq).toSeq
    assert(got == full, "pruned top-k must equal full-scoring top-k exactly")
  }

  test("MaxScore expands the essential set when the bound can't close") {
    // four equal-impact terms: after scoring docs matching the first,
    // the remaining bound (3 terms' worth) exceeds theta, forcing
    // expansion — and the result must STILL equal full scoring
    val docs = (1L to 40L).map { i =>
      val w = Seq("alpha", "beta", "gamma", "delta")(((i - 1) % 4).toInt)
      (i, "s", s"$w filler${i}a filler${i}b filler${i}c")
    }.toDF("doc_id", "source", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-bm25-topk2").toString + "/s"
    Bm25Index.writeState(docs, root, nBuckets = 8)
    val probe = "alpha beta gamma delta"
    val got = Bm25Index.topKFromState(spark, root, probe, k = 20, nBuckets = 8)
      .collect().map(_.toSeq).toSeq
    assert(Bm25Index.lastEssentialTerms > 1, "equal-impact terms must expand S")
    val full = Bm25Index.scoresFromState(spark, root, probe, nBuckets = 8)
      .orderBy(col("score").desc, col("doc_id").asc).limit(20)
      .collect().map(_.toSeq).toSeq
    assert(got == full)
  }

  test("MaxScore edges: fewer matches than k; absent-term probes") {
    val docs = Seq((1L, "s", "lonely words here"), (2L, "s", "other text rows"))
      .toDF("doc_id", "source", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-bm25-topk3").toString + "/s"
    Bm25Index.writeState(docs, root, nBuckets = 8)
    val few = Bm25Index.topKFromState(spark, root, "lonely", k = 10, nBuckets = 8)
    assert(few.count() == 1, "k > matches returns all matches")
    val none = Bm25Index.topKFromState(spark, root, "absent ghost", k = 5, nBuckets = 8)
    assert(none.isEmpty && none.columns.toSeq ==
      Seq("doc_id", "source", "n_terms", "score"))
  }

  test("probe prunes the postings scan to the query terms' buckets") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-bm25-prune").toString + "/s"
    Bm25Index.writeState(docs, root, nBuckets = 16)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probe = Bm25Index.scoresFromState(spark, root, "dup", nBuckets = 16)
      val scans = probe.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec if s.relation.location.rootPaths.exists(
          _.toString.contains("postings")) => s
      }
      assert(scans.nonEmpty, "postings scan not found in plan")
      scans.foreach { scan =>
        val staticFilters = scan.partitionFilters.filterNot(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression]))
        assert(staticFilters.nonEmpty,
          "query-bucket predicate must reach the postings scan as a PartitionFilter:\n" + scan)
        val selected = scan.relation.location.listFiles(staticFilters, Nil).size
        assert(selected == 1, s"one term must read exactly its bucket dir, got $selected")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
