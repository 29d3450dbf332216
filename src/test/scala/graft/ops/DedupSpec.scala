package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recall/precision properties of the near-dup pipeline on a corpus
  * with planted near-duplicates. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** 40 base docs + near-dup mutations (drop/replace a few words). */
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("spark", "table", "query", "join", "filter", "agg",
      "window", "batch", "stream", "column", "row", "hash", "sort", "scan",
      "merge", "key", "value", "data", "fast", "slow")
    val base = (0 until 40).map(i =>
      (0 until 60).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val mutated = base.take(10).map { t =>
      val ws = t.split(" ").toVector
      val drop = rnd.nextInt(ws.size)
      ws.zipWithIndex.collect { case (w, j) if j != drop => w }.mkString(" ")
    }
    val rows = base.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      mutated.zipWithIndex.map { case (t, i) => (100L + i, t) }
    rows.toDF("doc_id", "text")
  }

  private def bruteJaccard(threshold: Double): Set[(Long, Long)] = {
    val grams = corpus.select(col("doc_id"),
      MinHashLSH.shingles(col("text")).as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    (for {
      a <- grams.keys; b <- grams.keys if a < b
      j = grams(a).intersect(grams(b)).size.toDouble / grams(a).union(grams(b)).size
      if j >= threshold
    } yield (a, b)).toSet
  }

  test("minhash-LSH finds every true near-dup pair (recall @ J>=0.7)") {
    val truth = bruteJaccard(0.7)
    assert(truth.nonEmpty, "test corpus must contain planted near-dups")
    val found = MinHashLSH.nearDuplicates(corpus, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(found), s"missed: ${truth -- found}")
  }

  test("minhash-LSH verify stage reports exact jaccard (no false positives)") {
    val pairs = MinHashLSH.candidatePairs(corpus).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val grams = corpus.select(col("doc_id"),
      MinHashLSH.shingles(col("text")).as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    pairs.foreach { case ((a, b), j) =>
      val exact = grams(a).intersect(grams(b)).size.toDouble / grams(a).union(grams(b)).size
      assert(math.abs(j - exact) < 1e-6, s"pair ($a,$b): reported $j, exact $exact")
    }
  }

  test("empty/whitespace/short docs produce no candidate pairs (shingle-less contract)") {
    // Pins the MinHashLSH shingle-less filter (VERDICT r6 task 5): a
    // doc with no 3-shingles — empty, whitespace-only (incl. \\x0B,
    // the RE2-dialect-gap char, ADVICE r6), or fewer than 3 tokens —
    // has no content to near-dup match on and must never surface as a
    // candidate; in particular two empty docs must NOT pair via an
    // all-sentinel signature bucket, and the identical 1-token pair
    // 904/905 belongs to EXACT dedup, not here. The oracle agrees by
    // construction: unnest of an empty shingle list produces no rows.
    val extras = Seq(
      (900L, ""), (901L, "   "), (902L, " \t\n  "), (903L, "\u000B"),
      (904L, "spark"), (905L, "spark"), (906L, "two tokens"))
    val withEmpties = corpus.unionByName(extras.toDF("doc_id", "text"))
    val after = MinHashLSH.candidatePairs(withEmpties)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val leaked = after.flatMap(p => Seq(p._1, p._2)).filter(_ >= 900L)
    assert(leaked.isEmpty, s"shingle-less docs leaked into candidates: $leaked")
    // and the filter must not disturb the real corpus's pairs
    val before = MinHashLSH.candidatePairs(corpus)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before == after)
  }

  test("a salted run still finds every true near-dup pair (adversarial posture, r8)") {
    // the salt re-keys every shingle and bucket hash; recall must hold
    // because banding probability depends only on Jaccard, not on WHICH
    // min-wise family the salt lands us in
    val truth = bruteJaccard(0.7)
    val found = MinHashLSH.nearDuplicates(corpus, 0.7, salt = MinHashLSH.secretSalt())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(found), s"salted run missed: ${truth -- found}")
  }

  test("over-cap buckets quarantine their docs instead of silently dropping them (r8)") {
    // 12 identical docs flood their (shared) buckets past the cap — the
    // bucket-flooding shape an adversary would construct. Unguarded,
    // they would simply never pair (dedup evaded); guarded, every one
    // of them surfaces in the quarantine for exact verification.
    val flood = (0 until 12).map(i =>
      (500L + i, "flood flood attack attack evade evade dedup dedup now now"))
    val hostile = corpus.unionByName(flood.toDF("doc_id", "text"))
    val guarded = MinHashLSH.candidatePairsGuarded(hostile, maxBucketSize = 5)
    val quarantined = guarded.quarantined.collect().map(_.getLong(0)).toSet
    assert((500L until 512L).toSet.subsetOf(quarantined),
      s"flooded docs missing from quarantine: ${(500L until 512L).toSet -- quarantined}")
    // the flooded docs produced no pairs (their buckets are over cap)...
    val pairIds = guarded.pairs.collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(pairIds.intersect((500L until 512L).toSet).isEmpty)
    // ...and exact verification of the quarantine recovers them: the
    // caller's routed path (here: exact dedup over the quarantined set)
    val recovered = TextOps.exactDedup(
      hostile.join(guarded.quarantined, Seq("doc_id"), "left_semi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))) // (keep_id, copies)
    assert(recovered.exists { case (keep, copies) => keep == 500L && copies == 12L },
      s"quarantine exact-verify should collapse the 12 flooded docs, got ${recovered.toSeq}")
    // benign corpus control: nothing quarantines at the default cap
    assert(MinHashLSH.candidatePairsGuarded(corpus).quarantined.count() == 0)
  }

  test("simhash near-dups: planted mutations found with small hamming") {
    val found = SimHash.nearDuplicates(corpus, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // each mutated doc 100+i differs from base i by one dropped word
    val planted = (0 until 10).map(i => (i.toLong, 100L + i)).toSet
    val hit = planted.intersect(found)
    assert(hit.size >= 8, s"simhash found only ${hit.size}/10 planted near-dups")
  }

  test("dedup manifest: exactly one canonical per cluster, and it is the quality argmax") {
    val rows = graft.Queries.all("q_dedup_manifest")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (component, members) =>
      val canon = members.filter(_._5)
      assert(canon.length == 1, s"component $component: ${canon.length} canonicals")
      val keep = canon.head
      assert(members.forall(_._4 == keep._1), "keep_id must be uniform per cluster")
      // argmax by (quality desc, doc_id asc)
      members.foreach { m =>
        assert(m._3 < keep._3 || (m._3 == keep._3 && m._1 >= keep._1),
          s"component $component: ${m._1} (q=${m._3}) beats keep ${keep._1} (q=${keep._3})")
      }
    }
  }

  test("simhash hamming distance is exact") {
    val fp = SimHash.fingerprints(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    SimHash.nearDuplicates(corpus, 3).collect().foreach { r =>
      val expect = java.lang.Long.bitCount(fp(r.getLong(0)) ^ fp(r.getLong(1)))
      assert(r.getInt(2) == expect || r.getLong(2) == expect)
    }
  }

  test("salted simhash: re-keyed fingerprints, banding still complete (adversarial posture, r9)") {
    val salt = MinHashLSH.secretSalt()
    val unsalted = SimHash.fingerprints(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = SimHash.fingerprints(corpus, salt = salt).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the salt must actually re-key (a no-op salt would leave the
    // closed-form collision construction available)...
    assert(unsalted.exists { case (id, f) => salted(id) != f },
      "salt had no effect on simhash fingerprints")
    // ...while keeping every fingerprint inside the 61 live bits the
    // bit-aware banding covers (a salted hash escaping to bits 61-63
    // would silently break the pigeonhole completeness argument)
    salted.values.foreach(f => assert((f >>> 61) == 0L,
      f"salted fingerprint uses bits 61-63: $f%016x"))
    // banding completeness holds for WHATEVER family the salt lands us
    // in: the pairing must equal the salted-fingerprint ground truth
    val truth = (for {
      a <- salted.keys; b <- salted.keys if a < b
      if java.lang.Long.bitCount(salted(a) ^ salted(b)) <= 3
    } yield (a, b)).toSet
    val found = SimHash.nearDuplicates(corpus, maxHamming = 3, salt = salt)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == truth,
      s"missed: ${truth -- found}; phantom: ${found -- truth}")
    // and the unsalted (oracle) path is untouched by the new parameter
    assert(SimHash.fingerprints(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == unsalted)
  }

  test("salted winnowing: re-keyed prints, shared-print recall intact (adversarial posture, r9)") {
    import graft.functions.WinnowingFingerprints
    val salt = MinHashLSH.secretSalt()
    val saltState = graft.functions.PolyHash61.compute((salt + " ").getBytes("UTF-8"))
    def prints(st: Long): Map[Long, Set[Long]] = corpus
      .select(col("doc_id"), WinnowingFingerprints(col("text"), 8, 16, st).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val unsalted = prints(0L)
    val salted = prints(saltState)
    assert(unsalted.exists { case (id, s) => salted(id) != s },
      "salt had no effect on winnowing fingerprints")
    // the guarantee "any match of length >= w+k-1 shares a print" holds
    // for ANY hash family: each planted near-dup (one word dropped from
    // 60) shares long verbatim runs with its base, so the salted print
    // sets must still overlap
    (0 until 10).foreach { i =>
      assert(salted(i.toLong).intersect(salted(100L + i)).nonEmpty,
        s"salted winnowing lost recall on planted pair ($i, ${100 + i})")
    }
    // salted gram hash == Horner fold of the gram STARTED from the salt
    // state == hash of "salt + ' ' + gram" (the ShinglePolyHashes
    // contract), spot-asserted on a literal doc
    val doc = "abcdefghijklmnop"
    val got = Seq(doc).toDF("text")
      .select(WinnowingFingerprints(col("text"), 8, 16, saltState))
      .collect().head.getSeq[Long](0).toSet
    val expected = (0 to doc.length - 8).map { i =>
      graft.functions.PolyHash61.compute(
        (salt + " " + doc.substring(i, i + 8)).getBytes("UTF-8"))
    }.min // doc shorter than one window: global min survives
    assert(got == Set(expected))
  }
}
