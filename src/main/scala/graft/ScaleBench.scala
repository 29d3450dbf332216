package graft

import graft.measure.{Json, minOf, seconds, sink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-decade scale-stress sweep (VERDICT r4 ask #3): generate an
  * sf1-equivalent fixture (10× sf0.1) for the LLM-pipeline tables and
  * run the heavy operators once at BOTH scales in the same JVM, so the
  * artifact answers "does the plan's cost scale ~linearly across a
  * decade?" with data instead of plan-shape argument alone.
  *
  * Fixture generation (deterministic, no RNG): each replica k of
  * 0..R-1 is the base corpus with
  *  - ids offset by k·10⁹ (k·10⁶ for embeddings) — disjoint id spaces,
  *    and 10⁹ ≡ 0 (mod 50) keeps q_decontam's eval-set selection rate
  *    identical per replica;
  *  - document text passed through a replica-specific letter
  *    substitution (`translate` over 'a'..'j' rotated by k) — replica
  *    0 is the base corpus verbatim; other replicas keep their
  *    internal near-dup structure (every pair survives a global
  *    1:1 char substitution) but decorrelate from other replicas, so
  *    duplicate CLUSTERS multiply by 10 while cluster SIZES stay flat,
  *    which is how a real corpus grows (more dups, not 10× deeper
  *    ones);
  *  - events keep their timestamps (10× event density per hour — the
  *    streaming-window stress) with fresh user ids per replica (10×
  *    keys, same per-key cardinality);
  *  - embeddings perturb one replica-dependent coordinate additively
  *    (cosine is invariant to whole-vector scaling, so the
  *    perturbation must be per-coordinate to decorrelate replicas).
  *
  * Prints ONE JSON line with per-query seconds at both scales, the
  * scaled/base ratio, and the connected-components round count at each
  * scale (the fixpoint-depth flatness claim in SCALE.md). Single run
  * per query — read ratios, not absolute seconds, on a contended host.
  */
object ScaleBench {

  private val Heavy = Seq(
    "q_dedup_clusters", "q_dedup_minhash", "q_decontam",
    "q_tfidf_terms", "q_stream_window", "q_embed_neardup",
    // r7 (VERDICT r6 task 3): the four operators whose scale story was
    // plan-shape-only. q_asof_join/q_sessionize are per-user-key window
    // shapes (10x events with fresh user ids per replica: 10x keys,
    // flat per-key depth); q_pack is a per-source running-sum window
    // (replicas keep the SAME source values, so each source partition
    // grows 10x — the expected mild superlinearity of its in-partition
    // sort is the interesting number); q_pii is per-row regex, the
    // linearity control.
    "q_asof_join", "q_sessionize", "q_pack", "q_pii",
    // r7 additions: the stream-stream interval join (state ~ horizon
    // arrival volume; pairs scale linearly because replicas add USERS,
    // not per-user density) and the canonicalization manifest (staged
    // label replay + quality scan + per-cluster window)
    "q_stream_join", "q_dedup_manifest",
    // r8 additions: both stage their offline artifact (corpus band
    // index / IVF model+layout) on the first run — min-of-2 reports the
    // amortized per-batch cost, which is the deployed shape (index
    // builds are offline jobs). Their delta/query sets grow WITH the
    // corpus here; the fixed-delta flatness probe below is the
    // decade-invariance measurement.
    "q_dedup_incremental", "q_ann_ivf_indexed",
    // r11 additions: segment dedup (fingerprint agg+join — the
    // map-side-combinable keeper min is the skew claim under test),
    // token-budget sampling (bucketed prefix sum — no per-stratum
    // global sort), and the unigram scorer (vocab join; hot words are
    // the skew control).
    "q_passage_dedup", "q_budget_sample", "q_unigram_quality",
    // r12: SemDeDup now auto-sizes k = max(8, n/targetCellSize), so
    // expected cell size — and with it the within-cell pair stage —
    // stays ~constant per row as the corpus grows (was oracle-pinned
    // k=8 → O(n²/8) pairs, the r11 flagged scale knob). The residual
    // superlinear term is the n·k anchor assignment (k ∝ n): at this
    // sweep's scale it is a few GFLOP — if a future 100× sweep shows
    // it dominating, the documented next step is IVF-style two-level
    // assignment (√k coarse anchors, then fine anchors within the
    // coarse cell) which cuts it to n·2√k.
    "q_semdedup",
    // batch BM25: the (doc, query-term) partial-agg shuffle + the
    // stats scan — should sweep scan-bound like the unigram scorer
    "q_bm25",
    // r11 late additions: the binned interval joins (replicas add
    // USERS with flat per-user event density, so bursts, points and
    // matched pairs all grow linearly — the bin equi-join should sweep
    // ~linear where the naive quadratic plan would sweep ~R²) and the
    // DSIR scorer (bucket grain is FIXED at 4096 whatever the corpus,
    // so the model stays broadcast-sized; the doc-bucket shuffle is
    // the linear term)
    "q_interval_join", "q_interval_overlap", "q_dsir",
    // chunking is a pure narrow fan-out (linearity control like
    // q_pii); the left-outer interval join adds the anti add-back; the
    // MaxScore top-k's claim is SUB-linearity — the essential-term
    // matches grow linearly but stopword lists are only doc-pruned
    // scans, and k stays fixed
    "q_chunks", "q_interval_left", "q_bm25_topk")

  /** Self-evaluating sweep bands (VERDICT r17 task 1 — the exact
    * reader-arithmetic gap the r17 bench bands closed, one artifact
    * over): every incremental-fold ratio and the topk eviction probe
    * checked against its [[BandBudgets.sweepBands]] ceiling, plus the
    * CC fixpoint-depth flatness claim, as [reading, limit, pass]
    * triples with an `all_pass` the artifact computes itself. A
    * missing row fails all_pass rather than vanish. */
  private[graft] def sweepBandsJson(ratios: Map[String, Double],
      ccBase: Int, ccScaled: Int): String = {
    val parts = BandBudgets.sweepBands.map { case (k, lim) =>
      ratios.get(k)
        .map(r => s""""$k":[${f"$r%.2f"},$lim,${r <= lim}]""")
        .getOrElse(s""""$k":null""")
    }
    val ccLim = ccBase + BandBudgets.ccDepthSlack
    val ccJson = s""""cc_depth":[$ccScaled,$ccLim,${ccScaled <= ccLim}]"""
    val allPass = BandBudgets.sweepBands.forall { case (k, lim) =>
      ratios.get(k).exists(_ <= lim) } && ccScaled <= ccLim
    s"""{${(parts :+ ccJson).mkString(",")},"all_pass":$allPass}"""
  }

  /** TOP-K EVICTION-REGIME probe samples (r10; extracted r16 so subset
    * mode can re-read the row at higher n): `graft_topk` with doc-id-
    * salted keys — distinct ≫ capacity — so each partition's sketch
    * spends the scan displacing counters; the claim is LINEARITY
    * (no superlinear eviction term). Returns every run's seconds. */
  private def topkProbeSamples(spark: SparkSession, dir: String,
      runs: Int): Vector[Double] = {
    val toks = graft.model.Tables.documents(spark, dir)
      .select(explode(split(col("text"), "\\s+")).as("tok"), col("doc_id"))
      .select(concat(col("tok"), lit("#"),
        pmod(col("doc_id"), lit(1000000L)).cast("string")).as("key"))
    Vector.fill(runs)(seconds(sink(toks.agg(expr("graft_topk(key, 20, 4096)")))))
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      java.nio.file.Paths.get("target", "scale_sf1").toAbsolutePath.toString)
    val replicas = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPLICAS", "10").toInt
    val spark = measure.session(measure.envCpus)

    generateIfAbsent(spark, baseDir, scaleDir, replicas)

    // interleaved min-of-N per dir (same contention defense as Bench's
    // sweeps — a single cold run conflates host noise with scaling).
    // q_dedup_minhash stages its candidate pairs once per (JVM, dir):
    // repeat runs replay the staged parquet, so the min would record
    // the replay, not the pipeline — its FIRST run is the number (same
    // policy as Bench's singleRun set).
    // clamp like the sibling mains (ADVICE r16): SPARK_GRAFT_SCALE_RUNS=0
    // in subset mode otherwise yields empty sample vectors and .min throws
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt)
    // subset mode (r14, VERDICT r13 task 3): re-measure a handful of
    // sweep rows at higher n without paying the full ~50-query matrix —
    // the measure-or-explain loop for ratios that land above the
    // linearity control. Skips the fixed-delta probes; the artifact
    // goes to target/scale_subset.json.
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // "topk_tokens" is addressable in subset mode too (r16, VERDICT
    // r15 task 3): it is a standalone probe, not a Heavy query, but
    // its ratio needed an n>=3 re-read like any other disputed row
    only.foreach { s =>
      val unknown = s -- Heavy.toSet - "topk_tokens"
      require(unknown.isEmpty, s"SPARK_GRAFT_SCALE_ONLY names unknown sweep rows: $unknown")
    }
    val heavy = only.fold(Heavy)(s => Heavy.filter(s))
    // queries whose later runs replay a once-per-(JVM, dir) staged
    // parquet: the FIRST run is the honest pipeline number
    // (q_dedup_clusters stages its labels since r7); streaming pays a
    // fixed per-invocation startup no min can shave
    val firstRunOnly = Set("q_dedup_minhash", "q_dedup_clusters", "q_stream_join")
    def sweep(dir: String): (Map[String, Double], Int, Map[String, Vector[Double]]) = {
      var ccRounds = 0
      val times = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
      heavy.foreach(times(_) = Vector.empty)
      for (_ <- 1 to runs; name <- heavy) {
        // q_semdedup sweeps with AUTO-k (the scale contract under
        // test); the registered query pins k=8 for its fixture-scale
        // oracle (ADVICE r12 — the two must not share a knob)
        val fn = if (name == "q_semdedup") ExtQueries.semDedupAutoK _
                 else Queries.all(name)
        val t = seconds(sink(fn(spark, dir)))
        if (name == "q_dedup_clusters") ccRounds = graft.ops.ConnectedComponents.lastRounds
        times(name) = times(name) :+ t
      }
      (times.map { case (k, v) =>
        k -> (if (firstRunOnly(k)) v.head else v.min)
      }.toMap, ccRounds, times.toMap)
    }
    val (base, baseRounds, baseSamples) = sweep(baseDir)
    val (scaled, scaledRounds, scaledSamples) = sweep(scaleDir)

    if (only.isDefined) {
      // subset mode reports per-run samples, not just the min — the
      // question it answers is usually "variance or real term?"
      val wantTopk = only.exists(_.contains("topk_tokens"))
      val (tkBase, tkScaled) =
        if (wantTopk) (topkProbeSamples(spark, baseDir, runs),
          topkProbeSamples(spark, scaleDir, runs))
        else (Vector.empty[Double], Vector.empty[Double])
      def withTopk(m: Map[String, Vector[Double]], tk: Vector[Double]) =
        if (wantTopk) m + ("topk_tokens" -> tk) else m
      val rows = heavy ++ (if (wantTopk) Seq("topk_tokens") else Nil)
      val allBase = withTopk(baseSamples, tkBase)
      val allScaled = withTopk(scaledSamples, tkScaled)
      def js(m: Map[String, Vector[Double]]) = Json.series(rows.map(q => q -> m(q)), Json.sec)
      // heavy rows keep the sweep's min/first-run policy (scaled/base
      // maps); the probe row is min-of-n like its full-mode shape
      val subsetRatios = Json.obj(rows.map(q => q -> f"${
          if (q == "topk_tokens") tkScaled.min / tkBase.min
          else scaled(q) / base(q)}%.2f"))
      val json =
        s"""{"metric":"scale_subset","replicas":$replicas,"runs":$runs,"base_dir":"$baseDir","scale_dir":"$scaleDir","base_samples":${js(allBase)},"scaled_samples":${js(allScaled)},"ratio":$subsetRatios}"""
      measure.writeArtifact("target/scale_subset.json", json)
      spark.stop()
      println(json)
      return
    }

    // FIXED-DELTA incremental-dedup probe (r8): the decade-invariance
    // claim is "a day's arrivals cost the same against a 10× corpus".
    // The delta is pinned to the BASE corpus's `% 10 = 7` docs at both
    // scales; only the indexed corpus grows. Index build is untimed —
    // it is the offline job the per-batch cost amortizes. Expect a
    // ratio ≪ R: the corpus-proportional work left is ONE scan (the
    // 3-fixed-width-column index streamed through a broadcast
    // semi-join) — the verify stage's text read is bucket-pruned since
    // r9 (was the dominant residual behind r8's 1.85× ratio) — no
    // corpus re-hash, no corpus shuffle.
    def incProbe(dir: String): Double = {
      val idx = java.nio.file.Files.createTempDirectory("graft_scale_inc").toString
      val docs = graft.model.Tables.documents(spark, dir)
      graft.ops.IncrementalDedup.writeIndex(
        docs.filter(col("doc_id") % 10 =!= 7), idx)
      val delta = graft.model.Tables.documents(spark, baseDir)
        .filter(col("doc_id") % 10 === 7)
      minOf(runs)(sink(graft.ops.IncrementalDedup.deltaPairs(spark, idx, delta)))
    }
    val incBase = incProbe(baseDir)
    val incScaled = incProbe(scaleDir)

    // SMALL-DELTA incremental-dedup probe (r9): the big-delta probe
    // above (10% of the base corpus) produces candidates spanning
    // every doc bucket, so the r9 verify-stage pruning cannot engage
    // there — its ratio measures the slim index stream plus a full
    // store read. This probe is the "day's arrivals" geometry the
    // pruning is FOR: ~1% of the base corpus, candidate ids covering
    // few buckets, so the verify read opens a handful of directories
    // of a corpus 100× bigger.
    def incSmallProbe(dir: String): Double = {
      val idx = java.nio.file.Files.createTempDirectory("graft_scale_inc_sm").toString
      val docs = graft.model.Tables.documents(spark, dir)
      graft.ops.IncrementalDedup.writeIndex(
        docs.filter(col("doc_id") % 10 =!= 7), idx)
      val delta = graft.model.Tables.documents(spark, baseDir)
        .filter(col("doc_id") % 100 === 7)
      minOf(runs)(sink(graft.ops.IncrementalDedup.deltaPairs(spark, idx, delta)))
    }
    val incSmBase = incSmallProbe(baseDir)
    val incSmScaled = incSmallProbe(scaleDir)

    // FIXED-DELTA incremental-CLUSTERS probe (r9): the same
    // decade-invariance claim for LABEL MAINTENANCE — "a day's arrivals
    // re-label the same against a 10× corpus". The offline writeState
    // (batch CC) is untimed; each timed run folds the SAME base-corpus
    // delta into a FRESH COPY of the persisted labels (applyDelta
    // mutates state in place, so runs must not compound). The
    // corpus-proportional residuals are the two slim streamed scans
    // (key index + label store, both broadcast-joined, never shuffled).
    def incClusterProbe(dir: String, deltaMod: Long, nBuckets: Int): Double = {
      val st = java.nio.file.Files.createTempDirectory("graft_scale_inccc").toString
      graft.ops.IncrementalClusters.writeState(
        ExtQueries.clusterKeyed(spark, dir).filter(col("doc_id") % 10 =!= 7),
        "doc_id", Seq("k1", "k2"), st, nBuckets)
      val delta = ExtQueries.clusterKeyed(spark, baseDir)
        .filter(col("doc_id") % deltaMod === 7)
      (1 to runs).map { _ =>
        val run = java.nio.file.Files.createTempDirectory("graft_scale_inccc_run").toString
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(st), new java.io.File(run))
        val t = seconds(graft.ops.IncrementalClusters.applyDelta(spark, run, delta,
          "doc_id", Seq("k1", "k2"), nBuckets))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(run))
        t
      }.min
    }
    val incCcBase = incClusterProbe(baseDir, 10L, 64)
    val incCcBaseTouched = graft.ops.IncrementalClusters.lastTouchedBuckets
    val incCcScaled = incClusterProbe(scaleDir, 10L, 64)
    val incCcScaledTouched = graft.ops.IncrementalClusters.lastTouchedBuckets
    // SMALL-DELTA cluster probe: a 10%-of-corpus delta lands in nearly
    // every one of 64 buckets, so the big probe can't SHOW the
    // "rewrite is O(touched)" claim. A ~1% delta against a 512-bucket
    // store records touched ≪ nBuckets — the production geometry where
    // a day's arrivals rewrite a sliver of the label store.
    val incCcSmBase = incClusterProbe(baseDir, 100L, 512)
    val incCcSmBaseTouched = graft.ops.IncrementalClusters.lastTouchedBuckets
    val incCcSmScaled = incClusterProbe(scaleDir, 100L, 512)
    val incCcSmScaledTouched = graft.ops.IncrementalClusters.lastTouchedBuckets

    // FIXED-DELTA incremental-ANN probe (r10): fold a pinned delta
    // embedding batch into the cell-partitioned IVF layout of a
    // growing corpus (train + layout write untimed — the offline job).
    // The fold is per-row centroid assignment + file adds in touched
    // cells only, with NO corpus read at all, so this is the flattest
    // incremental probe by construction: the ratio measures only
    // partition-listing overhead of bigger cell directories.
    def incAnnProbe(dir: String): Double = {
      val idx = java.nio.file.Files.createTempDirectory("graft_scale_incann").toString
      val emb = graft.model.Tables.embeddings(spark, dir)
      val corpus = emb.filter(col("vec_id") % 10 =!= 7)
      val model = graft.ops.IvfIndex.train(corpus)
      graft.ops.IvfIndex.writeIndexed(corpus, s"$idx/layout", model)
      val delta = graft.model.Tables.embeddings(spark, baseDir)
        .filter(col("vec_id") % 10 === 7)
      minOf(runs)(graft.ops.IvfIndex.appendIndexed(delta, s"$idx/layout", model))
    }
    val incAnnBase = incAnnProbe(baseDir)
    val incAnnScaled = incAnnProbe(scaleDir)

    // FIXED-DELTA incremental-SPANS probe (r10): fold a pinned ~1%
    // delta into the exact-substring span state of a growing corpus
    // (writeState untimed — the offline job). Sequential folds use
    // DISJOINT delta slices (%100 ∈ {7, 17} — both inside the %10=7
    // exclusion, so always new ids) instead of copying the
    // corpus-scale state per run; the min is the fixed-delta fold
    // cost. Corpus-proportional residual: the slim gramdf stream.
    def incSpansProbe(dir: String): Double = {
      val st = java.nio.file.Files.createTempDirectory("graft_scale_incspans").toString
      val docs = graft.model.Tables.documents(spark, dir)
      graft.ops.IncrementalSpans.writeState(
        docs.filter(col("doc_id") % 10 =!= 7), st)
      Seq(7L, 17L).map { m =>
        val delta = graft.model.Tables.documents(spark, baseDir)
          .filter(col("doc_id") % 100 === m)
        seconds(graft.ops.IncrementalSpans.applyDelta(spark, st, delta))
      }.min
    }
    val incSpansBase = incSpansProbe(baseDir)
    val incSpansScaled = incSpansProbe(scaleDir)

    // FIXED-DELTA incremental-SEGMENTS probe (r11): same geometry as
    // the spans probe (two disjoint pinned ~1% deltas folded
    // sequentially, min). The fold's corpus-proportional residuals are
    // two slim streams — the fbucket-pruned keeper semi-scan and the
    // new-ids guard's dbucket-pruned doc-store count; everything
    // written is O(delta).
    def incSegsProbe(dir: String): Double = {
      val st = java.nio.file.Files.createTempDirectory("graft_scale_incsegs").toString
      val docs = graft.model.Tables.documents(spark, dir)
      graft.ops.IncrementalSegments.writeState(
        docs.filter(col("doc_id") % 10 =!= 7)
          .select(col("doc_id"), col("source"), col("text")), st)
      Seq(7L, 17L).map { m =>
        val delta = graft.model.Tables.documents(spark, baseDir)
          .filter(col("doc_id") % 100 === m)
          .select(col("doc_id"), col("source"), col("text"))
        seconds(graft.ops.IncrementalSegments.applyDelta(spark, st, delta))
      }.min
    }
    val incSegsBase = incSegsProbe(baseDir)
    val incSegsScaled = incSegsProbe(scaleDir)

    // FIXED-DELTA incremental-BM25 probe (r11): fold a pinned ~1%
    // delta into the inverted index of a growing corpus. Every index
    // table is purely additive (postings/df-partials/doclen/stats),
    // so the only corpus-proportional read is the new-ids guard's
    // dbucket-pruned doclen semi-scan — the ratio should sit in the
    // drift/ANN near-flat band.
    def incBm25Probe(dir: String): Double = {
      val st = java.nio.file.Files.createTempDirectory("graft_scale_incbm25").toString
      val docs = graft.model.Tables.documents(spark, dir)
      graft.ops.Bm25Index.writeState(
        docs.filter(col("doc_id") % 10 =!= 7)
          .select(col("doc_id"), col("source"), col("text")), st)
      Seq(7L, 17L).map { m =>
        val delta = graft.model.Tables.documents(spark, baseDir)
          .filter(col("doc_id") % 100 === m)
          .select(col("doc_id"), col("source"), col("text"))
        seconds(graft.ops.Bm25Index.applyDelta(spark, st, delta))
      }.min
    }
    val incBm25Base = incBm25Probe(baseDir)
    val incBm25Scaled = incBm25Probe(scaleDir)

    // FIXED-DELTA incremental-DRIFT probe (r10): fold a pinned delta
    // batch into the persisted corpus profile of a growing corpus
    // (baseline build untimed — the offline job). The fold scans only
    // the delta and rewrites a metadata-scale store, so the ratio
    // should be the flattest of all: corpus size enters nowhere.
    def incDriftProbe(dir: String): Double = {
      val st = java.nio.file.Files.createTempDirectory("graft_scale_incdrift").toString
      val docs = graft.model.Tables.documents(spark, dir)
      graft.ops.DriftStore.writeProfile(docs.filter(col("doc_id") % 10 =!= 7), st)
      val delta = graft.model.Tables.documents(spark, baseDir)
        .filter(col("doc_id") % 10 === 7)
      minOf(runs)(graft.ops.DriftStore.applyDelta(spark, st, delta))
    }
    val incDriftBase = incDriftProbe(baseDir)
    val incDriftScaled = incDriftProbe(scaleDir)

    // FIXED-DELTA incremental-DSIR probe (late r11): fold a pinned
    // delta's hashed-ngram bucket counts into a model fitted on a
    // growing corpus. The fold scans only the delta and rewrites a
    // ≤ B-row store, so like drift the ratio should sit at ~1.
    def incDsirProbe(dir: String): Double = {
      val st = java.nio.file.Files
        .createTempDirectory("graft_scale_incdsir").toString + "/s"
      val pred = col("lang") === "en"
      val docs = graft.model.Tables.documents(spark, dir)
      graft.ops.DsirStore.writeCounts(
        docs.filter(col("doc_id") % 10 =!= 7), pred, st)
      val delta = graft.model.Tables.documents(spark, baseDir)
        .filter(col("doc_id") % 10 === 7)
      minOf(runs)(graft.ops.DsirStore.applyDelta(spark, st, delta, pred))
    }
    val incDsirBase = incDsirProbe(baseDir)
    val incDsirScaled = incDsirProbe(scaleDir)

    // TOP-K EVICTION-REGIME probe (r10): graft_topk with distinct keys
    // ≫ capacity, so each partition's sketch spends the scan displacing
    // counters — the lazy-heap eviction's per-update cost is what's
    // measured. The fixture vocabulary is tiny (~31 tokens/lang), so
    // tokens alone never overflow a 4096 sketch; salting with the doc
    // id forces ~|corpus| distinct keys at BOTH scales. The claim is
    // LINEARITY (ratio ≈ R for R× updates): a naive O(capacity)
    // min-scan per eviction would superlinearize exactly here, where
    // non-resident inserts dominate.
    val topkBase = topkProbeSamples(spark, baseDir, runs).min
    val topkScaled = topkProbeSamples(spark, scaleDir, runs).min

    def j(m: Map[String, Double]) = Json.obj(Heavy.map(q => q -> Json.sec(m(q))))
    val ratios = Json.obj(Heavy.map(q => q -> f"${scaled(q) / base(q)}%.2f"))
    // one ratio list feeds the compact summary, the bands gate, and
    // SCALE.md's documented keys — computed once
    val incRatios: Seq[(String, Double)] = Seq(
      "dedup" -> incScaled / incBase, "dedup_small" -> incSmScaled / incSmBase,
      "clusters" -> incCcScaled / incCcBase,
      "clusters_small" -> incCcSmScaled / incCcSmBase,
      "ann" -> incAnnScaled / incAnnBase, "drift" -> incDriftScaled / incDriftBase,
      "topk" -> topkScaled / topkBase, "spans" -> incSpansScaled / incSpansBase,
      "segments" -> incSegsScaled / incSegsBase,
      "bm25" -> incBm25Scaled / incBm25Base, "dsir" -> incDsirScaled / incDsirBase)
    val bandsJson = sweepBandsJson(incRatios.toMap, baseRounds, scaledRounds)
    val json = (s"""{"metric":"scale_sweep","replicas":$replicas,"runs":$runs,"base_dir":"$baseDir","scale_dir":"$scaleDir","base_sec":${j(base)},"scaled_sec":${j(scaled)},"ratio":$ratios,"cc_rounds":{"base":$baseRounds,"scaled":$scaledRounds},"inc_dedup_fixed_delta":{"base_sec":${f"$incBase%.3f"},"scaled_sec":${f"$incScaled%.3f"},"ratio":${f"${incScaled / incBase}%.2f"}},"inc_dedup_small_delta":{"base_sec":${f"$incSmBase%.3f"},"scaled_sec":${f"$incSmScaled%.3f"},"ratio":${f"${incSmScaled / incSmBase}%.2f"}},"inc_clusters_fixed_delta":{"base_sec":${f"$incCcBase%.3f"},"scaled_sec":${f"$incCcScaled%.3f"},"ratio":${f"${incCcScaled / incCcBase}%.2f"},"touched_buckets":{"base":$incCcBaseTouched,"scaled":$incCcScaledTouched}},"inc_clusters_small_delta":{"base_sec":${f"$incCcSmBase%.3f"},"scaled_sec":${f"$incCcSmScaled%.3f"},"ratio":${f"${incCcSmScaled / incCcSmBase}%.2f"},"n_buckets":512,"touched_buckets":{"base":$incCcSmBaseTouched,"scaled":$incCcSmScaledTouched}},"inc_ann_fixed_delta":{"base_sec":${f"$incAnnBase%.3f"},"scaled_sec":${f"$incAnnScaled%.3f"},"ratio":${f"${incAnnScaled / incAnnBase}%.2f"}},"inc_drift_fixed_delta":{"base_sec":${f"$incDriftBase%.3f"},"scaled_sec":${f"$incDriftScaled%.3f"},"ratio":${f"${incDriftScaled / incDriftBase}%.2f"}},"topk_tokens":{"base_sec":${f"$topkBase%.3f"},"scaled_sec":${f"$topkScaled%.3f"},"ratio":${f"${topkScaled / topkBase}%.2f"}},"inc_spans_fixed_delta":{"base_sec":${f"$incSpansBase%.3f"},"scaled_sec":${f"$incSpansScaled%.3f"},"ratio":${f"${incSpansScaled / incSpansBase}%.2f"}},"inc_segments_fixed_delta":{"base_sec":${f"$incSegsBase%.3f"},"scaled_sec":${f"$incSegsScaled%.3f"},"ratio":${f"${incSegsScaled / incSegsBase}%.2f"}},"inc_bm25_fixed_delta":{"base_sec":${f"$incBm25Base%.3f"},"scaled_sec":${f"$incBm25Scaled%.3f"},"ratio":${f"${incBm25Scaled / incBm25Base}%.2f"}},"inc_dsir_fixed_delta":{"base_sec":${f"$incDsirBase%.3f"},"scaled_sec":${f"$incDsirScaled%.3f"},"ratio":${f"${incDsirScaled / incDsirBase}%.2f"}},"bands":$bandsJson}""")
    // same artifact defense as Bench (VERDICT r12 task 3): the r12
    // sweep's ratios existed only as stdout history — write the file
    // FIRST, then quiesce Spark, then print as the last stdout act
    measure.writeArtifact("target/scale_result.json", json)
    spark.stop()
    println(json)
    // compact summary as the FINAL stdout line (r14, VERDICT r13 task
    // 2, the Bench rule): the full line is several KB, so a 2000-char
    // tail reader gets an unparseable fragment — this line carries
    // every ratio in a few hundred chars.
    val incRatio = Json.obj(incRatios.map { case (k, v) => k -> f"$v%.2f" })
    // the bands verdict rides the compact summary too — a tail reader
    // sees the gate without opening the detail file
    println(s"""{"metric":"scale_sweep","replicas":$replicas,"runs":$runs,"ratio":$ratios,"inc_ratio":$incRatio,"bands":$bandsJson,"detail":"target/scale_result.json"}""")
  }

  /** Replicate-and-perturb the three LLM-pipeline tables into
    * `scaleDir` (idempotent via a marker recording the replica count). */
  private def generateIfAbsent(spark: SparkSession, baseDir: String,
      scaleDir: String, replicas: Int): Unit = {
    // marker records the full generation recipe (replica count AND base
    // dir) and is DELETED before regeneration starts: an interrupted
    // regen must not leave a marker claiming a complete (or
    // mixed-replica) fixture (r5 review finding)
    val marker = java.nio.file.Paths.get(s"$scaleDir/_generated")
    val recipe = s"$replicas:$baseDir"
    if (java.nio.file.Files.exists(marker) &&
        new String(java.nio.file.Files.readAllBytes(marker)).trim == recipe) return
    java.nio.file.Files.deleteIfExists(marker)

    // two independent rotations of DISJOINT lowercase halves → 13×13
    // distinct substitutions. Both act on characters the corpus
    // actually contains — the fixture text is all-lowercase (verified:
    // zero uppercase chars at sf0.1), so a second alphabet that is
    // absent from the text would silently collapse this to a single
    // 26-cycle and make replicas k and k+26 byte-identical twins,
    // quadratically inflating cross-replica dup structure (r5 review
    // finding). Each half-rotation is a permutation, so the combined
    // map is injective per (k mod 13, k div 13) pair.
    require(replicas <= 169,
      s"text perturbation supports at most 13*13=169 distinct replicas, got $replicas")
    val halfA = "abcdefghijklm"
    val halfB = "nopqrstuvwxyz"
    def rot(s: String, k: Int) = s.drop(k % s.length) + s.take(k % s.length)
    def replicate(f: Int => DataFrame): DataFrame =
      (0 until replicas).map(f).reduce(_ unionByName _)

    val docs = graft.model.Tables.documents(spark, baseDir)
    replicate { k =>
      docs.select(
        (col("doc_id") + k * 1000000000L).as("doc_id"),
        (if (k == 0) col("text")
         else translate(col("text"), halfA + halfB,
           rot(halfA, k % 13) + rot(halfB, k / 13))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.write.mode("overwrite").parquet(s"$scaleDir/documents.parquet")

    // read raw (ts stays the nanos long) so the replica round-trips
    // through parquet exactly like the base fixture
    val events = graft.model.Tables.load(spark, baseDir, "events")
    replicate { k =>
      events.select(
        (col("event_id") + k * 1000000000L).as("event_id"), col("ts"),
        (col("user_id") + k * 1000000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.write.mode("overwrite").parquet(s"$scaleDir/events.parquet")

    // replica decorrelation by SIGN-FLIP CLASSES: coordinate i is
    // multiplied by −1 iff bit (i mod 7) of k is set. Within a replica
    // every vector gets the same pattern, so pairwise dot products —
    // and hence the intra-replica near-dup structure — are exactly
    // preserved; across replicas the patterns differ in ≥1 of 7
    // coordinate classes (~dim/7 coords each), which breaks the
    // near-perfect cosine a tiny additive nudge would leave (an early
    // variant perturbed ONE coordinate and silently manufactured ~R
    // exact twins per vector — every bucket quadratically overloaded
    // with fake dups).
    val emb = graft.model.Tables.embeddings(spark, baseDir)
    // 10 pattern bits → sign patterns are distinct for every k < 1024,
    // comfortably above the 169-replica text ceiling (7 bits would
    // repeat with period 128: replica 128 would be byte-identical to
    // the base — r5 review finding)
    replicate { k =>
      val signs = (0 until 10).map(b => if (((k >> b) & 1) == 1) -1.0f else 1.0f)
      emb.select(
        (col("vec_id") + k * 1000000L).as("vec_id"),
        (if (k == 0) col("embedding")
         else transform(col("embedding"), (x, i) =>
           x * element_at(lit(signs.toArray), (pmod(i, lit(10)) + 1).cast("int"))))
          .as("embedding"),
        col("label"))
    }.write.mode("overwrite").parquet(s"$scaleDir/embeddings.parquet")

    java.nio.file.Files.createDirectories(marker.getParent)
    java.nio.file.Files.write(marker, recipe.getBytes)
  }
}
