package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components for duplicate-CLUSTER resolution.
  *
  * Near-dup detection (MinHashLSH / winnowing / embedding LSH) emits
  * PAIRS; a training-data pipeline needs CLUSTERS — "keep one canonical
  * doc per group of transitively linked duplicates" (A≈B and B≈C must
  * collapse {A,B,C} even when A≉C directly). At 10⁹ docs a driver-side
  * union-find cannot hold the id space, so components are computed as
  * iterative min-label propagation over the distributed edge table:
  * every round each node takes the min component label among itself and
  * its neighbors; at fixpoint each component is labeled by its min node
  * id (the canonical survivor a dedup stage keeps).
  *
  * Scale shape: one round = a neighbor-min step (one shuffle of the
  * symmetric edge table joined to current labels + one
  * map-side-combinable `min` aggregate) followed by a pointer-jump
  * step (`l(v) ← min(l(v), l(l(v)))`, one self-join on the label) —
  * the shortcutting makes rounds O(log diameter) rather than
  * O(diameter), the same doubling idea as the large-star/small-star
  * family (Kiveris et al., "Connected Components in MapReduce and
  * Beyond"). Dup clusters built from [[keyEdges]] stars are
  * additionally hub-shaped (diameter O(#key columns)), so in practice
  * the loop converges in a handful of rounds at any cluster size.
  * Per-round iterates are persisted and released as soon as the
  * window's convergence check completes; only the final labels
  * survive, registered with [[Persists]] so the caller's terminal
  * action releases them.
  *
  * (Reference scope note: the dbt reference has no graph operator —
  * this belongs to the LLM-pipeline extension surface the engine adds
  * on top of reference parity.)
  */
object ConnectedComponents {

  /** Rounds the most recent [[run]] took to converge — observability
    * for the scale sweep's "is the round count flat at 10×?" question
    * (ScaleBench); not part of the operator contract. */
  @volatile private[graft] var lastRounds: Int = 0

  /** How many of those rounds ran in frontier (delta) mode — guards
    * the guard: a policy regression that silently stops frontier mode
    * from ever engaging (it happened — the halving guard once compared
    * against the loop-entry sentinel) is invisible to correctness
    * tests, so ConnectedComponentsSpec asserts engagement on a graph
    * where it is deterministic. */
  @volatile private[graft] var lastFrontierRounds: Int = 0

  /** Star edges from shared keys: within each group of rows sharing a
    * non-null key value, link every member to the group's min id —
    * |group|−1 edges per group, never the m² all-pairs blowup.
    *
    * ONE shuffle total (r8; was two per key column): the key columns
    * explode to (key-index, key) rows — the index disambiguates equal
    * values across different key columns — and a window min over that
    * single partitioning replaces the groupBy-then-join-back round
    * trip. At sf0.1 this halved the edge-derivation stage of the
    * q_dedup_clusters cold run. */
  def keyEdges(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("kidx", "k")
    df.select(col(idCol).cast("long").as("dst"),
        posexplode(array(keyCols.map(col): _*)).as(Seq("kidx", "k")))
      .filter(col("k").isNotNull)
      .select(min(col("dst")).over(w).as("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
  }

  /** Min-label propagation to fixpoint. `nodes` must have column `id`;
    * `edges` columns `src`/`dst` (undirected — symmetrized here).
    * Returns (id, component) with component = min id of the node's
    * connected component. Throws if `maxIter` rounds don't converge
    * (wrong silently is worse than loud).
    *
    * Two-phase execution (r8):
    *  - BULK: the first `checkEvery` rounds run as one lazily-built
    *    window materialized by a single action (halving driver/job
    *    round-trips); later full windows are one round each, so a
    *    fixpoint confirmation materializes one no-op round, not
    *    `checkEvery` of them. Checking the window's FINAL `__changed`
    *    is sufficient — labels only ever decrease, so a no-change
    *    round is a fixpoint regardless of earlier rounds.
    *  - FRONTIER: once the changed set fits under `deltaThreshold`
    *    rows, rounds propagate only FROM the frontier — the changed
    *    (id, label) pairs broadcast against the dst-partitioned edge
    *    cache, so neither edges nor labels shuffle (the Pregel
    *    active-vertex tail). `changed == 0` after a frontier round is
    *    the global fixpoint: no neighbor of the last changed set
    *    improved, so nothing is pending. If a hub update fans the
    *    frontier back above the threshold, the loop falls back to
    *    full windows. */
  def run(nodes: DataFrame, edges: DataFrame, maxIter: Int = 50,
          checkEvery: Int = 2, deltaThreshold: Long = 100000): DataFrame = {
    require(checkEvery >= 1)
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
    // pre-partitioned on dst: every round joins sym to the fresh labels
    // on dst, and the cached InMemoryRelation preserves its output
    // partitioning — so only the (small) label side shuffles per round,
    // never the edge table, which is the big one in a dedup workload.
    // Symmetrization explodes each edge into both directions in ONE
    // pass over the edge plan (a union of two branches would compute an
    // expensive upstream — e.g. keyEdges' text keys — twice), and the
    // distinct runs AFTER the dst repartition so its hash aggregate
    // reuses that partitioning instead of paying its own full shuffle.
    val sym = e.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .repartition(col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // hub-min initialization: start every node at the min id among
    // itself and its direct neighbors — exactly round 1's neighbor-min,
    // but computed without a label join (labels are identity at round
    // 0, so the neighbor min is just min(src) per dst over sym, which
    // the dst-partitioned cache answers without any exchange). For the
    // hub-shaped star graphs keyEdges emits this alone is most of the
    // propagation; measured at sf0.1 it cut the fixpoint loop from 6
    // rounds to 4.
    val symMin = sym.groupBy(col("dst")).agg(min(col("src")).as("__nb0"))
    var persisted = nodes.select(col("id").cast("long").as("id"))
      .join(symMin.withColumnRenamed("dst", "id"), Seq("id"), "left")
      .select(col("id"),
        least(col("id"), coalesce(col("__nb0"), col("id"))).as("component"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // round n references labels twice (neighbor join + merge join);
    // without truncation the logical plan is a 2^rounds tree (copying
    // transforms expand the shared subplan) and the DRIVER dies in
    // analysis. Each checkpoint's labels are re-rooted as a flat
    // LogicalRDD over the persisted iterate — the RDD reads the cache
    // lazily; within a window the plan holds ≤ 2^checkEvery copies of
    // that flat root, which is bounded and tiny.
    // NO flatten on the init labels: flatten's toRdd pays full
    // physical planning + driver codegen of the (uncached) upstream
    // pipeline — ~1.5 s at sf0.1 — which window 1's action would then
    // redo. Referencing the cached init frame directly is execution-
    // equivalent (every reference reads the same InMemoryRelation) and
    // the window plan holds ≤ 2^checkEvery copies of it, bounded.
    // Post-window flattens stay: there the plan is a projection over a
    // MATERIALIZED cache, so toRdd planning is ~0.05 s, and truncation
    // is what stops the 2^rounds tree.
    var labels = persisted.toDF("id", "component")
    var iter = 0
    var frontierRounds = 0
    var changed = 1L
    // `persisted` carries a trustworthy __changed frontier column only
    // after the first full window has run
    var frontierReady = false
    // frontier rounds do NOT pointer-jump, so on chain-shaped graphs
    // they advance one hop per round — O(diameter), where full rounds
    // are O(log diameter). Guard: stay in frontier mode only while the
    // frontier is at least HALVING per round (hub-graph tails do:
    // measured 130 → 16 → 2 → 1 → 0), else fall back to a full jumping
    // round. A chain's flat frontier trips the guard immediately, so
    // the worst case stays the old all-jumping bound, and total
    // frontier rounds are bounded by log2(deltaThreshold) per descent.
    var prevChanged = Long.MaxValue
    while (changed > 0 && iter < maxIter) {
     // iter == 0 means `changed` is still the loop-entry sentinel, not a
     // measured count — recording it would make the halving guard
     // compare the first window's count against 1 and veto the frontier
     // round the guard exists to allow
     val beforeRound = if (iter == 0) Long.MaxValue else changed
     if (frontierReady && changed <= deltaThreshold && changed <= prevChanged / 2) {
      // ---- frontier (delta) round — the Pregel active-vertex tail ----
      // Monotone label propagation has a long sparse tail: after the
      // bulk windows, `changed` collapses (measured 24 → 3 → 0 at
      // sf0.1) yet each full round still joins the ENTIRE edge table to
      // the ENTIRE label table. A node can only improve if a NEIGHBOR
      // changed last round, so once the frontier is small enough to
      // broadcast (`deltaThreshold` rows — the driver-safety gate, same
      // role as autoBroadcastJoinThreshold), propagate only from the
      // frontier: broadcast the changed (id, label) pairs against the
      // dst-partitioned edge cache (NO shuffle of edges or labels — the
      // only exchange is the tiny matched subset's groupBy), and merge
      // into the cached labels. Pointer jumping is skipped here — the
      // frontier is already past the bulk mixing, and `maxIter` still
      // guards pathological chains; if a hub update fans the frontier
      // back above the threshold, the loop falls back to full windows.
      // changed == 0 after a frontier round IS the global fixpoint: no
      // neighbor of the last changed set improved, so nothing pending.
      val delta = labels.filter(col("__changed"))
        .select(col("id").as("src"), col("component").as("__dl"))
      val nbDelta = sym.join(broadcast(delta), "src")
        .groupBy("dst").agg(min(col("__dl")).as("nb_min"))
      val upd = labels.select("id", "component")
        .join(nbDelta.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"), col("component").as("prev"),
          least(col("component"), coalesce(col("nb_min"), col("component")))
            .as("component"))
        .select(col("id"), col("component"),
          (col("component") < col("prev")).as("__changed"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      changed = upd.filter(col("__changed")).count()
      persisted.unpersist(false)
      persisted = upd
      // each round references the previous iterate TWICE (frontier
      // filter + label join), so re-root on the materialized cache like
      // the window path does — flatten over a materialized cache is
      // ~0.05 s of planning, and it keeps every round's plan bounded
      labels = org.apache.spark.sql.GraftBridge.flatten(upd)
      iter += 1
      frontierRounds += 1
     } else {
      // first window runs `checkEvery` rounds back-to-back (the bulk of
      // propagation — hub-min init + neighbor rounds); later windows
      // run ONE round each, so the fixpoint confirmation materializes
      // one no-op round, not checkEvery of them. Worst case this adds
      // driver actions on deep graphs; each action is a count over the
      // cached iterate (~0.1 s) vs ~1 s per extra materialized round.
      val steps = math.min(if (iter < checkEvery) checkEvery else 1,
        maxIter - iter)
      // every per-round iterate is persisted (self-joined subplans are
      // not deduped by ReuseExchange — without the cache each stage
      // would recompute) but only the window's LAST survives the action
      val windowCaches = scala.collection.mutable.ArrayBuffer[DataFrame]()
      var cur = labels
      for (_ <- 1 to steps) {
        val nbMin = sym
          .join(cur.select(col("id").as("dst"), col("component")), "dst")
          .groupBy("src").agg(min("component").as("nb_min"))
        // step 1: neighbor-min (one hop of propagation)
        val m1 = cur
          .join(nbMin.withColumnRenamed("src", "id"), Seq("id"), "left")
          .select(col("id"), col("component").as("prev"),
            least(col("component"), coalesce(col("nb_min"), col("component")))
              .as("component"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        windowCaches += m1
        // step 2: pointer jump — l(v) ← min(l(v), l(l(v))). Shortcutting
        // compresses label chains so deep (chain-shaped) graphs converge
        // in O(log diameter) rounds, not O(diameter); labels only ever
        // decrease, so the combined fixpoint is still exactly the
        // neighbor-min fixpoint (= min id per component)
        val lookup = m1.select(col("id").as("__cid"), col("component").as("__cc"))
        val jumped = least(col("component"), coalesce(col("__cc"), col("component")))
        cur = m1.join(lookup, col("component") === col("__cid"), "left")
          .select(col("id"), jumped.as("component"),
            (jumped < col("prev")).as("__changed"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        windowCaches += cur
      }
      val next = cur
      // ONE action materializes (and caches) all `steps` rounds and
      // reads off the final round's convergence bit
      changed = next.filter(col("__changed")).count()
      windowCaches.dropRight(1).foreach(_.unpersist(false))
      persisted.unpersist(false)
      persisted = next
      // __changed rides along so a following frontier round can read
      // its frontier straight off the flat root
      labels = org.apache.spark.sql.GraftBridge.flatten(next)
      iter += steps
      frontierReady = true
     }
     prevChanged = beforeRound
    }
    lastRounds = iter
    lastFrontierRounds = frontierRounds
    sym.unpersist(false)
    if (changed != 0L) {
      persisted.unpersist(false) // failure path must not leak the iterate
      throw new IllegalArgumentException(
        s"connected components did not converge in $maxIter rounds — " +
          "with pointer jumping this needs ~log2(diameter) rounds; " +
          "raise maxIter for extraordinarily deep graphs")
    }
    // frontier rounds leave the __changed column on `labels`; the
    // operator contract is (id, component)
    labels = labels.select("id", "component")
    // the final iterate stays cached until the caller's terminal action
    // consumes the flat wrapper (its plan no longer embeds the iterate)
    Persists.cacheBehind(persisted, labels)
    labels
  }
}
