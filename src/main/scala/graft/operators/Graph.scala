package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph centrality for training-data pipelines.
  *
  * Web-crawl quality filtering classically ranks pages by link centrality
  * (PageRank/harmonic over the crawl graph) and keeps the head — the same
  * signal a pretraining mix wants per document. This is the Spark-first,
  * ENGINE-EXACT form: every score is scaled integer arithmetic (truncating
  * integer division, order-independent integer sums), so an external
  * engine replays the identical numbers — no float mass vector whose value
  * depends on summation order.
  *
  * Scale shape (100 TB of edges): each iteration is one equi-join of the
  * edge list against the (node, score) relation on src plus one groupBy
  * dst — both shuffles on well-distributed node keys, the standard
  * message-passing round. Nothing reaches the driver; iteration count is
  * fixed (the contract is "k damped rounds", not convergence detection,
  * so the gate is deterministic at any scale). Scores persist per round
  * (spill-safe) so round n+1 reads a materialized round n instead of
  * recursively recomputing the whole prefix.
  */
object Graph {

  /** Damped PageRank after `iters` synchronous rounds, in scaled-integer
    * arithmetic. Nodes = every id appearing as src or dst. Each node
    * starts at 10^9. One round:
    *
    *   contrib(j → i) = (s_j * dampNum) div (dampDen * outdeg_j)
    *   s'_i           = ((10^9 * (dampDen - dampNum)) div dampDen)
    *                    + Σ_j contrib(j → i)
    *
    * (default damp 85/100 — the classic 0.85). Truncating div matches
    * DuckDB's `//`; the sum is an integer sum, so the result is
    * bit-reproducible across engines and partitionings. Dangling nodes
    * (outdeg 0) emit no mass — their share simply decays, the usual
    * no-redistribution variant; total mass is NOT conserved and the
    * contract is the per-node recurrence above, not a probability vector.
    *
    * Arithmetic bounds: the per-edge multiply s_j · dampNum runs in
    * DECIMAL(38,0) (a hub can aggregate > 10^17 mass, where a bare long
    * multiply would overflow), mirrored by HUGEINT in the oracle — both
    * exact integer arithmetic, identical values. Per-node scores stay
    * longs: a score is bounded by the total graph mass ≈ |V| · 10^9, so
    * the long representation holds to ~7 × 10^9 nodes; beyond that,
    * lower the 10^9 score scale.
    *
    * Input `edges` must have columns (src, dst); duplicate edges count
    * multiply (pre-`distinct` them for simple-graph semantics). Returns
    * (id, pr_x1e9). */
  def pageRankX1e9(
      edges: DataFrame, iters: Int = 3,
      dampNum: Int = 85, dampDen: Int = 100): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampNum >= 0 && dampDen > 0 && dampNum <= dampDen,
      s"damping $dampNum/$dampDen must be a fraction in [0, 1]")
    // edge list feeds the node set, the outdegree relation and every
    // round's join — materialize once, spill-safe
    // the edge list is persisted HASH-PARTITIONED ON src: every round's
    // two joins key on src, so the cached partitioning satisfies their
    // distribution requirement and the (dominant) edge relation is never
    // re-shuffled after round 0 — per round only the (node, score)
    // relation exchanges
    val e = Caching.spillPersistEager(
      edges.select(col("src"), col("dst")).repartition(col("src")))
    // node set and outdegree are loop-invariant — persist once, not one
    // distinct + one groupBy over the full edge relation per round
    // (outdeg inherits hash(src) from the groupBy, co-partitioned with e)
    val nodes = Caching.spillPersistEager(
      e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct())
    val outdeg = Caching.spillPersistEager(
      e.groupBy(col("src").as("id")).agg(count(lit(1)).as("outdeg")))
    val base = lit(1000000000L * (dampDen - dampNum) / dampDen)
    // per-round scores persist LAZILY: each round's relation has exactly
    // ONE downstream reference (the next round's contrib join — or the
    // caller's action for the last round), so the eager count the
    // multi-consumer operators need would here be a pure extra pass over
    // the scores per iteration (guide §1.2: don't add passes). Lazy
    // persist still caches each round once (no recomputation), and the
    // loop-invariant e/nodes/outdeg stay eager above.
    var scores = Caching.spillPersist(
      nodes.select(col("id"), lit(1000000000L).as("pr_x1e9")))
    // EVICTION BOUND for long runs (r16 verdict item 10): the lazy
    // per-round persists all materialize through the caller's final action,
    // and a cached round is dead the moment the NEXT round materializes —
    // but a mid-action unpersist is impossible, so without a bound an
    // iters=50 run holds 50 cached score relations at once. Every
    // `flushRounds` rounds the current round is EAGERLY localCheckpointed
    // (truncating lineage — the flush MUST not be a bare count+unpersist:
    // uncaching a relation that still-registered cache entries depend on
    // makes CacheManager recompile each dependent entry without its nested
    // InMemoryRelation, and the recompiled round plans compound to a
    // multi-GB plan string that OOMs the driver; measured before this
    // shape was chosen) and every round cache is released NEWEST-FIRST, so
    // no registered entry ever depends on one being removed. Live round
    // caches stay ≤ flushRounds at the amortized cost of one extra
    // materialization per flushRounds rounds — and short runs (iters ≤
    // flushRounds, including the gate's 3) never flush at all, keeping the
    // r16 zero-extra-pass shape exactly.
    val flushRounds = 8
    var liveRounds = List(scores)
    (1 to iters).foreach { i =>
      val contrib = e
        .join(scores.withColumnRenamed("id", "src"), "src")
        .join(outdeg.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(expr(s"(CAST(pr_x1e9 AS DECIMAL(38,0)) * $dampNum) div " +
            s"(${dampDen}L * outdeg)"))
          .as("mass"))
      scores = Caching.spillPersist(
        nodes.join(contrib, Seq("id"), "left")
          .select(col("id"),
            (base + coalesce(col("mass"), lit(0L))).as("pr_x1e9")))
      liveRounds ::= scores
      if (i % flushRounds == 0 && i < iters) {
        // eager; truncates lineage. The checkpoint's blocks are never
        // unpersisted here: like Dedup's round checkpoints, each flush's
        // localCheckpoint RDD is released by GC (the ContextCleaner) once
        // the next flush leaves it unreachable
        scores = scores.localCheckpoint(true)
        liveRounds.foreach(_.unpersist(blocking = false)) // newest first
        liveRounds = Nil
      }
    }
    scores
  }

  /** Per-node TRIANGLE counts over an undirected simple graph — the
    * clustering/cohesion census (affinity cliques in a co-occurrence
    * graph, link triangles in a crawl graph). Input edges are symmetrized
    * and deduped; self-loops drop. Returns (id, tri_cnt) for every node
    * in at least one triangle (absent ⇒ 0).
    *
    * Scale shape — the degree-orientation trick (Schank's sequential
    * algorithm, distributed as in Suri & Vassilvitskii's MapReduce
    * formulation): orient every edge from the (degree, id)-SMALLER
    * endpoint to the larger, so each node's out-degree is O(√m) and the
    * wedge join (out-neighbor pairs per node) generates O(m^1.5) rows
    * TOTAL instead of Σ deg² — a star node's quadratic wedge set lands on
    * its spokes, not the hub. Every step is an equi-join or combinable
    * aggregate on node keys; each triangle is emitted exactly once (its
    * (deg, id)-minimal vertex owns it) and closure checks the oriented
    * edge directly, whose direction the wedge ordering guarantees. */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull &&
        col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .distinct()
    val deg = e.select(col("u").as("id"))
      .unionByName(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("dg"))
    val withDeg = e
      .join(deg.select(col("id").as("u"), col("dg").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("dg").as("dv")), Seq("v"))
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // oriented edge + the destination's (deg, id) rank for wedge ordering
    val oriented = withDeg.select(
      when(fwd, col("u")).otherwise(col("v")).as("s"),
      when(fwd, col("v")).otherwise(col("u")).as("d"),
      when(fwd, col("dv")).otherwise(col("du")).as("dd"))
    val a = oriented.select(col("s"), col("d").as("d1"), col("dd").as("dd1"))
    val b = oriented.select(col("s"), col("d").as("d2"), col("dd").as("dd2"))
    // wedges: ordered out-neighbor pairs of each node; the closing edge
    // (d1, d2) — if present — is oriented d1 → d2 BY the same (deg, id)
    // order, so closure is one more equi-join, no direction guessing
    val tris = a.join(b, Seq("s"))
      .filter(col("dd1") < col("dd2") ||
        (col("dd1") === col("dd2") && col("d1") < col("d2")))
      .join(oriented.select(col("s").as("d1"), col("d").as("d2")),
        Seq("d1", "d2"), "left_semi")
    tris.select(explode(array(col("s"), col("d1"), col("d2"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("tri_cnt"))
  }
}
