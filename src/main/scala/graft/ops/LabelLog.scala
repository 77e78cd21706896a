package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The relabel-log label store of [[LabelledBandIndex]], the incremental
 * near-dup index under text (n41) and embeddings/media (n52/n58) —
 * round-13's structural fix for the last per-batch term that grew with
 * index size.
 *
 * Through round 12 cluster labels lived in a versioned snapshot that every
 * edge-bearing batch read and REWROTE in full: O(label store) per batch,
 * measured at 5.96 → 30.44 s for a trivial trickle batch as the index grew
 * ×1 → ×100 (BASELINE round-13 label-store table). The store is now two
 * append-only part tables under the ordinary state machine:
 *
 *  - `assign` (id, lbl): WRITE-ONCE rows — an id is assigned exactly once,
 *    in the batch whose edge first touches it, with its component minimum
 *    AS OF that batch. Never rewritten by later batches.
 *  - `relabel` (old, new): the per-batch relabel log — one row per
 *    existing label whose component minimum moved in that batch.
 *
 * The current label of an id is its assignment resolved through the
 * relabel log ([[resolve]]). Three facts make the log a plain union-able
 * part table with NO ordering metadata:
 *
 *  1. labels only DECREASE (component minima under merges), so
 *     `new < old` on every log row and chains are acyclic;
 *  2. a retired label never becomes current again (labels are member ids;
 *     a component containing id k can never re-acquire minimum k after
 *     once having a smaller member), so KEYS ARE GLOBALLY UNIQUE across
 *     all batches — the union of the per-batch maps is one function and
 *     application order is irrelevant;
 *  3. an assignment written at batch j is already past every map from
 *     batches i ≤ j (its label is current as of j), and maps from earlier
 *     batches key only labels retired by then — so resolving EVERY
 *     assignment through the WHOLE log is exact.
 *
 * Per-batch cost is now ∝ batch: the endpoint lookup reads the assign
 * table pruned to the endpoints' id-hash buckets, the contraction /
 * min-label clustering is bounded by the batch's edges (unchanged), and
 * the write is the batch's own assignment + relabel rows instead of the
 * whole store. Full merges ([[IncrementalStateMachine.fullMergeContent]])
 * fold the log into the assign level and empty the log level, so the
 * resolve chain length is bounded by batches since the last bin-pack.
 *
 * This is a persisted union-find in LSM clothing: assignments are the
 * nodes' first parents, the relabel log is the path of parent updates,
 * and the full merge is path compression.
 */
private[ops] object LabelLog {

  private[ops] val RelabelDdl = "old BIGINT, new BIGINT"

  /** Edge-count ceiling for the two driver-side merge paths.
    *
    * The first (round 14) is [[LabelledBandIndex]]'s per-batch label
    * merge. A trickle batch's label merge cost ~6 s at EVERY index scale
    * — flat but high, and ~all of it is job count: `ProbeBatchJobs` attributed a
    * 4-row edge-bearing batch to 55 jobs (3.4 s inside, 2.2 s of driver
    * analysis between). Most of those jobs are the distributed contraction
    * (`Dedup.minLabelComponents`: checkpoint + count per round) and the
    * delta probes, all over frames of a few ROWS. So, with an empty
    * relabel log, the merge instead collects the verified edges (bounded
    * here), reads the endpoints' labels from the assign table (pruned to
    * their id buckets when those are at most half; ≤ 2·edges rows kept —
    * assignments are write-once), runs the same min-root union-find in
    * Scala ([[deltasLocal]]), and writes the two delta parts. This is the
    * broadcast-threshold pattern: Spark itself collects bounded frames
    * when that beats distributing, and the repo's pruneSet collect
    * (≤ buckets/2 longs) established the contract shape. 4096 edges =
    * ≤ 64 KiB of id pairs on the driver. The path does not require band
    * pruning (the trickle regime): the edge count bounds its work, and
    * streams that compact only at their end (n41, n52, n58) never prune
    * a band read. An over-ceiling edge set keeps the distributed path,
    * as does a nonempty relabel log (the fast path would otherwise have
    * to resolve through it driver-side; post-fold batches — the steady
    * state — have an empty log). Every edge-bearing batch logs its choice
    * at INFO (`labelMerge path=driver|distributed batch=B edges=N`).
    *
    * The second is [[Dedup.minLabelComponents]]: a pair graph of at most
    * this many edges is clustered by [[deltasLocal]] on the driver instead of by
    * distributed label rounds. That path serves every batch clustering
    * query (n27, n36, n37, n38, n53, n56, n57, n74) and the bulk batches
    * that [[deltas]] still sends through the distributed merge. */
  private[ops] val SmallMergeMaxEdges = 4096

  /** [[deltas]] computed driver-side for a bounded edge set: identical
    * semantics — contract endpoints through their current labels, cluster
    * the contracted graph to component MINIMA (min-root union-find; the
    * result is order-independent, so the collected edge order cannot
    * matter), new assignments for never-assigned endpoints, relabel rows
    * for existing labels whose minimum moved. Outputs sorted so a crash
    * re-run writes byte-identical parts. `LabelLogProps` pins equivalence
    * with the distributed [[deltas]] on random graphs. */
  def deltasLocal(edges: Seq[(Long, Long)], cur: Map[Long, Long])
      : (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (la, lb) = (cur.getOrElse(a, a), cur.getOrElse(b, b))
      if (la != lb) {
        val (ra, rb) = (find(la), find(lb))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val endpoints = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val newAssign = endpoints.filterNot(cur.contains)
      .map(id => id -> find(id)).sorted
    val relabel = cur.valuesIterator.toSeq.distinct
      .map(l => l -> find(l)).filter { case (l, m) => m != l }.sorted
    (newAssign, relabel)
  }

  /** Resolve rows carrying a `lbl` column through the relabel function
    * `maps0` (old → new) to fixpoint, preserving all other columns.
    *
    * The fixpoint runs over the MAP, never the assignments: [[closure]]
    * pointer-doubles the (small — one row per component-minimum move
    * since the last fold) relabel map until no value is still a key, and
    * the assignments then take exactly ONE lazy left join through the
    * closed map. One hop is exact because after closure every label is
    * either a key of the map (joining straight to its final value) or
    * already final. So `resolve` issues NO Spark action against `assign`
    * at all — through round 13 the fixpoint probed the assignment join
    * chain itself, re-executing the whole unpersisted chain each round
    * (O(rounds²) join work, the round-13 ADVICE item) and paying a full
    * Catalyst re-analysis per probe (the cost class this codebase
    * documents at every micro-batch call site). Callers should still skip
    * the call when the driver already knows the log is empty
    * ([[IncrementalStateMachine.trackedHasData]]) — that skips even the
    * map's emptiness probe. */
  def resolve(assign: DataFrame, maps0: DataFrame): DataFrame = {
    val maps = maps0.select(col("old"), col("new")).persist()
    val closed =
      try {
        if (maps.limit(1).count() == 0) return assign
        closure(maps) // eagerly checkpointed — safe to drop the cache now
      } finally maps.unpersist()
    val others = assign.columns.filterNot(_ == "lbl").map(col).toIndexedSeq
    assign.join(closed, assign("lbl") === closed("old"), "left")
      .select(others :+ coalesce(col("new"), col("lbl")).as("lbl"): _*)
  }

  /** Transitive closure of the relabel map by pointer doubling: each
    * round rewrites `new` through the map itself, so chain suffixes halve
    * — ⌈log₂ depth⌉ rounds plus one no-movement detection round (depth-1
    * logs, the common case, finish in the single detection round). Every
    * round's frame is eagerly localCheckpointed — the frames are tiny, the
    * movement probe then reads materialized blocks instead of re-executing
    * a growing join chain, and the returned frame's blocks are
    * ContextCleaner-managed (nothing to unpersist). Keys stay globally
    * unique (closure only rewrites values), so the closed map is still a
    * function and the one-hop join in [[resolve]] matches ≤ 1 row. */
  private def closure(maps: DataFrame): DataFrame = {
    var cur = maps.localCheckpoint(true)
    var moved = true
    var rounds = 0
    while (moved) {
      rounds += 1
      // values strictly decrease along chains, so closure must terminate;
      // doubling closes depth 2^62 in 62 rounds — tripping this means
      // store corruption, reported loudly instead of hanging
      require(rounds <= 64, "relabel chain did not terminate")
      val ptr = cur.select(col("old").as("p_old"), col("new").as("p_new"))
      // movement flag piggybacked on the checkpoint job (round-19, the
      // minLabelComponents pattern): CollectMetrics aggregates max(moved)
      // inside the materialization itself, so the former per-round
      // filter(moved).limit(1).count() probe job is gone — on depth-1
      // logs (the steady state) that is the whole detection round's
      // second job, paid once per edge-bearing micro-batch
      val obs = org.apache.spark.sql.Observation()
      val step = cur.join(ptr, cur("new") === ptr("p_old"), "left")
        .select(col("old"), coalesce(col("p_new"), col("new")).as("new"),
          col("p_new").isNotNull.as("moved"))
        .observe(obs, max(col("moved")).as("any_moved"))
        .localCheckpoint(true)
      moved = obs.get.get("any_moved").exists {
        case b: java.lang.Boolean => b.booleanValue()
        case _ => false
      }
      cur = step.drop("moved")
    }
    cur
  }

  /** The batch's label-store deltas, from its verified edge set (columns
    * `a`, `b`), the distinct endpoint ids (`id`), and the endpoints'
    * CURRENT labels `cur` (`id`, `lbl` — the pruned assign lookup already
    * resolved through the log):
    *
    *  - contract each edge endpoint through its current label (labels are
    *    component minima, so contraction preserves global minima), cluster
    *    the contracted graph — bounded by the batch's edges, never the
    *    corpus — exactly as the snapshot path did;
    *  - NEW ASSIGNMENTS: endpoints with no existing assignment, labeled
    *    with their contracted component's minimum. Every new endpoint
    *    appears in the contracted graph: its partner is either another id
    *    (≠ by pair normalization) or an existing label, and labels are
    *    previously-assigned ids — disjoint from never-assigned ones;
    *  - RELABEL rows: existing labels (mapping nodes that are some current
    *    label — disjoint from new ids, same argument) whose component
    *    minimum moved.
    *
    * `ccLocalMaxEdges` is the contracted graph's driver-path ceiling in
    * [[Dedup.minLabelComponents]] (specs pass 0 to force the distributed
    * rounds).
    */
  def deltas(edges: DataFrame, endpoints: DataFrame, cur: DataFrame,
             ccLocalMaxEdges: Int = SmallMergeMaxEdges)
      : (DataFrame, DataFrame) = {
    val contracted = edges
      .join(cur.select(col("id").as("a"), col("lbl").as("la0")), Seq("a"), "left")
      .join(cur.select(col("id").as("b"), col("lbl").as("lb0")), Seq("b"), "left")
      .select(coalesce(col("la0"), col("a")).as("la"),
        coalesce(col("lb0"), col("b")).as("lb"))
      .filter(col("la") =!= col("lb"))
    val mapping = Dedup.minLabelComponents(contracted, "la", "lb", "node",
        maxIters = 50, onConverged = _ => (), ccLocalMaxEdges)
      .select(col("node"), col("cluster_id"))
    val newAssign = endpoints
      .join(cur.select("id"), Seq("id"), "left_anti")
      .join(mapping.select(col("node").as("id"), col("cluster_id").as("lbl")),
        "id")
    val relabel = mapping
      .join(cur.select(col("lbl").as("node")).distinct(), Seq("node"))
      .filter(col("cluster_id") =!= col("node"))
      .select(col("node").as("old"), col("cluster_id").as("new"))
    (newAssign, relabel)
  }
}
