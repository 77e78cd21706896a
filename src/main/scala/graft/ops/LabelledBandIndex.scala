package graft.ops

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The labelled band index: an incremental near-dup index that keeps a
 * banded candidate table plus a persisted cluster labelling, maintained
 * one micro-batch at a time over the crash-consistent
 * [[IncrementalStateMachine]]. One index serves several similarity
 * measures — text ([[IncrementalDedupIndex]], MinHash bands + Jaccard,
 * n41) and embeddings/media ([[IncrementalEmbedIndex]], sign-projection
 * bands + cosine, n52/n58). A subclass supplies only its payload tables,
 * the batch → (payload, bands) step, the exact verifier, and an optional
 * step after the label merge ([[BatchWork]]); this class owns the band
 * table, the label store and the per-batch skeleton.
 *
 * Per micro-batch (`foreachBatch`, the d61 idempotent-write shape):
 *   1. the subclass computes the batch's payload and band hashes with the
 *      SAME kernels its batch query uses — banding is per-row and
 *      deterministic, so candidate recall is batching-invariant;
 *   2. candidates are generated STREAM-STATIC: batch bands ⋈ (index ∪
 *      batch) on (band, bh) — every qualifying pair has at least one
 *      endpoint in the current batch, so each unordered pair is discovered
 *      exactly once across the run, in the batch where its younger member
 *      arrives;
 *   3. the subclass verifies candidates exactly against its payload, and
 *      the verified edges fold into the persisted labels by CONTRACTING
 *      them through the current labels (endpoint → its component minimum)
 *      and clustering the contracted graph — bounded by the batch's edges,
 *      never the corpus. Labels are component-minimum ids, so contraction
 *      preserves the global fixpoint, bridging merges across batches
 *      included;
 *   4. every table gets one `b<batchId>` part (overwrite mode + commit
 *      marker ⇒ checkpoint-replay idempotent, the
 *      [[graft.sinks.IdempotentParquetWriter]] contract).
 *
 * COLLISION-BUCKET PRUNING: `bands` levels are hive-bucketed on
 * `hash(band, bh) % bandBuckets` and the candidate probe reads only the
 * buckets the batch's band keys can collide in — per-batch read volume
 * `coverage(K, P) × index` with `coverage = 1-(1-1/P)^K` for K batch band
 * keys, so a trickle batch (K ≪ P) reads a constant fraction regardless of
 * index lifetime, and a bulk batch covering more than half the buckets
 * falls back to the one-listing full scan it needed anyway. The payload
 * table the verifier reads and `assign` are bucketed on
 * `hash(id) % idBuckets` — sized by their own row count (one row per id),
 * not the band table's, since inheriting the band count measured as
 * ~49-row files at ×100 — and the verification read prunes to the
 * candidate ENDPOINTS' buckets. That is listing-time pruning of the same
 * broadcast-candidate double scan, not an endpoint semi-join: a round-11
 * semi-join added shuffles and doubled the gated n52 replay.
 *
 * Cluster labels live in the [[LabelLog]] relabel-log store: write-once
 * assignments in `assign` plus a per-batch `relabel` map, folded together
 * at every full merge, so the label merge is ∝ the batch's edges like
 * everything else.
 *
 * Correctness claim (`IncrementalDedupSpec` / `IncrementalEmbedDedupSpec`,
 * oracle-gated as n41/n52/n58): after `processAllAvailable`, the final
 * labels equal the batch clustering of every ingested row, for ANY split
 * into batches, because the edge set is batching-invariant (step 2) and
 * min-label contraction commutes with edge arrival order.
 */
abstract class LabelledBandIndex(root: Path, idCol: String, bandBuckets: Int,
                                 protected val maxLevels: Int,
                                 bucketMaxDirs: Int, idBuckets: Int)
  extends IncrementalStateMachine(root) {

  private val BandsDdl = s"$idCol BIGINT, band INT, bh BIGINT"
  protected final val AssignDdl = s"$idCol BIGINT, lbl BIGINT"
  /** Candidate and edge pair columns: `doc_a`/`doc_b` for `doc_id`. */
  private val (aCol, bCol) = {
    val stem = idCol.stripSuffix("_id")
    (s"${stem}_a", s"${stem}_b")
  }

  /** One micro-batch's modality half, built by [[openBatch]]. */
  protected trait BatchWork {
    /** The batch's (id, band, bh) rows. */
    def bands: DataFrame
    /** The payload part writes, run concurrently with the bands part. */
    def writes: Seq[() => Unit]
    /** The candidate pairs (`<stem>_a`, `<stem>_b`) that pass the exact
      * verifier, against the committed payload pruned to `pruneTo`
      * united with the batch's own. */
    def verify(candidates: DataFrame, pruneTo: Option[Seq[Long]]): DataFrame
    /** Work between the label merge and the commit; `hasEdges` says the
      * batch wrote an `assign` part, `trickle` that band pruning engaged. */
    def afterLabels(hasEdges: Boolean, trickle: Boolean): Unit = ()
    /** Unpersist what the batch persisted. */
    def release(): Unit
  }

  /** The subclass's tables; the head is the primary that names the
    * compaction levels. */
  protected def payloadTables: Seq[PartTable]

  protected def openBatch(batch: DataFrame, batchId: Long): BatchWork

  /** The band tree's hive-bucket column — the candidate probe's pruning
    * key (a batch band key can only collide inside its own bucket). */
  private def bandBucketCol: Column =
    pmod(xxhash64(col("band"), col("bh")), lit(bandBuckets.toLong))

  /** The id-hash bucket column over `c` — the pruning key of `assign` and
    * of the payload tables. */
  protected final def idBucketCol(c: Column): Column =
    pmod(xxhash64(c), lit(idBuckets.toLong))

  protected final def idBucketed(c: Column): Option[Bucketing] =
    Some(Bucketing(idBucketCol(c), idBuckets, bucketMaxDirs))

  protected final def pruneIdBuckets(df: DataFrame, c: Column,
                                     max: Long): Option[Seq[Long]] =
    pruneSet(df, idBucketCol(c), max, idBuckets)

  /** Driver-side [[idBucketCol]] — `pmod(xxhash64(id), idBuckets)` via the
    * same XXH64 kernel Spark's expression runs (seed 42); `LabelLogProps`
    * pins the parity. */
  private def idBucketLocal(id: Long): Long =
    java.lang.Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L),
      idBuckets.toLong)

  override protected final def partTables: Seq[PartTable] = payloadTables ++ Seq(
    PartTable("bands", BandsDdl,
      Some(Bucketing(bandBucketCol, bandBuckets, bucketMaxDirs))),
    PartTable("assign", AssignDdl, idBucketed(col(idCol))),
    PartTable("relabel", LabelLog.RelabelDdl, trackNonempty = true))

  /** Full merges resolve the assignment level through the whole relabel
    * log and empty the log level (union-find path compression at the
    * bin-pack): read-time chains restart from zero, and both transforms
    * are deterministic functions of committed state. The resolve takes
    * the same `trackedHasData` skip as every label read: a relabel row is
    * committed only in a part (never written empty) or a level carrying
    * the nonempty sentinel, so when neither exists the log is empty and
    * the resolve is the identity. */
  override protected def fullMergeContent(spark: SparkSession, t: PartTable,
                                          df: DataFrame): DataFrame =
    t.name match {
      case "assign" => resolved(spark, df, Long.MaxValue, requireMarker = true)
      case "relabel" => emptyDf(spark, LabelLog.RelabelDdl)
      case _ => df
    }

  /** Assignments resolved through the live relabel log below `max`, with
    * the driver-side fast path: when the log cannot hold rows (most
    * batches of most streams — planted clusters are pairs, which never
    * relabel), skip the resolve and its fixpoint jobs entirely. */
  private def resolved(spark: SparkSession, assign: DataFrame, max: Long,
                       requireMarker: Boolean = false): DataFrame =
    if (!trackedHasData("relabel", max)) assign
    else LabelLog.resolve(assign, readParts(spark, "relabel", max,
      LabelLog.RelabelDdl, requireMarker = requireMarker))

  /** The (`idCol`, `lbl`) labels implied by the final state. Marker-gated:
    * only fully committed batches contribute. */
  protected final def finalLabels(spark: SparkSession): DataFrame =
    resolved(spark, readParts(spark, "assign", Long.MaxValue, AssignDdl,
      requireMarker = true), Long.MaxValue, requireMarker = true)

  /** Dev/spec accessors: the band view a batch at `max` would probe, and
    * the two bucket expressions. */
  private[graft] def debugReadBands(spark: SparkSession, max: Long,
                                    pruneTo: Option[Seq[Long]] = None): DataFrame =
    debugRead(spark, "bands", max, pruneTo)
  private[graft] def debugBandBucket: Column = bandBucketCol
  private[graft] def debugIdBucket(c: Column): Column = idBucketCol(c)

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The `foreachBatch` entry point. Replay-idempotent: a committed batch
    * short-circuits; an interrupted one recomputes deterministically and
    * overwrites its own parts (both end states identical). */
  final def processBatch(batch: DataFrame, batchId: Long): Unit = {
    if (isCommitted(batchId)) return
    rejectBelowWatermark(batchId)
    val spark = batch.sparkSession
    val work = openBatch(batch, batchId)
    val bandsB = work.bands
    // endpoint pruning is attempted only in the TRICKLE regime (band
    // pruning engaged): a bulk batch's endpoint set covers most buckets
    // anyway, and its collect would force the big candidate join once
    // extra plus a persist — measured as the whole +30% bulk-batch cost at
    // ×100. Persisted only then: the endpoint-bucket collect and the
    // verification join are two consumers of the candidate frame.
    val pbSet = pruneSet(bandsB, bandBucketCol, batchId, bandBuckets)
    val trickle = pbSet.isDefined
    val candidates0 = candidatePairs(spark, bandsB, batchId, pbSet)
    val candidates = if (trickle) candidates0.persist() else candidates0
    val payloadSet =
      if (!trickle) None
      else pruneSet(candidates,
        explode(array(idBucketCol(col(aCol)), idBucketCol(col(bCol)))),
        batchId, idBuckets)
    // EAGER localCheckpoint, not persist: the label merge below issues
    // several small actions over the edge set, and Catalyst re-analyzes
    // the FULL logical tree on every action — caching short-circuits
    // execution, not analysis — so each would re-pay the whole
    // candidate+verify pipeline's analysis. The checkpoint pins the
    // batch-bounded edge set as a LogicalRDD, and the edge COUNT rides the
    // checkpoint job itself (an Observation): it drives both the merge
    // dispatch and the has-edges gate with zero extra jobs
    val edgeObs = Observation()
    val edges = work.verify(candidates, payloadSet)
      .select(aCol, bCol)
      .observe(edgeObs, count(lit(1)).as("n_edges"))
      .localCheckpoint(true)
    val nEdges = edgeObs.get.get("n_edges") match {
      case Some(l: java.lang.Long) => l.longValue()
      case _ => 0L
    }
    try {
      // independent jobs into distinct dirs, overlapped (per-batch scale:
      // the wall is job fixed cost, not data)
      inParallel(work.writes :+ (() => bandsB.write.mode("overwrite")
        .parquet(partDir("bands", batchId).toString)): _*)
      if (nEdges > 0) mergeLabels(spark, edges, nEdges, trickle, batchId)
      work.afterLabels(nEdges > 0, trickle)
      commitBatch(batchId)
    } finally {
      // edges is localCheckpointed — ContextCleaner-managed, no unpersist
      if (trickle) candidates.unpersist()
      work.release()
    }
  }

  /** Stream-static candidate generation: batch bands against the committed
    * index plus the batch itself (within-batch pairs), deduped on the
    * normalized unordered pair. Every pair with a shared band has at least
    * one endpoint in SOME batch's `bandsB`, and the older endpoint is in
    * that batch's index view — so the union over batches of these candidate
    * sets is exactly the batch algorithm's candidate set. */
  private def candidatePairs(spark: SparkSession, bandsB: DataFrame,
                             batchId: Long,
                             pbSet: Option[Seq[Long]]): DataFrame = {
    val all = readParts(spark, "bands", batchId, BandsDdl,
      pruneTo = pbSet).unionByName(bandsB)
    val (x, y) = (col(s"x.$idCol"), col(s"y.$idCol"))
    bandsB.as("x").join(all.as("y"), Seq("band", "bh"))
      .filter(x =!= y)
      .select(least(x, y).as(aCol), greatest(x, y).as(bCol))
      .distinct()
  }

  /** The driver-merge edge ceiling; specs lower it to 0 to force the
    * distributed merge. */
  private[ops] var smallMergeMaxEdges: Int = LabelLog.SmallMergeMaxEdges

  /** Fold a batch's nonempty edge set into the label store, writing only
    * the batch's own `assign` and `relabel` rows. SMALL-MERGE dispatch
    * (see [[LabelLog.SmallMergeMaxEdges]]): with an empty relabel log and
    * at most the ceiling of edges, the merge runs on the driver over the
    * collected edges (the collect reads the materialized checkpoint
    * blocks), in the trickle and the bulk regime alike — the edge count,
    * not band pruning, bounds its work; over-ceiling edge sets and
    * nonempty logs take the distributed path. Both write the same parts
    * (`LabelLogProps` and `LabelLogSpec` pin the equivalence), so replay
    * may take either. */
  private def mergeLabels(spark: SparkSession, edges: DataFrame, nEdges: Long,
                          trickle: Boolean, batchId: Long): Unit = {
    val driver = nEdges <= smallMergeMaxEdges &&
      !trackedHasData("relabel", batchId)
    log.info(s"labelMerge path=${if (driver) "driver" else "distributed"} " +
      s"batch=$batchId edges=$nEdges")
    if (driver)
      smallMerge(spark, edges.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))),
        batchId)
    else {
      // endpoint lookup pruned to the endpoints' id buckets in the trickle
      // regime; the ENDPOINTS are joined before resolving, so the relabel
      // hop runs over the batch's endpoints, not every assignment in the
      // pruned buckets (the whole store when pruning is off)
      val endpoints = edges.select(col(aCol).as(idCol))
        .unionByName(edges.select(col(bCol).as(idCol)))
        .distinct().persist()
      val aSet =
        if (!trickle) None else pruneIdBuckets(endpoints, col(idCol), batchId)
      // persisted: the contraction, the new-endpoint anti-join, and the
      // relabel restriction are three consumers of the pruned lookup
      val cur = resolved(spark,
        readParts(spark, "assign", batchId, AssignDdl, pruneTo = aSet)
          .join(endpoints, idCol), batchId)
        .select(col(idCol).as("id"), col("lbl")).persist()
      val (newAssign, relabel) = LabelLog.deltas(
        edges.select(col(aCol).as("a"), col(bCol).as("b")),
        endpoints.select(col(idCol).as("id")), cur)
      newAssign.select(col("id").as(idCol), col("lbl"))
        .write.mode("overwrite").parquet(partDir("assign", batchId).toString)
      // never write an EMPTY relabel part (the trackNonempty contract: part
      // existence ⇒ rows, which buys every later batch the driver-side
      // skip; emptiness is deterministic, so replay agrees) — ONE probe job
      // over the persisted relabel frame
      val rel = relabel.persist()
      if (rel.limit(1).count() > 0)
        rel.write.mode("overwrite").parquet(partDir("relabel", batchId).toString)
      rel.unpersist()
      cur.unpersist(); endpoints.unpersist()
    }
  }

  /** The driver-side label merge: endpoint labels from the WRITE-ONCE
    * assign table, read pruned to the endpoints' id buckets when they
    * cover at most half of them (≤ 2·edges rows kept; the log is empty by
    * the dispatch guard, so no resolve), min-root union-find via
    * [[LabelLog.deltasLocal]], the two delta parts written from literal
    * frames. */
  private def smallMerge(spark: SparkSession, rows: Seq[(Long, Long)],
                         batchId: Long): Unit = {
    import spark.implicits._
    val endpoints = rows.flatMap { case (a, b) => Seq(a, b) }.distinct
    val bSet = endpoints.map(idBucketLocal).distinct
    val cur = readParts(spark, "assign", batchId, AssignDdl,
        pruneTo = Some(bSet).filter(_.size <= idBuckets / 2))
      .filter(col(idCol).isInCollection(endpoints))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val (newAssign, relabel) = LabelLog.deltasLocal(rows, cur)
    newAssign.toDF(idCol, "lbl").coalesce(1)
      .write.mode("overwrite").parquet(partDir("assign", batchId).toString)
    // emptiness is known driver-side here: no probe job
    if (relabel.nonEmpty)
      relabel.toDF("old", "new").coalesce(1)
        .write.mode("overwrite").parquet(partDir("relabel", batchId).toString)
  }
}
