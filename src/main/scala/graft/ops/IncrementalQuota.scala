package graft.ops

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Tables

/**
 * Incremental / streaming per-domain quota: the n62 crawl-balancing cut
 * maintained continuously as documents arrive — the GOVERNANCE twin of
 * the incremental dedup (n41) and ANN (n63) cells. A production ingest
 * keeps "this host's `perHost` best documents" live on the stream (new
 * crawl slices displace weaker admitted docs the moment they commit),
 * not in a nightly batch recomputation over the full corpus. Reference
 * behavior anchor: the same `foreachBatch` ingest lifecycle as the
 * reference's streaming app (`src/pyspark_streaming_base/app/app.py:61-76`);
 * the quota semantics are n62's.
 *
 * Fifth [[IncrementalStateMachine]] subclass, and the simplest possible
 * use of it: ONE append-only `cands` part table and nothing else — no
 * snapshots, no label merging, no read-modify-write of prior state on
 * the batch path at all. That works because bounded selection is
 * ASSOCIATIVE: if a row is in the global top-`perHost` of its host
 * (under the total order quality desc, doc_id asc), then fewer than
 * `perHost` rows of that host rank above it in its OWN batch too, so it
 * survives the batch-local cut — hence
 * `cut(union(cut(batch_i))) == cut(union(batch_i))` for ANY batching,
 * and the per-batch write can be just the batch's own top-`perHost` per
 * host (the [[graft.plans.TopKPerKey]] bounded heap, ≤ hosts(batch) ×
 * perHost rows, map-side cost ∝ batch). Read-time resolution re-applies
 * the same cut over the committed parts; a FULL merge applies it via
 * [[fullMergeContent]] (idempotent: cut∘cut = cut), so the bin-packed
 * level IS the resolved keeper set — bounded at hosts × perHost rows no
 * matter how much crawl has flowed through, which is what makes the
 * steady state O(admitted), never O(ingested).
 *
 * Compacted levels are collision-bucketed on the XXH64 host hash, so the
 * admission probe a crawler front-end runs ("is doc X still within host
 * H's quota?") is a listing-time prune to ONE of `hostBuckets` leaf dirs
 * ([[hostTopK]]), the d73/n63 pruned-read shape on the governance table.
 *
 * Correctness claim (oracle-gated as n67): by the associativity argument
 * the final quota table equals the batch n62 answer EXACTLY for any
 * batching — the query hash-matches [[Pipeline.domainCapOracle]]
 * verbatim (the n41/n48/n52/n63 convergence pattern). Replay idempotence,
 * tiering, crash windows, and pruned-read parity are the base machine's,
 * exercised over this subclass in `IncrementalQuotaSpec`.
 */
final class IncrementalQuota(root: Path, perHost: Int = Pipeline.DomainQuota,
                             hostBuckets: Int = 64,
                             override protected val maxLevels: Int = 4)
  extends IncrementalStateMachine(root) {

  private val CandsDdl = "host STRING, doc_id BIGINT, quality_score DOUBLE"

  private def hostBucketCol: Column =
    pmod(xxhash64(col("host")), lit(hostBuckets.toLong))

  override protected def partTables: Seq[PartTable] =
    Seq(PartTable("cands", CandsDdl,
      bucket = Some(Bucketing(hostBucketCol, hostBuckets))))

  /** The quota cut: `perHost` best rows per host under the n62 total
    * order (quality desc, doc_id asc — deterministic, doc_id unique).
    * Runs on the bounded-heap [[graft.plans.TopKPerKey]] operator, so at
    * most perHost rows per (host, partition) ever reach a shuffle. */
  private def cut(df: DataFrame): DataFrame =
    graft.plans.TopKPerKey(df, Seq(col("host")),
      Seq(col("quality_score").desc, col("doc_id")), perHost)

  /** The `foreachBatch` entry point (replay-idempotent, n41 contract):
    * score map-side (the shared n24/n32 host + n09 quality expressions),
    * cut batch-locally, append ONE bounded part — never reads prior
    * state, so per-batch cost is ∝ batch with nothing to merge. */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    if (isCommitted(batchId)) return
    rejectBelowWatermark(batchId)
    val scored = batch.select(Corpus.hostCol.as("host"), col("doc_id"),
      TextAnalysis.qualityScoreCol(col("text")).as("quality_score"))
    cut(scored).write.mode("overwrite")
      .parquet(partDir("cands", batchId).toString)
    commitBatch(batchId)
  }

  /** FULL merges collapse the level to the RESOLVED keeper set (cut is
    * idempotent, so resolve(hook(df)) == resolve(df) as the base
    * contract requires): the bin-packed level holds ≤ hosts × perHost
    * rows regardless of stream lifetime. Delta levels stay raw
    * candidates (base contract: layout only). */
  override protected def fullMergeContent(spark: SparkSession, t: PartTable,
                                          df: DataFrame): DataFrame = cut(df)

  /** The maintenance position: base tiered compaction + GC. */
  def maintain(spark: SparkSession): Unit = { compact(spark); () }

  /** The admitted set implied by the committed state — the batch n62
    * table (host, rank, doc_id, quality_score), hash-matching its
    * oracle for any batching. */
  def finalQuota(spark: SparkSession): DataFrame =
    cut(readParts(spark, "cands", Long.MaxValue, CandsDdl,
        requireMarker = true))
      .withColumn("rank", row_number().over(Window.partitionBy("host")
        .orderBy(col("quality_score").desc, col("doc_id"))).cast("long"))
      .select(col("host"), col("rank"), col("doc_id"), col("quality_score"))
      .orderBy("host", "rank")

  /** One host's admitted set: the crawler front-end's admission lookup.
    * The levels read is listing-pruned to the host's single collision
    * bucket (driver-side XXH64 — parity with Spark's `xxhash64` pinned
    * in `IncrementalQuotaSpec`); recent unbucketed parts are read in
    * full (batch-sized, cadence-bounded). */
  def hostTopK(spark: SparkSession, host: String): DataFrame = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(host)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
    val b = ((h % hostBuckets) + hostBuckets) % hostBuckets
    cut(readParts(spark, "cands", Long.MaxValue, CandsDdl,
        requireMarker = true, pruneTo = Some(Seq(b)))
      .filter(col("host") === host))
      .orderBy(col("quality_score").desc, col("doc_id"))
  }

  /** Dev/spec accessor: the raw committed candidate table. */
  private[graft] def debugCands(spark: SparkSession): DataFrame =
    readParts(spark, "cands", Long.MaxValue, CandsDdl, requireMarker = true)
}

object IncrementalQuota {

  /** n67: ingest the documents table as a `chunks`-batch file stream
    * through the incremental quota, run the maintenance pass (inside
    * the driver's oracle gate, as n41/n48/n52/n63 run compact()), then
    * emit the admitted set. Oracle: the batch n62
    * [[Pipeline.domainCapOracle]] verbatim. */
  def streamingDomainCapQuery(spark: SparkSession, dir: String,
                              chunks: Int = 4): DataFrame = {
    val base = Tables.scratchDir("n67")
    val quota = new IncrementalQuota(base.resolve("state"))
    StreamHarness.stageChunks(Tables.documents(spark, dir),
      pmod(col("doc_id"), lit(chunks)), base.resolve("input"), chunks)
    StreamHarness.run(spark, base.resolve("input"), base.resolve("ckpt"),
      "graft:n67")(quota.processBatch)
    quota.maintain(spark)
    quota.finalQuota(spark)
  }
}
