package graft.ops

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Tables

/**
 * Incremental / streaming SQ8 similarity index: the n68 batched kNN join
 * maintained continuously as vectors arrive — the int8 twin of
 * [[IncrementalIvfPqIndex]] (n63), closing the compression ladder's
 * streaming column (round-15 verdict #3). A 100 TB embedding store is
 * INGESTED, not loaded, and what the stream persists is the 100 TB
 * state-size term: this index stores 64-byte SQ8 code BINARYs
 * (near-exact ranking — top-3 agreement 0.94 with the exact n60 join,
 * `Sq8Spec`) instead of the 512-byte float unit vectors the exact join
 * would need — the verify side of every future query narrows ×8 at the
 * parquet layer (measured ratio in BASELINE "SQ8 incremental index").
 * Reference behavior anchor: the reference's streaming app composes
 * exactly this ingest shape (`foreachBatch` over an admission-throttled
 * source, `src/pyspark_streaming_base/app/app.py:61-76`); the join
 * semantics are n68's.
 *
 * Seventh subclass of [[IncrementalStateMachine]]: one append-only
 * `codes/` part table, cell-bucketed like n63's (the probed-read prune),
 * write-once by construction — codes, cells, AND the probe set are
 * per-row functions of the vector, so there is nothing to merge and all
 * maintenance is the base tiered compaction + GC. The probe set is the
 * new term: [[IvfGeometry.probedCellsCol]] precomputes each member's
 * nProbe best cells AT INGEST (an 8-element comparator sort per row,
 * map-side), so the full kNN join over the index skips the probe-side
 * TopKPerKey shuffle the batch n68 pays — the stream does the cut once
 * per vector instead of once per query run.
 *
 * Correctness claim (oracle-gated as n71): encode, cell, and probe set
 * are deterministic per row and batching-independent, so after
 * `processAllAvailable` the committed codes table equals the batch n68
 * index EXACTLY for any batching, and [[knnJoin]] — the
 * [[Similarity.knnJoinVerify]] tail over the stored probe sets — equals
 * the batch n68 join: the query hash-matches the n68 spec's oracle
 * verbatim (the n41/n52/n63/n67
 * pattern). Convergence, replay idempotence, probe-cut parity, and the
 * state-size ratio are pinned in `IncrementalSq8Spec`.
 */
final class IncrementalSq8Index(root: Path,
                                override protected val maxLevels: Int = 4)
  extends IncrementalStateMachine(root) {

  private val geo = IvfGeometry.Default
  private val CodesDdl =
    "vec_id BIGINT, cell INT, probed ARRAY<INT>, code BINARY"

  override protected def partTables: Seq[PartTable] =
    Seq(PartTable("codes", CodesDdl,
      bucket = Some(Bucketing(col("cell"), geo.nlist))))

  /** The `foreachBatch` entry point (replay-idempotent, n41 contract):
    * one map-side pass — unit-normalize, SQ8-encode, assign + probe
    * cells — one batch-sized part write; per-batch cost ∝ batch, never
    * ∝ index, with nothing to merge. */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    if (isCommitted(batchId)) return
    rejectBelowWatermark(batchId)
    val probed = geo.probedCellsCol(AnnLadder.doubles(col("embedding")))
    batch
      .select(col("vec_id"), probed.as("probed"),
        graft.functions.ScalarQuantization
          .encode(Dedup.unitVector(col("embedding")), 64).as("code"))
      // element 1 of the probe array IS the assignment cell (dot DESC,
      // cell ASC — argmax first): no second cell pass
      .withColumn("cell", element_at(col("probed"), 1))
      .select("vec_id", "cell", "probed", "code")
      .write.mode("overwrite").parquet(partDir("codes", batchId).toString)
    commitBatch(batchId)
  }

  /** The maintenance position: base tiered compaction + GC (parts →
    * cell-bucketed levels, dead markers pruned). */
  def maintain(spark: SparkSession): Unit = { compact(spark); () }

  /** The n68 kNN join over the committed index: probe side explodes the
    * STORED per-vector probe sets (no TopKPerKey shuffle — the cut
    * happened at ingest), index side is the cell-keyed codes, verify is
    * the codegen [[graft.functions.Sq8DotExpr]] integer dot — the
    * [[Similarity.knnJoinVerify]] tail the batch n68 runs. */
  def knnJoin(spark: SparkSession, k: Int = 3): DataFrame = {
    val st = readParts(spark, "codes", Long.MaxValue, CodesDdl,
      requireMarker = true)
    val probes = st.select(col("vec_id"), col("code").as("u"),
      explode(col("probed")).as("cell"))
    val index = st.select(col("vec_id").as("nbr"), col("code").as("un"),
      col("cell"))
    Similarity.knnJoinVerify(probes, index, k,
      verify = (a, b) => graft.functions.ScalarQuantization.dot(a, b),
      scoreName = "sq8dot", ascending = false)
  }

  /** Dev/spec accessor: the full committed codes table. */
  private[graft] def debugCodes(spark: SparkSession): DataFrame =
    readParts(spark, "codes", Long.MaxValue, CodesDdl, requireMarker = true)
}

object IncrementalSq8 {

  /** n71: ingest the embeddings table as a `chunks`-batch file stream
    * through the incremental SQ8 index, run the maintenance pass (parts
    * → cell-bucketed levels), then answer the full n68 kNN join from the
    * index. Oracle: the batch n68 spec's, verbatim. */
  def streamingSq8KnnQuery(spark: SparkSession, dir: String,
                           chunks: Int = 4): DataFrame = {
    val base = Tables.scratchDir("n71")
    val index = new IncrementalSq8Index(base.resolve("state"))
    StreamHarness.stageChunks(Tables.embeddings(spark, dir),
      pmod(col("vec_id"), lit(chunks)), base.resolve("input"), chunks)
    StreamHarness.run(spark, base.resolve("input"), base.resolve("ckpt"),
      "graft:n71")(index.processBatch)
    index.maintain(spark)
    index.knnJoin(spark)
  }
}
