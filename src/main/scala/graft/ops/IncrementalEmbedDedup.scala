package graft.ops

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Tables

/**
 * Incremental / streaming embedding near-dup index: the n37 embedding
 * cluster table maintained continuously as vectors arrive — the embedding
 * modality of [[LabelledBandIndex]], which owns the band table, the
 * candidate probe, the label store and the per-batch skeleton. Media
 * (n58) rides the same class: any (vec_id, embedding) frame works.
 *
 * Payload per micro-batch: the unit-normalized vectors and their
 * sign-projection band hashes at a PINNED (bits, bands) geometry
 * ([[Dedup.signBandCol]]). The adaptive sizing the batch path uses
 * ([[Dedup.lshBitsFor]]) is a function of corpus size, which GROWS under
 * streaming, so the index pins the geometry of the expected final corpus
 * at construction and every batch hashes identically. Candidates verify
 * with the exact codegen DotProduct at n37's 0.9 against the `units`
 * table (id-bucketed, pruned to the candidate endpoints' buckets); the
 * candidate side broadcasts, so the units are SCANNED twice, never
 * shuffled — two cheap columnar scans beat one scan plus three shuffles
 * at every scale measured. At 100 TB the bucketed trees are the banded
 * index any production ANN/near-dup service persists anyway, with the
 * bucket counts sized so buckets stay file-sized.
 */
final class IncrementalEmbedIndex(root: Path, geometry: (Int, Int),
                                  bandBuckets: Int = 64,
                                  maxLevels: Int = 4,
                                  bucketMaxDirs: Int = 4096,
                                  idBuckets: Int = 64)
  extends LabelledBandIndex(root, "vec_id", bandBuckets, maxLevels,
    bucketMaxDirs, idBuckets) {

  private val (bits, nBands) = geometry
  private val UnitsDdl = "vec_id BIGINT, u ARRAY<DOUBLE>"

  override protected def payloadTables: Seq[PartTable] =
    Seq(PartTable("units", UnitsDdl, idBucketed(col("vec_id"))))

  private[graft] def debugReadUnits(spark: SparkSession, max: Long,
                                    pruneTo: Option[Seq[Long]] = None): DataFrame =
    debugRead(spark, "units", max, pruneTo)

  override protected def openBatch(batch: DataFrame, batchId: Long): BatchWork =
    new BatchWork {
      private val spark = batch.sparkSession
      private val unitB = batch
        .select(col("vec_id"), Dedup.unitVector(col("embedding")).as("u"))
        .persist()
      val bands: DataFrame = unitB
        .select(col("vec_id"),
          posexplode(Dedup.signBandCol(col("u"), bits, nBands)).as(Seq("band", "bh")))
        .persist()

      def writes: Seq[() => Unit] = Seq(() => unitB.write.mode("overwrite")
        .parquet(partDir("units", batchId).toString))

      def verify(candidates: DataFrame, pruneTo: Option[Seq[Long]]): DataFrame = {
        val allUnits = readParts(spark, "units", batchId, UnitsDdl,
          pruneTo = pruneTo).unionByName(unitB)
        candidates
          .join(allUnits.select(col("vec_id").as("vec_a"), col("u").as("ua")), "vec_a")
          .join(allUnits.select(col("vec_id").as("vec_b"), col("u").as("ub")), "vec_b")
          .filter(graft.functions.DotProduct(col("ua"), col("ub")) >= 0.9)
      }

      def release(): Unit = { bands.unpersist(); unitB.unpersist() }
    }

  /** The cluster table implied by the final state — row-identical to the
    * batch n37 answer over every ingested vector. Marker-gated: only fully
    * committed batches contribute. */
  def finalClusters(spark: SparkSession): DataFrame =
    finalLabels(spark)
      .select(col("vec_id"), col("lbl").as("cluster_id"),
        (col("vec_id") === col("lbl")).as("is_canonical"))
}

object IncrementalEmbedDedup {

  /** Stage the n37 corpus (embeddings ∪ planted copies, double vectors) as
    * `chunks` arrival groups. The split key is a HASH of vec_id, not the id
    * itself: planted copies sit at vec_id + 10⁶ (≡ id mod small moduli), so
    * an id-modulo split would co-locate every near-dup pair with its
    * partner and the stream-static cross-batch join path would go untested. */
  private[graft] def stageChunks(corpus: DataFrame, input: Path,
                               chunks: Int): Unit =
    StreamHarness.stageChunks(corpus,
      pmod(xxhash64(col("vec_id")), lit(chunks)), input, chunks)

  /** The n37 corpus: embeddings as double vectors ∪ planted near-dup
    * copies ([[Dedup.plantedCopies]]), the construction whose qualifying
    * pair set the 0.9 threshold separates. */
  private[graft] def corpus(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      .unionByName(Dedup.plantedCopies(emb)
        .select(col("vec_id"), col("v").as("embedding")))
  }

  /** One AvailableNow run over whatever staged files the checkpoint has
    * not seen yet. */
  private[graft] def runStream(spark: SparkSession, input: Path, ckpt: Path,
                             index: IncrementalEmbedIndex): Unit =
    StreamHarness.run(spark, input, ckpt, "graft:n52")(index.processBatch)

  /** The pinned geometry for a corpus of `n` vectors: what the batch path
    * would choose adaptively ([[Dedup.lshBitsFor]]), frozen up front. */
  private[graft] def geometryFor(n: Long): (Int, Int) = {
    val b = Dedup.lshBitsFor(n)
    (b, Dedup.lshBandsFor(b))
  }

  /** Collision-bucket count for a corpus of `n` vectors at `bands` bands:
    * targets ~2k band rows per bucket (file-sized at this scale), clamped
    * to [64, maxBuckets]. The default cap of 4096 keeps a SINGLE hive
    * directory level; pass a larger `maxBuckets` to lift it — the
    * [[IncrementalStateMachine.Bucketing]] layout goes two-level
    * (`pb=<v>/sub=<w>`) past 4096 buckets, so no directory ever exceeds
    * the per-dir fan-out bound and bucket counts can keep tracking index
    * growth without a metastore (round-12 verdict #4). Keeping buckets
    * file-sized is what keeps trickle-probe reads index-size-independent
    * (per-batch read = coverage(K, P) × index with
    * coverage = 1-(1-1/P)^K for K batch band keys). Pinned at index
    * construction like the LSH geometry (re-bucketing would change the
    * compacted layout mid-stream). */
  private[graft] def bucketsFor(n: Long, bands: Int,
                                maxBuckets: Long = 4096L): Int =
    math.max(64L, math.min(maxBuckets,
      java.lang.Long.highestOneBit(math.max(1L, n * bands / 2000)) * 2)).toInt

  /** n52: ingest the n37 corpus as a 4-batch file stream through the
    * incremental index, COMPACT the part tables (the maintenance pass a
    * production deployment schedules — running it here puts compaction
    * inside the driver's oracle gate every round), then emit the cluster
    * table implied by the final state. Oracle: the batch n37 SQL
    * ([[Dedup.embeddingClustersOracle]]) verbatim — incremental
    * maintenance converges to the batch answer. */
  def streamingEmbeddingClustersQuery(spark: SparkSession, dir: String,
                                      chunks: Int = 4): DataFrame = {
    val base = Tables.scratchDir("n52")
    val full = corpus(spark, dir)
    val n = full.count()
    val geom = geometryFor(n)
    val index = new IncrementalEmbedIndex(base.resolve("state"),
      geometry = geom, bandBuckets = bucketsFor(n, geom._2),
      idBuckets = bucketsFor(n, 1))
    stageChunks(full, base.resolve("input"), chunks)
    runStream(spark, base.resolve("input"), base.resolve("ckpt"), index)
    index.compact(spark)
    index.finalClusters(spark).orderBy("vec_id")
  }
}
