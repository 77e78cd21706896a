package graft.ops

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.queries.Tables

/**
 * Incremental / streaming deduplication: the n38 per-document manifest
 * maintained continuously as documents arrive, instead of recomputed from
 * scratch — the text modality of [[LabelledBandIndex]], which owns the
 * band table, the candidate probe, the label store and the per-batch
 * skeleton. This class keeps the text domain logic.
 *
 * Payload per micro-batch: the documents' shingle hashes and MinHash band
 * hashes, computed with the kernels the batch n38 query uses
 * ([[Dedup.wordShingles]] / [[Dedup.minHashSignature]] /
 * [[Dedup.lshBands]]), and their md5 fingerprints. Candidates verify with
 * exact Jaccard ([[Dedup.verifyJaccard]]) at n38's 0.8 against the
 * `shingles` table (id-bucketed, so the verification read prunes to the
 * candidate endpoints' buckets). After the label merge the batch appends
 * its (fp, min doc_id) keeper rows and its arrival-time verdicts.
 * `docs`/`manifest` compact flat: they are only read corpus-wide
 * (finalManifest / arrivalLog).
 *
 * The fingerprint keepers are min-resolved per-batch parts, like the
 * label store: every batch writes only its own rows, lookups prune to the
 * batch's fp buckets, and the full merge collapses them to one min row
 * per fp.
 *
 * A bridging merge that connects two existing clusters relabels the
 * larger-min one, which can flip an old "keep" verdict to "near_dup",
 * exactly as a batch recompute would — which is why [[finalManifest]]
 * derives from state and [[arrivalLog]] is only the audit trail.
 */
final class IncrementalDedupIndex(root: Path, bandBuckets: Int = 64,
                                  maxLevels: Int = 4,
                                  bucketMaxDirs: Int = 4096,
                                  idBuckets: Int = 64)
  extends LabelledBandIndex(root, "doc_id", bandBuckets, maxLevels,
    bucketMaxDirs, idBuckets) {

  private val DocsDdl = "doc_id BIGINT, source STRING, fp STRING"
  private val ShinglesDdl = "doc_id BIGINT, sh_hashes ARRAY<BIGINT>"
  private val FpKeepDdl = "fp STRING, fp_keep BIGINT"
  private val ManifestDdl =
    "doc_id BIGINT, source STRING, verdict STRING, keep_doc BIGINT"

  override protected def payloadTables: Seq[PartTable] = Seq(
    PartTable("docs", DocsDdl),
    PartTable("shingles", ShinglesDdl, idBucketed(col("doc_id"))),
    PartTable("manifest", ManifestDdl),
    PartTable("fpkeep", FpKeepDdl, idBucketed(col("fp"))))

  /** Full merges also collapse the fingerprint keepers to one min row per
    * fp — content-equivalent under [[fpView]]'s group-min. */
  override protected def fullMergeContent(spark: SparkSession, t: PartTable,
                                          df: DataFrame): DataFrame =
    if (t.name == "fpkeep") df.groupBy("fp").agg(min(col("fp_keep")).as("fp_keep"))
    else super.fullMergeContent(spark, t, df)

  /** The keeper view below `max`: min doc_id per fingerprint over the
    * (optionally bucket-pruned) keeper parts — group-min is associative,
    * so plain union consolidation of the parts is exact. */
  private def fpView(spark: SparkSession, max: Long,
                     pruneTo: Option[Seq[Long]] = None,
                     requireMarker: Boolean = false): DataFrame =
    readParts(spark, "fpkeep", max, FpKeepDdl, requireMarker = requireMarker,
        pruneTo = pruneTo)
      .groupBy("fp").agg(min(col("fp_keep")).as("fp_keep"))

  private[graft] def debugReadShingles(spark: SparkSession, max: Long,
                                       pruneTo: Option[Seq[Long]] = None): DataFrame =
    debugRead(spark, "shingles", max, pruneTo)

  override protected def openBatch(batch: DataFrame, batchId: Long): BatchWork =
    new BatchWork {
      private val spark = batch.sparkSession
      private val b = batch.persist()
      private val sh = b
        .select(col("doc_id"), Dedup.wordShingles(col("text")).as("shingles"))
        .filter(size(col("shingles")) > 0)
        .select(col("doc_id"),
          array_sort(transform(col("shingles"), s => xxhash64(s))).as("sh_hashes"))
        .persist()
      val bands: DataFrame = sh
        .select(col("doc_id"),
          explode(Dedup.lshBands(Dedup.minHashSignature(col("sh_hashes")))).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
        .persist()
      private val docsB =
        b.select(col("doc_id"), col("source"), md5(col("text")).as("fp"))

      // the fp keepers derive from the cached batch, not from any other
      // part, and nothing reads them before the manifest's fpView
      def writes: Seq[() => Unit] = Seq(
        () => docsB.write.mode("overwrite")
          .parquet(partDir("docs", batchId).toString),
        () => sh.write.mode("overwrite")
          .parquet(partDir("shingles", batchId).toString),
        () => docsB.groupBy("fp").agg(min(col("doc_id")).as("fp_keep"))
          .write.mode("overwrite").parquet(partDir("fpkeep", batchId).toString))

      def verify(candidates: DataFrame, pruneTo: Option[Seq[Long]]): DataFrame =
        Dedup.verifyJaccard(candidates,
          readParts(spark, "shingles", batchId, ShinglesDdl, pruneTo = pruneTo)
            .unionByName(sh), 0.8)

      // arrival-time verdicts for THIS batch's documents. The fp lookup
      // prunes to the batch's fp buckets in the trickle regime (the join is
      // inner, so out-of-bucket rows cannot match). The LABEL input needs
      // no store read: this batch's docs join only against labels keyed by
      // this batch's doc ids, and a doc cannot be assigned before it is
      // ingested — so a batch doc's label as of batchId+1 is either in
      // this batch's own assign part or absent. (A PRE-EXISTING doc can
      // well be assigned by a later batch's bridging edge; those rows land
      // in that batch's part and are irrelevant to this join.)
      override def afterLabels(hasEdges: Boolean, trickle: Boolean): Unit = {
        val fpSet =
          if (!trickle) None else pruneIdBuckets(docsB, col("fp"), batchId + 1)
        val batchLabels =
          if (hasEdges) spark.read.schema(StructType.fromDDL(AssignDdl))
            .parquet(partDir("assign", batchId).toString)
          else emptyDf(spark, AssignDdl)
        manifestFor(docsB, fpView(spark, batchId + 1, pruneTo = fpSet),
            batchLabels)
          .write.mode("overwrite").parquet(partDir("manifest", batchId).toString)
      }

      def release(): Unit = { bands.unpersist(); sh.unpersist(); b.unpersist() }
    }

  /** The n38 verdict CASE ([[Dedup.manifestVerdictCols]], the shared
    * builder) over (docs ⋈ fp keepers ⋈ cluster labels) —
    * `is_canonical ⟺ cluster_id = doc_id` because labels are component
    * minima, which is exactly what the batch path's explicit flag encodes. */
  private def manifestFor(docs: DataFrame, fpmin: DataFrame,
                          labels: DataFrame): DataFrame =
    docs.join(fpmin, "fp")
      .join(labels.select(col("doc_id"), col("lbl").as("cluster_id")),
        Seq("doc_id"), "left")
      .withColumn("is_canonical", col("cluster_id") === col("doc_id"))
      .select(col("doc_id") +: col("source") +:
        Dedup.manifestVerdictCols("doc_id", "keep_doc"): _*)

  /** The manifest implied by the final state — row-identical to the batch
    * n38 manifest over every ingested document. Marker-gated: only fully
    * committed batches contribute, so an external reader racing a crash
    * never joins a docs part against missing keeper/label rows. */
  def finalManifest(spark: SparkSession): DataFrame =
    manifestFor(readParts(spark, "docs", Long.MaxValue, DocsDdl, requireMarker = true),
      fpView(spark, Long.MaxValue, requireMarker = true), finalLabels(spark))

  /** The append-only arrival audit log: one verdict row per document,
    * written in the batch that ingested it, judged against the state AS OF
    * that batch. Exactly one row per ingested doc; a row can differ from
    * [[finalManifest]] only by a later batch superseding it (an exact-dup
    * keeper dethroned by a smaller doc_id, or a bridging merge relabeling
    * a cluster) — `IncrementalDedupSpec` asserts both properties. */
  def arrivalLog(spark: SparkSession): DataFrame =
    readParts(spark, "manifest", Long.MaxValue, ManifestDdl,
      requireMarker = true)
}

object IncrementalDedup {

  /** Stage `docs` as `chunks` arrival groups (one parquet file each,
    * written sequentially so modification-time ordering gives one file per
    * micro-batch under maxFilesPerTrigger=1). The split key is arbitrary:
    * the final manifest is batching-invariant. */
  private[graft] def stageChunks(docs: DataFrame, input: Path, chunks: Int,
                               from: Int = 0): Unit =
    StreamHarness.stageChunks(docs, pmod(col("doc_id"), lit(chunks)),
      input, chunks, from)

  /** One AvailableNow run of the incremental pipeline over whatever staged
    * files the checkpoint has not seen yet. */
  private[graft] def runStream(spark: SparkSession, input: Path, ckpt: Path,
                             index: IncrementalDedupIndex): Unit =
    StreamHarness.run(spark, input, ckpt, "graft:n41")(index.processBatch)

  /** n41: ingest the documents table as a 4-batch file stream through the
    * incremental index, COMPACT the part tables (putting the maintenance
    * pass inside the driver's oracle gate, as n52 does), then emit
    * the manifest implied by the final state. Oracle: the batch n38 SQL
    * ([[Dedup.dedupManifestOracle]]) verbatim — the whole point is that
    * incremental maintenance converges to the batch answer. */
  def streamingManifestQuery(spark: SparkSession, dir: String,
                             chunks: Int = 4): DataFrame = {
    val base = Tables.scratchDir("n41")
    val docs = Tables.documents(spark, dir)
    // size the collision buckets with corpus size exactly as the n52/n58
    // embed/media paths do (round-11 advice: a fixed default here would
    // undercut the fixed-rows-per-bucket argument pruning rests on);
    // the text index bands with the lshBands default of 16 bands/doc
    val n = docs.count()
    val index = new IncrementalDedupIndex(base.resolve("state"),
      bandBuckets = IncrementalEmbedDedup.bucketsFor(n, 16),
      idBuckets = IncrementalEmbedDedup.bucketsFor(n, 1))
    stageChunks(docs, base.resolve("input"), chunks)
    runStream(spark, base.resolve("input"), base.resolve("ckpt"), index)
    index.compact(spark)
    index.finalManifest(spark).orderBy("doc_id")
  }
}
