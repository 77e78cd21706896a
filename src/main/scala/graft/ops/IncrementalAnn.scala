package graft.ops

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.BatchQueries.QueryFn
import graft.queries.Tables

/**
 * A TRAINED quantizer for the incremental index (round-17: the quality
 * ladder's top rung through the streaming path): the Lloyd-trained
 * residual codebook plus the per-cell integer centroids it was trained
 * against ([[AnnLadder.trainedResidualCodebook]] /
 * [[AnnLadder.cellCentroids]] — deterministic, no RNG). Both are
 * BOUNDED plan constants (nSub·nCode·subDim longs + nlist·64 longs);
 * at 100 TB training is a sample job that runs once before the index
 * opens, and the quantizer must then NEVER drift across restarts —
 * codes already persisted were encoded with it, so a retrained codebook
 * silently corrupts every distance. The index therefore persists the
 * quantizer beside its state on first open and REFUSES a conflicting
 * one on reopen.
 */
final case class TrainedQuant(codebook: Array[Long], nCode: Int,
                              centroids: Array[Array[Long]])

/** A codes index's on-disk layout: fixed, so roots written by earlier
  * builds reopen. `probed` holds each member's nProbe best cells,
  * precomputed AT INGEST (an 8-element comparator sort per row,
  * map-side), so a batched kNN join over the index explodes them instead
  * of re-shuffling a score stream per query run. */
sealed abstract class CodesLayout(val ddl: String, val codes: String)
object CodesLayout {
  /** PQ codes plus the label, so a scan answers from the index alone. */
  case object Pq extends CodesLayout(
    "vec_id BIGINT, label INT, cell BIGINT, probed ARRAY<INT>, codes ARRAY<INT>",
    "codes")
  /** 64-byte SQ8 code BINARYs instead of the 512-byte float unit vectors
    * the exact join would need (measured ratio in BASELINE "SQ8
    * incremental index"). */
  case object Sq8 extends CodesLayout(
    "vec_id BIGINT, cell INT, probed ARRAY<INT>, code BINARY", "code")
}

/**
 * Incremental / streaming ANN index: the IVF/PQ ladder's codes maintained
 * continuously as vectors arrive — the index twin of [[IncrementalDedup]]
 * (n41) for the similarity-search side of the pipeline. A 100 TB
 * embedding store is INGESTED, not loaded: each micro-batch encodes its
 * vectors map-side with the batch planner's own column builders
 * ([[AnnLadder.pqCodes]], [[AnnLadder.sq8Codes]]) and appends one part;
 * queries run the ladder's planners against whatever has committed
 * ([[AnnLadder.scan]] / [[AnnLadder.join]] over the index). Reference
 * behavior anchor: the reference's streaming app composes exactly this
 * ingest shape (`foreachBatch` over an admission-throttled source,
 * `src/pyspark_streaming_base/app/app.py:61-76`).
 *
 * A subclass of [[IncrementalStateMachine]] with one append-only `codes/`
 * part table whose compacted levels are COLLISION-BUCKETED ON THE IVF
 * CELL (`Bucketing(cell, nlist)`) — so a scan's probed-cell read is a
 * listing-time prune to `nProbe` of `nlist` leaf dirs, the IVF cost dial
 * realized as directory layout. No snapshots, no label merging, no
 * relabel log: codes, cells and probe sets are PER-ROW functions of the
 * vector, so the state is write-once by construction and every
 * maintenance concern reduces to the base tiered compaction + GC.
 *
 * Correctness claim: encode, cell and probe set are deterministic per
 * row and batching-independent, so after `processAllAvailable` the
 * codes table equals the batch rung's encode EXACTLY for any batching,
 * and a query over it equals the batch rung per row (n63/n71/n77
 * hash-match the n61/n68/n75 oracles verbatim; n79/n83 are gated by
 * equality to the n76/n80 plans in `IncrementalAnnSpec`). Replay
 * idempotence, tiering, crash windows and pruned-read parity are the
 * base machine's, exercised in `IncrementalAnnSpec`/`IncrementalSq8Spec`.
 */
final class CodesIndex(root: Path, val layout: CodesLayout,
                       trained: Option[TrainedQuant] = None,
                       override protected val maxLevels: Int = 4)
  extends IncrementalStateMachine(root) {

  private val geo = IvfGeometry.Default

  /** The quantizer file beside the state: nCode, the codebook, then one
    * centroid row per line (comma-joined longs). Written ATOMICALLY
    * (tmp + move) so a crash mid-open can never leave a half-quantizer
    * next to committed codes. */
  private val quantPath = root.resolve("quant.txt")

  private def persistQuant(tq: TrainedQuant): Unit = {
    Files.createDirectories(root)
    val tmp = root.resolve("quant.txt.tmp")
    val text = (tq.nCode.toString +:
      tq.codebook.mkString(",") +:
      tq.centroids.map(_.mkString(",")).toSeq).mkString("\n")
    Files.write(tmp, text.getBytes("UTF-8"))
    Files.move(tmp, quantPath, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Structural validation on load (round-17 advice): a truncated or
    * foreign quant.txt must fail HERE with a message naming the file,
    * not as an obscure index/parse error at the first read site — and
    * never as a silently geometry-mismatched quantizer scoring codes. */
  private def loadQuant(): Option[TrainedQuant] =
    if (!Files.exists(quantPath)) None
    else {
      val lines = new String(Files.readAllBytes(quantPath), "UTF-8").split("\n")
      require(lines.length >= 3,
        s"$quantPath is truncated: ${lines.length} line(s), need nCode + " +
          "codebook + at least one centroid row")
      def parse[T](i: Int, what: String)(f: String => T): T =
        try f(lines(i))
        catch { case e: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$quantPath line ${i + 1} is not a valid $what: ${e.getMessage}")
        }
      def longs(i: Int, what: String) = parse(i, what)(_.split(",").map(_.toLong))
      val nCode = parse(0, "integer nCode")(_.trim.toInt)
      val codebook = longs(1, "codebook row")
      require(codebook.length == Pq.NSub * nCode * Pq.SubDim,
        s"$quantPath codebook length ${codebook.length} != " +
          s"nSub*nCode*subDim = ${Pq.NSub * nCode * Pq.SubDim}")
      val centroids = (2 until lines.length).map(longs(_, "centroid row")).toArray
      require(centroids.length == geo.nlist,
        s"$quantPath has ${centroids.length} centroid rows, index nlist is ${geo.nlist}")
      require(centroids.forall(_.length == 64),
        s"$quantPath centroid rows must have 64 components")
      Some(TrainedQuant(codebook, nCode, centroids))
    }

  /** True iff any batch has ever committed at this root — the guard input
    * for quantizer adoption below. */
  private def anyBatchCommitted: Boolean = {
    val dir = root.resolve("commits")
    Files.exists(dir) && {
      val s = Files.list(dir)
      try s.findFirst().isPresent finally s.close()
    }
  }

  /** Restart-stability resolution: a quantizer already stored beside the
    * state GOVERNS (the committed codes were encoded with it); passing a
    * DIFFERENT one on reopen is an error, not a retrain — re-encoding
    * requires a new index root. First open with a quantizer persists it —
    * but ONLY onto an empty index (round-17 advice): batches committed
    * before any quantizer was stored were encoded in md5 mode, and
    * adopting a trained quantizer over them would re-interpret their
    * codes with per-cell trained LUTs — the same corruption the reopen
    * conflict check refuses, arriving via the add-a-quantizer path. */
  private val quant: Option[TrainedQuant] = (loadQuant(), trained) match {
    case (Some(stored), Some(passed)) =>
      require(stored.nCode == passed.nCode &&
          java.util.Arrays.equals(stored.codebook, passed.codebook) &&
          stored.centroids.length == passed.centroids.length &&
          stored.centroids.indices.forall(c =>
            java.util.Arrays.equals(stored.centroids(c), passed.centroids(c))),
        s"index at $root was built with a DIFFERENT trained quantizer; " +
          "committed codes cannot be re-interpreted — open a new root to re-encode")
      Some(stored)
    case (Some(stored), None) => Some(stored)
    case (None, Some(passed)) =>
      require(!anyBatchCommitted,
        s"index at $root already holds batches committed in untrained (md5) " +
          "mode; committed codes cannot be re-interpreted with a trained " +
          "quantizer — open a new root to re-encode")
      persistQuant(passed); Some(passed)
    case (None, None) => None
  }

  /** The quantizer the committed codes were encoded with. */
  private[ops] val quantizer: Quantizer = quant.fold(Quantizer(Pq.md5Codebook,
    Pq.NCode, None))(tq => Quantizer(tq.codebook, tq.nCode, Some(tq.centroids)))

  override protected def partTables: Seq[PartTable] =
    Seq(PartTable("codes", layout.ddl,
      bucket = Some(Bucketing(col("cell"), geo.nlist))))

  /** The `foreachBatch` entry point (replay-idempotent, n41 contract):
    * one map-side encode pass, one batch-sized part write — per-batch
    * cost ∝ batch, never ∝ index, with nothing to merge. */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    if (isCommitted(batchId)) return
    rejectBelowWatermark(batchId)
    val v = AnnLadder.doubles(col("embedding"))
    val probed = geo.probedCellsCol(v).as("probed")
    val coded = layout match {
      case CodesLayout.Sq8 =>
        batch.select(col("vec_id"), probed, AnnLadder.sq8Codes.as("code"))
          // element 1 of the probe array IS the assignment cell (dot DESC,
          // cell ASC — argmax first): no second cell pass
          .withColumn("cell", element_at(col("probed"), 1))
          .select("vec_id", "cell", "probed", "code")
      case CodesLayout.Pq =>
        // a trained quantizer's codes are residuals against the row's OWN
        // cell centroid (the n73/n76 encode) — still one map-side pass
        val (codes, residual) = AnnLadder.pqCodes(v, quantizer)
        val cells = batch.select(col("vec_id"), col("label"),
          geo.cellCol(v).cast("long").as("cell"), probed, codes)
        residual.fold(cells)(cells.withColumn("codes", _).drop("q"))
    }
    coded.write.mode("overwrite").parquet(partDir("codes", batchId).toString)
    commitBatch(batchId)
  }

  /** The maintenance position: base tiered compaction + GC (parts →
    * cell-bucketed levels, dead markers pruned). */
  def maintain(spark: SparkSession): Unit = { compact(spark); () }

  /** The committed codes table; a probe set prunes the read to its
    * cells' leaf dirs. */
  private[graft] def codes(spark: SparkSession,
                           pruneTo: Option[Seq[Long]]): DataFrame =
    readParts(spark, "codes", Long.MaxValue, layout.ddl,
      requireMarker = true, pruneTo = pruneTo)
}

object CodesIndex {

  /** A streaming rung: ingest the embeddings table as a `chunks`-batch
    * file stream through a codes index, run the maintenance pass (parts →
    * cell-bucketed levels — inside the driver's oracle gate, as
    * n41/n48/n52 run compact()), then answer `spec` from the index with
    * the spec's planner. A trained quantizer is built from the table
    * BEFORE the index opens, exactly as the batch planner builds it, and
    * persists beside the state; a raw trained codebook ships with ZERO
    * centroids — a residual against zero IS the raw encode, so the codes
    * stay cross-cell coherent for SDC. */
  def streamed(name: String, spec: AnnSpec, chunks: Int): QueryFn =
    (spark, dir) => {
      val tag = name.takeWhile(_ != '_')
      val base = Tables.scratchDir(tag)
      val emb = Tables.embeddings(spark, dir)
      val trained = spec match {
        case ScanSpec(Codebook.Trained(_), _, _, _, _) |
             JoinSpec.PqCodes(Codebook.Trained(_), _, _) =>
          val q = AnnLadder.quantizer(spec, emb)
          Some(TrainedQuant(q.codebook, q.nCode, q.centroids.getOrElse(
            Array.fill(IvfGeometry.Default.nlist)(Array.fill(64)(0L)))))
        case _ => None
      }
      val index = new CodesIndex(base.resolve("state"),
        if (spec == JoinSpec.Sq8) CodesLayout.Sq8 else CodesLayout.Pq, trained)
      StreamHarness.stageChunks(emb, pmod(col("vec_id"), lit(chunks)),
        base.resolve("input"), chunks)
      StreamHarness.run(spark, base.resolve("input"), base.resolve("ckpt"),
        s"graft:$tag")(index.processBatch)
      index.maintain(spark)
      spec.plan(index, emb)
    }
}
