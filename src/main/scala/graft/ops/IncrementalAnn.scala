package graft.ops

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ProductQuantization
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

/**
 * Incremental / streaming IVF-PQ index: the n61 ANN scan maintained
 * continuously as vectors arrive — the index twin of [[IncrementalDedup]]
 * (n41) for the similarity-search side of the pipeline. A 100 TB
 * embedding store is INGESTED, not loaded: each micro-batch PQ-encodes
 * its vectors map-side (the codegen [[graft.functions.PqEncodeExpr]]
 * argmin) and appends one `(vec_id, label, cell, codes)` part; queries
 * run against whatever has committed, reading ONLY the probed cells.
 * Reference behavior anchor: the reference's streaming app composes
 * exactly this ingest shape (`foreachBatch` over an admission-throttled
 * source, `src/pyspark_streaming_base/app/app.py:61-76`); the index
 * semantics are n61's.
 *
 * Fourth subclass of [[IncrementalStateMachine]]: one append-only
 * `codes/` part table whose compacted levels are COLLISION-BUCKETED ON
 * THE IVF CELL (`Bucketing(cell, nlist)`) — so a query's probed-cell
 * read is a listing-time prune to `nProbe` of `nlist` leaf dirs, the
 * IVF cost dial realized as directory layout (the round-11 pruned-read
 * treatment, with the bucket key being the SEMANTIC cell instead of a
 * hash). No snapshots, no label merging, no relabel log: PQ codes and
 * cells are PER-ROW functions of the vector, so the state is write-once
 * by construction and every maintenance concern reduces to the base
 * tiered compaction + GC.
 *
 * Correctness claim (oracle-gated as n63): encode and cell assignment
 * are deterministic per row and batching-independent, so after
 * `processAllAvailable` the compacted codes table equals the batch n61
 * index EXACTLY for any batching — the query result hash-matches the
 * batch n61 spec's oracle verbatim (the n41/n48/n52 convergence
 * pattern, here with equality per row rather than per fixpoint).
 * Replay idempotence, tiering, crash windows, and pruned-read parity are
 * the base machine's, exercised over this subclass in
 * `IncrementalAnnSpec`.
 */
final class IncrementalIvfPqIndex(root: Path,
                                  trained: Option[TrainedQuant] = None,
                                  override protected val maxLevels: Int = 4)
  extends IncrementalStateMachine(root) {

  private val geo = IvfGeometry.Default
  /** `probed` (round-18, the n71 treatment): each member's nProbe best
    * cells precomputed AT INGEST (an 8-element comparator sort per row,
    * map-side) — the batched kNN join over the index reads them back
    * instead of re-shuffling a score stream per query run. */
  private val CodesDdl =
    "vec_id BIGINT, label INT, cell BIGINT, probed ARRAY<INT>, codes ARRAY<INT>"

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
      val nCode =
        try lines(0).trim.toInt
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$quantPath line 1 is not an integer nCode: '${lines(0)}'")
        }
      val codebook = lines(1).split(",").map(_.toLong)
      require(codebook.length == Pq.NSub * nCode * Pq.SubDim,
        s"$quantPath codebook length ${codebook.length} != " +
          s"nSub*nCode*subDim = ${Pq.NSub * nCode * Pq.SubDim}")
      val centroids = lines.drop(2).map(_.split(",").map(_.toLong))
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

  override protected def partTables: Seq[PartTable] =
    Seq(PartTable("codes", CodesDdl,
      bucket = Some(Bucketing(col("cell"), geo.nlist))))

  /** The `foreachBatch` entry point (replay-idempotent, n41 contract):
    * one map-side encode pass, one batch-sized part write — per-batch
    * cost ∝ batch, never ∝ index, with nothing to merge. */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    if (isCommitted(batchId)) return
    rejectBelowWatermark(batchId)
    val v = AnnLadder.doubles(col("embedding"))
    val probedCol = geo.probedCellsCol(v)
    val coded = quant match {
      case None =>
        batch.select(col("vec_id"), col("label"),
          geo.cellCol(v).cast("long").as("cell"),
          probedCol.as("probed"),
          Pq.encode(v, Pq.md5Codebook, Pq.NCode).as("codes"))
      case Some(tq) =>
        // trained mode: codes on the residual against the row's OWN cell
        // centroid (the n73/n76 encode) — still one map-side pass
        batch.select(col("vec_id"), col("label"),
            geo.cellCol(v).cast("long").as("cell"),
            probedCol.as("probed"), AnnLadder.qIntCol(v).as("q"))
          .select(col("vec_id"), col("label"), col("cell"), col("probed"),
            AnnLadder.residualCodesCol(col("q"), col("cell"), tq.centroids,
              tq.codebook, tq.nCode).as("codes"))
    }
    coded.write.mode("overwrite").parquet(partDir("codes", batchId).toString)
    commitBatch(batchId)
  }

  /** The maintenance position: base tiered compaction + GC (parts →
    * cell-bucketed levels, dead markers pruned). */
  def maintain(spark: SparkSession): Unit = { compact(spark); () }

  /**
   * ANN top-k against the committed index: probe set and LUT are integer
   * driver arithmetic from the query vector ([[IvfGeometry.probeLocal]]
   * — no Spark job), the codes read is listing-pruned to the probed
   * cells' leaf dirs, and ranking is the codegen ADC lookup sum. The
   * `cell isin` filter re-applies the probe on pre-compaction parts
   * (batch-sized, unbucketed by design) and is a no-op on pruned levels.
   */
  def topK(spark: SparkSession, queryVec: Seq[Float], k: Int = 5,
           nProbe: Int = 0, excludeVecId: Long = -1L): DataFrame = {
    val q = graft.functions.ProductQuantization.quantize(
      queryVec.map(_.toDouble))
    val cells = geo.probeLocal(q, if (nProbe > 0) nProbe else geo.nProbe)
    // md5 mode: one LUT for all cells; trained mode: the n72/n73 per-cell
    // residual LUT dispatch
    val adist = quant match {
      case None => AnnLadder.adcCol(q, cells, Pq.md5Codebook, Pq.NCode, None)
      case Some(tq) =>
        AnnLadder.adcCol(q, cells, tq.codebook, tq.nCode, Some(tq.centroids))
    }
    readParts(spark, "codes", Long.MaxValue, CodesDdl,
        requireMarker = true, pruneTo = Some(cells))
      .filter(col("cell").isInCollection(cells))
      .filter(col("vec_id") =!= excludeVecId)
      .select(col("vec_id"), col("label"), adist.as("adist"))
      // nulls-ascending would rank a malformed (null-distance) row above
      // every real neighbor — drop them, matching the batch n61 path
      .filter(col("adist").isNotNull)
      .orderBy(col("adist"), col("vec_id"))
      .limit(k)
  }

  /**
   * IVFADC-R over the committed index (round 16, the n75 two-stage
   * shape on streaming state): the ADC shortlist comes from [[topK]] at
   * R — a listing-pruned read of the probed cells' CODES, never the
   * vectors — and only those R full vectors are fetched from the SOURCE
   * table by a broadcast of the shortlist ids, then re-scored with the
   * exact integer quantized dot ([[AnnLadder.exactRerank]]). This is
   * the 100 TB separation of concerns the index exists for: the state
   * machine persists 32-byte codes; the 512-byte vectors stay in the
   * (already-stored-anyway) source table and are touched R times per
   * query. Index state == the batch encode per row (the n63 theorem),
   * so this hash-matches the batch n75 oracle verbatim.
   */
  def topKRerank(spark: SparkSession, vectors: DataFrame,
                 queryVec: Seq[Float], queryVecId: Long, k: Int = 5,
                 r: Int = 100, nProbe: Int = 0): DataFrame = {
    val shortlist = topK(spark, queryVec, k = r, nProbe = nProbe,
      excludeVecId = queryVecId)
    AnnLadder.exactRerank(vectors, shortlist, queryVecId, k)
  }

  /**
   * The batched two-stage kNN join over the committed TRAINED index
   * (round-18 — the n80 plan with the index side served from streaming
   * state): probe side explodes the STORED per-vector probe sets (the
   * cut happened at ingest — no TopKPerKey shuffle over a score stream),
   * both sides rank on STORED codes via the codegen SDC kernel (pair
   * table from the persisted quantizer — restart-stable by the same
   * conflict-refusal contract as every other read), the per-query R-cut
   * shortlist fetches full vectors from the SOURCE table by shuffle-hash
   * id joins, and the exact integer re-rank cuts to k
   * ([[AnnLadder.rerankJoinTail]] — the shared n78/n80 tail). At 100 TB
   * this is the nightly-dedup shape: the join-against-the-index touches
   * state CODES (32 B/row) corpus-wide and 512-byte vectors only n·R
   * times. Requires the quantizer (SDC needs one codebook for all rows);
   * with the zero-centroid raw-codebook quantizer the committed codes
   * equal the batch n80 encode per row, so the join equals the batch n80
   * plan EXACTLY (gated in `IncrementalAnnSpec`).
   */
  def knnJoinRerank(spark: SparkSession, vectors: DataFrame, k: Int = 3,
                    r: Int = 100): DataFrame = {
    val tq = quant.getOrElse(throw new IllegalStateException(
      s"knnJoinRerank needs a trained quantizer stored at $root — " +
        "SDC ranks stored codes against stored codes, one codebook for all"))
    val pt = Pq.pairTable(tq.codebook, tq.nCode)
    val st = readParts(spark, "codes", Long.MaxValue, CodesDdl,
      requireMarker = true)
    val probes = st
      .select(col("vec_id"), col("codes").as("u"),
        explode(col("probed")).as("pc"))
      .select(col("vec_id"), col("u"), col("pc").cast("long").as("cell"))
    val index = st.select(col("vec_id").as("nbr"), col("codes").as("un"),
      col("cell"))
    val shortlist = Similarity.verifyCut(probes, index, r,
      (a, b) => ProductQuantization.sdc(a, b, pt, Pq.NSub, tq.nCode),
      "sdist", ascending = true)
    AnnLadder.rerankJoinTail(vectors, shortlist.select("vec_id", "nbr"), k)
  }

  /** Dev/spec accessor: the full committed codes table. */
  private[graft] def debugCodes(spark: SparkSession): DataFrame =
    readParts(spark, "codes", Long.MaxValue, CodesDdl, requireMarker = true)
}

object IncrementalAnn {

  /** n63: ingest the embeddings table as a `chunks`-batch file stream
    * through the incremental index, run the maintenance pass (parts →
    * cell-bucketed levels — inside the driver's oracle gate, as
    * n41/n48/n52 run compact()), then answer the n61 query (vec 0's
    * top-5 by ADC distance over its probed cells) from the index.
    * Oracle: the batch n61 spec's, verbatim. */
  def streamingIvfPqQuery(spark: SparkSession, dir: String,
                          chunks: Int = 4): DataFrame = {
    val base = Tables.scratchDir("n63")
    val index = new IncrementalIvfPqIndex(base.resolve("state"))
    StreamHarness.stageChunks(Tables.embeddings(spark, dir),
      pmod(col("vec_id"), lit(chunks)), base.resolve("input"), chunks)
    StreamHarness.run(spark, base.resolve("input"), base.resolve("ckpt"),
      "graft:n63")(index.processBatch)
    index.maintain(spark)
    val qv = spark.read.parquet(base.resolve("input").toString)
      .filter(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0)
    index.topK(spark, qv, excludeVecId = 0L)
  }

  /** n77: the n63 ingest (same chunked stream, same maintenance) answered
    * with the two-stage IVFADC-R query — codes shortlist from the pruned
    * index read, exact re-rank against the source vectors. Oracle: the
    * batch n75 spec's, verbatim. */
  def streamingIvfPqRerankQuery(spark: SparkSession, dir: String,
                                chunks: Int = 4): DataFrame = {
    val base = Tables.scratchDir("n77")
    val index = new IncrementalIvfPqIndex(base.resolve("state"))
    val emb = Tables.embeddings(spark, dir)
    StreamHarness.stageChunks(emb,
      pmod(col("vec_id"), lit(chunks)), base.resolve("input"), chunks)
    StreamHarness.run(spark, base.resolve("input"), base.resolve("ckpt"),
      "graft:n77")(index.processBatch)
    index.maintain(spark)
    val qv = emb.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0)
    index.topKRerank(spark, emb, qv, queryVecId = 0L)
  }

  /** n79: the n77 ingest with the TRAINED residual-256 quantizer — the
    * quality ladder's top rung (n76: trained residual codes + IVFADC-R
    * exact re-rank, recall@5 0.71 vs the 0.72 probe ceiling at sf0.1)
    * served from streaming state. The quantizer is trained on the batch
    * table BEFORE the index opens (the n76 spec's centroids and codebook —
    * deterministic, bounded sample) and persisted beside the state, so a
    * restart reopens with
    * the same codebook (`IncrementalAnnSpec` pins reopen equality and
    * the conflicting-quantizer rejection). Training is SQL-inexpressible
    * ⇒ rows-only like n66/n73/n76; encode determinism per row makes the
    * answer EQUAL the batch n76 plan verbatim, asserted in
    * `IncrementalAnnSpec` — the gate that bounds this entry. */
  def streamingIvfPqTrainedRerankQuery(spark: SparkSession, dir: String,
                                       chunks: Int = 4): DataFrame = {
    val base = Tables.scratchDir("n79")
    val emb = Tables.embeddings(spark, dir)
    val spec = OpsQueries.n76
    val ctr = AnnLadder.cellCentroids(emb, spec.geometry)
    val cb = AnnLadder.codebook(spec.codebook, emb, Some(ctr), spec.geometry)
    val index = new IncrementalIvfPqIndex(base.resolve("state"),
      trained = Some(TrainedQuant(cb, spec.codebook.nCode, ctr)))
    StreamHarness.stageChunks(emb,
      pmod(col("vec_id"), lit(chunks)), base.resolve("input"), chunks)
    StreamHarness.run(spark, base.resolve("input"), base.resolve("ckpt"),
      "graft:n79")(index.processBatch)
    index.maintain(spark)
    val qv = emb.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0)
    index.topKRerank(spark, emb, qv, queryVecId = 0L)
  }

  /** n83: the n80 batched trained two-stage join served from streaming
    * state (round-17 verdict #4 — the nightly-dedup shape at 100 TB).
    * The RAW trained k*=256 codebook ships as a ZERO-centroid quantizer:
    * SDC compares codes ACROSS cells, and residual codes are
    * cell-relative (incoherent cross-cell — the n80 rationale), while a
    * residual against zero IS the raw trained encode — so the committed
    * codes equal the batch n80 encode per row, and this query equals
    * the batch n80 plan EXACTLY (the gate that bounds this rows-only
    * entry, plus the later-batch planted floor — `IncrementalAnnSpec`).
    * The quantizer persists beside the state with the same atomic-write
    * + conflict-refusal contract as n79. */
  def streamingPqKnnRerankTrainedQuery(spark: SparkSession, dir: String,
                                       chunks: Int = 4): DataFrame = {
    val base = Tables.scratchDir("n83")
    val emb = Tables.embeddings(spark, dir)
    val cbk = OpsQueries.n80.codebook
    val zeroCtr = Array.fill(IvfGeometry.Default.nlist)(Array.fill(64)(0L))
    val index = new IncrementalIvfPqIndex(base.resolve("state"), trained =
      Some(TrainedQuant(AnnLadder.codebook(cbk, emb), cbk.nCode, zeroCtr)))
    StreamHarness.stageChunks(emb,
      pmod(col("vec_id"), lit(chunks)), base.resolve("input"), chunks)
    StreamHarness.run(spark, base.resolve("input"), base.resolve("ckpt"),
      "graft:n83")(index.processBatch)
    index.maintain(spark)
    index.knnJoinRerank(spark, emb)
  }

}
