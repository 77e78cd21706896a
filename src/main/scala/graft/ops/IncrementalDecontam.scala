package graft.ops

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Tables

/**
 * Incremental / streaming benchmark decontamination: the n44 screen run
 * as an INGEST GATE — every arriving crawl slice is checked against the
 * (static, known-up-front) evaluation-benchmark n-gram set the moment it
 * lands, instead of in a corpus-wide nightly pass. This is the last cell
 * of the per-ingest governance story: dedup (n41/n52/n58), ANN (n63),
 * drift (n48), quota (n67), and now decontamination — each maintained by
 * the same `foreachBatch` lifecycle the reference's streaming app drives
 * (`src/pyspark_streaming_base/app/app.py:61-76`).
 *
 * Sixth [[IncrementalStateMachine]] subclass, shaped like the ANN index:
 * one append-only `admitted` part table and nothing else, because a
 * document's verdict is a PER-ROW function of (document, benchmark) —
 * batching-independent by construction, so the admitted union equals the
 * batch n44 answer verbatim for any batching, and compaction reduces to
 * the base tiering + GC with nothing to merge.
 *
 * The benchmark side is bounded (eval suites are human-curated, never
 * crawl-sized), so its Bloom prefilter is built ONCE at gate
 * construction and held as a driver broadcast shared by every batch —
 * the per-batch screen is map-side (`mightContain`, ~fpp of the gram
 * stream survives) followed by the exact semi-join verify against the
 * broadcast-sized benchmark gram table, the n44 plan applied to a batch
 * instead of the corpus. Per-batch cost ∝ batch; the Bloom stage is
 * invisible to the result (n44's provable-prefilter contract), so the
 * gate admits EXACTLY the documents the exact screen admits.
 *
 * INGEST CONTRACT (round-15 advice): each document arrives exactly once
 * ACROSS batches. Replay of a committed batchId is absorbed (the marker
 * short-circuit), but the same doc_id delivered under two DIFFERENT
 * batch ids is appended twice — the gate is per-row and keeps no doc_id
 * state to dedupe against (doing so would make the per-batch cost ∝
 * index, the term this design exists to avoid). Upstream exactly-once
 * delivery is the same assumption the batch n44 screen makes of its
 * input table; a source that can re-deliver should route through the
 * dedup index (n41) first.
 */
final class IncrementalDecontam(root: Path, benchGrams: DataFrame,
                                fpp: Double = 0.03,
                                override protected val maxLevels: Int = 4)
  extends IncrementalStateMachine(root) {

  private val AdmittedDdl = "doc_id BIGINT, source STRING, lang STRING"

  override protected def partTables: Seq[PartTable] =
    Seq(PartTable("admitted", AdmittedDdl))

  // built once per gate: the benchmark is static input, not stream state
  private lazy val bench = benchGrams.select(col("gram")).distinct().persist()
  private lazy val mightContain = {
    val bloom = bench.stat.bloomFilter("gram", math.max(bench.count(), 1L), fpp)
    val b = benchGrams.sparkSession.sparkContext.broadcast(bloom)
    udf((g: String) => b.value.mightContainString(g))
  }

  /** The `foreachBatch` entry point (replay-idempotent, n41 contract):
    * map-side Bloom screen, exact verify against the broadcast benchmark
    * grams, append the batch's clean documents — per-batch cost ∝ batch,
    * nothing read from prior state. */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    if (isCommitted(batchId)) return
    rejectBelowWatermark(batchId)
    val grams = batch.select(col("doc_id"),
      explode(Dedup.wordShingles(col("text"), 3)).as("gram"))
    val contaminated = grams
      .filter(mightContain(col("gram")))
      .join(bench, Seq("gram"), "left_semi")
      .select("doc_id").distinct()
    batch.join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("lang"))
      .write.mode("overwrite").parquet(partDir("admitted", batchId).toString)
    commitBatch(batchId)
  }

  /** The maintenance position: base tiered compaction + GC. */
  def maintain(spark: SparkSession): Unit = { compact(spark); () }

  /** Everything admitted so far — the batch n44 table, hash-matching its
    * oracle for any batching (verdicts are per-row functions). */
  def finalAdmitted(spark: SparkSession): DataFrame =
    readParts(spark, "admitted", Long.MaxValue, AdmittedDdl,
        requireMarker = true)
      .orderBy("doc_id")

  /** Release the gate's cached benchmark side (spec hygiene). */
  private[graft] def release(): Unit = { bench.unpersist(); () }
}

object IncrementalDecontam {

  /** The n44 benchmark side: distinct 3-gram set of the held-out docs
    * (doc_id % 101 == 0 — the n44 split), the bounded static input a
    * real deployment loads from its eval suites. */
  private[graft] def benchGramSet(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 101 === 0)
      .select(explode(Dedup.wordShingles(col("text"), 3)).as("gram"))
      .distinct()

  /** n69: ingest the corpus side of the documents table as a
    * `chunks`-batch file stream through the decontamination gate, run
    * the maintenance pass (inside the driver's oracle gate, as the other
    * incremental cells do), then emit the admitted set. Oracle: the
    * batch n44 [[Corpus.bloomDecontamOracle]] verbatim.
    *
    * CACHING CONTRACT (the n44 convention, round-15 advice): the gate's
    * persisted bench-gram frame stays cached until the session-level
    * `clearCache` the oracle-gated runners (Verify/Bench/PlanAudit) issue
    * after consuming the result — `gate.release()` here would unpersist
    * under the still-lazy returned frame. */
  def streamingDecontamQuery(spark: SparkSession, dir: String,
                             chunks: Int = 4): DataFrame = {
    val base = Tables.scratchDir("n69")
    val docs = Tables.documents(spark, dir)
    val gate = new IncrementalDecontam(base.resolve("state"),
      benchGramSet(docs))
    StreamHarness.stageChunks(docs.filter(col("doc_id") % 101 =!= 0),
      pmod(col("doc_id"), lit(chunks)), base.resolve("input"), chunks)
    StreamHarness.run(spark, base.resolve("input"), base.resolve("ckpt"),
      "graft:n69")(gate.processBatch)
    gate.maintain(spark)
    gate.finalAdmitted(spark)
  }
}
