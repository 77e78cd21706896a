package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession => T}
import graft.queries.Tables

/** The n63 incremental IVF-PQ index: per-row deterministic encode means
  * the streaming index must equal the batch n61 index EXACTLY — per row,
  * not merely per converged fixpoint — for any batching, any replay, and
  * any maintenance position; and the probed-cell read must return the
  * same rows pruned (bucketed levels) and unpruned (raw parts). */
class IncrementalAnnSpec extends AnyFunSuite {
  lazy val spark = T.spark

  private def emb = Tables.embeddings(spark, T.sf0001)

  private def queryVec: Seq[Float] =
    emb.filter(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0)

  test("streaming index answers the n61 query identically to the batch plan") {
    val got = IncrementalAnn.streamingIvfPqQuery(spark, T.sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val want = ScanSpec().plan(emb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("the two-stage IVFADC-R query over the index equals the batch n75 plan (round 16)") {
    // shortlist from the pruned codes read, exact re-rank against the
    // source vectors — must equal the batch two-stage result per row
    val got = IncrementalAnn.streamingIvfPqRerankQuery(spark, T.sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val want = ScanSpec(rerank = true).plan(emb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("index state is row-identical to the batch encode, replay is a no-op, pruning loses nothing") {
    val base = T.tmpDir("ann")
    val index = new IncrementalIvfPqIndex(base.resolve("state"))
    // ingest in 3 manual batches (no stream harness — exercise the state
    // machine directly), with batch 1 replayed after its commit
    (0 until 3).foreach { b =>
      val slice = emb.filter(pmod(col("vec_id"), lit(3)) === b)
      index.processBatch(slice, b.toLong)
    }
    assert(index.isCommitted(1L))
    index.processBatch(emb.limit(0), 1L) // committed ⇒ short-circuits
    val v = transform(col("embedding"), x => x.cast("double"))
    val want = emb.select(col("vec_id"),
        IvfGeometry.Default.cellCol(v).cast("long").as("cell"),
        Pq.encode(v, Pq.md5Codebook, Pq.NCode).as("codes"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).sortBy(_._1)

    def codesNow() = index.debugCodes(spark)
      .select("vec_id", "cell", "codes").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).sortBy(_._1)

    assert(codesNow() === want, "pre-compaction parts differ from the batch encode")
    index.maintain(spark) // parts -> cell-bucketed level
    assert(codesNow() === want, "compacted level differs from the batch encode")

    // pruned probed-cell read == unpruned read filtered to the same cells
    val q = graft.functions.ProductQuantization.quantize(queryVec.map(_.toDouble))
    val cells = IvfGeometry.Default.probeLocal(q)
    val pruned = index.topK(spark, queryVec, k = 1000, excludeVecId = 0L)
      .collect().map(_.getLong(0)).sorted
    val unpruned = want.filter(t => cells.contains(t._2)).map(_._1)
      .filterNot(_ == 0L).sorted
    assert(pruned === unpruned,
      "listing-pruned probe dropped or invented candidate rows")
  }

  test("the probed-cell read plans PartitionFilters on pb — IVF pruning at listing time") {
    val base = T.tmpDir("ann-prune")
    val index = new IncrementalIvfPqIndex(base.resolve("state"))
    (0 until 2).foreach { b =>
      index.processBatch(emb.filter(pmod(col("vec_id"), lit(2)) === b), b.toLong)
    }
    index.maintain(spark) // full merge -> cell-bucketed level
    val top = index.topK(spark, queryVec, excludeVecId = 0L)
    val p = top.queryExecution.executedPlan.toString
    val partFilters = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
    assert(partFilters.isDefined, s"no PartitionFilters list in probe plan:\n$p")
    assert(partFilters.get.group(1).contains("pb"),
      s"probed read not pruned on pb:\n$p")
    // pruning is listing-time: pb must NOT appear as a row-level filter
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
    assert(pushed.isDefined, s"no PushedFilters list in probe plan:\n$p")
    assert(!pushed.get.group(1).contains("pb"), p)
  }

  test("n79: the trained-quantizer index equals the batch n76 plan (round 17)") {
    // training is deterministic (hash sample, sorted collect, fixed
    // iterations) and encode is per-row, so the streaming trained index
    // must answer the full trained-residual + IVFADC-R query EXACTLY as
    // the batch n76 plan does — the gate that bounds the rows-only n79
    val got = IncrementalAnn.streamingIvfPqTrainedRerankQuery(spark, T.sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val want = OpsQueries.n76.plan(emb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("the trained quantizer survives an index reopen; a conflicting one is refused") {
    val base = T.tmpDir("ann-quant")
    val ctr = AnnLadder.cellCentroids(emb)
    val cb = AnnLadder.trainedResidualCodebook(emb, ctr)
    val tq = TrainedQuant(cb, cb.length / (Pq.NSub * Pq.SubDim), ctr)
    val index = new IncrementalIvfPqIndex(base.resolve("state"), Some(tq))
    index.processBatch(emb, 0L)
    index.maintain(spark)
    val before = index.topKRerank(spark, emb, queryVec, queryVecId = 0L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // restart stability: reopen WITHOUT passing the quantizer — the one
    // persisted beside the state must govern, byte-identical answers
    val reopened = new IncrementalIvfPqIndex(base.resolve("state"))
    val after = reopened.topKRerank(spark, emb, queryVec, queryVecId = 0L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(after === before)
    // reopening with the SAME quantizer is fine...
    new IncrementalIvfPqIndex(base.resolve("state"), Some(tq))
    // ...but a DIFFERENT one must be refused: committed codes were encoded
    // with the stored codebook and cannot be re-interpreted
    val drifted = tq.copy(codebook = tq.codebook.updated(0, tq.codebook(0) + 1L))
    val e = intercept[IllegalArgumentException] {
      new IncrementalIvfPqIndex(base.resolve("state"), Some(drifted))
    }
    assert(e.getMessage.contains("DIFFERENT trained quantizer"))
  }

  test("a planted duplicate in a LATER batch is found through the TRAINED index (the n79 floor)") {
    // the any-codebook planted floor (PqRecallSpec's theorem), here
    // end-to-end through the trained streaming index: residual codes of
    // a near-identical vector match the query's own-cell codes, so the
    // duplicate attains the per-cell LUT minimum and the exact re-rank
    // can only confirm it
    val base = T.tmpDir("ann-trained-late")
    val ctr = AnnLadder.cellCentroids(emb)
    val cb = AnnLadder.trainedResidualCodebook(emb, ctr)
    val index = new IncrementalIvfPqIndex(base.resolve("state"),
      Some(TrainedQuant(cb, cb.length / (Pq.NSub * Pq.SubDim), ctr)))
    index.processBatch(emb, 0L)
    val dup = emb.filter(col("vec_id") === 0L)
      .select(lit(999999L).as("vec_id"), col("embedding"), col("label"))
    index.processBatch(dup, 1L)
    index.maintain(spark)
    val corpus = emb.unionByName(dup)
    val top = index.topKRerank(spark, corpus, queryVec, queryVecId = 0L, k = 3)
      .collect()
    assert(top.head.getLong(0) === 999999L, s"got ${top.toSeq}")
  }

  test("n83: the streaming trained two-stage JOIN equals the batch n80 plan (round 18)") {
    // stored probe sets == the batch TopKPerKey probe cut (pinned in
    // IncrementalSq8Spec), zero-centroid residual encode == the raw
    // trained encode, shared SDC/R-cut/re-rank mechanics ⇒ the join over
    // streaming state must equal the batch n80 join per row — the gate
    // that bounds the rows-only n83 entry
    val got = IncrementalAnn.streamingPqKnnRerankTrainedQuery(spark, T.sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val want = OpsQueries.n80.plan(emb)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("a later-batch planted duplicate surfaces at rank 1 through the streaming trained JOIN (the n83 floor)") {
    // identical codes ⇒ SDC distance 0 ⇒ the duplicate cannot miss the
    // R-cut; the exact re-rank's integer self-dot is the per-query
    // maximum ⇒ rank 1 for the query row — across the ingest boundary
    val base = T.tmpDir("ann-join-late")
    val cb = AnnLadder.trainedPqCodebook(emb, Pq.NCodeHi)
    val zeroCtr = Array.fill(IvfGeometry.Default.nlist)(Array.fill(64)(0L))
    val index = new IncrementalIvfPqIndex(base.resolve("state"),
      Some(TrainedQuant(cb, cb.length / (Pq.NSub * Pq.SubDim), zeroCtr)))
    index.processBatch(emb, 0L)
    val dup = emb.filter(col("vec_id") === 0L)
      .select(lit(999999L).as("vec_id"), col("embedding"), col("label"))
    index.processBatch(dup, 1L)
    index.maintain(spark)
    val corpus = emb.unionByName(dup)
    val q0 = index.knnJoinRerank(spark, corpus)
      .filter(col("vec_id") === 0L).orderBy("rank").collect()
    assert(q0.nonEmpty)
    assert(q0.head.getLong(2) === 999999L, s"got ${q0.toSeq}")
  }

  test("a planted duplicate arriving in a LATER batch is found by the index query") {
    val base = T.tmpDir("ann-late")
    val index = new IncrementalIvfPqIndex(base.resolve("state"))
    index.processBatch(emb, 0L)
    val dup = emb.filter(col("vec_id") === 0L)
      .select(lit(999999L).as("vec_id"), col("embedding"), col("label"))
    index.processBatch(dup, 1L)
    index.maintain(spark)
    val top = index.topK(spark, queryVec, k = 3, excludeVecId = 0L).collect()
    // the n61 floor theorem, across the ingest boundary: the duplicate
    // shares the query's codes, attains the ADC minimum, ranks first
    assert(top.head.getLong(0) === 999999L, s"got ${top.toSeq}")
  }
}
