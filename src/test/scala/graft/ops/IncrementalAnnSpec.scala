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
    val got = OpsQueries.queries("n63_streaming_ivf_pq")(spark, T.sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val want = ScanSpec().plan(emb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("the two-stage IVFADC-R query over the index equals the batch n75 plan (round 16)") {
    // shortlist from the pruned codes read, exact re-rank against the
    // source vectors — must equal the batch two-stage result per row
    val got = OpsQueries.queries("n77_streaming_ivf_pq_rerank")(spark, T.sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val want = ScanSpec(rerank = true).plan(emb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("index state is row-identical to the batch encode, replay is a no-op, pruning loses nothing") {
    val base = T.tmpDir("ann")
    val index = new CodesIndex(base.resolve("state"), CodesLayout.Pq)
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

    def codesNow() = index.codes(spark, None)
      .select("vec_id", "cell", "codes").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).sortBy(_._1)

    assert(codesNow() === want, "pre-compaction parts differ from the batch encode")
    index.maintain(spark) // parts -> cell-bucketed level
    assert(codesNow() === want, "compacted level differs from the batch encode")

    // pruned probed-cell read == unpruned read filtered to the same cells
    val q = graft.functions.ProductQuantization.quantize(queryVec.map(_.toDouble))
    val cells = IvfGeometry.Default.probeLocal(q)
    val pruned = AnnLadder.scan(ScanSpec(k = 1000), index, emb, queryVec, 0L)
      .collect().map(_.getLong(0)).sorted
    val unpruned = want.filter(t => cells.contains(t._2)).map(_._1)
      .filterNot(_ == 0L).sorted
    assert(pruned === unpruned,
      "listing-pruned probe dropped or invented candidate rows")
  }

  test("the probed-cell read plans PartitionFilters on pb — IVF pruning at listing time") {
    val base = T.tmpDir("ann-prune")
    val index = new CodesIndex(base.resolve("state"), CodesLayout.Pq)
    (0 until 2).foreach { b =>
      index.processBatch(emb.filter(pmod(col("vec_id"), lit(2)) === b), b.toLong)
    }
    index.maintain(spark) // full merge -> cell-bucketed level
    val top = ScanSpec().plan(index, emb)
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
    val got = OpsQueries.queries("n79_streaming_ivf_pq_trained")(spark, T.sf0001)
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
    val index = new CodesIndex(base.resolve("state"), CodesLayout.Pq, Some(tq))
    index.processBatch(emb, 0L)
    index.maintain(spark)
    val before = OpsQueries.n76.plan(index, emb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // restart stability: reopen WITHOUT passing the quantizer — the one
    // persisted beside the state must govern, byte-identical answers
    val reopened = new CodesIndex(base.resolve("state"), CodesLayout.Pq)
    val after = OpsQueries.n76.plan(reopened, emb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(after === before)
    // reopening with the SAME quantizer is fine...
    new CodesIndex(base.resolve("state"), CodesLayout.Pq, Some(tq))
    // ...but a DIFFERENT one must be refused: committed codes were encoded
    // with the stored codebook and cannot be re-interpreted
    val drifted = tq.copy(codebook = tq.codebook.updated(0, tq.codebook(0) + 1L))
    val e = intercept[IllegalArgumentException] {
      new CodesIndex(base.resolve("state"), CodesLayout.Pq, Some(drifted))
    }
    assert(e.getMessage.contains("DIFFERENT trained quantizer"))
  }

  test("a malformed quant.txt is refused at open, naming the file and the line") {
    // old roots resume, foreign ones are refused: every structural fault
    // must fail HERE, naming the file — never as a bare parse error or a
    // silently mis-shaped quantizer at the first read site
    def zeros(n: Int) = Seq.fill(n)("0").mkString(",")
    val codebook = zeros(Pq.NSub * Pq.NCode * Pq.SubDim)
    val rows = Seq.fill(IvfGeometry.Default.nlist)(zeros(64))
    Seq(
      Seq("16", codebook) -> "is truncated: 2 line(s)",
      (Seq("sixteen", codebook) ++ rows) -> "line 1 is not a valid integer nCode",
      (Seq("16", "0,1e3," + zeros(1022)) ++ rows) ->
        "line 2 is not a valid codebook row: For input string: \"1e3\"",
      (Seq("16", zeros(3)) ++ rows) -> "codebook length 3 != nSub*nCode*subDim = 1024",
      (Seq("16", codebook) ++ rows.tail) -> "has 7 centroid rows, index nlist is 8",
      (Seq("16", codebook, "0,x") ++ rows.tail) -> "line 3 is not a valid centroid row",
      (Seq("16", codebook, zeros(3)) ++ rows.tail) -> "must have 64 components",
    ).zipWithIndex.foreach { case ((lines, want), i) =>
      val root = T.tmpDir(s"ann-badquant-$i")
      val path = root.resolve("quant.txt")
      java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
      val e = intercept[IllegalArgumentException] {
        new CodesIndex(root, CodesLayout.Pq)
      }
      assert(e.getMessage.contains(path.toString), e.getMessage)
      assert(e.getMessage.contains(want), e.getMessage)
    }
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
    val index = new CodesIndex(base.resolve("state"), CodesLayout.Pq,
      Some(TrainedQuant(cb, cb.length / (Pq.NSub * Pq.SubDim), ctr)))
    index.processBatch(emb, 0L)
    val dup = emb.filter(col("vec_id") === 0L)
      .select(lit(999999L).as("vec_id"), col("embedding"), col("label"))
    index.processBatch(dup, 1L)
    index.maintain(spark)
    val corpus = emb.unionByName(dup)
    val top = OpsQueries.n76.copy(k = 3).plan(index, corpus)
      .collect()
    assert(top.head.getLong(0) === 999999L, s"got ${top.toSeq}")
  }

  test("n83: the streaming trained two-stage JOIN equals the batch n80 plan (round 18)") {
    // stored probe sets == the batch TopKPerKey probe cut (pinned in
    // IncrementalSq8Spec), zero-centroid residual encode == the raw
    // trained encode, shared SDC/R-cut/re-rank mechanics ⇒ the join over
    // streaming state must equal the batch n80 join per row — the gate
    // that bounds the rows-only n83 entry
    val got = OpsQueries.queries("n83_streaming_pq_knn_rerank_trained")(spark, T.sf0001)
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
    val index = new CodesIndex(base.resolve("state"), CodesLayout.Pq,
      Some(TrainedQuant(cb, cb.length / (Pq.NSub * Pq.SubDim), zeroCtr)))
    index.processBatch(emb, 0L)
    val dup = emb.filter(col("vec_id") === 0L)
      .select(lit(999999L).as("vec_id"), col("embedding"), col("label"))
    index.processBatch(dup, 1L)
    index.maintain(spark)
    val corpus = emb.unionByName(dup)
    val q0 = OpsQueries.n80.plan(index, corpus)
      .filter(col("vec_id") === 0L).orderBy("rank").collect()
    assert(q0.nonEmpty)
    assert(q0.head.getLong(2) === 999999L, s"got ${q0.toSeq}")
  }

  test("a planted duplicate arriving in a LATER batch is found by the index query") {
    val base = T.tmpDir("ann-late")
    val index = new CodesIndex(base.resolve("state"), CodesLayout.Pq)
    index.processBatch(emb, 0L)
    val dup = emb.filter(col("vec_id") === 0L)
      .select(lit(999999L).as("vec_id"), col("embedding"), col("label"))
    index.processBatch(dup, 1L)
    index.maintain(spark)
    val top = ScanSpec(k = 3).plan(index, emb).collect()
    // the n61 floor theorem, across the ingest boundary: the duplicate
    // shares the query's codes, attains the ADC minimum, ranks first
    assert(top.head.getLong(0) === 999999L, s"got ${top.toSeq}")
  }
}
