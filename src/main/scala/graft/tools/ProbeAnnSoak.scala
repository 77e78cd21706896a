package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.{AnnLadder, CodesIndex, CodesLayout, ScanSpec}

/**
 * Dev tool: long-horizon cost curve of the n63 incremental IVF-PQ index
 * (round-14 verdict #4 — the `ProbeDriftSoak` treatment for the fourth
 * state machine). The in-suite soak (`IncrementalSoakSpec`) bounds file
 * counts and a 50-batch timing ratio; this probe runs the index to a
 * 500-batch horizon — 50 maintenance passes, the cell-bucketed level
 * chain bin-packed over 12 full tiering cycles — and prints the mean
 * per-batch cost and the probed n61 scan's read cost per 50-batch window.
 * The flat-cost claim is structural here (per-batch work never reads
 * existing state — codes are write-once per-row functions), so the
 * horizon specifically guards the LISTING/COMPACTION path at depth:
 * the probed read must stay a prune to nProbe of nlist leaf dirs no
 * matter how many batches ever existed. Results in BASELINE.md.
 *
 * Usage: runMain graft.tools.ProbeAnnSoak [sfDir] [batches] [cadence]
 */
object ProbeAnnSoak {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val batches = args.lift(1).map(_.toInt).getOrElse(500)
    val cadence = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Sessions.local(32, logLevel = "ERROR")
    val base = graft.queries.Tables.scratchDir("annsoak")
    val index = new CodesIndex(base.resolve("state"), CodesLayout.Pq)
    val emb = graft.queries.Tables.embeddings(spark, sfDir).persist()
    emb.count()
    val qv = emb.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0)

    val window = 50
    var batchSum = 0.0
    (0 until batches).foreach { j =>
      val t0 = System.nanoTime()
      index.processBatch(
        emb.filter(pmod(xxhash64(col("vec_id")), lit(batches)) === j), j.toLong)
      if ((j + 1) % cadence == 0) index.maintain(spark)
      batchSum += (System.nanoTime() - t0) / 1e9
      if ((j + 1) % window == 0) {
        val tQ0 = System.nanoTime()
        val topRows = AnnLadder.scan(ScanSpec(), index, emb, qv, 0L).count()
        val tQ = (System.nanoTime() - tQ0) / 1e9
        println(f"ANNSOAK batch=${j + 1}%4d mean_batch=${batchSum / window}%.3f s " +
          f"topk_read=$tQ%.3f s topk_rows=$topRows")
        batchSum = 0.0
      }
    }
    spark.stop()
  }
}
