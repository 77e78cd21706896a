package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.IncrementalSq8Index

/**
 * Dev tool: prices the n71 claim that the incremental SQ8 index's kNN
 * join is CHEAPER than the batch n68 join because the probe cut happened
 * at ingest — the batch plan pays a TopKPerKey shuffle (partition the
 * n·nlist score stream by vec_id, heap-cut to nProbe) before the cell
 * join; the index plan explodes the STORED probe arrays map-side and
 * goes straight to the cell join. Both produce identical rows (pinned in
 * `IncrementalSq8Spec`); this measures the wall and prints the Exchange
 * count of each plan. Results in BASELINE.md ("n71 index join vs batch").
 *
 * Method: ingest the table once (untimed), then alternate A/B runs of
 * the two joins (same session, same warmups), min-of-N each — the
 * apples-to-apples loop the round-12 adjudication established.
 *
 * Usage: runMain graft.tools.ProbeSq8IndexJoin [sfDir] [reps]
 */
object ProbeSq8IndexJoin {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = Sessions.local(32, logLevel = "ERROR")
    val base = graft.queries.Tables.scratchDir("sq8joinprobe")
    val emb = graft.queries.Tables.embeddings(spark, sfDir)
    val index = new IncrementalSq8Index(base.resolve("state"))
    index.processBatch(emb, 0L)
    index.maintain(spark)

    def time(mk: () => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      mk().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def exchanges(mk: () => org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(
        mk().queryExecution.executedPlan.toString).length

    // warmup both shapes
    time(() => graft.ops.JoinSpec.Sq8.plan(emb))
    time(() => index.knnJoin(spark))
    val batch = (0 until reps).map(_ =>
      time(() => graft.ops.JoinSpec.Sq8.plan(emb))).min
    val idx = (0 until reps).map(_ =>
      time(() => index.knnJoin(spark))).min
    println(f"SQ8JOIN sf=$sfDir batch_n68=$batch%.3f s (exchanges=" +
      s"${exchanges(() => graft.ops.JoinSpec.Sq8.plan(emb))}) " +
      f"index_n71=$idx%.3f s (exchanges=" +
      s"${exchanges(() => index.knnJoin(spark))}) " +
      f"ratio=${idx / batch}%.2f")
    spark.stop()
  }
}
