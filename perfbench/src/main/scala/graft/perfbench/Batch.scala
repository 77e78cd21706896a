package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/**
 * `batch`: a closed loop with one client. Each pass runs the query mix
 * round-robin through `SparkEntry.queries(name)(spark, dir)` into the
 * `noop` sink. Two warm-up passes are discarded (the third pass is within
 * a few percent of the ones after it; a settle test that stopped at the
 * third or the fourth pass made the set-up time bimodal); measured passes
 * follow for `seconds`, at least three (exactly one per window in a traced
 * run), and each query's figure is its median over them. Uses
 * `queries`, the batch `ops` operators, the `functions` kernels, `plans`
 * and the shuffle path; no streaming. `d01_pricing_summary` is the
 * control: it uses no graft operator.
 *
 * A traced run then measures the `functions` kernels and one round of the
 * incremental indexes over the same tables (see [[Index.Twins]]): the
 * per-layer metrics of `ops` incremental come from there.
 */
object Batch {
  private val WarmupPasses = 2
  private val MinPasses = 3

  /** The mix. n37_embedding_clusters and n03_ngram_jaccard are left out
    * to keep a run inside the benchmark's time budget: n56 exercises n37's
    * layers (sign-band LSH, cosine verification, label propagation) and
    * n38 exercises n03's Jaccard verification (SortedIntersectCount). */
  val Mix: Seq[String] = Seq("n38_dedup_manifest", "n56_media_dedup",
    "n78_pq_knn_rerank", "d01_pricing_summary")

  def run(spark: SparkSession, rec: Recorder, c: Conf, work: Path,
          seed: Long): Map[String, Any] = {
    val dir = work.resolve("tables")
    val genStart = rec.now()
    Gen.table(spark, dir, "documents", Gen.documents(c.int("batch.docs"), seed), Gen.DocSchema)
    Gen.table(spark, dir, "embeddings", Gen.embeddings(c.int("batch.vectors"), seed),
      Gen.EmbSchema)
    Gen.lineitem(spark, c.long("batch.lineitems"), seed)
      .write.parquet(dir.resolve("lineitem.parquet").toString)
    val genS = (rec.now() - genStart) / 1e3

    // The first warm-up pass writes each result out for the oracle
    // comparison (and, traced, counts its plan's TopKPerKey operators);
    // every other pass runs the query into the noop sink.
    val results = work.resolve("results")
    val topK = mutable.Map.empty[String, Int]
    var first = true
    def exec(name: String): Unit = {
      try rec.span(s"queries.$name", attrs = Map("query" -> name)) {
        val df = SparkEntry.queries(name)(spark, dir.toString)
        if (first) {
          df.write.mode("overwrite").parquet(results.resolve(name).toString)
          topK(name) = if (rec.traced) PlanCount.topK(df) else 0
        } else df.write.format("noop").mode("overwrite").save()
      } catch {
        // recorded as a span with ok = false: counted as a failed operation
        case e: Exception => System.err.println(s"[perfbench] $name failed: $e")
      }
      // cached intermediates of one query must not weigh on the next
      spark.catalog.clearCache()
    }
    def pass(): Double = rec.span("batch.pass") {
      val t0 = rec.now()
      Mix.foreach(exec)
      first = false
      (rec.now() - t0) / 1e3
    }

    rec.phase = "warmup"
    val warm = Seq.fill(WarmupPasses)(pass())
    val measuredStart = rec.now()
    // a traced run measures three windows (Measure): one pass each keeps
    // it inside the run's time limit
    val (seconds, minPasses) = if (rec.traced) (0, 1) else (c.int("seconds"), MinPasses)
    Measure.run(rec, Measure.phases(rec)) { _ =>
      Settle.measure(seconds, minPasses)(pass())
    }

    val traced =
      if (!rec.traced) Map.empty
      else {
        rec.phase = "functions"
        val kernels = Kernels.run(spark, rec, graft.queries.Tables.documents(spark, dir.toString),
          graft.queries.Tables.embeddings(spark, dir.toString))
        rec.phase = "index"
        rec.tracing = true
        val twins = new Index.Twins(spark, rec, dir, work, c.int("batch.index_chunks"))
        twins.round()
        rec.flush()
        rec.tracing = false
        rec.phase = "check"
        val n38 = results.resolve("n38_dedup_manifest").toString
        Map("functions" -> kernels,
          "index" -> twins.record(twins.check(spark.read.parquet(n38)), 0))
      }
    Map("gen_s" -> genS, "measured_start" -> measuredStart,
      "batch" -> Map("mix" -> Mix, "tables" -> dir.toString, "warmup_passes" -> warm,
        "results" -> results.toString, "topk_nodes" -> topK.toMap,
        "oracles" -> Mix.map(n => n -> SparkEntry.oracleSql(n)).toMap)) ++ traced
  }
}
