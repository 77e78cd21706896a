package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.ops.{Codebook, JoinSpec, Ranking}

/**
 * Dev probe: the n65 claim at scale — the batched PQ kNN join (SDC over
 * codes) vs the float-verify twin n60 on the SAME corpus, measured on
 * wall time AND actual shuffle volume (a TaskEnd listener sums shuffle
 * bytes written per run). The 100 TB argument is the exchange: both
 * plans move every candidate through the cell equi-join, but n60's
 * verify side carries 64-double unit vectors (~512 B/row) where n65's
 * carries 8-int code arrays (~32 B/row) — this probe prints the ratio
 * instead of asserting it from the schema. Compare work grows as
 * n²·nProbe/nlist (the IVF dial), so N is capped at ×10 of the bench
 * table locally. Results in BASELINE.md ("n65 at scale").
 *
 * Usage: runMain graft.tools.ProbePqJoinScale [N ...] (default 2000 6000 20000)
 */
object ProbePqJoinScale {
  def main(args: Array[String]): Unit = {
    val numArgs = args.toSeq.filter(_.forall(_.isDigit))
    val ns = if (numArgs.nonEmpty) numArgs.map(_.toLong)
             else Seq(2000L, 6000L, 20000L)
    val spark = Sessions.local(32, logLevel = "ERROR")
    val n65 = JoinSpec.PqCodes(Codebook.Md5, Ranking.Sdc, rerank = false)
    val n78 = JoinSpec.PqCodes(Codebook.Md5, Ranking.Sdc, rerank = true)
    val base = graft.queries.Tables.scratchDir("pqjoinscale")

    val shuffleBytes = new AtomicLong(0L)
    // per-stage task durations (round-19, verdict item 4's done-criterion):
    // the verify stage is the longest-total stage of a run; its
    // max-task/median-task ratio is the skew number the salted crossover
    // join bounds
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[
      Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) {
          shuffleBytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
          stageTasks.computeIfAbsent(t.stageId,
              _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
            .add(t.taskInfo.duration)
        }
    })
    def skewReport(label: String): Unit = {
      import scala.jdk.CollectionConverters._
      val stages = stageTasks.asScala.toSeq
        .map { case (id, q) => (id, q.asScala.toSeq.sorted) }
        .filter(_._2.nonEmpty)
      stages.sortBy(-_._2.sum).headOption.foreach { case (id, ds) =>
        val mx = ds.last
        val med = ds(ds.size / 2)
        println(f"SKEW $label verify-stage $id: ${ds.size} tasks, " +
          f"max=${mx / 1e3}%.2f s median=${med / 1e3}%.2f s " +
          f"ratio=${mx.toDouble / math.max(1L, med)}%.1f")
      }
      stageTasks.clear()
    }
    // (runSec, shuffleMiB) of the better of two runs by wall time
    def measure(thunk: => Unit): (Double, Double) =
      (1 to 2).map { _ =>
        shuffleBytes.set(0L)
        val t0 = System.nanoTime()
        thunk
        val s = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        (s, shuffleBytes.get() / 1048576.0)
      }.minBy(_._1)

    ns.foreach { n =>
      val dir = base.resolve(s"n$n").toString
      val comps = transform(sequence(lit(0), lit(63)), i =>
        (pmod(xxhash64(col("id"), i), lit(1000001L)).cast("double")
          / 1000000.0 - 0.5).cast("float"))
      spark.range(n).select(col("id").as("vec_id"), comps.as("embedding"),
          lit(0).as("label"))
        .repartition(32).write.mode("overwrite").parquet(s"$dir/emb.parquet")
      val emb = spark.read.parquet(s"$dir/emb.parquet")

      val (floatS, floatMiB) = measure {
        JoinSpec.Exact.plan(emb)
          .write.format("noop").mode("overwrite").save()
      }
      skewReport(s"n60 n=$n")
      val (sdcS, sdcMiB) = measure {
        n65.plan(emb)
          .write.format("noop").mode("overwrite").save()
      }
      skewReport(s"n65 n=$n")
      // hot-cell mode (round-19, verdict item 4): half the corpus is a
      // tight cluster (one popular region of embedding space — the
      // guaranteed-at-100 TB case), so one IVF cell owns ~n/2 index rows
      // AND ~n/2·nProbe probe rows — the workload the unsalted pinned
      // shuffle-hash join serialized into one task
      if (args.contains("skew")) {
        val skComps = transform(sequence(lit(0), lit(63)), i =>
          when(col("id") % 2 === 0,
            ((pmod(xxhash64(col("id"), i), lit(1000001L)).cast("double")
              / 1000000.0 - 0.5) * 0.02 + 0.3).cast("float"))
          .otherwise((pmod(xxhash64(col("id"), i), lit(1000001L)).cast("double")
              / 1000000.0 - 0.5).cast("float")))
        spark.range(n).select(col("id").as("vec_id"), skComps.as("embedding"),
            lit(0).as("label"))
          .repartition(32).write.mode("overwrite").parquet(s"$dir/embskew.parquet")
        val embSk = spark.read.parquet(s"$dir/embskew.parquet")
        val (skS, skMiB) = measure {
          n65.plan(embSk)
            .write.format("noop").mode("overwrite").save()
        }
        skewReport(s"n65-hotcell n=$n")
        println(f"HOTCELL n=$n%d n65_sdc=$skS%.2f s ($skMiB%.1f MiB shuffled)")
      }
      val (sq8S, sq8MiB) = measure {
        JoinSpec.Sq8.plan(emb)
          .write.format("noop").mode("overwrite").save()
      }
      // the two-stage n78: same candidate exchange as n65 plus the R-cut
      // and the two shuffle-hash id fetches — the probe prices what the
      // ×9.3 join-scale recall costs in wall AND shuffled bytes at scale
      val (rrS, rrMiB) = measure {
        n78.plan(emb)
          .write.format("noop").mode("overwrite").save()
      }
      println(f"PQJOINSCALE n=$n%d n60_float=$floatS%.2f s ($floatMiB%.1f MiB shuffled) " +
        f"n65_sdc=$sdcS%.2f s ($sdcMiB%.1f MiB shuffled) " +
        f"n68_sq8=$sq8S%.2f s ($sq8MiB%.1f MiB shuffled) " +
        f"n78_rerank=$rrS%.2f s ($rrMiB%.1f MiB shuffled) " +
        f"time x${floatS / sdcS}%.2f shuffle x${floatMiB / sdcMiB}%.2f " +
        f"sq8_time x${floatS / sq8S}%.2f sq8_shuffle x${floatMiB / sq8MiB}%.2f " +
        f"rr_vs_sdc_time x${rrS / sdcS}%.2f rr_vs_sdc_shuffle x${rrMiB / sdcMiB}%.2f")
    }
    spark.stop()
  }
}
