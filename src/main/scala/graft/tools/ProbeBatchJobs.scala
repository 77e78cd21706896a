package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, IncrementalEmbedDedup, IncrementalEmbedIndex}

/**
 * Dev tool: Spark-job-level attribution of one EDGE-BEARING trickle
 * batch's fixed cost (round 14). The gated replays' phase attribution
 * says ~90% of their wall clock is the per-micro-batch floor, and an
 * edge-bearing trickle batch costs ~6-7 s at EVERY index scale — flat,
 * but high (BASELINE.md, round 14). This probe names the jobs inside
 * that floor: it builds a ×1 embedding index (four hash-split batches,
 * the planted copies, one compaction), registers a listener, runs ONE
 * planted-dup trickle batch, and prints every job's duration with its
 * call site.
 *
 * Usage: runMain graft.tools.ProbeBatchJobs [sfDir]
 */
object ProbeBatchJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local(32, logLevel = "ERROR")
    val base = graft.queries.Tables.scratchDir("batchjobs")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      .persist()
    val ne = emb.count()
    val geom = IncrementalEmbedDedup.geometryFor(ne + ne)
    val idx = new IncrementalEmbedIndex(base.resolve("emb"),
      geometry = geom,
      bandBuckets = IncrementalEmbedDedup.bucketsFor(ne + ne, geom._2),
      idBuckets = IncrementalEmbedDedup.bucketsFor(ne + ne, 1))
    (0 to 3).foreach(j =>
      idx.processBatch(emb.filter(pmod(xxhash64(col("vec_id")), lit(4)) === j), j))
    // planted bulk so the label store is populated, then compact so the
    // trickle batch reads the bucketed levels - the steady-state shape
    val planted = Dedup.plantedCopies(emb)
      .select(col("vec_id"), col("v").as("embedding")).persist()
    planted.count()
    idx.processBatch(planted, 4L)
    idx.compact(spark)

    val jobs = mutable.ArrayBuffer.empty[(Int, Long, String)]
    val starts = mutable.Map.empty[Int, (Long, String)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        starts(j.jobId) =
          (j.time, s"${j.stageInfos.size}st $site ${desc.take(60)}")
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.remove(j.jobId).foreach { case (t0, site) =>
          jobs += ((j.jobId, j.time - t0, site))
        }
    }

    val trickDup = Dedup.plantedCopies(
        emb.filter(pmod(xxhash64(col("vec_id")), lit(256)) === 5))
      .select((col("vec_id") + lit(Dedup.PlantOffset)).as("vec_id"),
        col("v").as("embedding"))
      .persist()
    val n = trickDup.count()

    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    idx.processBatch(trickDup, 5L)
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(1000) // let the async listener bus drain
    spark.sparkContext.removeSparkListener(listener)

    val total = jobs.map(_._2).sum / 1e3
    println(f"BATCHJOBS rows=$n wall=$wall%.2f s, ${jobs.size} jobs, " +
      f"$total%.2f s inside jobs (${wall - total}%.2f s between jobs)")
    jobs.sortBy(-_._2).foreach { case (id, ms, site) =>
      println(f"  job $id%3d ${ms / 1e3}%6.3f s  $site")
    }
    spark.stop()
  }
}
