package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession => T}

/**
 * The incremental embedding-dedup invariant (n52): maintaining the banded
 * embedding index one micro-batch at a time converges to the batch n37
 * cluster table — including across a stream restart with new data, across
 * checkpoint replay of a committed batch, and with the half-committed-batch
 * marker gating of the n41 crash-consistency contract.
 */
class IncrementalEmbedDedupSpec extends AnyFunSuite {
  lazy val spark = T.spark

  private def batchClusters: Set[Row] =
    Dedup.embeddingClustersQuery(spark, T.sf0001).collect().toSet

  private def hashIn(rs: Int*) = {
    val m = pmod(xxhash64(col("vec_id")), lit(4))
    rs.map(r => m === r).reduce(_ || _)
  }

  test("streaming clusters equal the batch n37 answer") {
    val got = IncrementalEmbedDedup
      .streamingEmbeddingClustersQuery(spark, T.sf0001).collect().toSet
    assert(got.nonEmpty)
    assert(got == batchClusters)
  }

  test("restart with new data resumes the index and still converges") {
    val base = graft.SparkTestSession.tmpDir("n52-restart")
    val input = base.resolve("input")
    val ckpt = base.resolve("ckpt")
    val full = IncrementalEmbedDedup.corpus(spark, T.sf0001)
    // geometry pinned to the FULL corpus up front — run 1's batches must
    // hash identically to run 2's even though they see fewer vectors
    val index = new IncrementalEmbedIndex(base.resolve("state"),
      geometry = IncrementalEmbedDedup.geometryFor(full.count()))

    // run 1 sees ~half the corpus (hash split, so most planted pairs
    // straddle the runs); run 2 reuses checkpoint + state and must bridge
    IncrementalEmbedDedup.stageChunks(full.filter(hashIn(0, 1)), input, chunks = 2)
    IncrementalEmbedDedup.runStream(spark, input, ckpt, index)
    val mid = index.finalClusters(spark).count()

    IncrementalEmbedDedup.stageChunks(full.filter(hashIn(2, 3)), input, chunks = 2)
    IncrementalEmbedDedup.runStream(spark, input, ckpt, index)
    val fin = index.finalClusters(spark).collect().toSet
    assert(fin == batchClusters)
    assert(mid < fin.size, s"run 1 already matched everything ($mid rows) — " +
      "the hash split failed to place pairs across the runs")
  }

  test("replay idempotence and half-committed-batch marker gating") {
    val base = graft.SparkTestSession.tmpDir("n52-replay")
    val input = base.resolve("input")
    val full = IncrementalEmbedDedup.corpus(spark, T.sf0001)
    val index = new IncrementalEmbedIndex(base.resolve("state"),
      geometry = IncrementalEmbedDedup.geometryFor(full.count()))
    IncrementalEmbedDedup.stageChunks(full, input, chunks = 2)
    val schema = spark.read.parquet(input.toString).schema
    val b0 = spark.read.schema(schema).parquet(input.toString).filter(hashIn(0, 1))
    val b1 = spark.read.schema(schema).parquet(input.toString).filter(hashIn(2, 3))

    index.processBatch(b0, 0L)
    val afterB0 = index.finalClusters(spark).collect().toSet

    // crash between batch 1's parts and its marker: all _SUCCESS files
    // exist, but public readers must still see exactly the batch-0 state
    index.processBatch(b1, 1L)
    val afterB1 = index.finalClusters(spark).collect().toSet
    Files.delete(base.resolve("state/commits/1.committed"))
    assert(index.finalClusters(spark).collect().toSet == afterB0)

    // replay recommits deterministically; committed replay short-circuits
    index.processBatch(b1, 1L)
    assert(index.isCommitted(1L))
    assert(index.finalClusters(spark).collect().toSet == afterB1)
    index.processBatch(b1, 1L)
    assert(index.finalClusters(spark).collect().toSet == afterB1)
    assert(afterB1 == batchClusters)
  }

  test("embed trickle batch after compaction: both pruned paths engage and converge") {
    // the continuous-ingest regime the pruning exists for: a tiny batch
    // whose band keys cover a fraction of the buckets (band probe pruned)
    // and whose candidate endpoints cover few id buckets (verification
    // pruned) — and whose planted partners live in the COMPACTED index,
    // so a lost candidate or a lost unit row would break cluster equality
    val base = graft.SparkTestSession.tmpDir("n52-trickle")
    val full = IncrementalEmbedDedup.corpus(spark, T.sf0001).persist()
    val n = full.count()
    val geom = IncrementalEmbedDedup.geometryFor(n)
    // production-shaped bucket count (buckets >> bands, the regime a grown
    // index reaches under bucketsFor's n-proportional sizing): a single
    // vector's ~48 band keys must cover <= half the buckets to engage the
    // trickle pruning, which the sf0.001 corpus's clamped-minimum 64 never
    // allows
    val buckets = 512
    val index = new IncrementalEmbedIndex(base.resolve("state"),
      geometry = geom, bandBuckets = buckets)
    // the trickle: one planted copy whose original sits in the index
    // (a single vector's band keys stay within the <= buckets/2 guard)
    val trickleIds = Seq(1000001L)
    val trickle = full.filter(col("vec_id").isin(trickleIds: _*))
    assert(trickle.count() == 1, "fixture drift: planted copy missing")
    // fixture guard: the trickle's band-key bucket set must be small
    // enough to engage the probe pruning (<= buckets/2)
    val trickleKeys = trickle
      .select(Dedup.unitVector(col("embedding")).as("u"))
      .select(posexplode(Dedup.signBandCol(col("u"), geom._1, geom._2))
        .as(Seq("band", "bh")))
      .select(index.debugBandBucket.as("pb")).distinct().count()
    assert(trickleKeys <= buckets / 2,
      s"fixture no longer engages pruning: $trickleKeys buckets of $buckets")

    val rest = full.filter(!col("vec_id").isin(trickleIds: _*))
    (0 to 1).foreach(j => index.processBatch(
      rest.filter(pmod(xxhash64(col("vec_id")), lit(2)) === j), j.toLong))
    assert(index.compact(spark).contains(1L))
    index.processBatch(trickle, 2L)

    val got = index.finalClusters(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val expected = Dedup.embeddingClustersQuery(spark, T.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == expected,
      "pruned trickle probe/verification lost a cross-batch edge")
    full.unpersist()
  }
}
