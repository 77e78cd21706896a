package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession => T}

/**
 * The [[LabelLog]] relabel-log store, driven through the one scenario the
 * corpus fixtures never produce (their planted clusters are all 2-member
 * pairs, whose endpoints are both NEW when the edge is found): bridging
 * merges that MOVE an existing component's minimum, which is exactly what
 * writes relabel rows, builds multi-hop chains, and what the full merge's
 * fold must compress away. Vectors are exact copies (identical band
 * hashes, cosine 1), so candidate discovery is deterministic, not
 * probabilistic.
 */
class LabelLogSpec extends AnyFunSuite {
  lazy val spark = T.spark

  private val u = Seq(1.0, 0.5, -0.3, 0.8, -0.6, 0.2, -0.9, 0.4)
  private val far = Seq(0.4, -0.9, 0.2, -0.6, 0.8, -0.3, 0.5, 1.0)

  private def frame(rows: (Long, Seq[Double])*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
  }

  private def clusters(index: IncrementalEmbedIndex): Map[Long, (Long, Boolean)] =
    index.finalClusters(spark).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap

  /** The batch's relabel part — None when the dir is absent (the
    * trackNonempty contract: empty maps are never written, so part
    * existence means rows). */
  private def relabelPart(base: java.nio.file.Path, j: Long): Option[Set[(Long, Long)]] =
    part(base, "relabel", j)

  private def part(base: java.nio.file.Path, table: String,
                   j: Long): Option[Set[(Long, Long)]] =
    if (!Files.exists(base.resolve(s"state/$table/b$j"))) None
    else Some(spark.read.parquet(base.resolve(s"state/$table/b$j").toString)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)

  test("bridging merges log relabels, chains resolve multi-hop, the fold compresses") {
    val base = T.tmpDir("labellog")
    val index = new IncrementalEmbedIndex(base.resolve("state"), geometry = (8, 4))

    // batch 0: {20, 30} pair up (both endpoints NEW — assignments only,
    // an empty relabel map); 40 is far from everything and never assigned
    index.processBatch(frame(20L -> u, 30L -> u, 40L -> far), 0L)
    assert(clusters(index) == Map(20L -> (20L, true), 30L -> (20L, false)))
    assert(relabelPart(base, 0).isEmpty,
      "a pair of new endpoints logged a relabel (empty maps must not be written)")

    // batch 1: vec 10 bridges INTO the existing component and dethrones
    // its minimum — THE relabel case: one log row (20 → 10), and the
    // members' assignments (20,20)/(30,20) are NOT rewritten
    index.processBatch(frame(10L -> u), 1L)
    assert(relabelPart(base, 1).contains(Set((20L, 10L))))
    assert(clusters(index) ==
      Map(10L -> (10L, true), 20L -> (10L, false), 30L -> (10L, false)))

    // the first compact is a FULL merge: the assign level is the RESOLVED
    // cluster table (fold = path compression) and the log level is empty
    assert(index.compact(spark).contains(1L))
    val level = spark.read.parquet(base.resolve("state/assign/c1").toString)
      .select("vec_id", "lbl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(level == Set((10L, 10L), (20L, 10L), (30L, 10L)),
      "the bin-packed assign level still carries unresolved chains")
    assert(index.debugRead(spark, "relabel", Long.MaxValue).count() == 0)

    // batch 2: vec 50 joins — the minimum stays 10, so NO relabel row
    index.processBatch(frame(50L -> u), 2L)
    assert(relabelPart(base, 2).isEmpty,
      "a no-move merge wrote a relabel part")

    // batch 3: vec 5 dethrones again → log (10, 5). Vec 20's stored label
    // is now TWO hops stale (assign level says 20 → 10, log says 10 → 5):
    // the read view must follow the chain, not one step of it
    index.processBatch(frame(5L -> u), 3L)
    assert(relabelPart(base, 3).contains(Set((10L, 5L))))
    assert(clusters(index) ==
      Map(5L -> (5L, true), 10L -> (5L, false), 20L -> (5L, false),
        30L -> (5L, false), 50L -> (5L, false)),
      "chain (assign level + relabel log) resolved only one step")

    // batch 4: vec 3 dethrones once more → log {(10,5), (5,3)}. Vec 20's
    // stored label now resolves through a genuine TWO-hop log chain
    // (20 → 10 → 5 → 3), the fixpoint loop's second round
    index.processBatch(frame(3L -> u), 4L)
    assert(relabelPart(base, 4).contains(Set((5L, 3L))))
    val expected = Map(3L -> (3L, true), 5L -> (3L, false), 10L -> (3L, false),
      20L -> (3L, false), 30L -> (3L, false), 50L -> (3L, false))
    assert(clusters(index) == expected,
      "two-hop relabel chain resolved only one step")

    // a DELTA compaction consolidates the log's parts into a level without
    // folding it (union keeps the function intact — keys are globally
    // unique); the view is unchanged, then the next full merge folds
    assert(index.compact(spark).contains(4L))
    assert(index.debugChain == Seq(1L, 4L))
    assert(clusters(index) == expected,
      "the relabel log broke when it moved from parts into a delta level")
    assert(Files.exists(base.resolve("state/relabel/c4/_SUCCESS")))
    assert(index.debugRead(spark, "relabel", Long.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((10L, 5L), (5L, 3L)))
  }

  test("driver and distributed label merges write the same parts") {
    // the first two batches of the bridging stream above through the
    // default dispatch (both merge on the driver: the log is empty until
    // batch 1 writes its relabel row) and through an index whose driver
    // ceiling is 0 (every merge distributed)
    val batches = Seq(Seq(20L -> u, 30L -> u, 40L -> far), Seq(10L -> u))
    val bases = Seq(T.tmpDir("labellog-driver"), T.tmpDir("labellog-dist"))
    val indexes = bases.map(b => new IncrementalEmbedIndex(b.resolve("state"),
      geometry = (8, 4)))
    indexes(1).smallMergeMaxEdges = 0
    for ((rows, j) <- batches.zipWithIndex; index <- indexes)
      index.processBatch(frame(rows: _*), j.toLong)
    for (j <- batches.indices.map(_.toLong); table <- Seq("assign", "relabel"))
      assert(part(bases(0), table, j) == part(bases(1), table, j),
        s"$table part b$j differs between the merge paths")
    assert(relabelPart(bases(0), 1).contains(Set((20L, 10L))))
    assert(clusters(indexes(0)) == clusters(indexes(1)))
  }
}
