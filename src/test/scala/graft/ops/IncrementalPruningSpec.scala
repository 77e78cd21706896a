package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession => T}

/**
 * The round-11 collision-bucket pruning contract: after compaction the
 * incremental indexes' probe reads are LISTING-TIME partition-pruned to
 * the batch's collision buckets (PartitionFilters on the hive bucket
 * column — the d73 treatment), and pruning is invisible to results: the
 * pruned view contains every row whose band key collides with the batch.
 */
class IncrementalPruningSpec extends AnyFunSuite with graft.SoakTagged {
  lazy val spark = T.spark

  private def hashIn(rs: Int*) = {
    val m = pmod(xxhash64(col("vec_id")), lit(4))
    rs.map(r => m === r).reduce(_ || _)
  }

  test("the compacted band probe plans PartitionFilters on pb, not a full scan") {
    val base = graft.SparkTestSession.tmpDir("n52-prune")
    val full = IncrementalEmbedDedup.corpus(spark, T.sf0001).persist()
    val n = full.count()
    val geom = IncrementalEmbedDedup.geometryFor(n)
    val index = new IncrementalEmbedIndex(base.resolve("state"),
      geometry = geom, bandBuckets = IncrementalEmbedDedup.bucketsFor(n, geom._2))
    (0 to 1).foreach(j => index.processBatch(full.filter(hashIn(j)), j.toLong))
    assert(index.compact(spark).contains(1L))

    // the probe's pruned read: a trickle batch's bucket set
    val someBuckets = Seq(0L, 3L, 7L)
    val pruned = index.debugReadBands(spark, Long.MaxValue,
      pruneTo = Some(someBuckets))
    val p = pruned.queryExecution.executedPlan.toString
    val partFilters = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
    assert(partFilters.isDefined, s"no PartitionFilters list in probe plan:\n$p")
    assert(partFilters.get.group(1).contains("pb"),
      s"probe scan not pruned on pb:\n$p")
    // pruning is listing-time: pb must NOT appear in row-level PushedFilters
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
    assert(pushed.isDefined, s"no PushedFilters list in probe plan:\n$p")
    assert(!pushed.get.group(1).contains("pb"), p)

    // and the pruned view IS the bucket restriction of the full view
    val expected = index.debugReadBands(spark, Long.MaxValue)
      .filter(index.debugBandBucket.isin(someBuckets: _*))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val got = pruned.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == expected, "pruned view diverged from the bucket restriction")
    assert(got.nonEmpty, "fixture produced no rows in the probed buckets")

    // layout regression guard: compaction repartition()s on the bucket
    // column before partitionBy, so each pb=<v> leaf holds exactly ONE
    // data file — without it every write task fans a file into ~every
    // bucket (tasks×buckets tiny files, the round-11 probe's 3–4×
    // slowdown)
    val bandsRoot = base.resolve("state/bands/c1")
    import scala.jdk.CollectionConverters._
    val leaves = {
      val s = java.nio.file.Files.list(bandsRoot)
      try s.iterator().asScala.filter(p =>
        p.getFileName.toString.startsWith("pb=")).toList
      finally s.close()
    }
    assert(leaves.nonEmpty, "no hive bucket dirs under the compacted band tree")
    leaves.foreach { leaf =>
      val files = {
        val s = java.nio.file.Files.list(leaf)
        try s.iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet"))
        finally s.close()
      }
      assert(files == 1, s"bucket ${leaf.getFileName} holds $files data files")
    }
    full.unpersist()
  }

  test("the compacted unit verification read plans PartitionFilters on pb") {
    // round-12: the exact-verify scan gets the same listing-time pruning
    // as the band probe — units levels are id-hash bucketed, and the read
    // is restricted to the candidate endpoints' buckets
    val base = graft.SparkTestSession.tmpDir("n52-uprune")
    val full = IncrementalEmbedDedup.corpus(spark, T.sf0001).persist()
    val n = full.count()
    val geom = IncrementalEmbedDedup.geometryFor(n)
    val index = new IncrementalEmbedIndex(base.resolve("state"),
      geometry = geom, bandBuckets = IncrementalEmbedDedup.bucketsFor(n, geom._2))
    (0 to 1).foreach(j => index.processBatch(full.filter(hashIn(j)), j.toLong))
    assert(index.compact(spark).contains(1L))

    val someBuckets = Seq(1L, 4L, 9L)
    val pruned = index.debugReadUnits(spark, Long.MaxValue,
      pruneTo = Some(someBuckets))
    val p = pruned.queryExecution.executedPlan.toString
    val partFilters = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
    assert(partFilters.isDefined, s"no PartitionFilters list in unit plan:\n$p")
    assert(partFilters.get.group(1).contains("pb"),
      s"unit scan not pruned on pb:\n$p")
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
    assert(pushed.isDefined && !pushed.get.group(1).contains("pb"), p)

    // value parity: the pruned view IS the bucket restriction
    val expected = index.debugReadUnits(spark, Long.MaxValue)
      .filter(index.debugIdBucket(col("vec_id")).isin(someBuckets: _*))
      .collect().map(_.getLong(0)).toSet
    val got = pruned.collect().map(_.getLong(0)).toSet
    assert(got == expected && got.nonEmpty)
    full.unpersist()
  }

  test("the assign lookup plans PartitionFilters on pb (the relabel-log store)") {
    // round-13: the label-merge endpoint lookup gets the same listing-time
    // pruning as the band/unit reads — compacted assign levels are id-hash
    // bucketed and the read restricts to the endpoints' buckets
    val base = graft.SparkTestSession.tmpDir("n52-aprune")
    val full = IncrementalEmbedDedup.corpus(spark, T.sf0001).persist()
    val n = full.count()
    val geom = IncrementalEmbedDedup.geometryFor(n)
    val index = new IncrementalEmbedIndex(base.resolve("state"),
      geometry = geom, bandBuckets = IncrementalEmbedDedup.bucketsFor(n, geom._2))
    (0 to 1).foreach(j => index.processBatch(full.filter(hashIn(j)), j.toLong))
    assert(index.compact(spark).contains(1L))

    val someBuckets = Seq(1L, 4L, 9L)
    val pruned = index.debugRead(spark, "assign", Long.MaxValue,
      pruneTo = Some(someBuckets))
    val p = pruned.queryExecution.executedPlan.toString
    val partFilters = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
    assert(partFilters.isDefined, s"no PartitionFilters list in assign plan:\n$p")
    assert(partFilters.get.group(1).contains("pb"),
      s"assign scan not pruned on pb:\n$p")

    // value parity: the pruned view IS the bucket restriction
    val expected = index.debugRead(spark, "assign", Long.MaxValue)
      .filter(index.debugIdBucket(col("vec_id")).isin(someBuckets: _*))
      .collect().map(_.getLong(0)).toSet
    val got = pruned.collect().map(_.getLong(0)).toSet
    assert(got == expected && got.nonEmpty)
    full.unpersist()
  }

  test("past the per-dir clamp the layout goes two-level and still prunes at listing time") {
    // round-12 verdict #4: bucket counts above the filesystem's per-dir
    // fan-out bound land as pb=<bucket/subN>/sub=<bucket%subN> — no dir
    // exceeds maxDirs children, each selected bucket still resolves to
    // exactly one leaf path, and the pruned view equals the bucket
    // restriction. maxDirs is shrunk here so the spec exercises the
    // layout without creating thousands of directories.
    val base = graft.SparkTestSession.tmpDir("n52-twolevel")
    val full = IncrementalEmbedDedup.corpus(spark, T.sf0001).persist()
    val n = full.count()
    val geom = IncrementalEmbedDedup.geometryFor(n)
    val buckets = 256
    val maxDirs = 64 // -> subN = 4, two-level
    val index = new IncrementalEmbedIndex(base.resolve("state"),
      geometry = geom, bandBuckets = buckets, bucketMaxDirs = maxDirs)
    (0 to 1).foreach(j => index.processBatch(full.filter(hashIn(j)), j.toLong))
    assert(index.compact(spark).contains(1L))

    // physical layout: outer pb dirs bounded by maxDirs, sub dirs inside
    import scala.jdk.CollectionConverters._
    val bandsRoot = base.resolve("state/bands/c1")
    val outer = {
      val s = java.nio.file.Files.list(bandsRoot)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("pb=")).toList
      finally s.close()
    }
    assert(outer.nonEmpty && outer.size <= maxDirs,
      s"outer dir fan-out ${outer.size} exceeds maxDirs=$maxDirs")
    val firstSub = {
      val s = java.nio.file.Files.list(bandsRoot.resolve(outer.head))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("sub=")).toList
      finally s.close()
    }
    assert(firstSub.nonEmpty && firstSub.size <= 4,
      s"sub dir fan-out: $firstSub")

    // pruned read: PartitionFilters over the partition cols, value parity
    val someBuckets = Seq(0L, 5L, 130L, 255L)
    val pruned = index.debugReadBands(spark, Long.MaxValue,
      pruneTo = Some(someBuckets))
    val p = pruned.queryExecution.executedPlan.toString
    val partFilters = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
    assert(partFilters.isDefined && partFilters.get.group(1).contains("pb"),
      s"two-level scan not partition-pruned:\n$p")
    val expected = index.debugReadBands(spark, Long.MaxValue)
      .filter(index.debugBandBucket.isin(someBuckets: _*))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val got = pruned.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == expected && got.nonEmpty,
      "two-level pruned view diverged from the bucket restriction")

    // and the index still converges through the two-level layout
    index.processBatch(full.filter(hashIn(2) || hashIn(3)), 2L)
    val gotC = index.finalClusters(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val expectedC = Dedup.embeddingClustersQuery(spark, T.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(gotC == expectedC, "two-level layout lost candidate edges")
    full.unpersist()
  }

  test("every collision partner of a batch lives in the batch's bucket set") {
    // the correctness core of the pruning: a batch band key's partners
    // share its (band, bh), hence its hash bucket — so restricting the
    // probe to the batch's buckets loses no candidate
    val base = graft.SparkTestSession.tmpDir("n52-prune-cov")
    val full = IncrementalEmbedDedup.corpus(spark, T.sf0001).persist()
    val n = full.count()
    val geom = IncrementalEmbedDedup.geometryFor(n)
    val index = new IncrementalEmbedIndex(base.resolve("state"),
      geometry = geom, bandBuckets = IncrementalEmbedDedup.bucketsFor(n, geom._2))
    (0 to 2).foreach(j => index.processBatch(full.filter(hashIn(j)), j.toLong))
    assert(index.compact(spark).contains(2L))
    // the final batch joins against the pruned compacted view; the spec's
    // oracle is the batch answer on the full corpus — any lost cross-batch
    // candidate edge would break cluster equality
    index.processBatch(full.filter(hashIn(3)), 3L)
    val got = index.finalClusters(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val expected = Dedup.embeddingClustersQuery(spark, T.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == expected,
      "pruned probe lost candidate edges: clusters diverged from batch answer")
    full.unpersist()
  }
}
