package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession => T}
import graft.queries.Tables

/**
 * The incremental-dedup invariant (n41): maintaining the manifest one
 * micro-batch at a time converges to the batch n38 answer — including
 * across a stream restart with new data, and across checkpoint replay of
 * an already-committed batch.
 */
class IncrementalDedupSpec extends AnyFunSuite {
  lazy val spark = T.spark

  private def batchManifest: Set[Row] =
    Dedup.dedupManifestQuery(spark, T.sf0001).collect().toSet

  test("streaming manifest equals the batch n38 manifest") {
    val got = IncrementalDedup.streamingManifestQuery(spark, T.sf0001)
      .collect().toSet
    assert(got == batchManifest)
  }

  test("restart with new data resumes the index and still converges") {
    val base = graft.SparkTestSession.tmpDir("n41-restart")
    val input = base.resolve("input")
    val ckpt = base.resolve("ckpt")
    val index = new IncrementalDedupIndex(base.resolve("state"))
    val docs = Tables.documents(spark, T.sf0001)

    // run 1 sees only half the corpus; run 2 reuses the same checkpoint
    // and state, so its batches continue the id sequence and join against
    // the index run 1 persisted (bridging pairs across the runs included).
    // Any batching converges to the same manifest, so the split key need
    // only partition the corpus.
    IncrementalDedup.stageChunks(docs.filter(col_mod(0, 4) || col_mod(1, 4)),
      input, chunks = 2)
    IncrementalDedup.runStream(spark, input, ckpt, index)
    assert(index.finalManifest(spark).count() > 0)

    IncrementalDedup.stageChunks(docs.filter(col_mod(2, 4) || col_mod(3, 4)),
      input, chunks = 2)
    IncrementalDedup.runStream(spark, input, ckpt, index)
    assert(index.finalManifest(spark).collect().toSet == batchManifest)
  }

  private def col_mod(r: Int, m: Int) = {
    import org.apache.spark.sql.functions._
    pmod(col("doc_id"), lit(m)) === r
  }

  test("arrival log: one verdict per doc; only supersession diverges from final") {
    val base = graft.SparkTestSession.tmpDir("n41-log")
    val input = base.resolve("input")
    val ckpt = base.resolve("ckpt")
    val index = new IncrementalDedupIndex(base.resolve("state"))
    IncrementalDedup.stageChunks(Tables.documents(spark, T.sf0001), input, 4)
    IncrementalDedup.runStream(spark, input, ckpt, index)

    val log = index.arrivalLog(spark).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    val fin = index.finalManifest(spark).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    // exactly one arrival verdict per ingested document
    assert(log.size == fin.size)
    assert(index.arrivalLog(spark).count() == fin.size)
    // an arrival verdict may only be WEAKENED later (keep -> dup via a
    // smaller keeper or a bridging merge), never invented: every doc whose
    // final verdict is "keep" must also have been "keep" on arrival
    fin.foreach { case (doc, (v, keep)) =>
      if (v == "keep") assert(log(doc) == (("keep", doc)), s"doc $doc: ${log(doc)}")
    }
    // and divergent rows must exist only in the supersedable direction
    log.foreach { case (doc, (v, _)) =>
      if (v != "keep") assert(fin(doc)._1 != "keep",
        s"doc $doc was judged $v on arrival but keep at the end")
    }
  }

  test("replaying a committed batch is a no-op; an uncommitted one recomputes") {
    val base = graft.SparkTestSession.tmpDir("n41-replay")
    val input = base.resolve("input")
    val index = new IncrementalDedupIndex(base.resolve("state"))
    val docs = Tables.documents(spark, T.sf0001)
    IncrementalDedup.stageChunks(docs, input, chunks = 2)
    val schema = spark.read.parquet(input.toString).schema
    val b0 = spark.read.schema(schema)
      .parquet(input.toString).filter(col_mod(0, 2))
    val b1 = spark.read.schema(schema)
      .parquet(input.toString).filter(col_mod(1, 2))
    index.processBatch(b0, 0L)
    index.processBatch(b1, 1L)
    val before = index.finalManifest(spark).collect().toSet
    assert(before.nonEmpty)

    // committed replay: marker short-circuits
    index.processBatch(b1, 1L)
    assert(index.finalManifest(spark).collect().toSet == before)

    // crash-before-commit replay: remove the marker, replay recomputes and
    // overwrites its own parts deterministically
    Files.delete(base.resolve("state/commits/1.committed"))
    assert(!index.isCommitted(1L))
    index.processBatch(b1, 1L)
    assert(index.isCommitted(1L))
    assert(index.finalManifest(spark).collect().toSet == before)
  }

  test("public readers hide a half-committed batch until its marker exists") {
    val base = graft.SparkTestSession.tmpDir("n41-marker")
    val input = base.resolve("input")
    val index = new IncrementalDedupIndex(base.resolve("state"))
    val docs = Tables.documents(spark, T.sf0001)
    IncrementalDedup.stageChunks(docs, input, chunks = 2)
    val schema = spark.read.parquet(input.toString).schema
    val b0 = spark.read.schema(schema)
      .parquet(input.toString).filter(col_mod(0, 2))
    val b1 = spark.read.schema(schema)
      .parquet(input.toString).filter(col_mod(1, 2))
    index.processBatch(b0, 0L)
    val afterB0 = index.finalManifest(spark).collect().toSet
    val logAfterB0 = index.arrivalLog(spark).collect().toSet
    assert(afterB0.nonEmpty)

    // simulate a crash between batch 1's part/snapshot writes and its
    // commit marker: every per-directory _SUCCESS exists, but the batch is
    // not committed. External readers must see exactly the batch-0 state —
    // before marker gating, finalManifest joined b1's docs against the
    // pre-b1 fpmin/labels view and silently dropped new-fingerprint docs.
    index.processBatch(b1, 1L)
    Files.delete(base.resolve("state/commits/1.committed"))
    assert(index.finalManifest(spark).collect().toSet == afterB0)
    assert(index.arrivalLog(spark).collect().toSet == logAfterB0)

    // replay commits the batch; the readers flip to the two-batch state
    index.processBatch(b1, 1L)
    assert(index.finalManifest(spark).collect().toSet == batchManifest)
  }

  test("text index: a pruned trickle batch converges to the batch manifest") {
    // the text analogue of the embed parity test (round-11 advice: the
    // text index's pruned paths were exercised only by dev tools): a
    // trickle of two documents after compaction — band keys <= buckets/2,
    // so the probe pruning AND the shingle-verification pruning both
    // engage — must still produce the batch n38 manifest verbatim
    val base = graft.SparkTestSession.tmpDir("n41-trickle")
    val docs = graft.queries.Tables.documents(spark, T.sf0001).persist()
    val n = docs.count()
    val buckets = IncrementalEmbedDedup.bucketsFor(n, 16)
    val index = new IncrementalDedupIndex(base.resolve("state"),
      bandBuckets = buckets)
    // two docs that are near-dup partners of indexed documents (the
    // corpus plants _dupN suffixed near-copies at high doc_ids)
    val trickle = docs.orderBy(col("doc_id").desc).limit(2)
    val tIds = trickle.collect().map(_.getLong(0)).toSeq
    assert(tIds.length == 2)
    // 2 docs x 16 bands = 32 band keys -> at most 32 distinct buckets,
    // within the <= buckets/2 engagement guard
    assert(2 * 16 <= buckets / 2,
      s"fixture no longer engages pruning at $buckets buckets")

    val rest = docs.filter(!col("doc_id").isin(tIds: _*))
    (0 to 1).foreach(j => index.processBatch(
      rest.filter(pmod(xxhash64(col("doc_id")), lit(2)) === j), j.toLong))
    assert(index.compact(spark).contains(1L))
    index.processBatch(docs.filter(col("doc_id").isin(tIds: _*)), 2L)

    // plan shape of the pruned shingle read (the verification scan)
    val someBuckets = Seq(0L, 2L)
    val p = index.debugReadShingles(spark, Long.MaxValue,
      pruneTo = Some(someBuckets)).queryExecution.executedPlan.toString
    val partFilters = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
    assert(partFilters.isDefined && partFilters.get.group(1).contains("pb"),
      s"shingle scan not pruned on pb:\n$p")

    val got = index.finalManifest(spark).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val expected = Dedup.dedupManifestQuery(spark, T.sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == expected,
      "pruned text trickle diverged from the batch n38 manifest")
    docs.unpersist()
  }
}
