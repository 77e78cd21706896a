package graft.ops

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession => T}

/**
 * Long-soak of the incremental indexes' retention machinery (round-11
 * verdict #5): 50 micro-batches through each index with compaction every
 * 10 — the cadence a production deployment schedules — asserting that
 * on-disk object counts stay BOUNDED BY THE CADENCE (parts ≤ batches
 * since maintenance; snapshot versions collapse to the latest; markers
 * collapse to the snapshot-gating survivors; exactly one compacted tree
 * and one compaction marker), and that the final state still equals the
 * batch answer. Disk growth bounded by cadence, not stream lifetime, is
 * the claim the round-10 GC work made — this is its direct measurement.
 */
class IncrementalSoakSpec extends AnyFunSuite with graft.SoakTagged {
  lazy val spark = T.spark

  private val Batches = 50
  private val Cadence = 10

  /** Children of `root/table` with the given prefix. */
  private def entries(root: Path, table: String, prefix: String): Seq[String] = {
    val dir = root.resolve(table)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(prefix)).toSeq
      finally s.close()
    }
  }

  test("text index: 50-batch soak, compaction every 10, bounded files, exact final state") {
    val base = graft.SparkTestSession.tmpDir("n41-soak")
    val root = base.resolve("state")
    val index = new IncrementalDedupIndex(root)
    val docs = graft.queries.Tables.documents(spark, T.sf0001).persist()

    (0 until Batches).foreach { j =>
      index.processBatch(
        docs.filter(pmod(xxhash64(col("doc_id")), lit(Batches)) === j), j.toLong)
      // between maintenance passes the append-only tables may grow, but
      // never past the cadence
      assert(entries(root, "docs", "b").size <= Cadence,
        s"parts exceeded the cadence at batch $j")
      if ((j + 1) % Cadence == 0) {
        assert(index.compact(spark).contains(j.toLong))
        // post-maintenance bounds, independent of how many batches ran:
        // parts are always consolidated; the LEVEL count cycles 1→4 then
        // bin-packs back to 1 (round-12 tiering, maxLevels = 4) — the
        // chain never exceeds the bound, and the 5th maintenance pass
        // demonstrates the full merge on a soaked index
        val expectLevels = ((j + 1) / Cadence - 1) % 4 + 1
        Seq("docs", "shingles", "bands", "manifest").foreach { t =>
          assert(entries(root, t, "b").isEmpty, s"$t parts survived compaction")
          assert(entries(root, t, "c").size == expectLevels,
            s"$t levels at batch $j: ${entries(root, t, "c")} (want $expectLevels)")
        }
        if (expectLevels == 1)
          assert(entries(root, "docs", "c") == Seq(s"c$j"),
            s"bin-pack did not collapse the chain: ${entries(root, "docs", "c")}")
        // the label/keeper stores are part tables like everything else:
        // parts never survive a pass, levels obey the same chain bound
        Seq("assign", "relabel", "fpkeep").foreach { t =>
          assert(entries(root, t, "b").isEmpty, s"$t parts survived compaction")
          assert(entries(root, t, "c").size == expectLevels,
            s"$t levels at batch $j: ${entries(root, t, "c")}")
        }
        // markers: no snapshot gates — everything at or below the
        // watermark is pruned
        assert(entries(root, "commits", "").isEmpty,
          s"markers grew: ${entries(root, "commits", "")}")
        assert(entries(root, "compactions", "").size == expectLevels)
      }
    }

    val got = index.finalManifest(spark).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val expected = Dedup.dedupManifestQuery(spark, T.sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == expected, "soaked final manifest diverged from the batch n38 answer")
    docs.unpersist()
  }

  test("embedding index: 50-batch soak, compaction every 10, bounded files, exact final state") {
    val base = graft.SparkTestSession.tmpDir("n52-soak")
    val root = base.resolve("state")
    val full = IncrementalEmbedDedup.corpus(spark, T.sf0001).persist()
    val n = full.count()
    val geom = IncrementalEmbedDedup.geometryFor(n)
    val index = new IncrementalEmbedIndex(root, geometry = geom,
      bandBuckets = IncrementalEmbedDedup.bucketsFor(n, geom._2))

    (0 until Batches).foreach { j =>
      index.processBatch(
        full.filter(pmod(xxhash64(col("vec_id")), lit(Batches)) === j), j.toLong)
      assert(entries(root, "units", "b").size <= Cadence,
        s"parts exceeded the cadence at batch $j")
      if ((j + 1) % Cadence == 0) {
        assert(index.compact(spark).contains(j.toLong))
        val expectLevels = ((j + 1) / Cadence - 1) % 4 + 1
        Seq("units", "bands").foreach { t =>
          assert(entries(root, t, "b").isEmpty, s"$t parts survived compaction")
          assert(entries(root, t, "c").size == expectLevels,
            s"$t levels at batch $j: ${entries(root, t, "c")} (want $expectLevels)")
        }
        if (expectLevels == 1)
          assert(entries(root, "units", "c") == Seq(s"c$j"),
            s"bin-pack did not collapse the chain: ${entries(root, "units", "c")}")
        Seq("assign", "relabel").foreach { t =>
          assert(entries(root, t, "b").isEmpty, s"$t parts survived compaction")
          assert(entries(root, t, "c").size == expectLevels,
            s"$t levels at batch $j: ${entries(root, t, "c")}")
        }
        assert(entries(root, "commits", "").isEmpty,
          s"markers grew: ${entries(root, "commits", "")}")
        assert(entries(root, "compactions", "").size == expectLevels)
      }
    }

    val got = index.finalClusters(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val expected = Dedup.embeddingClustersQuery(spark, T.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == expected, "soaked final clusters diverged from the batch n37 answer")
    full.unpersist()
  }

  test("ANN index: 50-batch soak, compaction every 10, bounded files, exact final state") {
    // the fourth state machine (round 14): the n63 IVF-PQ index — one
    // write-once codes table, cell-bucketed levels — must obey the same
    // cadence bounds, with the flat-cost claim trivially structural
    // (per-batch work never reads existing state) and the final index
    // row-identical to the batch n61 encode
    val base = graft.SparkTestSession.tmpDir("n63-soak")
    val root = base.resolve("state")
    val index = new IncrementalIvfPqIndex(root)
    val emb = graft.queries.Tables.embeddings(spark, T.sf0001).persist()

    val batchSecs = new scala.collection.mutable.ArrayBuffer[Double]
    (0 until Batches).foreach { j =>
      val t0 = System.nanoTime()
      index.processBatch(
        emb.filter(pmod(xxhash64(col("vec_id")), lit(Batches)) === j), j.toLong)
      batchSecs += (System.nanoTime() - t0) / 1e9
      assert(entries(root, "codes", "b").size <= Cadence,
        s"parts exceeded the cadence at batch $j")
      if ((j + 1) % Cadence == 0) {
        assert(index.compact(spark).contains(j.toLong))
        val expectLevels = ((j + 1) / Cadence - 1) % 4 + 1
        assert(entries(root, "codes", "b").isEmpty, "parts survived compaction")
        assert(entries(root, "codes", "c").size == expectLevels,
          s"levels at batch $j: ${entries(root, "codes", "c")} (want $expectLevels)")
        if (expectLevels == 1)
          assert(entries(root, "codes", "c") == Seq(s"c$j"),
            s"bin-pack did not collapse the chain: ${entries(root, "codes", "c")}")
        assert(entries(root, "commits", "").isEmpty,
          s"markers grew: ${entries(root, "commits", "")}")
        assert(entries(root, "compactions", "").size == expectLevels)
      }
    }

    // cost flatness (same loose 4x bound as the drift soak — here a ramp
    // would mean per-batch work somehow acquired a state-sized term,
    // which the write path makes structurally impossible)
    val early = batchSecs.slice(5, 15).sum / 10
    val late = batchSecs.slice(Batches - 10, Batches).sum / 10
    assert(late < early * 4,
      f"per-batch encode cost ramped: early=$early%.3f s late=$late%.3f s")

    // final index row-identical to the batch encode, and the query
    // answers the batch n61 result
    val v = transform(col("embedding"), x => x.cast("double"))
    val want = emb.select(col("vec_id"),
        IvfGeometry.Default.cellCol(v).cast("long").as("cell"),
        Pq.encode(v, Pq.md5Codebook, Pq.NCode).as("codes"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2)))
      .sortBy(_._1).toSeq
    val got = index.debugCodes(spark).select("vec_id", "cell", "codes")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2)))
      .sortBy(_._1).toSeq
    assert(got === want, "soaked codes diverged from the batch encode")
    val qv = emb.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0)
    val topGot = index.topK(spark, qv, excludeVecId = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val topWant = ScanSpec().plan(emb)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(topGot === topWant, "soaked index query diverged from batch n61")
    emb.unpersist()
  }

  test("quota index: 50-batch soak, compaction every 10, bounded files, exact final state") {
    // the fifth state machine (round 15): the n67 per-domain quota — one
    // append-only cands table whose batch path never reads prior state
    // (flat cost structural, like the ANN index), with full merges
    // additionally COLLAPSING the level to the resolved keeper set
    val base = graft.SparkTestSession.tmpDir("n67-soak")
    val root = base.resolve("state")
    val quota = new IncrementalQuota(root)
    val docs = graft.queries.Tables.documents(spark, T.sf0001).persist()

    val batchSecs = new scala.collection.mutable.ArrayBuffer[Double]
    (0 until Batches).foreach { j =>
      val t0 = System.nanoTime()
      quota.processBatch(
        docs.filter(pmod(xxhash64(col("doc_id")), lit(Batches)) === j), j.toLong)
      batchSecs += (System.nanoTime() - t0) / 1e9
      assert(entries(root, "cands", "b").size <= Cadence,
        s"parts exceeded the cadence at batch $j")
      if ((j + 1) % Cadence == 0) {
        quota.maintain(spark)
        val expectLevels = ((j + 1) / Cadence - 1) % 4 + 1
        assert(entries(root, "cands", "b").isEmpty, "parts survived compaction")
        assert(entries(root, "cands", "c").size == expectLevels,
          s"levels at batch $j: ${entries(root, "cands", "c")} (want $expectLevels)")
        if (expectLevels == 1) {
          assert(entries(root, "cands", "c") == Seq(s"c$j"),
            s"bin-pack did not collapse the chain: ${entries(root, "cands", "c")}")
          // the full merge's level is the RESOLVED keeper set: raw rows
          // == admitted rows, bounded at hosts × perHost forever
          assert(quota.debugCands(spark).count()
            == quota.finalQuota(spark).count(),
            "full merge did not collapse the level to the resolved set")
        }
        assert(entries(root, "commits", "").isEmpty,
          s"markers grew: ${entries(root, "commits", "")}")
        assert(entries(root, "compactions", "").size == expectLevels)
      }
    }

    val early = batchSecs.slice(5, 15).sum / 10
    val late = batchSecs.slice(Batches - 10, Batches).sum / 10
    assert(late < early * 4,
      f"per-batch quota cost ramped: early=$early%.3f s late=$late%.3f s")

    val got = quota.finalQuota(spark).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val expected = Pipeline.domainCapQuery(spark, T.sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === expected, "soaked final quota diverged from the batch n62 answer")
    docs.unpersist()
  }

  test("drift monitor: 50-batch soak, maintenance every 10, bounded files, exact final state") {
    // the third state machine (round-12 verdict #6): the n48 monitor
    // shares the base machinery, so the same cadence bounds must hold —
    // count versions collapse to the latest, alarm parts consolidate into
    // <= maxLevels tiered levels, markers stop growing with the stream
    val base = graft.SparkTestSession.tmpDir("n48-soak")
    val root = base.resolve("state")
    val monitor = new IncrementalDriftMonitor(root)
    val docs = graft.queries.Tables.documents(spark, T.sf0001).persist()

    val batchSecs = new scala.collection.mutable.ArrayBuffer[Double]
    (0 until Batches).foreach { j =>
      val t0 = System.nanoTime()
      monitor.processBatch(
        docs.filter(pmod(xxhash64(col("doc_id")), lit(Batches)) === j), j.toLong)
      batchSecs += (System.nanoTime() - t0) / 1e9
      assert(entries(root, "drift", "b").size <= Cadence,
        s"alarm parts exceeded the cadence at batch $j")
      if ((j + 1) % Cadence == 0) {
        val logBefore = monitor.driftLog(spark).count()
        monitor.maintain(spark)
        val expectLevels = ((j + 1) / Cadence - 1) % 4 + 1
        assert(entries(root, "drift", "b").isEmpty,
          "alarm parts survived maintenance")
        assert(entries(root, "drift", "c").size == expectLevels,
          s"alarm levels at batch $j: ${entries(root, "drift", "c")}")
        assert(entries(root, "counts", "v").size == 1,
          s"count versions not collapsed: ${entries(root, "counts", "v")}")
        assert(entries(root, "commits", "").size <= 1,
          s"markers grew: ${entries(root, "commits", "")}")
        assert(monitor.driftLog(spark).count() == logBefore,
          "maintenance changed the alarm log")
      }
    }

    // the alarm log kept every batch's rows through 5 maintenance passes
    assert(monitor.driftLog(spark).select("batch_id").distinct().count()
      == Batches)

    // per-batch COST stays flat, not just file counts (round-12 verdict
    // #6): each batch reads only the latest counts snapshot (bounded by
    // vocabulary, not stream length) and the cadence-bounded parts, so a
    // late full cadence must cost about the same as an early one. The 4x
    // bound is deliberately loose — it tolerates shared-VM noise while
    // still catching O(stream) growth, which at this horizon would show
    // as a steady multi-x ramp (the pre-round-12 marker growth shape).
    // The 500-batch horizon measurement lives in ProbeDriftSoak/BASELINE.
    val early = batchSecs.slice(5, 15).sum / 10
    val late = batchSecs.slice(Batches - 10, Batches).sum / 10
    assert(late < early * 4,
      f"per-batch drift cost ramped: early=$early%.3f s late=$late%.3f s")
    val got = monitor.finalDrift(spark).collect().toSet
    val expected = Corpus.snapshotDriftQuery(spark, T.sf0001).collect().toSet
    assert(got == expected, "soaked final drift diverged from the batch n46 answer")
    docs.unpersist()
  }
}
