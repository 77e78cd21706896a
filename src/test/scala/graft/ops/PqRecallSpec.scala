package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ProductQuantization
import graft.{SparkTestSession => T}
import graft.queries.Tables

/**
 * Retrieval-quality gates for the PQ family (round-14 verdict #2): n61
 * and n63 hash-match their own definition, so these are the assertions
 * that the definition RETRIEVES — bulk recall@5 against the exact cosine
 * ranking at sf0.1, and planted near-duplicate recall end-to-end through
 * the n63 incremental index. Every computation here is deterministic
 * (md5 codebook; hash-sampled no-RNG Lloyd training; integer kernels),
 * so the measured values are exact and the floors are real contracts,
 * not statistical hopes. The full four-way decomposition (IVF ceiling /
 * md5 / no-IVF / trained) lives in `ProbePqRecall`; quiet numbers in
 * BASELINE.md ("PQ retrieval quality").
 */
class PqRecallSpec extends AnyFunSuite {
  lazy val spark = T.spark
  private val sf01 = "/root/testdata/sf0.1"

  test("bulk recall@5 at sf0.1: trained codebook clears its floor and beats md5 by >=2.5x; IVF ceiling holds") {
    val emb = Tables.embeddings(spark, sf01)
    val (subDim, nSub, nCode) = (Pq.SubDim, Pq.NSub, Pq.NCode)
    val nProbe = IvfGeometry.Default.nProbe
    val cbMd5 = Pq.md5Codebook
    val cbTr = AnnLadder.trainedPqCodebook(emb, Pq.NCode)
    val v = transform(col("embedding"), x => x.cast("double"))
    // codes and cells from the SHIPPED distributed kernels (one pass);
    // ranking arithmetic below is the driver twins, pinned bit-equal in
    // ProductQuantizationSpec — the numbers are the n61/n66 rankings'
    val rows = emb.select(col("vec_id"), v.as("u"),
        IvfGeometry.Default.cellCol(v).cast("long").as("cell"),
        ProductQuantization.encode(v, cbMd5, subDim, nSub, nCode).as("cm"),
        ProductQuantization.encode(v, cbTr, subDim, nSub, nCode).as("ct"))
      .collect().sortBy(_.getLong(0))
    val n = rows.length
    val ids = rows.map(_.getLong(0))
    val units = rows.map { r =>
      val a = r.getSeq[Double](1).toArray
      val nrm = math.sqrt(a.map(x => x * x).sum)
      if (nrm == 0) a else a.map(_ / nrm)
    }
    val qs = rows.map(r => ProductQuantization.quantize(r.getSeq[Double](1)))
    val cells = rows.map(_.getLong(2))
    val cm = rows.map(_.getSeq[Int](3).toArray)
    val ct = rows.map(_.getSeq[Int](4).toArray)

    val k = 5
    def topIdx(score: Array[Double], self: Int, asc: Boolean,
               keep: Int => Boolean): Set[Int] =
      (0 until n).filter(j => j != self && keep(j))
        .sortBy(j => (if (asc) score(j) else -score(j), ids(j)))
        .take(k).toSet

    // residual machinery (round-15 verdict #2 / round-16): shipped
    // centroids + the n73 trained-residual codebook at k* = 256
    val ctr = AnnLadder.cellCentroids(emb)
    val cbRes = AnnLadder.trainedResidualCodebook(emb, ctr)
    val nCodeHi = cbRes.length / (nSub * subDim)
    val resids = (0 until n).map(j =>
      AnnLadder.residualLocal(qs(j), ctr(cells(j).toInt))).toArray
    val cr = resids.map(r =>
      ProductQuantization.encodeLocal(r, cbRes, subDim, nSub, nCodeHi))

    // every 4th vector as query: 500 deterministic queries — the recall
    // mean is exact either way, the subsample keeps the suite fast
    val queries = (0 until n).filter(ids(_) % 4 == 0)
    var rIvf = 0.0; var rMd5 = 0.0; var rTr = 0.0; var rRes = 0.0
    var rRerank = 0.0
    queries.foreach { self =>
      val u = units(self)
      val cos = units.map { w =>
        var s = 0.0; var i = 0
        while (i < u.length) { s += u(i) * w(i); i += 1 }
        s
      }
      val exact = topIdx(cos, self, asc = false, _ => true)
      val probed = IvfGeometry.Default.probeLocal(qs(self), nProbe).toSet
      val inP: Int => Boolean = j => probed.contains(cells(j))
      val lutM = ProductQuantization.distanceTable(qs(self), cbMd5, subDim, nSub, nCode)
      val lutT = ProductQuantization.distanceTable(qs(self), cbTr, subDim, nSub, nCode)
      def adist(codes: Array[Array[Int]], lut: Array[Long]): Array[Double] =
        codes.map { cs =>
          var s = 0L; var m = 0
          while (m < nSub) { s += lut(m * nCode + cs(m)); m += 1 }
          s.toDouble
        }
      def recall(got: Set[Int]): Double =
        got.intersect(exact).size.toDouble / exact.size
      rIvf += recall(topIdx(cos, self, asc = false, inP))
      rMd5 += recall(topIdx(adist(cm, lutM), self, asc = true, inP))
      rTr += recall(topIdx(adist(ct, lutT), self, asc = true, inP))
      // the n73 ranking: per-probed-cell LUTs from the query's residual
      val lutByCell = probed.toSeq.map { c =>
        c -> ProductQuantization.distanceTable(
          AnnLadder.residualLocal(qs(self), ctr(c.toInt)),
          cbRes, subDim, nSub, nCodeHi)
      }.toMap
      val aRes = Array.tabulate(n) { j =>
        lutByCell.get(cells(j)).fold(Double.MaxValue) { lut =>
          var s = 0L; var m = 0
          while (m < nSub) { s += lut(m * nCodeHi + cr(j)(m)); m += 1 }
          s.toDouble
        }
      }
      rRes += recall(topIdx(aRes, self, asc = true, inP))
      // the n76 ranking: exact re-rank of the trained-residual shortlist
      // (IVFADC-R, R=100) — recall should sit AT the probe ceiling
      val shortlist = (0 until n)
        .filter(j => j != self && inP(j) && aRes(j) != Double.MaxValue)
        .sortBy(j => (aRes(j), ids(j))).take(100)
      rRerank += recall(shortlist.sortBy(j => (-cos(j), ids(j))).take(k).toSet)
    }
    val (ivf, md5R, tr) = (rIvf / queries.size, rMd5 / queries.size, rTr / queries.size)
    val res = rRes / queries.size
    val rr = rRerank / queries.size
    info(f"recall@5 sf0.1 (${queries.size} queries): ivf_exact=$ivf%.4f adc_md5=$md5R%.4f adc_trained=$tr%.4f adc_residual256=$res%.4f rerank_R100=$rr%.4f")
    // floors from the round-15 quiet measurement (ivf 0.72 / md5 0.038 /
    // trained 0.12 on the full query set) with headroom for a future
    // testdata regeneration — uniform-random vectors are the PQ worst
    // case (no cluster structure; 32-bit codes resolve weakly separated
    // neighbors), which is exactly why the trained gate matters
    assert(ivf >= 0.60, f"IVF probe ceiling $ivf%.4f below 0.60")
    assert(md5R >= 0.02, f"md5-codebook recall $md5R%.4f below 0.02")
    assert(tr >= 0.08, f"trained-codebook recall $tr%.4f below 0.08")
    assert(tr >= 2.5 * md5R,
      f"training no longer pays: trained=$tr%.4f vs md5=$md5R%.4f — " +
        "if deliberate, retire n66 and update BASELINE.md")
    // the round-15 verdict #2 target was ≥ 2× n66's 0.120: measured 0.31
    // (the resolution rung — k* 16→256 — carries it; the residual adds
    // ~1% on the uniform fixture, see ProbePqRecall). Floor with the
    // same regeneration headroom policy as the gates above.
    assert(res >= 0.22, f"n73 residual-trained recall $res%.4f below 0.22")
    assert(res >= 2.0 * tr,
      f"the k*=256 residual rung no longer pays: res=$res%.4f vs trained16=$tr%.4f — " +
        "if deliberate, retire n73 and update BASELINE.md")
    // the n76 IVFADC-R gate: the exact re-rank must recover (nearly) the
    // coarse quantizer's ceiling — measured 0.7067 vs 0.7196 full-set;
    // anything far below it means the shortlist stopped capturing
    assert(rr >= 0.55, f"n76 re-rank recall $rr%.4f below 0.55")
    assert(rr >= 0.85 * ivf,
      f"re-rank no longer reaches the probe ceiling: rerank=$rr%.4f vs ivf=$ivf%.4f")
  }

  test("shipped cellCentroids equals the driver-twin computation (residual parity)") {
    // the recall numbers above rank with driver twins; this pins the
    // shipped Spark centroid job (IvfGeometry.cellCol + posexplode + `div`) to
    // the local truncating-mean they assume, at sf0.001
    val emb = Tables.embeddings(spark, T.sf0001)
    val got = AnnLadder.cellCentroids(emb)
    val rows = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getSeq[Float](1).map(_.toDouble))
    val nList = IvfGeometry.Default.nlist
    val want = Array.ofDim[Long](nList, 64)
    val cnt = new Array[Long](nList)
    rows.foreach { v =>
      val q = ProductQuantization.quantize(v)
      val c = IvfGeometry.Default.probeLocal(q, 1).head.toInt
      cnt(c) += 1
      (0 until 64).foreach(i => want(c)(i) += q(i))
    }
    (0 until nList).foreach { c =>
      if (cnt(c) > 0) (0 until 64).foreach(i => want(c)(i) /= cnt(c))
    }
    (0 until nList).foreach { c =>
      assert(got(c).toSeq === want(c).toSeq, s"centroid mismatch in cell $c")
    }
  }

  test("IVF geometry is a real parameter: frozen prefix, plan shape intact at nlist=64 (round 17)") {
    // (a) the md5 direction namespace extends: the nlist=8 directions every
    // oracle-gated query ships are the exact PREFIX of any finer geometry,
    // so parameterizing could not have drifted a frozen plan
    assert(IvfGeometry.dirsFor(8).toSeq ===
      IvfGeometry.dirsFor(64).take(8 * 64).toSeq)
    // (b) probe rule at the finer geometry still picks by (dot DESC, cell)
    val emb = Tables.embeddings(spark, T.sf0001)
    val q = ProductQuantization.quantize(
      emb.filter(col("vec_id") === 0L).select("embedding").head()
        .getSeq[Float](0).map(_.toDouble))
    val dots = IvfGeometry.Fine.dotsLocal(q)
    val probed = IvfGeometry.Fine.probeLocal(q)
    assert(probed.size === 8)
    assert(probed.toSet.subsetOf((0 until 64).map(_.toLong).toSet))
    val best = (0 until 64).minBy(c => (-dots(c), c)).toLong
    assert(probed.head === best)
    // (c) the n76-class plan at nlist=64/nProbe=8 keeps the n73 shape:
    // shuffle-free ranking scan with the per-cell LUT when-chain, and the
    // broadcast re-rank fetch — the geometry dial changes constants, not
    // the plan family
    val df = ScanSpec(Codebook.Trained(Pq.NCodeHi), residual = true,
      rerank = true, IvfGeometry.Fine).plan(emb)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("pq_adc") && p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(df.count() === 5)
  }

  test("planted near-duplicates are retrieved through the n63 incremental index") {
    // the end-to-end asymmetry an ANN index promises a semantic-dedup
    // pipeline: a ~0.9996-cosine partner ingested in a LATER batch must
    // surface in the PQ top-k even though bulk recall on uniform-random
    // neighbors is low — near-identical vectors share cells and (mostly)
    // codes, so their ADC distance sits at/near the planted floor
    val emb = Tables.embeddings(spark, T.sf0001)
    val sample = emb.filter(pmod(xxhash64(col("vec_id")), lit(10)) === 0)
    val copies = Dedup.plantedCopies(sample)
      .select(col("vec_id"),
        transform(col("v"), x => x.cast("float")).as("embedding"),
        lit(0).as("label"))
    val base = T.tmpDir("pq-recall")
    val index = new IncrementalIvfPqIndex(base.resolve("state"))
    index.processBatch(emb, 0L)
    index.processBatch(copies, 1L)   // partners arrive after the corpus
    index.maintain(spark)
    val origs = sample.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    val hits = origs.count { case (id, vec) =>
      index.topK(spark, vec, k = 3, excludeVecId = id)
        .collect().exists(_.getLong(0) == id + Dedup.PlantOffset)
    }
    val recall = hits.toDouble / origs.length
    info(f"planted near-dup recall@3 through the incremental index: $recall%.3f ($hits of ${origs.length})")
    assert(recall >= 0.9, f"planted recall $recall%.3f below the 0.9 gate")
  }

  test("the planted-duplicate floor holds for the TRAINED codebook too (any-codebook theorem)") {
    // the floor theorem is codebook-independent: the query's own codes
    // attain the per-subspace LUT argmin, so an exact duplicate can tie
    // but never be out-ranked — assert it on the shipped n66 plan
    val emb = Tables.embeddings(spark, T.sf0001)
    val dup = emb.filter(col("vec_id") === 0L)
      .select(lit(999999L).as("vec_id"), col("embedding"), col("label"))
    val top = ScanSpec(Codebook.Trained(Pq.NCode)).plan(emb.unionByName(dup)).collect()
    assert(top.nonEmpty)
    assert(top.head.getLong(0) === 999999L,
      s"expected the planted duplicate first, got ${top.toSeq}")
    top.tail.foreach(r => assert(r.getLong(2) >= top.head.getLong(2)))
  }
}
