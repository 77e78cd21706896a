package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.ProductQuantization
import graft.ops.{AnnLadder, IvfGeometry, Pq}

/**
 * Dev tool: retrieval quality of the n61 IVF-PQ path against exact cosine
 * neighbors (round-14 verdict #2/#3 — "gate PQ recall; measure before
 * building a trained codebook"). For every vector as query, compares
 * four rankings' top-k overlap with the exact cosine top-k:
 *
 *   ivf_exact — exact cosine restricted to the probed cells (the coarse
 *               quantizer's recall CEILING: what a perfect codebook
 *               could attain under the same nProbe/nlist dial);
 *   adc_md5   — the shipped n61 ranking (probed cells + md5-codebook ADC);
 *   adc_md5_noivf — md5 ADC with no cell restriction (isolates PQ loss
 *               from coarse-quantizer loss);
 *   adc_trained — ADC with the SHIPPED n66 trained codebook
 *               (`AnnLadder.trainedPqCodebook`: hash-sampled, capped,
 *               deterministic Lloyd's — the Jegou et al. construction),
 *               same geometry, pricing what md5's oracle-reproducibility
 *               costs in retrieval quality;
 *   adc_md5_res / adc_trained_res — RESIDUAL encoding (Jégou et al.
 *               §IV-A, round-15 verdict #2): codes are computed on
 *               q − centroid(cell) (integer per-cell member means), the
 *               query's LUT is rebuilt per probed cell from ITS residual,
 *               with the md5 codebook and a codebook Lloyd-trained on the
 *               residuals respectively. Same kernels, same geometry, one
 *               subtraction at encode time.
 *
 * All arithmetic is the driver twins pinned bit-equal to the kernels
 * (`ProductQuantizationSpec`), so the numbers ARE the shipped ranking's.
 * Results recorded in BASELINE.md; the suite gate (`PqRecallSpec`) pins
 * floors from this probe's quiet numbers.
 *
 * Usage: runMain graft.tools.ProbePqRecall [sfDir] [k]
 */
object ProbePqRecall {

  /** Deterministic CLUSTERED corpus derived from the fixture (the
    * "clustered" mode): every `period`-th vector seeds a cluster, and
    * each cluster gets `period` members seed·(1−eps) + md5noise·eps —
    * real corpora are clustered (near-dup neighborhoods, topic cones),
    * and the uniform fixture is PQ's worst case, so the residual claim
    * ("pays when structure exists") is priced HERE, not assumed. */
  private def clusteredCorpus(spark: org.apache.spark.sql.SparkSession,
                              emb: org.apache.spark.sql.DataFrame,
                              period: Int = 20,
                              eps: Double = 0.15): org.apache.spark.sql.DataFrame = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def noise(seedId: Long, j: Int, i: Int): Double = {
      val hex = md.digest(s"cl_${seedId}_${j}_$i".getBytes("UTF-8"))
        .take(3).map(b => f"$b%02x").mkString.substring(0, 5)
      (java.lang.Long.parseLong(hex, 16).toDouble / 1048576.0 - 0.5)
    }
    val seeds = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1).filter(_._1 % period == 0)
    val rows = seeds.flatMap { case (sid, v) =>
      (0 until period).map { j =>
        val m = v.indices.map(i =>
          (v(i) * (1.0 - eps) + noise(sid, j, i) * eps).toFloat)
        org.apache.spark.sql.Row(sid * period + j, m, 0)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.IntegerType)))
    spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(rows: _*)), schema)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(5)
    val clustered = args.contains("clustered")
    val spark = Sessions.local(8, logLevel = "ERROR")
    val (subDim, nSub, nCode) = (Pq.SubDim, Pq.NSub, Pq.NCode)
    val geo = IvfGeometry.Default
    val nProbe = geo.nProbe
    val cbMd5 = Pq.md5Codebook

    val embRaw = graft.queries.Tables.embeddings(spark, sfDir)
    val emb = if (clustered) clusteredCorpus(spark, embRaw) else embRaw
    if (clustered) System.err.println("[probe] CLUSTERED mode: " +
      s"${emb.count()} derived vectors (100 md5-noise clusters)")
    val rows = emb
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val ids = rows.map(_._1)
    val vecs = rows.map(_._2)
    val n = vecs.length
    val qs = vecs.map(v => ProductQuantization.quantize(v.toSeq))
    val cells = qs.map(q => geo.probeLocal(q, 1).head)
    val units = vecs.map { v =>
      val nrm = math.sqrt(v.map(x => x * x).sum)
      if (nrm == 0) v else v.map(_ / nrm)
    }
    // the SHIPPED n66 construction: hash-sampled, capped, deterministic
    val cbTrained = AnnLadder.trainedPqCodebook(emb, Pq.NCode)

    // residual machinery (round-15 verdict #2): integer per-cell member
    // means (truncating division — the shipped `cellCentroids` rule),
    // residuals against the OWN cell, and a codebook trained on residuals
    val nList = geo.nlist
    val dim = vecs.head.length
    val ctr = Array.ofDim[Long](nList, dim)
    val cnt = new Array[Long](nList)
    (0 until n).foreach { j =>
      val c = cells(j).toInt
      cnt(c) += 1
      var i = 0
      while (i < dim) { ctr(c)(i) += qs(j)(i); i += 1 }
    }
    (0 until nList).foreach { c =>
      if (cnt(c) > 0) {
        var i = 0
        while (i < dim) { ctr(c)(i) /= cnt(c); i += 1 }
      }
    }
    val resids = (0 until n).map { j =>
      val c = cells(j).toInt
      Array.tabulate(dim)(i => qs(j)(i) - ctr(c)(i))
    }.toArray
    val cbTrainedRes = ProductQuantization
      .trainCodebook(resids, subDim, nSub, nCode)
    // the canonical IVFADC code resolution (Jégou et al. use k* = 256
    // codewords = 8 bits per subspace; the shipped n61 geometry's 16 was
    // sized for the DuckDB oracle's md5 rebuild) — priced here at both
    // raw and residual encodings before any geometry change ships
    val nCode256 = 256
    val cbTr256 = ProductQuantization.trainCodebook(qs, subDim, nSub, nCode256)
    val cbTrRes256 = ProductQuantization.trainCodebook(resids, subDim, nSub, nCode256)

    def topIdx(scores: Array[Double], self: Int, asc: Boolean,
               keep: Int => Boolean = _ => true): Seq[Int] =
      (0 until n).filter(j => j != self && keep(j) && !scores(j).isNaN)
        .sortBy(j => (if (asc) scores(j) else -scores(j), ids(j)))
        .take(k)

    var rIvfExact = 0.0; var rMd5 = 0.0; var rMd5NoIvf = 0.0; var rTrained = 0.0
    var rMd5Res = 0.0; var rTrainedRes = 0.0
    var rTrained256 = 0.0; var rTrainedRes256 = 0.0
    var rMd5Rr = 0.0; var rTrainedRes256Rr = 0.0
    val rerankR = 100
    val codesMd5 = qs.map(q => ProductQuantization.encodeLocal(q, cbMd5, subDim, nSub, nCode))
    val codesTr = qs.map(q => ProductQuantization.encodeLocal(q, cbTrained, subDim, nSub, nCode))
    val codesMd5Res = resids.map(r => ProductQuantization.encodeLocal(r, cbMd5, subDim, nSub, nCode))
    val codesTrRes = resids.map(r => ProductQuantization.encodeLocal(r, cbTrainedRes, subDim, nSub, nCode))
    val codesTr256 = qs.map(q => ProductQuantization.encodeLocal(q, cbTr256, subDim, nSub, nCode256))
    val codesTrRes256 = resids.map(r => ProductQuantization.encodeLocal(r, cbTrRes256, subDim, nSub, nCode256))

    (0 until n).foreach { self =>
      val u = units(self)
      val cos = units.map(w => (0 until u.length).map(i => u(i) * w(i)).sum)
      val exact = topIdx(cos, self, asc = false).toSet
      val probed = geo.probeLocal(qs(self), nProbe).toSet
      val inProbe: Int => Boolean = j => probed.contains(cells(j))
      val lutMd5 = ProductQuantization.distanceTable(qs(self), cbMd5, subDim, nSub, nCode)
      val lutTr = ProductQuantization.distanceTable(qs(self), cbTrained, subDim, nSub, nCode)
      def adist(codes: Array[Array[Int]], lut: Array[Long]): Array[Double] =
        codes.map(cs => cs.zipWithIndex.map { case (c, m) => lut(m * nCode + c) }.sum.toDouble)
      val aMd5 = adist(codesMd5, lutMd5)
      val aTr = adist(codesTr, lutTr)
      def recall(got: Seq[Int]): Double = got.toSet.intersect(exact).size.toDouble / exact.size
      rIvfExact += recall(topIdx(cos, self, asc = false, inProbe))
      rMd5 += recall(topIdx(aMd5, self, asc = true, inProbe))
      rMd5NoIvf += recall(topIdx(aMd5, self, asc = true))
      rTrained += recall(topIdx(aTr, self, asc = true, inProbe))
      // residual ranking: the query's LUT is rebuilt per probed cell from
      // its residual IN that cell; a candidate ranks under its own cell's
      // LUT (Jégou et al. §IV-A — asymmetric distance on residuals)
      def adistRes(codes: Array[Array[Int]], cb: Array[Long], nc: Int): Array[Double] = {
        val lutByCell = probed.toSeq.map { c =>
          val r = Array.tabulate(qs(self).length)(i => qs(self)(i) - ctr(c.toInt)(i))
          c -> ProductQuantization.distanceTable(r, cb, subDim, nSub, nc)
        }.toMap
        Array.tabulate(n) { j =>
          lutByCell.get(cells(j)) match {
            case Some(lut) =>
              codes(j).zipWithIndex.map { case (c, m) => lut(m * nc + c) }.sum.toDouble
            case None => Double.NaN // unprobed cell: excluded by inProbe anyway
          }
        }
      }
      rMd5Res += recall(topIdx(adistRes(codesMd5Res, cbMd5, nCode), self, asc = true, inProbe))
      rTrainedRes += recall(topIdx(adistRes(codesTrRes, cbTrainedRes, nCode), self, asc = true, inProbe))
      val lut256 = ProductQuantization.distanceTable(qs(self), cbTr256, subDim, nSub, nCode256)
      val a256 = codesTr256.map(cs => cs.zipWithIndex.map { case (c, m) => lut256(m * nCode256 + c) }.sum.toDouble)
      rTrained256 += recall(topIdx(a256, self, asc = true, inProbe))
      val aRes256 = adistRes(codesTrRes256, cbTrRes256, nCode256)
      rTrainedRes256 += recall(topIdx(aRes256, self, asc = true, inProbe))
      // IVFADC-R (Jégou et al. §V): exact re-rank of the ADC shortlist —
      // take the top-R by ADC inside the probed cells, re-score those R
      // with the exact cosine, cut to k. Recall is then bounded only by
      // shortlist capture (and the IVF ceiling), not by code resolution.
      def rerank(adist: Array[Double], rr: Int): Seq[Int] = {
        val shortlist = (0 until n)
          .filter(j => j != self && inProbe(j) && !adist(j).isNaN)
          .sortBy(j => (adist(j), ids(j))).take(rr)
        shortlist.sortBy(j => (-cos(j), ids(j))).take(k)
      }
      rMd5Rr += recall(rerank(aMd5, rerankR))
      rTrainedRes256Rr += recall(rerank(aRes256, rerankR))
    }
    // the nProbe dial (the "sweep" mode): with the exact re-rank at the
    // probe ceiling, nProbe is THE recall lever — and also the scan-cost
    // lever (candidates scanned ∝ probed-cell mass). One line per
    // setting: the ceiling, the shipped n76 ranking, and the fraction of
    // the corpus the probed cells contain (the 100 TB read fraction).
    if (args.contains("sweep")) {
      (1 to geo.nlist).foreach { np =>
        var rIvfS = 0.0; var rRrS = 0.0; var scanned = 0L
        (0 until n).foreach { self =>
          val u = units(self)
          val cos = units.map { w =>
            var s = 0.0; var i = 0
            while (i < u.length) { s += u(i) * w(i); i += 1 }
            s
          }
          val exact = topIdx(cos, self, asc = false).toSet
          val probedS = geo.probeLocal(qs(self), np).toSet
          val inP: Int => Boolean = j => probedS.contains(cells(j))
          scanned += (0 until n).count(j => j != self && inP(j))
          def recallS(got: Seq[Int]): Double =
            got.toSet.intersect(exact).size.toDouble / exact.size
          rIvfS += recallS(topIdx(cos, self, asc = false, inP))
          val lutByCell = probedS.toSeq.map { c =>
            c -> ProductQuantization.distanceTable(
              Array.tabulate(qs(self).length)(i => qs(self)(i) - ctr(c.toInt)(i)),
              cbTrRes256, subDim, nSub, nCode256)
          }.toMap
          val aRes = Array.tabulate(n) { j =>
            lutByCell.get(cells(j)).fold(Double.NaN) { lut =>
              codesTrRes256(j).zipWithIndex
                .map { case (c, m) => lut(m * nCode256 + c) }.sum.toDouble
            }
          }
          val shortlist = (0 until n)
            .filter(j => j != self && inP(j) && !aRes(j).isNaN)
            .sortBy(j => (aRes(j), ids(j))).take(rerankR)
          rRrS += recallS(shortlist.sortBy(j => (-cos(j), ids(j))).take(k))
        }
        println(f"PQSWEEP nProbe=$np ivf_exact=${rIvfS / n}%.4f " +
          f"rerank_res256_R$rerankR=${rRrS / n}%.4f " +
          f"scan_frac=${scanned.toDouble / (n.toLong * (n - 1))}%.4f")
      }
    }
    println(f"PQRECALL sf=$sfDir${if (clustered) " (CLUSTERED)" else ""} n=$n k=$k nProbe=$nProbe/${geo.nlist} " +
      f"ivf_exact=${rIvfExact / n}%.4f adc_md5=${rMd5 / n}%.4f " +
      f"adc_md5_noivf=${rMd5NoIvf / n}%.4f adc_trained=${rTrained / n}%.4f " +
      f"adc_md5_res=${rMd5Res / n}%.4f adc_trained_res=${rTrainedRes / n}%.4f " +
      f"adc_trained256=${rTrained256 / n}%.4f adc_trained_res256=${rTrainedRes256 / n}%.4f " +
      f"rerank_md5_R$rerankR=${rMd5Rr / n}%.4f rerank_res256_R$rerankR=${rTrainedRes256Rr / n}%.4f")

    // ---- the R dial (round-17 verdict #5): shortlist depth vs recall ----
    // nProbe bounds what the shortlist CAN capture; R bounds what it DOES.
    // One line per R over the shipped trained-res-256 shortlist: recall@k
    // and the re-rank fetch cost (vectors touched per query = min(R,
    // candidates) — the 100 TB point-lookup bill the depth buys).
    if (args.contains("rsweep")) {
      Seq(20, 50, 100, 200, 500).foreach { rr =>
        var rRer = 0.0; var fetched = 0L
        (0 until n).foreach { self =>
          val u = units(self)
          val cos = units.map { w =>
            var s = 0.0; var i = 0
            while (i < u.length) { s += u(i) * w(i); i += 1 }
            s
          }
          val exact = topIdx(cos, self, asc = false).toSet
          val probedS = geo.probeLocal(qs(self), nProbe).toSet
          val inP: Int => Boolean = j => probedS.contains(cells(j))
          val aRes = adistResFor(probedS, codesTrRes256, cbTrRes256, nCode256,
            qs(self), ctr, cells, n)
          val shortlist = (0 until n)
            .filter(j => j != self && inP(j) && !aRes(j).isNaN)
            .sortBy(j => (aRes(j), ids(j))).take(rr)
          fetched += shortlist.size
          val got = shortlist.sortBy(j => (-cos(j), ids(j))).take(k)
          rRer += got.toSet.intersect(exact).size.toDouble / exact.size
        }
        println(f"RSWEEP R=$rr recall_res256=${rRer / n}%.4f " +
          f"fetched_per_query=${fetched.toDouble / n}%.1f")
      }
    }

    // ---- join-scale recall (the n65 vs n78 BASELINE row): k=3, every
    // vector a query — the batched kNN-join semantics, SDC symmetric
    // ranking, vs the exact graph and the probed-cells ceiling ----
    if (args.contains("join")) {
      val pt = ProductQuantization.pairDistanceTable(cbMd5, subDim, nSub, nCode)
      // the trained candidates for a join-scale quality rung, priced
      // BEFORE any query ships (the round-14 measure-first rule): the
      // n66 trained-16 codebook (16 KiB pair table — plan-literal class)
      // and the raw trained-256 one (4 MB pair table — broadcast class)
      val ptTr16 = ProductQuantization.pairDistanceTable(cbTrained, subDim, nSub, nCode)
      val ptTr256 = ProductQuantization.pairDistanceTable(cbTr256, subDim, nSub, nCode256)
      val kJoin = 3
      var rCeil = 0.0; var rSdc = 0.0; var rRer = 0.0
      var rSdcT16 = 0.0; var rRerT16 = 0.0
      var rSdcT256 = 0.0; var rRerT256 = 0.0
      // round-18 (verdict #2): the ASYMMETRIC shortlist at join scale —
      // each probe row keeps its raw integer vector, candidates stay
      // codes (the PqAdcQExpr kernel's semantics) — priced against the
      // SDC shortlists above BEFORE any query ships
      var rAdcMd5 = 0.0; var rAdcT256 = 0.0; var rAdcRes256 = 0.0
      (0 until n).foreach { self =>
        val u = units(self)
        val cos = units.map { w =>
          var s = 0.0; var i = 0
          while (i < u.length) { s += u(i) * w(i); i += 1 }
          s
        }
        val exact = (0 until n).filter(_ != self)
          .sortBy(j => (-cos(j), ids(j))).take(kJoin).toSet
        val probedS = geo.probeLocal(qs(self), nProbe).toSet
        val inP: Int => Boolean = j => probedS.contains(cells(j))
        def sdistOf(codes: Array[Array[Int]], table: Array[Long],
                    nc: Int): Array[Double] =
          Array.tabulate(n) { j =>
            var s = 0L; var m = 0
            while (m < nSub) {
              s += table((m * nc + codes(self)(m)) * nc + codes(j)(m))
              m += 1
            }
            s.toDouble
          }
        val sdist = sdistOf(codesMd5, pt, nCode)
        val sdistT16 = sdistOf(codesTr, ptTr16, nCode)
        val sdistT256 = sdistOf(codesTr256, ptTr256, nCode256)
        def recall(got: Seq[Int]): Double =
          got.toSet.intersect(exact).size.toDouble / exact.size
        val cand = (0 until n).filter(j => j != self && inP(j))
        def sdcAndRerank(sd: Array[Double]): (Double, Double) = {
          val bySd = cand.sortBy(j => (sd(j), ids(j)))
          (recall(bySd.take(kJoin)),
            recall(bySd.take(rerankR).sortBy(j => (-cos(j), ids(j))).take(kJoin)))
        }
        rCeil += recall(cand.sortBy(j => (-cos(j), ids(j))).take(kJoin))
        val (a, b) = sdcAndRerank(sdist); rSdc += a; rRer += b
        val (c, d) = sdcAndRerank(sdistT16); rSdcT16 += c; rRerT16 += d
        val (e, f) = sdcAndRerank(sdistT256); rSdcT256 += e; rRerT256 += f
        // asymmetric shortlists: the query's exact integer vector against
        // candidate codes (adcqLocal = the PqAdcQExpr twin), cut at R,
        // exact re-rank — md5 (oracle-reproducible), raw trained-256,
        // and residual trained-256 (per-CANDIDATE-cell query residual,
        // coherent because the equi-join pins candidate cell = probed cell)
        def adcRerank(ad: Array[Double]): Double = {
          val short = cand.filter(j => !ad(j).isNaN)
            .sortBy(j => (ad(j), ids(j))).take(rerankR)
          recall(short.sortBy(j => (-cos(j), ids(j))).take(kJoin))
        }
        val adMd5 = Array.tabulate(n)(j => ProductQuantization
          .adcqLocal(qs(self), codesMd5(j), cbMd5, subDim, nSub, nCode).toDouble)
        val adT256 = Array.tabulate(n)(j => ProductQuantization
          .adcqLocal(qs(self), codesTr256(j), cbTr256, subDim, nSub, nCode256).toDouble)
        val adRes256 = adistResFor(probedS, codesTrRes256, cbTrRes256,
          nCode256, qs(self), ctr, cells, n)
        rAdcMd5 += adcRerank(adMd5)
        rAdcT256 += adcRerank(adT256)
        rAdcRes256 += adcRerank(adRes256)
      }
      println(f"JOINRECALL k=$kJoin ivf_exact=${rCeil / n}%.4f " +
        f"sdc_n65=${rSdc / n}%.4f rerank_n78_R$rerankR=${rRer / n}%.4f " +
        f"sdc_trained16=${rSdcT16 / n}%.4f rerank_trained16_R$rerankR=${rRerT16 / n}%.4f " +
        f"sdc_trained256=${rSdcT256 / n}%.4f rerank_trained256_R$rerankR=${rRerT256 / n}%.4f")
      println(f"JOINADC k=$kJoin rerank_adc_md5_R$rerankR=${rAdcMd5 / n}%.4f " +
        f"rerank_adc_trained256_R$rerankR=${rAdcT256 / n}%.4f " +
        f"rerank_adc_res256_R$rerankR=${rAdcRes256 / n}%.4f")
    }

    // ---- one measured rung of IVF geometry scaling (round-17 verdict
    // #2): nlist=<g> via args, everything retrained AT that geometry —
    // cells, centroids, residual codebook — then the nProbe dial charted:
    // ceiling / trained-256 raw / trained-res-256 / re-rank / scan_frac.
    // The residual claim re-tests here (vs raw 256 at the same nlist):
    // at nlist=8 each cell centroid averages ~12 unrelated clusters and
    // residuals measured NEUTRAL; finer cells should flip it.
    args.find(_.startsWith("nlist=")).map(_.drop(6).toInt).foreach { nlistG =>
      val cellsG = qs.map(q =>
        IvfGeometry(nlistG, 1).probeLocal(q).head)
      val dim = vecs.head.length
      val ctrG = Array.ofDim[Long](nlistG, dim)
      val cntG = new Array[Long](nlistG)
      (0 until n).foreach { j =>
        val c = cellsG(j).toInt
        cntG(c) += 1
        var i = 0
        while (i < dim) { ctrG(c)(i) += qs(j)(i); i += 1 }
      }
      (0 until nlistG).foreach { c =>
        if (cntG(c) > 0) {
          var i = 0
          while (i < dim) { ctrG(c)(i) /= cntG(c); i += 1 }
        }
      }
      val residsG = (0 until n).map { j =>
        val c = cellsG(j).toInt
        Array.tabulate(dim)(i => qs(j)(i) - ctrG(c)(i))
      }.toArray
      val cbRawG = ProductQuantization.trainCodebook(qs, subDim, nSub, nCode256)
      val cbResG = ProductQuantization.trainCodebook(residsG, subDim, nSub, nCode256)
      val codesRawG = qs.map(q =>
        ProductQuantization.encodeLocal(q, cbRawG, subDim, nSub, nCode256))
      val codesResG = residsG.map(r =>
        ProductQuantization.encodeLocal(r, cbResG, subDim, nSub, nCode256))
      Seq(1, 2, 4, 8, 16, 32, 64).filter(_ <= nlistG).foreach { np =>
        var rCeil = 0.0; var rRaw = 0.0; var rRes = 0.0; var rRer = 0.0
        var scanned = 0L
        (0 until n).foreach { self =>
          val u = units(self)
          val cos = units.map { w =>
            var s = 0.0; var i = 0
            while (i < u.length) { s += u(i) * w(i); i += 1 }
            s
          }
          val exact = topIdx(cos, self, asc = false).toSet
          val probedG = IvfGeometry(nlistG, np).probeLocal(qs(self)).toSet
          val inP: Int => Boolean = j => probedG.contains(cellsG(j))
          scanned += (0 until n).count(j => j != self && inP(j))
          def recall(got: Seq[Int]): Double =
            got.toSet.intersect(exact).size.toDouble / exact.size
          rCeil += recall(topIdx(cos, self, asc = false, inP))
          // raw trained-256 ADC: one LUT for all cells
          val lutRaw = ProductQuantization.distanceTable(
            qs(self), cbRawG, subDim, nSub, nCode256)
          val aRaw = Array.tabulate(n) { j =>
            var s = 0L; var m = 0
            while (m < nSub) { s += lutRaw(m * nCode256 + codesRawG(j)(m)); m += 1 }
            s.toDouble
          }
          rRaw += recall(topIdx(aRaw, self, asc = true, inP))
          // residual trained-256: per-probed-cell LUTs
          val aRes = adistResFor(probedG, codesResG, cbResG, nCode256,
            qs(self), ctrG, cellsG, n)
          rRes += recall(topIdx(aRes, self, asc = true, inP))
          val short = (0 until n)
            .filter(j => j != self && inP(j) && !aRes(j).isNaN)
            .sortBy(j => (aRes(j), ids(j))).take(rerankR)
          rRer += recall(short.sortBy(j => (-cos(j), ids(j))).take(k))
        }
        println(f"GEOM nlist=$nlistG nProbe=$np ivf_exact=${rCeil / n}%.4f " +
          f"adc_trained256=${rRaw / n}%.4f adc_trained_res256=${rRes / n}%.4f " +
          f"rerank_res256_R$rerankR=${rRer / n}%.4f " +
          f"scan_frac=${scanned.toDouble / (n.toLong * (n - 1))}%.4f")
      }
    }
    spark.stop()
  }

  /** Residual ADC distances for one query under a probed-cell set: one
    * LUT per probed cell from the query's residual IN that cell; NaN for
    * unprobed candidates (excluded by the probe filter anyway). Shared by
    * the main decomposition, the R sweep, and the geometry rung. */
  private def adistResFor(probed: Set[Long], codes: Array[Array[Int]],
                          cb: Array[Long], nc: Int, q: Array[Long],
                          ctr: Array[Array[Long]], cells: Array[Long],
                          n: Int): Array[Double] = {
    val (subDim, nSub) = (Pq.SubDim, Pq.NSub)
    val lutByCell = probed.toSeq.map { c =>
      val r = Array.tabulate(q.length)(i => q(i) - ctr(c.toInt)(i))
      c -> ProductQuantization.distanceTable(r, cb, subDim, nSub, nc)
    }.toMap
    Array.tabulate(n) { j =>
      lutByCell.get(cells(j)) match {
        case Some(lut) =>
          var s = 0L; var m = 0
          while (m < nSub) { s += lut(m * nc + codes(j)(m)); m += 1 }
          s.toDouble
        case None => Double.NaN
      }
    }
  }
}
