package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ProductQuantization
import graft.{SparkTestSession => T}
import graft.queries.Tables

/**
 * n78 — batched IVFADC-R (round-16 verdict #1): the n65 PQ-SDC join cut
 * at R per probe row, shortlist ids fetched by shuffle-hash joins, exact
 * integer re-rank. Three contracts:
 *   1. the distributed plan equals the driver-twin computation exactly
 *      (shortlist boundary, re-rank scores, final order — the in-suite
 *      form of the DuckDB hash gate);
 *   2. planted near-duplicates survive the two-stage pipeline;
 *   3. the re-rank RECOVERS recall the SDC code ranking loses — the
 *      whole point of adding the stage at join scale.
 * Plan shape (shuffle-hash fetch, single dot site) is pinned in
 * `PlanShapeSpec`; bulk numbers at sf0.1 live in BASELINE.md.
 */
class PqJoinRerankSpec extends AnyFunSuite {
  lazy val spark = T.spark

  private val n65 = JoinSpec.PqCodes(Codebook.Md5, Ranking.Sdc, rerank = false)
  private val n78 = JoinSpec.PqCodes(Codebook.Md5, Ranking.Sdc, rerank = true)
  private val n80 = JoinSpec.PqCodes(Codebook.Trained(256), Ranking.Sdc, rerank = true)
  private val n81 = JoinSpec.PqCodes(Codebook.Md5, Ranking.Adc, rerank = true)
  private val n84 = JoinSpec.PqCodes(Codebook.Trained(256), Ranking.Adc, rerank = true)

  /** Driver twin of the n78/n80 pipeline over a collected corpus: codes,
    * probe sets, SDC shortlist at R, exact quantized-dot re-rank — all
    * from the same local helpers the oracle arithmetic is pinned to.
    * Defaults to the md5 codebook (n78); pass a trained one for n80. */
  private def localRerank(rows: Array[(Long, Array[Double])], k: Int, r: Int,
                          codebook: Array[Long] = null, nCodeIn: Int = 0,
                          asymmetric: Boolean = false)
      : Seq[(Long, Long, Long, Long)] = {
    val (subDim, nSub, nCodeMd5) = (Pq.SubDim, Pq.NSub, Pq.NCode)
    val nProbe = IvfGeometry.Default.nProbe
    val cb = Option(codebook).getOrElse(Pq.md5Codebook)
    val nCode = if (nCodeIn > 0) nCodeIn else nCodeMd5
    val pt = ProductQuantization.pairDistanceTable(cb, subDim, nSub, nCode)
    val ids = rows.map(_._1)
    val n = ids.length
    val qs = rows.map(rw => ProductQuantization.quantize(rw._2.toSeq))
    val cells = qs.map(q => IvfGeometry.Default.probeLocal(q, 1).head)
    val probed = qs.map(q => IvfGeometry.Default.probeLocal(q, nProbe).toSet)
    val codes = qs.map(q =>
      ProductQuantization.encodeLocal(q, cb, subDim, nSub, nCode))
    // the n60/exactRerank quantized unit: sequential sum of squares, one
    // division, floor(u * 2^20)
    val qu = rows.map { case (_, v) =>
      val nrm = math.sqrt(v.map(x => x * x).sum)
      (if (nrm == 0) v else v.map(_ / nrm))
        .map(x => math.floor(x * 1048576.0).toLong)
    }
    (0 until n).flatMap { i =>
      val sdists = (0 until n).filter(j => j != i && probed(i).contains(cells(j)))
        .map { j =>
          if (asymmetric)
            // the n81/n84 shortlist: query's exact integer vector against
            // candidate codes (the PqAdcQExpr twin)
            j -> ProductQuantization.adcqLocal(qs(i), codes(j), cb,
              subDim, nSub, nCode)
          else {
            var s = 0L; var m = 0
            while (m < nSub) {
              s += pt((m * nCode + codes(i)(m)) * nCode + codes(j)(m)); m += 1
            }
            j -> s
          }
        }
      val short = sdists.sortBy { case (j, s) => (s, ids(j)) }.take(r).map(_._1)
      val rescored = short.map { j =>
        var d = 0L; var x = 0
        while (x < 64) { d += qu(i)(x) * qu(j)(x); x += 1 }
        j -> d
      }
      rescored.sortBy { case (j, d) => (-d, ids(j)) }.take(k).zipWithIndex
        .map { case ((j, d), rk) => (ids(i), (rk + 1).toLong, ids(j), d) }
    }
  }

  test("n78 distributed join equals the driver-twin computation at sf0.001") {
    val emb = Tables.embeddings(spark, T.sf0001)
    val got = n78.plan(emb).collect()
      .map(rw => (rw.getLong(0), rw.getLong(1), rw.getLong(2), rw.getLong(3)))
      .toSeq
    val rows = emb.select(col("vec_id"), col("embedding")).collect()
      .map(rw => rw.getLong(0) -> rw.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val want = localRerank(rows, k = 3, r = 100)
    assert(got.size === want.size)
    assert(got === want)
  }

  test("n78 planted near-duplicates surface through shortlist + re-rank") {
    // a ~0.9996-cosine partner shares its original's cell and (mostly)
    // codes, so it must survive the R-cut and then WIN the exact re-rank
    val emb = Tables.embeddings(spark, T.sf0001)
    val sample = emb.filter(pmod(xxhash64(col("vec_id")), lit(10)) === 0)
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .unionByName(Dedup.plantedCopies(sample)
        .select(col("vec_id"),
          transform(col("v"), x => x.cast("float")).as("embedding")))
    val hits = n78.plan(corpus)
      .filter(col("nbr") === col("vec_id") + lit(Dedup.PlantOffset))
      .filter(col("rank") === 1)
      .count()
    val pairs = sample.count()
    val recall = hits.toDouble / pairs
    info(f"n78 planted partner at rank 1: $recall%.3f ($hits of $pairs)")
    assert(recall >= 0.9, f"planted rank-1 recall $recall%.3f below 0.9")
  }

  test("n80 trained-codebook join equals the driver-twin computation at sf0.001") {
    // same two-stage plan, Lloyd-trained k*=256 codewords: deterministic
    // training (hash sample, sorted collect, fixed iterations) means the
    // distributed result must equal the local recomputation exactly —
    // the bound for the rows-only n80 (training is SQL-inexpressible)
    val emb = Tables.embeddings(spark, T.sf0001)
    val cb = AnnLadder.trainedPqCodebook(emb, 256)
    val got = n80.plan(emb).collect()
      .map(rw => (rw.getLong(0), rw.getLong(1), rw.getLong(2), rw.getLong(3)))
      .toSeq
    val rows = emb.select(col("vec_id"), col("embedding")).collect()
      .map(rw => rw.getLong(0) -> rw.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val want = localRerank(rows, k = 3, r = 100, codebook = cb, nCodeIn = 256)
    assert(got.size === want.size)
    assert(got === want)
  }

  test("n80 planted near-duplicates surface through the trained two-stage join") {
    val emb = Tables.embeddings(spark, T.sf0001)
    val sample = emb.filter(pmod(xxhash64(col("vec_id")), lit(10)) === 0)
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .unionByName(Dedup.plantedCopies(sample)
        .select(col("vec_id"),
          transform(col("v"), x => x.cast("float")).as("embedding")))
    val hits = n80.plan(corpus)
      .filter(col("nbr") === col("vec_id") + lit(Dedup.PlantOffset))
      .filter(col("rank") === 1)
      .count()
    val pairs = sample.count()
    val recall = hits.toDouble / pairs
    info(f"n80 planted partner at rank 1: $recall%.3f ($hits of $pairs)")
    assert(recall >= 0.9, f"planted rank-1 recall $recall%.3f below 0.9")
  }

  test("n78 re-rank recovers recall the n65 code ranking loses") {
    // vs the exact n39 graph at sf0.001: the SDC-only top-3 (n65) sits at
    // the code ceiling; the re-ranked top-3 must approach the PROBE
    // ceiling. Measured: n65 ~0.10, n78 ~0.65 (probed-cells exact ~0.66).
    val exact = Similarity.knnGraphQuery(spark, T.sf0001)
      .select("vec_id", "nbr").collect()
      .map(rw => (rw.getLong(0), rw.getLong(1))).toSet
    spark.catalog.clearCache()
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("vec_id", "nbr").collect()
        .map(rw => (rw.getLong(0), rw.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val emb = Tables.embeddings(spark, T.sf0001)
    val rSdc = recallOf(n65.plan(emb))
    val rRer = recallOf(n78.plan(emb))
    info(f"recall@3 vs exact n39 at sf0.001: n65 sdc=$rSdc%.3f n78 rerank=$rRer%.3f")
    assert(rRer >= 0.4, f"n78 recall $rRer%.3f below the 0.4 floor")
    assert(rRer >= 2.0 * rSdc,
      f"the re-rank stage no longer pays at join scale: n78=$rRer%.3f vs n65=$rSdc%.3f — " +
        "if deliberate, retire n78 and update BASELINE.md")
    // n81 (round 18): the ASYMMETRIC shortlist keeps the query side exact,
    // so its capture can only match or beat the SDC shortlist's under the
    // same probe structure and R (at sf0.001 R covers the candidate set
    // and both sit at the probe ceiling; the bulk gap is priced at sf0.1
    // in BASELINE round-18's JOINADC row)
    val rAdc = recallOf(n81.plan(emb))
    info(f"recall@3 vs exact n39 at sf0.001: n81 adc-rerank=$rAdc%.3f")
    assert(rAdc >= rRer,
      f"the asymmetric shortlist lost to SDC: n81=$rAdc%.3f vs n78=$rRer%.3f")
  }

  test("n84 trained asymmetric join equals the driver-twin computation at sf0.001") {
    // the n80 bound applied to the ADC-shortlist variant: deterministic
    // training ⇒ the distributed result must equal the local
    // recomputation exactly — the gate for the rows-only n84
    val emb = Tables.embeddings(spark, T.sf0001)
    val cb = AnnLadder.trainedPqCodebook(emb, 256)
    val got = n84.plan(emb).collect()
      .map(rw => (rw.getLong(0), rw.getLong(1), rw.getLong(2), rw.getLong(3)))
      .toSeq
    val rows = emb.select(col("vec_id"), col("embedding")).collect()
      .map(rw => rw.getLong(0) -> rw.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val want = localRerank(rows, k = 3, r = 100, codebook = cb, nCodeIn = 256,
      asymmetric = true)
    assert(got.size === want.size)
    assert(got === want)
  }

  test("n84 planted near-duplicates surface through the trained asymmetric join") {
    val emb = Tables.embeddings(spark, T.sf0001)
    val sample = emb.filter(pmod(xxhash64(col("vec_id")), lit(10)) === 0)
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .unionByName(Dedup.plantedCopies(sample)
        .select(col("vec_id"),
          transform(col("v"), x => x.cast("float")).as("embedding")))
    val hits = n84.plan(corpus)
      .filter(col("nbr") === col("vec_id") + lit(Dedup.PlantOffset))
      .filter(col("rank") === 1)
      .count()
    val pairs = sample.count()
    val recall = hits.toDouble / pairs
    info(f"n84 planted partner at rank 1: $recall%.3f ($hits of $pairs)")
    assert(recall >= 0.9, f"planted rank-1 recall $recall%.3f below 0.9")
  }

  test("n81 planted near-duplicates surface through the asymmetric two-stage join") {
    val emb = Tables.embeddings(spark, T.sf0001)
    val sample = emb.filter(pmod(xxhash64(col("vec_id")), lit(10)) === 0)
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .unionByName(Dedup.plantedCopies(sample)
        .select(col("vec_id"),
          transform(col("v"), x => x.cast("float")).as("embedding")))
    val hits = n81.plan(corpus)
      .filter(col("nbr") === col("vec_id") + lit(Dedup.PlantOffset))
      .filter(col("rank") === 1)
      .count()
    val pairs = sample.count()
    val recall = hits.toDouble / pairs
    info(f"n81 planted partner at rank 1: $recall%.3f ($hits of $pairs)")
    assert(recall >= 0.9, f"planted rank-1 recall $recall%.3f below 0.9")
  }
}
