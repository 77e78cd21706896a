package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession => T}
import graft.queries.Tables

/** The n61 IVF-PQ kernels: PQ codes and ADC distances must be 64-bit
  * integer computations end to end so the DuckDB oracle rebuilds the
  * ranking bit-for-bit (the [[QuantizedDotsSpec]] determinism treatment),
  * and the planted-duplicate theorem — a duplicate of the query attains
  * the global ADC minimum — must hold on the real query plan. */
class ProductQuantizationSpec extends AnyFunSuite {
  lazy val spark = T.spark

  private val subDim = 8
  private val nSub = 8
  private val nCode = 16
  private val dim = nSub * subDim

  // md5-derived integer codebook — the Similarity `pq_` construction
  private val codebook: Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nSub * nCode * subDim) { idx =>
      val m = idx / (nCode * subDim)
      val c = (idx / subDim) % nCode
      val i = idx % subDim
      val hex = md.digest(s"pq_${m}_${c}_${i}".getBytes("UTF-8"))
        .take(3).map(b => f"$b%02x").mkString.substring(0, 5)
      java.lang.Long.parseLong(hex, 16) - 524288L
    }
  }

  test("spec codebook matches the Similarity construction") {
    assert(java.util.Arrays.equals(codebook,
      graft.ops.Pq.md5Codebook))
    assert((graft.ops.Pq.SubDim, graft.ops.Pq.NSub, graft.ops.Pq.NCode) ===
      ((subDim, nSub, nCode)))
  }

  private def vecs() = Tables.embeddings(spark, T.sf0001)
    .select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("u"))

  test("pq_encode matches the driver argmin reference (codegen path)") {
    val rows = vecs()
      .select(col("vec_id"), col("u"),
        ProductQuantization.encode(col("u"), codebook, subDim, nSub, nCode)
          .as("codes"))
      .collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val q = ProductQuantization.quantize(r.getSeq[Double](1))
      val want = ProductQuantization.encodeLocal(q, codebook, subDim, nSub, nCode)
      assert(r.getSeq[Int](2) === want.toSeq, s"vec ${r.getLong(0)}")
    }
  }

  test("pq_adc matches the driver LUT-sum reference and composes with pq_encode") {
    // the LUT of vector 0, built exactly as the n61 query builds it
    val q0 = ProductQuantization.quantize(
      vecs().filter(col("vec_id") === 0L).head().getSeq[Double](1))
    val lut = ProductQuantization.distanceTable(q0, codebook, subDim, nSub, nCode)
    val rows = vecs()
      .select(col("vec_id"), col("u"),
        ProductQuantization.adc(
          ProductQuantization.encode(col("u"), codebook, subDim, nSub, nCode),
          lut, nSub, nCode).as("adist"))
      .collect()
    rows.foreach { r =>
      val q = ProductQuantization.quantize(r.getSeq[Double](1))
      val codes = ProductQuantization.encodeLocal(q, codebook, subDim, nSub, nCode)
      val want = codes.zipWithIndex.map { case (c, m) => lut(m * nCode + c) }.sum
      assert(r.getLong(2) === want, s"vec ${r.getLong(0)}")
    }
    // self-ADC is the global minimum: vector 0's own codes pick the
    // per-subspace argmin of its own LUT by definition
    val self = rows.find(_.getLong(0) == 0L).get.getLong(2)
    val floor = (0 until nSub)
      .map(m => (0 until nCode).map(c => lut(m * nCode + c)).min).sum
    assert(self === floor)
    rows.foreach(r => assert(r.getLong(2) >= floor))
  }

  test("pq_adc null contract: wrong arity and out-of-range codes are null, not errors") {
    val lut = Array.fill(nSub * nCode)(1L)
    val schema = StructType(Seq(
      StructField("codes", ArrayType(IntegerType, containsNull = true))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(Seq.fill(nSub)(0).toArray.toSeq),       // valid: all-zero codes
        Row(Seq.fill(nSub)(nCode).toArray.toSeq),   // out of range
        Row(Seq(0, 1).toArray.toSeq),               // wrong arity
        Row(null)),                                 // null input
      schema)
    val got = df.select(
      ProductQuantization.adc(col("codes"), lut, nSub, nCode).as("adist"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq === Seq(Some(nSub.toLong), None, None, None))
  }

  test("pq_sdc matches the driver pair-table reference; table is symmetric with a zero diagonal") {
    val pt = ProductQuantization.pairDistanceTable(codebook, subDim, nSub, nCode)
    // structural identities of the codeword-pair table
    (0 until nSub).foreach { m =>
      (0 until nCode).foreach { c1 =>
        assert(pt((m * nCode + c1) * nCode + c1) === 0L)
        (0 until nCode).foreach { c2 =>
          assert(pt((m * nCode + c1) * nCode + c2)
            === pt((m * nCode + c2) * nCode + c1))
        }
      }
    }
    // the distributed kernel vs the driver sum, on real-table code pairs:
    // every vector against vector 0's codes (the n65 verify shape)
    val rows = vecs()
      .select(col("vec_id"), col("u"),
        ProductQuantization.encode(col("u"), codebook, subDim, nSub, nCode)
          .as("codes"))
      .collect()
    val codes0 = rows.find(_.getLong(0) == 0L).get.getSeq[Int](2).toArray
    val c0 = org.apache.spark.sql.functions.lit(codes0)
    val got = vecs()
      .select(col("vec_id"),
        ProductQuantization.sdc(
          ProductQuantization.encode(col("u"), codebook, subDim, nSub, nCode),
          c0, pt, nSub, nCode).as("sdist"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val cs = r.getSeq[Int](2)
      val want = cs.zipWithIndex.map { case (c, m) =>
        pt((m * nCode + c) * nCode + codes0(m)) }.sum
      assert(got(r.getLong(0)) === want, s"vec ${r.getLong(0)}")
    }
    // sdist(a, a) = 0: identical codes are SDC-indistinguishable
    assert(got(0L) === 0L)
  }

  test("pq_sdc null contract: wrong arity and out-of-range codes on either side are null") {
    val pt = Array.fill(nSub * nCode * nCode)(1L)
    val okCodes = Seq.fill(nSub)(0)
    val schema = StructType(Seq(
      StructField("a", ArrayType(IntegerType, containsNull = true)),
      StructField("b", ArrayType(IntegerType, containsNull = true))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(okCodes, okCodes),                 // valid pair
        Row(okCodes, Seq.fill(nSub)(nCode)),   // right out of range
        Row(Seq(0, 1), okCodes),               // left wrong arity
        Row(null, okCodes),                    // left null
        Row(okCodes, null)),                   // right null
      schema)
    val got = df.select(
      ProductQuantization.sdc(col("a"), col("b"), pt, nSub, nCode).as("s"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq === Seq(Some(nSub.toLong), None, None, None, None))
  }

  test("pq_adc_q matches the driver reference and equals the query-LUT lookup (the oracle's d2 reuse)") {
    // every vector's integer q against vector 0's codes — the n81 verify
    // shape: the query side stays an exact integer vector, candidates codes
    val rows = vecs()
      .select(col("vec_id"), col("u"),
        ProductQuantization.encode(col("u"), codebook, subDim, nSub, nCode)
          .as("codes"))
      .collect()
    val codes0 = rows.find(_.getLong(0) == 0L).get.getSeq[Int](2).toArray
    val qInt = transform(col("u"), x => floor(x * lit(1048576.0)).cast("long"))
    val got = vecs()
      .select(col("vec_id"),
        ProductQuantization.adcq(qInt, lit(codes0), codebook,
          subDim, nSub, nCode).as("adist"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val q = ProductQuantization.quantize(r.getSeq[Double](1))
      val want = ProductQuantization.adcqLocal(q, codes0, codebook,
        subDim, nSub, nCode)
      assert(got(r.getLong(0)) === want, s"vec ${r.getLong(0)}")
      // the identity the n81 oracle leans on: the direct asymmetric sum IS
      // the query's d2 table looked up at the candidate's codes
      val lut = ProductQuantization.distanceTable(q, codebook, subDim, nSub, nCode)
      assert(want === codes0.zipWithIndex
        .map { case (c, m) => lut(m * nCode + c) }.sum)
    }
  }

  test("pq_adc_q null contract: wrong arity on either side and out-of-range codes are null") {
    val okQ = Seq.fill(dim)(0L)
    val okCodes = Seq.fill(nSub)(0)
    val schema = StructType(Seq(
      StructField("q", ArrayType(LongType, containsNull = true)),
      StructField("codes", ArrayType(IntegerType, containsNull = true))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(okQ, okCodes),                   // valid pair
        Row(okQ, Seq.fill(nSub)(nCode)),     // code out of range
        Row(okQ, Seq(0, 1)),                 // codes wrong arity
        Row(Seq(0L, 1L), okCodes),           // q wrong arity
        Row(null, okCodes),                  // q null
        Row(okQ, null)),                     // codes null
      schema)
    val want0 = (0 until nSub)
      .map(m => (0 until subDim).map { i =>
        val cw = codebook((m * nCode) * subDim + i); cw * cw }.sum).sum
    val got = df.select(
      ProductQuantization.adcq(col("q"), col("codes"), codebook,
        subDim, nSub, nCode).as("a"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq === Seq(Some(want0), None, None, None, None, None))
  }

  test("pq_encode length contract: a wrong-length vector is NULL, and a malformed row never displaces real neighbors") {
    // the explicit contract (round-14 advice): the old zero-pad semantics
    // silently disagreed with the DuckDB oracle's join (absent components
    // contribute nothing there, cb^2 here) — off-contract input must be
    // null in BOTH engines' eyes, i.e. absent from the ranking
    val schema = StructType(Seq(
      StructField("v", ArrayType(DoubleType, containsNull = true))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(Seq.fill(dim)(0.25)),       // on contract
        Row(Seq.fill(dim / 2)(0.25)),   // short
        Row(Seq.fill(dim + 1)(0.25)),   // long
        Row(Seq.empty[Double])),        // empty
      schema)
    val got = df.select(
      ProductQuantization.encode(col("v"), codebook, subDim, nSub, nCode)
        .as("codes")).collect().map(!_.isNullAt(0))
    assert(got.toSeq === Seq(true, false, false, false))

    // end to end: a wrong-length vector lands in a valid IVF cell (the
    // cell dots ignore missing components) but its codes/adist are null —
    // it must be DROPPED from the top-k, not sorted nulls-first into
    // rank 1, and the rest of the ranking must be byte-identical
    val emb = Tables.embeddings(spark, T.sf0001)
    val malformed = emb.limit(1)
      .select(lit(888888L).as("vec_id"),
        slice(col("embedding"), 1, dim / 2).as("embedding"), col("label"))
    val base = graft.ops.ScanSpec().plan(emb)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val withBad = graft.ops.ScanSpec().plan(emb.unionByName(malformed))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(!withBad.exists(_._1 == 888888L),
      s"malformed row reached the top-k: $withBad")
    assert(withBad === base, "malformed row perturbed the ranking")
  }

  test("planted duplicate of the query ranks first in ivfPqTopK") {
    val emb = Tables.embeddings(spark, T.sf0001)
    val dup = emb.filter(col("vec_id") === 0L)
      .select(lit(999999L).as("vec_id"), col("embedding"), col("label"))
    val top = graft.ops.ScanSpec().plan(emb.unionByName(dup))
      .collect()
    assert(top.nonEmpty)
    // the duplicate shares the query's IVF cell (identical integer dots)
    // so it survives probing, and its codes attain the ADC floor — it can
    // be tied (same adist) but never out-ranked; no fixture vector ties
    // the 64-component floor, so rank 1 is the duplicate itself
    assert(top.head.getLong(0) === 999999L,
      s"expected the planted duplicate first, got ${top.toSeq}")
    val dupDist = top.head.getLong(2)
    top.tail.foreach(r => assert(r.getLong(2) >= dupDist))
  }

  test("ivfDotsLocal / probeCellsLocal match the QuantizedDots kernel and the n07 probe rule") {
    val geo = graft.ops.IvfGeometry.Default
    val (dirs, nList, nProbe) = (geo.dirs, geo.nlist, geo.nProbe)
    val rows = vecs()
      .select(col("vec_id"), col("u"),
        QuantizedDots(col("u"), dirs, 64, nList).as("dots"))
      .collect()
    rows.foreach { r =>
      val q = ProductQuantization.quantize(r.getSeq[Double](1))
      val local = geo.dotsLocal(q)
      assert(r.getSeq[Long](2) === local.toSeq, s"vec ${r.getLong(0)}")
      // the probe rule: top nProbe by (dot DESC, cell ASC)
      val want = local.zipWithIndex.sortBy { case (d, c) => (-d, c) }
        .take(nProbe).map(_._2.toLong).toSeq
      assert(geo.probeLocal(q, nProbe) === want)
    }
  }

  test("ADC ranking carries signal: top-10 by adist beats the candidate mean on true distance") {
    // exact integer squared distance to vector 0, driver-side, as truth
    val all = vecs().collect()
    val q0 = ProductQuantization.quantize(
      all.find(_.getLong(0) == 0L).get.getSeq[Double](1))
    def trueD2(xs: Seq[Double]): Double = {
      val q = ProductQuantization.quantize(xs)
      q.indices.map { i => val d = (q(i) - q0(i)).toDouble; d * d }.sum
    }
    val truth = all.filter(_.getLong(0) != 0L)
      .map(r => r.getLong(0) -> trueD2(r.getSeq[Double](1))).toMap
    val top = graft.ops.ScanSpec(k = 10)
      .plan(Tables.embeddings(spark, T.sf0001))
      .collect().map(_.getLong(0))
    val topMean = top.map(truth).sum / top.length
    val allMean = truth.values.sum / truth.size
    assert(topMean < allMean,
      f"ADC top-10 true-distance mean $topMean%.3g not below corpus mean $allMean%.3g")
  }
}
