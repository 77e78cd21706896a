package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession => T}
import graft.queries.Tables

/** The SQ8 kernels (n68): codegen/driver parity on real embeddings, the
  * defensive-null contracts, clamp endpoints, and the ranking-fidelity
  * gate that justifies the layout — SQ8's top-3 must agree with the
  * exact-rank n60 join where PQ needs a trained codebook to clear 0.12
  * recall. */
class Sq8Spec extends AnyFunSuite {
  lazy val spark = T.spark

  private def unitRows() = Tables.embeddings(spark, T.sf0001)
    .select(col("vec_id"),
      graft.ops.Dedup.unitVector(col("embedding")).as("u"))

  test("codegen encode matches the driver twin on real unit vectors") {
    val rows = unitRows()
      .select(col("vec_id"), col("u"),
        ScalarQuantization.encode(col("u"), 64).as("codes"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val want = ScalarQuantization.encodeLocal(r.getSeq[Double](1))
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](2), want),
        s"codegen/driver encode mismatch for vec ${r.getLong(0)}")
    }
  }

  test("codegen dot matches the driver twin on real code pairs") {
    val coded = unitRows()
      .select(col("vec_id"), ScalarQuantization.encode(col("u"), 64).as("c"))
    val a = coded.limit(20)
    val b = coded.withColumnRenamed("vec_id", "vec_b")
      .withColumnRenamed("c", "cb").limit(20)
    val rows = a.crossJoin(b)
      .select(col("c"), col("cb"),
        ScalarQuantization.dot(col("c"), col("cb")).as("d"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val want = ScalarQuantization.dotLocal(
        r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1))
      assert(r.getLong(2) === want)
    }
  }

  test("null contracts: wrong-length vectors and mismatched codes surface as null") {
    import spark.implicits._
    val short = Seq((1L, Seq(0.5, -0.5))).toDF("id", "u")
      .select(ScalarQuantization.encode(col("u"), 64).as("codes"))
      .collect()
    assert(short.head.isNullAt(0), "a 2-dim vector must encode to null at dim=64")
    val mism = Seq((Array[Byte](1, 2, 3), Array[Byte](1, 2))).toDF("a", "b")
      .select(ScalarQuantization.dot(col("a"), col("b")).as("d"))
      .collect()
    assert(mism.head.isNullAt(0), "mismatched code lengths must dot to null")
  }

  test("non-finite components (a zero-norm unit vector) encode to null, not code 0") {
    // round-15 advice: (long) floor(NaN) is 0 on the JVM, so without the
    // finiteness guard a zero-norm embedding would silently encode to the
    // all-zero code while the DuckDB oracle errors — the kernel nulls
    // instead, in BOTH the codegen and interpreted paths
    import spark.implicits._
    Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity).foreach { bad =>
      val v = Seq((1L, Seq.fill(63)(0.1) :+ bad)).toDF("id", "u")
      val cg = v.select(ScalarQuantization.encode(col("u"), 64).as("c")).collect()
      assert(cg.head.isNullAt(0), s"codegen path must null on $bad")
      // interpreted path: evaluate the catalyst expression directly
      val lit = org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq.fill(63)(0.1) :+ bad,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
      assert(Sq8EncodeExpr(lit, 64).eval(null) == null,
        s"interpreted path must null on $bad")
    }
    // upstream today, a zero-norm embedding never reaches the kernel:
    // under ANSI mode (the session default) unitVector's x/0.0 raises
    // DIVIDE_BY_ZERO at normalization — pin that, so if normalization
    // is ever relaxed to NaN semantics the kernel guard above is what
    // keeps the ranking honest
    val z = Seq((1L, Seq.fill(64)(0.0f))).toDF("vec_id", "embedding")
    val divByZero = intercept[Exception] {
      z.select(ScalarQuantization
        .encode(graft.ops.Dedup.unitVector(col("embedding")), 64).as("c")).collect()
    }
    assert(divByZero.getMessage.contains("DIVIDE_BY_ZERO"),
      s"expected the ANSI normalization error, got: ${divByZero.getMessage.take(120)}")
    intercept[IllegalArgumentException] {
      ScalarQuantization.encodeLocal(Seq(Double.NaN))
    }
  }

  test("clamp endpoints: components at ±1 code to ±127, and the clamp engages past them") {
    assert(ScalarQuantization.encodeLocal(Seq(1.0)).head === 127.toByte)
    assert(ScalarQuantization.encodeLocal(Seq(-1.0)).head === (-127).toByte)
    // defensive clamp for |x| marginally past 1 (fp slop in u = x/|x|)
    assert(ScalarQuantization.encodeLocal(Seq(1.5)).head === 127.toByte)
    assert(ScalarQuantization.encodeLocal(Seq(-1.5)).head === (-127).toByte)
    import spark.implicits._
    val df = Seq((Seq.fill(64)(1.0))).toDF("u")
      .select(ScalarQuantization.encode(col("u"), 64).as("codes")).collect()
    assert(df.head.getAs[Array[Byte]](0).forall(_ == 127.toByte))
  }

  test("SQ8 ranking agrees with the exact n60 ranking on nearly every top-3 edge") {
    val exact = graft.ops.JoinSpec.Exact.plan(
        Tables.embeddings(spark, T.sf0001))
      .select("vec_id", "nbr").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq8 = graft.ops.JoinSpec.Sq8.plan(
        Tables.embeddings(spark, T.sf0001))
      .select("vec_id", "nbr").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val agree = exact.intersect(sq8).size.toDouble / exact.size
    // measured 0.940 at sf0.001 and 0.939 at sf0.01 (8-bit resolution
    // flips only borderline top-3 edges); gate well above PQ's untrained
    // 0.038 / trained 0.12 class
    assert(agree >= 0.9, s"SQ8/exact top-3 agreement $agree below 0.9")
  }
}
