package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.Pq

/**
 * Dev probe: the n61 IVF-PQ claim at scale — an ANN index stored as PQ
 * CODES must be (a) much smaller than the raw vectors and (b) no slower
 * to RANK than the float-cosine scan it replaces; those two properties
 * are what make the 100 TB index RAM-resident and scan-bound instead of
 * IO-bound. The sf tables are 500 vectors, far too small to time a scan,
 * so the probe synthesizes N hash-derived 64-dim vectors in the fixture's
 * ±0.5 component range (scan cost is distribution-independent), stages
 * both layouts as parquet, and times the two ranking scans driver-to-top5
 * (min of 2, TakeOrderedAndProject each — the n61 plan tail).
 *
 * Prints one PQSCALE line per N: encode time (the one-off index-build
 * pass), on-disk bytes of both layouts, and the two scan times.
 *
 * Usage: runMain graft.tools.ProbePqScale [N ...]  (default 200000 2000000)
 */
object ProbePqScale {
  def main(args: Array[String]): Unit = {
    val ns = if (args.nonEmpty) args.toSeq.map(_.toLong)
             else Seq(200000L, 2000000L)
    val spark = Sessions.local(32, logLevel = "ERROR")
    val (subDim, nSub, nCode) = (Pq.SubDim, Pq.NSub, Pq.NCode)
    val cb = Pq.md5Codebook
    val base = graft.queries.Tables.scratchDir("pqscale")

    def du(p: String): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
      } finally s.close()
    }
    def minOf2(thunk: => Unit): Double =
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        thunk
        (System.nanoTime() - t0) / 1e9
      }.min

    ns.foreach { n =>
      val dir = base.resolve(s"n$n").toString
      val comps = transform(sequence(lit(0), lit(63)), i =>
        (pmod(xxhash64(col("id"), i), lit(1000001L)).cast("double")
          / 1000000.0 - 0.5).cast("float"))
      spark.range(n).select(col("id").as("vec_id"), comps.as("embedding"))
        .repartition(32).write.mode("overwrite").parquet(s"$dir/raw.parquet")
      val emb = spark.read.parquet(s"$dir/raw.parquet")

      // index build: one map-side encode pass over the raw vectors
      val encodeS = minOf2 {
        emb.select(col("vec_id"),
          graft.functions.ProductQuantization.encode(
            transform(col("embedding"), x => x.cast("double")),
            cb, subDim, nSub, nCode).as("codes"))
          .write.mode("overwrite").parquet(s"$dir/codes.parquet")
      }
      val rawB = du(s"$dir/raw.parquet")
      val codeB = du(s"$dir/codes.parquet")
      val codes = spark.read.parquet(s"$dir/codes.parquet")

      // the one query vector: LUT driver-side (the n61 plan parameter)
      val qf = emb.filter(col("vec_id") === 0L).head().getSeq[Float](1)
      val q = graft.functions.ProductQuantization.quantize(qf.map(_.toDouble))
      val lut = graft.functions.ProductQuantization.distanceTable(
        q, cb, subDim, nSub, nCode)
      val qvLit = array(qf.map(f => lit(f)): _*).cast("array<float>")

      // ADC ranking scan over CODES (the n61 tail: top-5, no global sort)
      val adcS = minOf2 {
        codes.select(col("vec_id"),
          graft.functions.ProductQuantization
            .adc(col("codes"), lut, nSub, nCode).as("adist"))
          .orderBy(col("adist"), col("vec_id")).limit(5)
          .write.format("noop").mode("overwrite").save()
      }
      // float-cosine ranking scan over RAW vectors (the d19 kernel — what
      // the ADC scan replaces at ranking time)
      val cosS = minOf2 {
        emb.select(col("vec_id"),
          graft.ops.Similarity.cosineCol(col("embedding"), qvLit).as("score"))
          .orderBy(desc("score"), col("vec_id")).limit(5)
          .write.format("noop").mode("overwrite").save()
      }
      // the SQ8 middle rung (n68): 64-byte int8 code binaries — size and
      // the integer-dot ranking scan against the query's own codes
      val sq8EncodeS = minOf2 {
        emb.select(col("vec_id"),
          graft.functions.ScalarQuantization.encode(
            graft.ops.Dedup.unitVector(col("embedding")), 64).as("sq8"))
          .write.mode("overwrite").parquet(s"$dir/sq8.parquet")
      }
      val sq8B = du(s"$dir/sq8.parquet")
      val sq8 = spark.read.parquet(s"$dir/sq8.parquet")
      val qn = {
        val xs = qf.map(_.toDouble)
        val nrm = math.sqrt(xs.map(x => x * x).sum)
        graft.functions.ScalarQuantization.encodeLocal(xs.map(_ / nrm))
      }
      val sq8S = minOf2 {
        sq8.select(col("vec_id"),
          graft.functions.ScalarQuantization.dot(col("sq8"), lit(qn)).as("d"))
          .orderBy(desc("d"), col("vec_id")).limit(5)
          .write.format("noop").mode("overwrite").save()
      }
      println(f"PQSCALE n=$n%d encode=$encodeS%.2f s " +
        f"raw=${rawB / 1048576.0}%.1f MiB codes=${codeB / 1048576.0}%.1f MiB " +
        f"(x${rawB.toDouble / codeB}%.1f smaller) " +
        f"sq8=${sq8B / 1048576.0}%.1f MiB (x${rawB.toDouble / sq8B}%.1f smaller, " +
        f"encode $sq8EncodeS%.2f s) " +
        f"adc_scan=$adcS%.2f s sq8_scan=$sq8S%.2f s cosine_scan=$cosS%.2f s")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
