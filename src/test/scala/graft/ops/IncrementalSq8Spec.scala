package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession => T}
import graft.queries.Tables

/** The n71 incremental SQ8 index: codes, cells, AND probe sets are
  * per-row deterministic functions of the vector, so the streaming
  * index must equal the batch n68 structures EXACTLY — per row, for any
  * batching, any replay, and any maintenance position — and its kNN
  * join must equal the batch n68 join verbatim. Plus the two claims the
  * batch path can't make: the ingest-time probe cut matches the batch
  * TopKPerKey cut, and the SQ8 state is measurably ×≈8 smaller than the
  * float layout it replaces. */
class IncrementalSq8Spec extends AnyFunSuite {
  lazy val spark = T.spark

  private def emb = Tables.embeddings(spark, T.sf0001)

  test("streaming index answers the n68 join identically to the batch plan") {
    val got = OpsQueries.queries("n71_streaming_sq8_knn")(spark, T.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val want = JoinSpec.Sq8.plan(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("ingest-time probe sets equal the batch TopKPerKey probe cut; state is row-identical; replay no-op") {
    val base = T.tmpDir("sq8")
    val index = new CodesIndex(base.resolve("state"), CodesLayout.Sq8)
    (0 until 3).foreach { b =>
      index.processBatch(emb.filter(pmod(col("vec_id"), lit(3)) === b), b.toLong)
    }
    assert(index.isCommitted(1L))
    index.processBatch(emb.limit(0), 1L) // committed ⇒ short-circuits

    // the batch n68 probe structures, computed the batch way: full dots,
    // top-nProbe by (dot DESC, cell ASC), plus cell and SQ8 code
    val nProbe = IvfGeometry.Default.nProbe
    val v = transform(col("embedding"), x => x.cast("double"))
    val want = emb.select(col("vec_id"),
        IvfGeometry.Default.cellCol(v).cast("int").as("cell"),
        graft.functions.ScalarQuantization
          .encode(Dedup.unitVector(col("embedding")), 64).as("code"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]](2).toSeq))
      .sortBy(_._1)
    val wantProbes = emb.select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val q = graft.functions.ProductQuantization.quantize(
          r.getSeq[Float](1).map(_.toDouble))
        r.getLong(0) -> IvfGeometry.Default.probeLocal(q, nProbe).map(_.toInt)
      }.sortBy(_._1)

    def stateNow() = index.codes(spark, None)
      .select("vec_id", "cell", "probed", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2),
        r.getAs[Array[Byte]](3).toSeq))
      .sortBy(_._1)

    val pre = stateNow()
    assert(pre.map(t => (t._1, t._2, t._4)) === want,
      "pre-compaction parts differ from the batch encode")
    assert(pre.map(t => t._1 -> t._3.toSeq) === wantProbes.map(t => t._1 -> t._2.toSeq),
      "ingest-time probe sets differ from the driver probe rule")
    pre.foreach { t =>
      assert(t._3.head === t._2, s"probed head is not the assignment cell: $t")
    }
    index.maintain(spark) // parts -> cell-bucketed level
    assert(stateNow() === pre, "compacted level differs from pre-compaction state")
  }

  test("the index join plans ONE TopKPerKey and one fewer Exchange than the batch join") {
    // the structural form of the measured 0.53x (BASELINE r16, "n71
    // index join vs the batch n68 join"): the batch n68 pays a TopKPerKey probe cut (hash-
    // partition the n x nlist score stream) BEFORE the cell join; the
    // index did that cut at ingest, so its join plans exactly one
    // TopKPerKey (the k-cut) and one fewer Exchange
    val base = T.tmpDir("sq8-plan")
    val index = new CodesIndex(base.resolve("state"), CodesLayout.Sq8)
    index.processBatch(emb, 0L)
    index.maintain(spark)
    def counts(p: String): (Int, Int) =
      ("TopKPerKey".r.findAllIn(p).length, "Exchange".r.findAllIn(p).length)
    val (idxTop, idxEx) = counts(JoinSpec.Sq8.plan(index, emb)
      .queryExecution.executedPlan.toString)
    val (batTop, batEx) = counts(JoinSpec.Sq8.plan(emb)
      .queryExecution.executedPlan.toString)
    info(s"index: TopKPerKey=$idxTop Exchange=$idxEx; batch: TopKPerKey=$batTop Exchange=$batEx")
    // each logical cut plans a partial/final operator PAIR (the d52
    // two-phase design): batch = 2 cuts = 4 nodes, index = 1 cut = 2
    assert(idxTop === batTop - 2, "index join did not drop the probe-side TopKPerKey pair")
    assert(idxEx === batEx - 1, "index join did not drop the probe-side Exchange")
  }

  test("SQ8 state is ~8x smaller than the float layout it replaces") {
    // the 100 TB state-size term the layout exists for: write the same
    // committed index rows once with the 64-byte SQ8 code and once with
    // the 64-double unit vector, compare on-disk parquet bytes. Parquet
    // framing/encoding narrows the raw 512/64 ratio; the gate is the
    // honest measured floor, the measured value lands in BASELINE.md.
    val base = T.tmpDir("sq8-size")
    val index = new CodesIndex(base.resolve("state"), CodesLayout.Sq8)
    index.processBatch(emb, 0L)
    index.maintain(spark)
    val floatDir = base.resolve("float-twin")
    emb.select(col("vec_id"),
        IvfGeometry.Default.cellCol(transform(col("embedding"), x => x.cast("double")))
          .cast("int").as("cell"),
        Dedup.unitVector(col("embedding")).as("u"))
      .write.mode("overwrite").parquet(floatDir.toString)
    def bytes(p: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(p)
      try s.filter(f => f.toString.endsWith(".parquet"))
        .mapToLong(java.nio.file.Files.size).sum
      finally s.close()
    }
    val sq8 = bytes(base.resolve("state"))
    val fl = bytes(floatDir)
    info(f"state bytes: sq8=$sq8 float=$fl ratio=${fl.toDouble / sq8}%.2f")
    assert(sq8 > 0 && fl > 0)
    assert(fl.toDouble / sq8 >= 4.0,
      f"SQ8 state only ${fl.toDouble / sq8}%.2fx smaller — layout regressed")
  }

  test("a planted near-duplicate arriving in a LATER batch surfaces in the index join") {
    val base = T.tmpDir("sq8-late")
    val index = new CodesIndex(base.resolve("state"), CodesLayout.Sq8)
    val sample = emb.filter(pmod(xxhash64(col("vec_id")), lit(10)) === 0)
    val copies = Dedup.plantedCopies(sample)
      .select(col("vec_id"),
        transform(col("v"), x => x.cast("float")).as("embedding"),
        lit(0).as("label"))
    index.processBatch(emb, 0L)
    index.processBatch(copies, 1L)
    index.maintain(spark)
    val top = JoinSpec.Sq8.plan(index, emb).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getLong(2)).toSet }
    val origs = sample.select("vec_id").collect().map(_.getLong(0))
    val hits = origs.count(id => top.get(id).exists(_.contains(id + Dedup.PlantOffset)))
    val recall = hits.toDouble / origs.length
    info(f"planted near-dup recall@3 through the SQ8 index join: $recall%.3f")
    assert(recall >= 0.9, f"planted recall $recall%.3f below the 0.9 gate")
  }
}
