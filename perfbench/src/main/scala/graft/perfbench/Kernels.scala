package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}

/**
 * The `functions` layer timed on its own (traced runs only, after the
 * measured window): MinHash signatures over the word shingles of the
 * generated documents, and cosine similarity over pairs of the generated
 * vectors. Each input is replicated so a call does enough work to time;
 * the median of three calls is reported as rows per second.
 */
object Kernels {
  private val Calls = 3

  def run(spark: SparkSession, rec: Recorder, docs: DataFrame,
          vectors: DataFrame): Map[String, Any] = {
    val copies = spark.range(20).select(col("id").as("copy"))
    val text = docs.select(col("text")).crossJoin(copies)
      .select(Dedup.minHashSignature(array_sort(transform(
        Dedup.wordShingles(col("text")), s => xxhash64(s)))).as("sig"))
    val v = vectors.select(col("vec_id"), col("embedding"))
    val pairs = v.as("a").join(v.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
      .crossJoin(copies)
      .select(Similarity.cosineCol(col("a.embedding"), col("b.embedding")).as("cos"))
    Map("minhash" -> time(rec, "functions.minhash", text),
      "cosine" -> time(rec, "functions.cosine", pairs))
  }

  private def time(rec: Recorder, name: String, df: DataFrame): Map[String, Any] = {
    val rows = df.count()
    val secs = (0 until Calls).map { _ =>
      val t0 = rec.now()
      rec.span(name)(df.write.format("noop").mode("overwrite").save())
      (rec.now() - t0) / 1e3
    }.sorted
    Map("rows" -> rows, "seconds" -> secs)
  }
}
