package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestSession => T}

/** The generated-class cache holds a whole round of the batch mix: a
  * second round of n38, n56, n78 and d01 in the same session compiles no
  * class. Spark's default of 100 entries is below the mix's 149 classes
  * (see the `Sessions` config notes), so round-robin runs evicted every
  * class before its next use. This checks the behaviour, not the conf
  * value: a cache sized before the session existed would pass a conf read
  * and fail here. */
class CodegenCacheSpec extends AnyFunSuite {

  test("a second round of the batch mix compiles no generated class") {
    val spark = T.spark
    def round(): Unit =
      Seq("n38_dedup_manifest", "n56_media_dedup", "n78_pq_knn_rerank",
        "d01_pricing_summary").foreach { name =>
        SparkEntry.queries(name)(spark, T.sf0001)
          .write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
      }
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    round()
    val before = compiles
    round()
    assert(compiles - before == 0,
      s"the second round compiled ${compiles - before} classes")
  }
}
