package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (suites use `lazy val`),
  * built by the same [[graft.tools.Sessions.local]] the benchmarks use, so
  * test and bench sessions cannot drift apart. Its app name `graft-test`
  * comes from `-Dspark.app.name` in build.sbt's `Test / javaOptions`. */
object SparkTestSession {
  lazy val spark: SparkSession = graft.tools.Sessions.local(4)

  val sf0001 = "/root/testdata/sf0.001"

  /** Scratch root for test-local state trees: one shutdown-cleaned
    * directory per JVM (via `Tables.scratchDir`), so repeated local runs
    * never accumulate `graft-*` trees in /tmp — the round-9 advice on the
    * props/compaction specs' bare `createTempDirectory` calls. */
  private lazy val scratchRoot = queries.Tables.scratchDir("test")

  /** A fresh subdirectory under the shutdown-cleaned scratch root. */
  def tmpDir(label: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchRoot, s"$label-")

  /** Eager recursive delete — property evaluations that build hundreds of
    * state trees reclaim each one immediately instead of waiting for the
    * JVM shutdown hook. */
  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      finally s.close()
    }
}
