package graft.perfbench

import java.nio.file.Paths

/** Run settings, passed by the launcher as `key=value` arguments. */
final case class Conf(kv: Map[String, String]) {
  def str(k: String): String =
    kv.getOrElse(k, throw new IllegalArgumentException(s"missing setting $k"))
  def int(k: String): Int = str(k).toInt
  def double(k: String): Double = str(k).toDouble
  def long(k: String): Long = str(k).toLong
}

/**
 * One workload in one JVM. Writes the raw record of the run (spans, Spark
 * progress, listener records when traced, and the workload's own facts) as
 * JSON to `out`; the launcher turns it into metrics and checks the outputs.
 *
 * Usage: `graft.perfbench.Main workload=<ingest|index|batch> seed=<n>
 *   seconds=<n> trace=<0|1> work=<dir> out=<file> k=<threads> ...`
 */
object Main {
  def main(args: Array[String]): Unit = {
    val c = Conf(args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got '$a'")
      a.take(i) -> a.drop(i + 1)
    }.toMap)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val traced = c.int("trace") == 1
    val t0 = System.nanoTime()
    val spark = graft.tools.Sessions.local(c.int("k"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    // every micro-batch of a run stays in the query's progress history
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val rec = new Recorder(spark, traced)
    val work = Paths.get(c.str("work"))
    val seed = c.long("seed")
    val out = c.str("workload") match {
      case "ingest" => Ingest.run(spark, rec, c, work, seed)
      case "index" => Index.run(spark, rec, c, work, seed)
      case "batch" => Batch.run(spark, rec, c, work, seed)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val raw = out ++ rec.dump() ++ Map(
      "workload" -> c.str("workload"), "seed" -> seed, "k" -> c.int("k"),
      "jvm_start" -> jvmStart.toDouble, "session_s" -> sessionS,
      "peak_rss_mb" -> vmHwmMb())
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    json.writeValue(Paths.get(c.str("out")).toFile, raw)
    spark.stop()
  }

  /** Peak resident set size of this process (VmHWM), in MiB. */
  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}
