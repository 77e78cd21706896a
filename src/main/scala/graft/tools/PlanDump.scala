package graft.tools

import graft.SparkEntry

/** Dev tool: print the formatted physical plan of selected queries so the
  * pushdown/broadcast/codegen story can be reviewed (SURVEY's 100 TB
  * posture). Builds through [[Sessions.local]], so the plans are the ones
  * tests, `Verify` and the benchmark run. Usage:
  * runMain graft.tools.PlanDump <sfDir> <query>... */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("d01_pricing_summary", "d02_revenue_nation", "d03_top_parts")
    val spark = Sessions.local(8, "ERROR")
    names.foreach { n =>
      println(s"========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
