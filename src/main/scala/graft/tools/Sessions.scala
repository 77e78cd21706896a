package graft.tools

import org.apache.spark.sql.SparkSession

/** The one local-session builder behind every driver-contract main and dev
  * tool (`Verify`, `Bench`, `PlanAudit`, `TimeOne`, the probes) — the same
  * divergence-risk argument that unified the incremental state machines:
  * rounds 10–12 copied this block four times and each new config
  * (`maxPlanStringLength` for the status-store OOM, the partition-discovery
  * threshold for the bucketed level trees) had to be hand-propagated.
  *
  * Config notes, kept once here:
  *  - `shuffle.partitions` = the session's core count, not Spark's 200
  *    (local mode; the driver contract pins 32);
  *  - `nanosAsLong`: `events.parquet` is TIMESTAMP(NANOS) — unreadable
  *    without it (`Tables.events` rebuilds the timestamp);
  *  - `ui.retainedExecutions`/`maxPlanStringLength`: the status store
  *    retains plan strings even with the UI off — 162 queries' worth OOMs
  *    a long-lived session without the cap;
  *  - `parallelPartitionDiscovery.threshold`: the incremental indexes list
  *    thousands of explicit bucket leaf dirs — keep discovery on the
  *    driver, a Spark job per pruned read costs more than the listing.
  */
object Sessions {
  /** Fail fast on a malformed env override (round-18 ADVICE: a raw string
    * forwarded to Spark conf only fails at the first shuffle with an opaque
    * error rather than at session construction, naming the variable).
    * `env` is the variable lookup (specs pass a map). */
  private[graft] def envInt(name: String, default: Int,
                            env: String => Option[String] = sys.env.get): Int =
    env(name).map { s =>
      val v = try s.toInt catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$name must be a positive integer, got '$s'")
      }
      require(v > 0, s"$name must be a positive integer, got '$s'")
      v
    }.getOrElse(default)

  def local(cpus: Int, logLevel: String = "WARN"): SparkSession = {
    val builder = SparkSession.builder()
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse-").toString)
      .master(s"local[$cpus]")
      // local default = the core count (tiny inputs; AQE coalesces below
      // it). At cluster scale this is the knob to size so post-shuffle
      // partitions land in the 100 MB–1 GB band (optimization guide §2.2)
      // — hence env-parameterised rather than hard-coded to local cores;
      // the driver's bench keeps the default and stays comparable.
      .config("spark.sql.shuffle.partitions",
        envInt("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus).toString)
    // 100 TB posture knobs (guide §2.2/§2.3/§9), set ONLY when the env
    // names them so the local bench keeps Spark's defaults (advisory 64m,
    // lz4) and stays comparable round over round:
    //  - SPARK_GRAFT_ADVISORY_PARTITION_BYTES: AQE coalescing target —
    //    size post-shuffle partitions into the 100 MB–1 GB band at scale
    //    (e.g. "256m") instead of the 64 MB local default;
    //  - SPARK_GRAFT_SHUFFLE_CODEC: shuffle/spill compression codec —
    //    "zstd" usually wins markedly on ratio at cluster NIC speeds for
    //    a bit more CPU; measure per §2.3, there is no universal answer.
    sys.env.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES").foreach(v =>
      builder.config("spark.sql.adaptive.advisoryPartitionSizeInBytes", v))
    sys.env.get("SPARK_GRAFT_SHUFFLE_CODEC").foreach(v =>
      builder.config("spark.io.compression.codec", v))
    val spark = builder
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.maxPlanStringLength", "4000000")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** [[local]] sized from the `SPARK_GRAFT_CPUS` env var. */
  def fromEnv(default: Int, logLevel: String = "WARN"): SparkSession =
    local(envInt("SPARK_GRAFT_CPUS", default), logLevel)
}
