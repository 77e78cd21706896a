package graft.core

import org.apache.spark.sql.SparkSession
import org.slf4j.{Logger, LoggerFactory}

import graft.sinks.{DeltaStreamingSink, ParquetStreamingSink, StreamingSink}
import graft.sources.{DeltaStreamingSource, FileStreamingSource, KafkaStreamingSource, StreamingSource}

/**
 * Application lifecycle base: owns a SparkSession, applies `spark.*` config,
 * and freezes configuration at `initialize()`.
 *
 * Behavioral spec derived from the reference framework
 * (`/root/reference/src/pyspark_streaming_base/app/app.py:6-118`):
 *  - config keys `spark.app.name`, `spark.app.version`, `spark.app.logging.prefix`
 *    are read from the session RuntimeConf at initialize-time;
 *  - `withConfig` after `initialize()` is an error (`app.py:95-96`);
 *  - passing `appConfig` at construction applies it and auto-initializes
 *    (`app.py:80-83`).
 *
 * Divergences from the reference (deliberate, documented):
 *  - `initialize()` returns `this` on the base class too (the reference base
 *    returns None, breaking chaining — `app.py:103-118`);
 *  - no py4j logging bridge: Scala talks to slf4j/log4j directly
 *    (`logging/__init__.py:12-21` is unnecessary on the JVM).
 */
class App(session: Option[SparkSession] = None,
          appConfig: Option[Map[String, String]] = None) {

  val spark: SparkSession = session.getOrElse(App.generateSparkSession())

  protected var _initialized: Boolean = false
  var appName: String = "graft:default:app"
  var appVersion: String = "0.0.1"
  var appLoggingPrefix: String = "App:core"
  var logger: Logger = LoggerFactory.getLogger(appLoggingPrefix)

  appConfig.foreach { cfg => withConfig(cfg); initialize() }

  def isInitialized: Boolean = _initialized

  /** Apply `spark.*` keys to the session RuntimeConf. Only valid pre-init. */
  def withConfig(config: Map[String, String]): this.type = {
    if (_initialized)
      throw new RuntimeException(
        "Cannot update application config via withConfig after initialization.")
    config.foreach { case (k, v) if k.startsWith("spark.") => spark.conf.set(k, v); case _ => () }
    this
  }

  def initialize(): this.type = {
    appName = spark.conf.get("spark.app.name", appName)
    appVersion = spark.conf.get("spark.app.version", appVersion)
    appLoggingPrefix = spark.conf.get("spark.app.logging.prefix", appLoggingPrefix)
    logger = LoggerFactory.getLogger(appLoggingPrefix)
    _initialized = true
    this
  }
}

object App {

  /**
   * Curated local session defaults (reference `app/app.py:23-50`): UTC session
   * time zone, parquet mergeSchema off, filter pushdown on, no parquet summary
   * metadata. Scaled for this environment: `local[32]`, 32 shuffle partitions
   * (match cores, not the 200 default), AQE on, and the generated-class
   * cache at [[graft.tools.Sessions.CodegenCacheMaxEntries]] instead of
   * Spark's 100 (a re-planning session otherwise recompiles its classes on
   * every run; the cache is JVM-global and sized at the first codegen —
   * see the `Sessions` config notes). The Delta/Kafka extension jars
   * are not present offline, so the corresponding `spark.sql.extensions` /
   * catalog config is intentionally not set; Delta and Kafka stay config-level
   * formats (see sources/sinks scaladoc).
   */
  def generateSparkSession(master: String = "local[32]"): SparkSession = {
    val cores = master match {
      case m if m.startsWith("local[") && !m.contains("*") =>
        m.stripPrefix("local[").stripSuffix("]")
      case _ => Runtime.getRuntime.availableProcessors().toString
    }
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.mergeSchema", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.hadoop.parquet.summary.metadata.level", "NONE")
      // the testdata `events` table carries parquet TIMESTAMP(NANOS), which
      // Spark only reads as long when this legacy flag is on
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        graft.tools.Sessions.CodegenCacheMaxEntries.toString)
      .getOrCreate()
  }
}

/**
 * Streaming application: checkpoint-path derivation plus fluent source/sink
 * builders with typed accessors.
 *
 * Spec: `/root/reference/src/pyspark_streaming_base/app/streaming_app.py:10-233`.
 * Key names preserved verbatim: `spark.app.checkpoints.path` (plural) and
 * `spark.app.checkpoint.version` (singular) — the reference's documented
 * inconsistency, kept because user configs depend on it
 * (`docs/overview.md:101-104`).
 */
class StreamingApp(session: Option[SparkSession] = None,
                   appConfig: Option[Map[String, String]] = None)
  extends App(session, appConfig) {

  var appCheckpointsPath: Option[String] = None
  var appCheckpointVersion: Option[String] = None

  private var _source: Option[StreamingSource] = None
  private var _sink: Option[StreamingSink] = None

  // the base constructor may have auto-initialized (constructor-config path)
  // before these subclass fields were initialized; re-run so the checkpoint
  // conf is read into them
  if (_initialized) initialize()

  override def initialize(): this.type = {
    super.initialize()
    // Option(field).flatten guards against the base-constructor call arriving
    // before subclass field initialization (field still null at that point)
    val cpPath = Option(spark.conf.get("spark.app.checkpoints.path", null)).filter(_.nonEmpty)
    appCheckpointsPath = if (cpPath.isDefined) cpPath else Option(appCheckpointsPath).flatten
    val cpVersion = Option(spark.conf.get("spark.app.checkpoint.version", null)).filter(_.nonEmpty)
    appCheckpointVersion = if (cpVersion.isDefined) cpVersion else Option(appCheckpointVersion).flatten
    this
  }

  /** `{checkpoints.path}/{app_name}/{checkpoint.version | "stable"}/_checkpoints`
   *  (`streaming_app.py:40-62`; golden value `tests/test_streaming_app.py:5,21`). */
  def checkpointLocation: java.nio.file.Path = appCheckpointsPath match {
    case Some(base) =>
      java.nio.file.Paths.get(base, appName,
        appCheckpointVersion.getOrElse("stable"), "_checkpoints")
    case None =>
      throw new RuntimeException(
        "StreamingApp checkpoints require spark.app.checkpoints.path " +
          "(spark.app.checkpoint.version is optional and defaults to \"stable\")")
  }

  def withSource(source: StreamingSource): this.type = { _source = Some(source); this }

  def withKafkaSource(configPrefix: Option[String] = None,
                      config: Map[String, String] = Map.empty): this.type =
    withSource(KafkaStreamingSource(configPrefix, config, Some(spark)))

  def withDeltaSource(configPrefix: Option[String] = None,
                      config: Map[String, String] = Map.empty): this.type =
    withSource(DeltaStreamingSource(configPrefix, config, Some(spark)))

  def withFileSource(configPrefix: Option[String] = None,
                     config: Map[String, String] = Map.empty,
                     schema: Option[org.apache.spark.sql.types.StructType] = None): this.type =
    withSource(FileStreamingSource(configPrefix, config, Some(spark), schema))

  def source(): Option[StreamingSource] = _source

  def kafkaSource(): KafkaStreamingSource = _source match {
    case Some(s: KafkaStreamingSource) => s
    case _ => throw new RuntimeException("source is not a KafkaStreamingSource")
  }

  def deltaSource(): DeltaStreamingSource = _source match {
    case Some(s: DeltaStreamingSource) => s
    case _ => throw new RuntimeException("source is not a DeltaStreamingSource")
  }

  def fileSource(): FileStreamingSource = _source match {
    case Some(s: FileStreamingSource) => s
    case _ => throw new RuntimeException("source is not a FileStreamingSource")
  }

  def withSink(sink: StreamingSink): this.type = { _sink = Some(sink); this }

  def withDeltaSink(configPrefix: Option[String] = None,
                    config: Map[String, String] = Map.empty): this.type =
    withSink(DeltaStreamingSink(configPrefix, config, Some(spark)))

  def withParquetSink(configPrefix: Option[String] = None,
                      config: Map[String, String] = Map.empty): this.type =
    withSink(ParquetStreamingSink(configPrefix, config, Some(spark)))

  def sink(): Option[StreamingSink] = _sink

  def deltaSink(): DeltaStreamingSink = _sink match {
    case Some(s: DeltaStreamingSink) => s
    case _ => throw new RuntimeException("sink is not a DeltaStreamingSink")
  }

  def parquetSink(): ParquetStreamingSink = _sink match {
    case Some(s: ParquetStreamingSink) => s
    case _ => throw new RuntimeException("sink is not a ParquetStreamingSink")
  }
}
