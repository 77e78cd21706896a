package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, upper}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.StreamingApp

/**
 * `ingest`: the reference lifecycle (StreamingApp → file source → parquet
 * sink), fed open-loop by one generator thread that lands one parquet file
 * per tick at a fixed offered rate (write elsewhere, then atomic rename).
 * The app first runs a warm-up segment (a paced feed, then a backlog);
 * then the measured window: `Cycles` segments, each a paced phase,
 * whose events are timed from their scheduled creation to the commit of
 * the micro-batch that holds them, and a backlog phase, which lands a
 * fixed backlog at once and times its drain. The paced phases share the
 * window's `seconds` equally (a traced run measures one of them in each of
 * its three windows); the launcher reports medians over the segments.
 * Uses `core`, `sources`, `sinks` and Spark's micro-batch engine; never
 * touches `ops` or `functions`.
 */
object Ingest {
  /** Measured segments of an untraced run: the host's speed drifts within
    * a run, and the median over five segments drops a slow one. */
  private val Cycles = 5

  def run(spark: SparkSession, rec: Recorder, c: Conf, work: Path,
          seed: Long): Map[String, Any] = {
    val tickMs = c.int("ingest.tick_ms")
    val perTick = c.int("ingest.events_per_tick")
    val resend = c.double("ingest.resend_share")
    val maxShift = c.int("ingest.max_shift_ticks")
    val maxResend = c.int("ingest.max_resend_ticks")
    val warmTicks = c.int("ingest.warmup_s") * 1000 / tickMs
    val leadMs = c.int("ingest.lead_ms")
    // a traced run measures three windows (Measure): one segment each
    // keeps it inside the run's time limit
    val cycles = if (rec.traced) 1 else Cycles
    val pacedTicks = (leadMs + c.int("seconds") * 1000 / Cycles) / tickMs
    val backlogFiles = c.int("ingest.backlog_files")

    // input generation: excluded from setup_s. One segment (a paced feed
    // then a backlog) for warm-up, then `cycles` per measured phase; ids
    // and creation offsets of a segment follow the previous one's.
    val genStart = rec.now()
    def gen(name: String, ticks: Int, tick: Int, firstId: Long, offsetMs: Long,
            s: Long) = {
      val rows = Gen.events(ticks, tick, perTick, firstId, offsetMs, resend,
        maxShift, maxResend, s)
      val files = Gen.eventFiles(rows, work.resolve(s"staged-$name"), name)
      (rows, files)
    }
    val phases = Measure.phases(rec)
    var nextId = 0L
    var nextOffset = 0L
    val order = "warmup" +: phases.flatMap(Seq.fill(cycles)(_))
    val segments = order.zipWithIndex.map { case (phase, i) =>
      val (ticks, files) =
        if (phase == "warmup") (warmTicks, c.int("ingest.warmup_backlog_files"))
        else (pacedTicks, backlogFiles)
      val origin = nextOffset
      val paced = gen(s"f$i", ticks, tickMs, nextId, origin, seed + 100 * i)
      // the backlog is stamped within 1 ms a file, far inside the watermark
      // delay, so the order in which the source admits it cannot make rows late
      val backlog = gen(s"b$i", files, 1, nextId + ticks.toLong * perTick,
        origin + ticks.toLong * tickMs + 1000L, seed + 100 * i + 13)
      nextId += (ticks + files).toLong * perTick
      nextOffset += ticks.toLong * tickMs + 2000L
      (origin, paced._2, backlog)
    }
    val genS = (rec.now() - genStart) / 1e3

    val root = work.resolve("app")
    val (q, ckpt) = start(spark, rec, c, root)
    val watch = root.resolve("watch")

    /** Segment `i`: the paced feed, then the backlog. */
    def segment(i: Int, leadMs: Long): Map[String, Any] = {
      val (origin, pacedFiles, (backlogRows, backlogFiles_)) = segments(i)
      val start = rec.now()
      val landed = rec.span("ingest.paced") {
        val l = pace(rec, pacedFiles, watch, tickMs)
        q.processAllAvailable()
        l
      }
      val (backlogT0, backlogLanded) = rec.span("ingest.backlog") {
        val t0 = rec.now()
        val l = backlogFiles_.map(f => land(rec, f, watch, t0))
        q.processAllAvailable()
        (t0, l)
      }
      Map("start" -> start, "end" -> rec.now(), "prefix" -> s"f$i-",
        // the wall-clock time at which creation offset 0 was due
        "paced_t0" -> (landed.head("sched").asInstanceOf[Double] - tickMs - origin),
        "landed" -> landed, "backlog_landed" -> backlogLanded, "backlog_t0" -> backlogT0,
        "backlog_distinct" -> backlogRows.map(_._2.getLong(0)).distinct.size,
        "lead_ms" -> (origin + leadMs),
        "paced_ms" -> (pacedFiles.size.toLong * tickMs - leadMs))
    }

    rec.phase = "warmup"
    segment(0, 0L)
    val measuredStart = rec.now()
    val segs = Measure.run(rec, phases) { i =>
      (1 to cycles).map(j => segment(i * cycles + j, leadMs))
    }
    rec.phase = "check"
    q.stop()
    Map(
      "gen_s" -> genS,
      "measured_start" -> measuredStart,
      "ingest" -> Map(
        "segments" -> segs, "origin_ms" -> Gen.EventOrigin,
        // the stream's jobs run under the query's run id as their job group
        "query_group" -> q.runId.toString,
        "watch" -> watch.toString, "sink" -> root.resolve("sink").toString,
        "source_log" -> ckpt.resolve("sources").resolve("0").toString,
        "progress" -> Progress.of(q)))
  }

  /** Builds the app through its config keys and starts the query: returns
    * the query and its checkpoint location. */
  private def start(spark: SparkSession, rec: Recorder, c: Conf,
                    root: Path): (StreamingQuery, Path) = {
    val app = rec.span("core.app_init") {
      val a = new StreamingApp(Some(spark))
        .withConfig(Map(
          "spark.app.name" -> "perfbench-ingest",
          "spark.app.checkpoints.path" -> root.resolve("checkpoints").toString,
          "spark.app.source.parquet.options.path" -> root.resolve("watch").toString,
          "spark.app.source.parquet.options.maxFilesPerTrigger" ->
            c.str("ingest.max_files_per_trigger"),
          "spark.app.sink.parquet.options.path" -> root.resolve("sink").toString))
        .initialize()
      a.withFileSource(schema = Some(Gen.EventSchema))
        .withParquetSink(config = Map(
          "spark.app.sink.parquet.options.checkpointLocation" ->
            a.checkpointLocation.toString))
    }
    Files.createDirectories(root.resolve("watch"))
    val src = rec.span("sources.generate") { app.fileSource().generate(spark).load() }
    val writer = rec.span("sinks.generate") {
      app.parquetSink().generate(pipeline(src, c.int("ingest.watermark_s")))
    }
    val q = rec.span("core.query_start") { writer.start() }
    (q, app.checkpointLocation)
  }

  /** The pipeline: a light projection plus a watermarked de-duplication on
    * the event id (re-sent events carry their original creation time). */
  def pipeline(src: DataFrame, watermarkS: Int): DataFrame =
    src.withWatermark("event_time", s"$watermarkS seconds")
      .dropDuplicates("event_id", "event_time")
      .select(col("event_id"), col("event_time"), col("user_id"),
        upper(col("kind")).as("kind"), col("value"))

  /** Lands staged file `f` of tick `i` at `t0 + (i + 1) · tick` (the end of
    * its tick), on this thread, on schedule whatever the engine is doing. */
  private def pace(rec: Recorder, files: Seq[Path], watch: Path,
                   tickMs: Int): Seq[Map[String, Any]] = {
    val t0 = rec.now() + tickMs
    files.zipWithIndex.map { case (f, i) =>
      val due = t0 + i.toDouble * tickMs
      var wait = due - rec.now()
      while (wait > 0) {
        java.util.concurrent.locks.LockSupport.parkNanos((wait * 1e6).toLong)
        wait = due - rec.now()
      }
      land(rec, f, watch, due)
    }
  }

  /** Atomically renames `f` into the watched directory, stamping its
    * modification time with the landing time (the source admits files in
    * modification-time order). */
  private def land(rec: Recorder, f: Path, watch: Path,
                   due: Double): Map[String, Any] = {
    Files.setLastModifiedTime(f, FileTime.fromMillis(System.currentTimeMillis()))
    Files.move(f, watch.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
    Map("file" -> f.getFileName.toString, "sched" -> due, "landed" -> rec.now())
  }
}

/** `StreamingQueryProgress` records, as Spark's progress channel gives them.
  * `source_end` is the first source's end offset (JSON): a file source's
  * log numbers its own offsets, which drift from batch ids once a batch
  * reads no new files. */
object Progress {
  def of(q: StreamingQuery): Seq[Map[String, Any]] =
    q.recentProgress.toSeq.map { p =>
      val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
      Map("batch" -> p.batchId,
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "rows" -> p.numInputRows,
        "source_end" -> p.sources.headOption.map(_.endOffset).orNull,
        "ms" -> d.map { case (k, v) => k -> v.longValue }.toMap)
    }
}
