package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/**
 * Benchmark main: runs every registered query on `SPARK_GRAFT_SF_DIR` and
 * prints one JSON line. Each query executes through the `noop` DataSource-v2
 * sink — a full materialization of every output column (a bare `count()`
 * would let Catalyst prune computed columns and drop sorts, under-measuring
 * map-heavy queries). Two warmup runs absorb JIT/codegen compilation so the
 * reported numbers reflect steady-state throughput.
 *
 * Self-defense (round-19, verdict item 6 — BENCH_r17's stdout line was
 * printed but lost on the capture side, orphaning a whole round's
 * comparison): the SAME one-line JSON is also persisted to files — an
 * immutable run-stamped `target/bench-<ts>-<pid>.json` on every run, and
 * the stable `target/bench.json` on full-registry runs (the file
 * `tools/check_bench.py` reads by default) — so a truncated stdout tail
 * can never lose a round's numbers. See the persistence block at the end
 * of `main` for the two-file scheme's provenance.
 */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.tools.Sessions.fromEnv(default = 32)

    // Contamination guard (round-8 verdict: a bench recorded while the
    // builder session was active inflated untouched queries 5-8x and read
    // as a false regression): sample the OS load average before and after,
    // emit both in the JSON, and warn loudly up front when the machine is
    // already busy. The numbers stay recorded either way - the flag is
    // what lets a reader discard a contaminated run instead of diagnosing
    // phantom regressions.
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    // threshold from the machine's PHYSICAL core count, not the configured
    // SPARK_GRAFT_CPUS parallelism (round-9 advice: on a smaller host a
    // 32-thread config would set the bar at 8 and mask real contention)
    val hostCores = Runtime.getRuntime.availableProcessors()
    val loadStart = loadAvg()
    if (loadStart > hostCores / 4.0)
      System.err.println(f"[bench] WARNING: loadavg $loadStart%.1f at start " +
        s"(threshold ${hostCores / 4}) - another workload is active; " +
        "timings will be inflated. Re-run on a quiet machine.")

    // Janino compiles and compile seconds per query, summed over its
    // measured runs (JVM-global counters, read around each run)
    val codegen = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
    def exec(name: String): Double = {
      val (c0, ns0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
        CodeGenerator.compileTime)
      val t0 = System.nanoTime()
      val elapsed =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9 // captured BEFORE cache teardown
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
        }
      // dedup/similarity queries persist intermediate indexes; drop them so
      // later queries aren't measured under someone else's memory pressure
      // (outside the timed window — teardown isn't the query's cost)
      spark.catalog.clearCache()
      val (c, ns) = codegen.getOrElse(name, (0L, 0L))
      codegen(name) = (c + CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
        ns + CodeGenerator.compileTime - ns0)
      elapsed
    }

    // optional query-name filter (dev A/B loop: same harness, same
    // warmups, same min-of-2 + outlier policy, over a subset — the
    // apples-to-apples per-query comparison the round-12 replay-drift
    // adjudication asked for, without TimeOne's cold-start inflation)
    val only = args.toSet
    val unknownQ = only.diff(SparkEntry.queries.keySet)
    require(unknownQ.isEmpty, s"unknown query name(s): ${unknownQ.mkString(", ")}")

    // warmup (unreported): scan-agg, broadcast-join, generator, and
    // higher-order-function shapes — so measurements reflect steady state,
    // not first-call JIT/codegen compilation
    Seq("d01_pricing_summary", "d02_revenue_nation", "d18_word_topk",
      "n05_dedup_embedding").foreach(exec)
    codegen.clear()

    // min of two runs per query: single-run local timings carry multi-second
    // GC/compaction noise that would swamp real plan differences
    val firstPass = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n)).map { n =>
      val a = exec(n)
      val b = exec(n)
      n -> (a, b)
    }
    // outlier re-run pass (round-9 verdict #5: BENCH_r09 recorded phantom
    // 5.8x outliers because SUSTAINED early-session contention — a prior
    // builder JVM shutting down — inflated BOTH back-to-back samples, so
    // min-of-2 alone could not save the artifact). After the full registry
    // completes — minutes later, when a transient squeeze has passed — any
    // non-trivial BATCH query gets one more sample, and any query (replay
    // included) whose two samples disagreed by over 2x gets one; the
    // recorded value is the overall min. Replay queries are otherwise
    // exempt: their cost is a stable per-micro-batch floor and a blanket
    // third run would add their ~20 s floors to every bench.
    val replaySet0 = SparkEntry.replayQueries
    val afterFirst = firstPass.map { case (n, (a, b)) =>
      val v = if (a < 0 || b < 0) math.max(a, b) else math.min(a, b)
      val unstable = a > 0 && b > 0 && math.max(a, b) > 2 * math.min(a, b)
      val rerun = v > 0 &&
        ((!replaySet0(n) && v > 1.0) || (unstable && v > 0.5))
      n -> (if (rerun) {
        val c = exec(n)
        if (c < 0) v else math.min(v, c)
      } else v)
    }
    // contract-keyed retry pass (round-15 verdict #1b): the
    // instability/>1s heuristic above cannot absorb SUSTAINED contention —
    // in round 15 the driver's run started at loadavg 4.97 and all three
    // samples of d44 landed inflated (8.46x its pinned min; 1.16x on a
    // quiet rerun). So after everything else has run — when an early-
    // session squeeze has had minutes to pass — any query whose recorded
    // value still exceeds 2x its pin in the checked-in BASELINE table gets
    // one final min-kept sample. This keys the retry off the CONTRACT the
    // artifact is judged against, so the official JSON can only carry a
    // breach that reproduced at the very end of the session.
    // BASELINE.md is resolved by walking up from the cwd (round-16 advice:
    // a cwd-relative lookup run from anywhere but the repo root silently
    // yielded Map.empty and DISABLED the contract retry with no warning) —
    // and a missing file is now loud, because a disabled retry pass changes
    // what the official artifact can contain.
    // the walk is ANCHORED on the repo marker (round-17 advice: run from a
    // nested directory of another project, an unanchored walk could adopt
    // an unrelated BASELINE.md and retry against foreign pins) — only the
    // first ancestor that contains .git may supply the file
    val pinnedMins: Map[String, Double] = try {
      val p = Iterator.iterate(java.nio.file.Paths.get("").toAbsolutePath)(_.getParent)
        .takeWhile(_ != null).take(6)
        .find(d => java.nio.file.Files.exists(d.resolve(".git")))
        .map(_.resolve("BASELINE.md"))
        .getOrElse(java.nio.file.Paths.get("BASELINE.md"))
      if (!java.nio.file.Files.exists(p)) {
        System.err.println("[bench] WARNING: BASELINE.md not found from " +
          s"${java.nio.file.Paths.get("").toAbsolutePath} - the contract " +
          "retry pass is DISABLED for this run")
        Map.empty
      }
      else {
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val header = "## Current recorded mins (authoritative)"
        val idx = text.indexOf(header)
        if (idx < 0) Map.empty
        else {
          val section = text.substring(idx + header.length)
            .split("\n#{1,3} ", 2).head
          val row = """(?m)^\| *`?([a-z]\d+_\w+)`? *\| *([\d.]+) *\|""".r
          row.findAllMatchIn(section)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not parse BASELINE.md mins: ${e.getMessage}")
      Map.empty
    }
    // the retry records WHICH queries it touched and both values (round-16
    // verdict #6 / advice: a breach absorbed by its one fast final sample
    // must stay visible in the artifact, not vanish into the min)
    val retriedLog = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    val results = afterFirst.map { case (n, v) =>
      val breach = v > 0 && pinnedMins.get(n).exists(m => v > 2.0 * m)
      n -> (if (breach) {
        System.err.println(f"[bench] $n at $v%.2fs exceeds 2x its pinned " +
          f"min ${pinnedMins(n)}%.3fs - contract retry")
        val c = exec(n)
        val kept = if (c < 0) v else math.min(v, c)
        retriedLog(n) = (v, kept)
        kept
      } else v)
    }
    val retriedJson = retriedLog.map { case (n, (pre, post)) =>
      "\"" + n + "\":{\"pre\":" + pre + ",\"post\":" + post + "}"
    }.mkString("{", ",", "}")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // nested per query: a bare number after a query name would read as a
    // timing to the tail regex of tools/check_bench.py; written BEFORE
    // `queries` so a kept line tail still ends with the same fields
    val codegenJson = codegen.map { case (n, (c, ns)) =>
      "\"" + n + "\":{\"compiles\":" + c + ",\"compile_s\":" + ns / 1e9 + "}"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // two buckets (round-7 verdict #4): streaming replays pay a fixed local
    // per-micro-batch floor that dwarfs plan cost and would otherwise hide
    // batch-plan regressions inside the total
    val replaySet = SparkEntry.replayQueries
    val (replayRs, batchRs) = results.partition(r => replaySet(r._1))
    val batchTotal = batchRs.map(_._2).filter(_ >= 0).sum
    val replayTotal = replayRs.map(_._2).filter(_ >= 0).sum

    // streaming-throughput probe: the D20 pipeline replayed over the same
    // 10-file staged input at three admission settings — the micro-batch
    // amortization curve (rows/s vs files-per-trigger). Reported as a
    // separate object, NOT in `queries`: its unit is rows/s, and the
    // per-query totals must stay a sum of seconds.
    val tput =
      if (only.nonEmpty) "{}" // filtered dev run: skip the probe
      else try {
        val input = queries.StreamingQueries.stageThroughputInput(spark, sfDir)
        // 32 > the 11 staged files: the whole input admitted as ONE
        // micro-batch — the single-batch ceiling the rest of the curve
        // approaches (no admission point can beat it on this input)
        val points = Seq(1, 4, 10, 32).map { mfpt =>
          val (rows, secs) = queries.StreamingQueries.throughputProbe(spark, sfDir, input, mfpt)
          val (rows2, secs2) = queries.StreamingQueries.throughputProbe(spark, sfDir, input, mfpt)
          val best = math.min(secs, secs2)
          s""""mfpt$mfpt":{"rows":${math.max(rows, rows2)},"sec":$best,"rows_per_sec":${(rows / best).toLong}}"""
        }
        points.mkString("{", ",", "}")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] throughput probe failed: ${e.getMessage}")
        "{}"
      }
    // total repeated at the END of the line: the driver stores only the
    // tail of long stdout lines, and with 126 per-query entries the leading
    // "value" field falls outside the kept window
    val line = s"""{"metric":"total","value":$total,"unit":"sec","codegen":$codegenJson,"queries":$qs,"stream_throughput":$tput,"retried":$retriedJson,"batch_sec":$batchTotal,"replay_sec":$replayTotal,"n_batch":${batchRs.size},"n_replay":${replayRs.size},"loadavg_start":$loadStart,"loadavg_end":${loadAvg()},"total_sec":$total,"n_queries":${results.size},"sf":"$sfDir"}"""
    println(line)
    // ... and the WHOLE line persisted to files: at 167+ queries the
    // stdout line outgrew the driver's tail capture (round-14 verdict #1 —
    // BENCH_r14's stored tail kept only 46 of 167 per-query values, so the
    // mechanical 2x check was blind to the rest). Two-file scheme
    // (round-15 verdict #1a: the round's official full JSON at a single
    // mutable target/bench.json was destroyed by a later 6-query dev
    // probe): every run writes an immutable run-stamped file, and ONLY a
    // full-registry run refreshes the stable `target/bench.json` that
    // `tools/check_bench.py` reads by default — filtered probes can no
    // longer clobber the official artifact.
    try {
      val bytes = (line + "\n").getBytes("UTF-8")
      val dir = java.nio.file.Paths.get("target")
      java.nio.file.Files.createDirectories(dir)
      val runId = new java.text.SimpleDateFormat("yyyyMMdd-HHmmss")
        .format(new java.util.Date()) + "-" + ProcessHandle.current().pid()
      val stamped = dir.resolve(s"bench-$runId.json")
      java.nio.file.Files.write(stamped, bytes)
      System.err.println(s"[bench] run JSON written to ${stamped.toAbsolutePath}")
      // retention (round-16 advice): stamped files are immutable evidence
      // WITHIN a session but accumulate forever across dev probes — keep
      // the newest 48 (a full round's quiet runs plus headroom), prune the
      // rest. Ordered by (timestamp, NUMERIC pid) — a plain name sort
      // compares the unpadded pid as a string, which can drop the newer
      // of two same-second artifacts (round-17 advice).
      val keep = 48
      val stampedName = "bench-(\\d{8}-\\d{6})-(\\d+)\\.json".r
      val listing = java.nio.file.Files.list(dir)
      val old = try {
        scala.jdk.CollectionConverters.IteratorHasAsScala(listing.iterator())
          .asScala
          .flatMap { p =>
            p.getFileName.toString match {
              case stampedName(ts, pid) => Some((p, ts, pid.toLong))
              case _ => None
            }
          }
          .toSeq.sortBy { case (_, ts, pid) => (ts, pid) }
          .map(_._1).dropRight(keep)
      } finally listing.close()
      old.foreach(java.nio.file.Files.deleteIfExists(_))
      if (old.nonEmpty)
        System.err.println(s"[bench] pruned ${old.size} stamped bench files " +
          s"older than the newest $keep")
      val stableOverride = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      if (only.isEmpty || stableOverride.isDefined) {
        val out = java.nio.file.Paths.get(
          stableOverride.getOrElse("target/bench.json"))
        Option(out.toAbsolutePath.getParent)
          .foreach(java.nio.file.Files.createDirectories(_))
        java.nio.file.Files.write(out, bytes)
        System.err.println(s"[bench] full JSON written to ${out.toAbsolutePath}")
      } else {
        System.err.println("[bench] filtered run: target/bench.json left untouched")
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not persist bench json: ${e.getMessage}")
    }
    spark.stop()
  }
}
