package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.ops.{IncrementalDedup, IncrementalDedupIndex, IncrementalEmbedDedup, IncrementalEmbedIndex}
import graft.queries.Tables

/**
 * `index`: both incremental indexes (text: MinHash bands + Jaccard,
 * embed: sign-projection bands + cosine) over a seeded corpus staged as
 * single-file chunks. Each twin is driven by the benchmark's own
 * `readStream(maxFilesPerTrigger=1).foreachBatch`, which calls the index's
 * `processBatch`; then the benchmark calls `compact` and reads the final
 * manifest / clusters. A round is one stream of each twin, each on a fresh
 * state root. Warm-up rounds run until two consecutive rounds agree within
 * 10% (at least 1, at most 2); at least one measured round follows. Uses
 * `ops` (the incremental state machine, label log and label propagation),
 * the hash/sign kernels and state-store file I/O; almost no `core` or
 * `sinks` work.
 *
 * The `batch` workload also runs one round of the twins over its own
 * tables in a traced run (see [[Twins]]).
 */
object Index {
  private val WarmupMin = 1
  private val WarmupMax = 2
  private val Tolerance = 0.1
  private val MinRounds = 1

  def run(spark: SparkSession, rec: Recorder, c: Conf, work: Path,
          seed: Long): Map[String, Any] = {
    val dir = work.resolve("tables")
    val genStart = rec.now()
    Gen.table(spark, dir, "documents", Gen.documents(c.int("index.docs"), seed), Gen.DocSchema)
    Gen.table(spark, dir, "embeddings", Gen.embeddings(c.int("index.vectors"), seed),
      Gen.EmbSchema)
    val twins = new Twins(spark, rec, dir, work, c.int("index.chunks"))
    val genS = (rec.now() - genStart) / 1e3

    rec.phase = "warmup"
    val warm = Settle.run(WarmupMin, WarmupMax, Tolerance)(twins.round())
    val measuredStart = rec.now()
    Measure.run(rec, Measure.phases(rec)) { _ =>
      Settle.measure(c.int("seconds"), MinRounds)(twins.round())
    }

    rec.phase = "check"
    val checks = twins.check(SparkEntry.queries("n38_dedup_manifest")(spark, dir.toString))

    rec.phase = "functions"
    val kernels =
      if (rec.traced)
        Kernels.run(spark, rec, Tables.documents(spark, dir.toString),
          Tables.embeddings(spark, dir.toString))
      else Map.empty
    Map("gen_s" -> genS, "measured_start" -> measuredStart,
      "index" -> twins.record(checks, warm.size), "functions" -> kernels)
  }

  /** An index under test: its per-batch call, compaction and final read. */
  private final case class Driven(process: (DataFrame, Long) => Unit,
                                  compact: () => Unit, result: () => DataFrame)

  private final case class Twin(name: String, input: Path, newIndex: Path => Driven)

  /**
   * The two twins over the `documents` and `embeddings` tables in `dir`,
   * their inputs staged under `work` as `chunks` single-file chunks each,
   * with the index geometry the n41 / n52 gated queries use.
   */
  final class Twins(spark: SparkSession, rec: Recorder, dir: Path, work: Path,
                    val chunks: Int) {
    private val docs = Tables.documents(spark, dir.toString)
    private val corpus = IncrementalEmbedDedup.corpus(spark, dir.toString)
    IncrementalDedup.stageChunks(docs, work.resolve("text-input"), chunks)
    IncrementalEmbedDedup.stageChunks(corpus, work.resolve("embed-input"), chunks)
    private val nDocs = docs.count()
    private val nVec = corpus.count()
    private val geom = IncrementalEmbedDedup.geometryFor(nVec)

    private val twins = Seq(
      Twin("text", work.resolve("text-input"), root => {
        val ix = new IncrementalDedupIndex(root,
          bandBuckets = IncrementalEmbedDedup.bucketsFor(nDocs, 16),
          idBuckets = IncrementalEmbedDedup.bucketsFor(nDocs, 1))
        Driven(ix.processBatch, () => ix.compact(spark),
          () => ix.finalManifest(spark).orderBy("doc_id"))
      }),
      Twin("embed", work.resolve("embed-input"), root => {
        val ix = new IncrementalEmbedIndex(root, geometry = geom,
          bandBuckets = IncrementalEmbedDedup.bucketsFor(nVec, geom._2),
          idBuckets = IncrementalEmbedDedup.bucketsFor(nVec, 1))
        Driven(ix.processBatch, () => ix.compact(spark),
          () => ix.finalClusters(spark).orderBy("vec_id"))
      }))

    private val streams = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val last = mutable.Map.empty[String, Driven]

    /** One stream of each twin on a fresh state root; returns its seconds. */
    def round(): Double = rec.span("index.round") {
      val t0 = rec.now()
      twins.foreach { t =>
        val root = work.resolve(s"${t.name}-${streams.size}")
        val (driven, s) = stream(t, root)
        last(t.name) = driven
        streams += s
      }
      (rec.now() - t0) / 1e3
    }

    /** Whether the last round's final manifest equals `n38` (the batch
      * manifest of the same documents) and its final clusters equal
      * n37_embedding_clusters on the same vectors: the n41 / n52 contract. */
    def check(n38: => DataFrame): Map[String, Boolean] =
      Map("text" -> (() => n38), "embed" ->
        (() => SparkEntry.queries("n37_embedding_clusters")(spark, dir.toString)))
        .map { case (twin, want) =>
          twin -> rec.span(s"check.$twin") {
            last.get(twin).exists { d =>
              // a reference that cannot be computed or read fails the check
              scala.util.Try {
                val got = d.result()
                val w = want()
                got.count() == w.count() && got.exceptAll(w).isEmpty && w.exceptAll(got).isEmpty
              }.getOrElse(false)
            }
          }
        }

    /** What the launcher reads: every stream and the check results. */
    def record(checks: Map[String, Boolean], warmupRounds: Int): Map[String, Any] =
      Map("chunks" -> chunks, "warmup_rounds" -> warmupRounds,
        "streams" -> streams.toList, "checks" -> checks)

    /** One stream of one twin over all staged chunks, then compaction and
      * the final read, each timed as a span. A stream that throws is
      * recorded as failed and its batches are counted as failed operations. */
    private def stream(t: Twin, root: Path): (Driven, Map[String, Any]) = {
      val driven = t.newIndex(root.resolve("state"))
      val schema = spark.read.parquet(t.input.toString).schema
      var progress: Seq[Map[String, Any]] = Nil
      val ok = try {
        rec.span(s"index.${t.name}.stream") {
          val parent = rec.current
          val q = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(t.input.toString)
            .writeStream
            .foreachBatch { (df: DataFrame, id: Long) =>
              rec.span(s"ops.index.${t.name}.process_batch", Some(parent),
                Map("batch" -> id))(driven.process(df, id))
            }
            .option("checkpointLocation", root.resolve("ckpt").toString)
            .trigger(Trigger.AvailableNow())
            .queryName(s"perfbench-index-${t.name}")
            .start()
          try q.awaitTermination() finally progress = Progress.of(q)
          rec.span(s"ops.index.${t.name}.compact")(driven.compact())
          rec.span(s"ops.index.${t.name}.final_read") {
            driven.result().write.format("noop").mode("overwrite").save()
          }
        }
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] ${t.name} stream failed: $e")
          false
      }
      val (files, bytes) = treeSize(root.resolve("state"))
      (driven, Map("twin" -> t.name, "phase" -> rec.phase, "ok" -> ok,
        "progress" -> progress, "state_files" -> files, "state_bytes" -> bytes))
    }
  }

  private def treeSize(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
          .filter(Files.isRegularFile(_)).toList
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }
}
