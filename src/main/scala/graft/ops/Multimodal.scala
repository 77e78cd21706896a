package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Tables._
import OracleSql._

/** A multimodal record: opaque media bytes plus typed metadata. The binary
  * payload is the engine-level representation for image/audio/video columns —
  * Spark treats it as `BinaryType`, stays out of its way in the row format,
  * and lets per-partition decoders do the modality-specific work. */
final case class MediaRecord(media_id: Long, kind: String, payload: Array[Byte],
                             source: String)

/** Decoded-media metadata (the output of the decode stage). */
final case class DecodedMedia(media_id: Long, kind: String, n_bytes: Long,
                              width: Long, height: Long, n_frames: Long,
                              sample_rate: Long)

/** One sampled video frame: index into the stream plus the byte offset a
  * real demuxer would seek to (stub arithmetic — see [[Multimodal]]). */
final case class SampledFrame(media_id: Long, n_frames: Long,
                              frame_idx: Long, frame_off: Long)

/** Resize-stage output: source dims plus the target box fit. */
final case class ResizedMedia(media_id: Long, kind: String, width: Long,
                              height: Long, out_w: Long, out_h: Long)

/** Feature-extraction output: a fixed-dim embedding per media record. */
final case class MediaFeatures(media_id: Long, kind: String, f0: Double,
                               f1: Double, f2: Double, f3: Double)

/** Wide feature-head output (the dedup chain's embedding): 64 dims. */
final case class MediaFeatureVec(media_id: Long, kind: String,
                                 fv: Array[Double])

/**
 * Multimodal-column plumbing (north-star surface): binary payload columns
 * with typed metadata, decoded/feature-extracted in batched per-partition
 * passes.
 *
 * The decode itself is a clearly-marked DETERMINISTIC STUB — this container
 * has no image/audio codecs, so `decodeStub` derives plausible metadata from
 * the byte length alone. The Spark-side plumbing is real and tested: binary
 * schema, a typed `Dataset[MediaRecord]`, `mapPartitions` with explicit
 * batching (the Scala analogue of an arrow-batched UDF: the decoder sees
 * blocks of records, amortizing any per-call setup such as a codec context),
 * and partition-parallel execution with no driver materialization.
 */
object Multimodal {

  /** The salted digests behind [[featureExtractWide]]'s 64 components. */
  final val WideSalts = 16

  /** The media records of [[mediaFromDocuments]] in SQL: the kind by id,
    * then `cols` over the payload (the document text). */
  private def records(cols: String): Cte = "m" ->
    s"""|  SELECT doc_id AS media_id,
        |    ['image', 'audio', 'video'][(doc_id % 3 + 1)::INT] AS kind,
        |    $cols
        |  FROM documents""".stripMargin

  /** The payload length `n` every [[decodeStub]] figure derives from. */
  private val stubBytes = "octet_length(encode(text)) AS n"

  /** [[decodeStub]]'s visual dims and audio rate from `n`, kind-gated. */
  private val stubDims =
    """|    CASE WHEN kind IN ('image', 'video') THEN 320 + n % 320 ELSE 0 END AS width,
       |    CASE WHEN kind IN ('image', 'video') THEN 240 + n % 240 ELSE 0 END AS height,""".stripMargin
  private val stubRate =
    "    CASE WHEN kind = 'audio' THEN 8000 + (n % 3) * 8000 ELSE 0 END AS sample_rate"

  /** The 8 hex digits of `h` from `at` + 1 as an unsigned 32-bit integer,
    * by digit arithmetic and shifts; `in` indents the second line. */
  private def hexChunk(at: String, in: String): String =
    s"""|list_sum([(strpos('0123456789abcdef', substr(h, $at + d + 1, 1)) - 1)
        |$in* (1 << (4 * (7 - d))) for d in range(8)])""".stripMargin

  /** Deterministic fake decode — REPLACE with a real codec in production.
    * Metadata is a pure function of (kind, payload length) so the oracle can
    * reproduce it arithmetically. */
  def decodeStub(r: MediaRecord): DecodedMedia = {
    val n = r.payload.length.toLong
    r.kind match {
      case "image" => DecodedMedia(r.media_id, r.kind, n, 320 + n % 320, 240 + n % 240, 1L, 0L)
      case "video" => DecodedMedia(r.media_id, r.kind, n, 320 + n % 320, 240 + n % 240, 1 + n % 100, 0L)
      case _       => DecodedMedia(r.media_id, r.kind, n, 0L, 0L, 0L, 8000 + (n % 3) * 8000)
    }
  }

  /** Documents → media records: the text bytes stand in for a real payload
    * (same schema and code path a binary parquet column would take). */
  def mediaFromDocuments(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        encode(col("text"), "UTF-8").as("payload"),
        col("source"))
      .as[MediaRecord]
  }

  /** Batched per-partition decode: groups the partition iterator into blocks
    * of `batchSize` (codec-context amortization), decodes each block. */
  def decodeAll(media: Dataset[MediaRecord], batchSize: Int = 64): Dataset[DecodedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // a real decoder would open one codec context per batch here
        batch.map(decodeStub)
      }
    }
  }

  /**
   * Frame sampling over the video records: up to `maxFrames` evenly-spaced
   * frame indices per video (`idx_i = ⌊i·n_frames/k⌋`), each with the byte
   * offset a demuxer would seek to (`idx · ⌊n_bytes/n_frames⌋` in the stub's
   * fixed-frame-size model). A typed flatMap — the row-explosion plumbing a
   * real frame extractor plugs into; all arithmetic integer and
   * oracle-reproducible.
   */
  def sampleVideoFrames(media: Dataset[MediaRecord],
                        maxFrames: Int = 4): Dataset[SampledFrame] = {
    val spark = media.sparkSession
    import spark.implicits._
    decodeAll(media).filter(col("kind") === "video").as[DecodedMedia]
      .flatMap { d =>
        val k = math.min(maxFrames.toLong, d.n_frames)
        val frameBytes = d.n_bytes / d.n_frames
        (0L until k).map { i =>
          val idx = i * d.n_frames / k
          SampledFrame(d.media_id, d.n_frames, idx, idx * frameBytes)
        }
      }
  }

  def frameSampleQuery(spark: SparkSession, dir: String): DataFrame =
    sampleVideoFrames(mediaFromDocuments(documents(spark, dir)))
      .toDF()
      .orderBy("media_id", "frame_idx")

  val frameSampleOracle: String = sql(Seq(records(stubBytes),
    "v" ->
      """|  SELECT media_id, n AS n_bytes, 1 + n % 100 AS n_frames,
         |    least(4, 1 + n % 100) AS k
         |  FROM m WHERE kind = 'video'""".stripMargin,
    "f" ->
      """|  SELECT media_id, n_bytes, n_frames, k,
         |    unnest(range(0, k)) AS i
         |  FROM v""".stripMargin),
    """|SELECT media_id, CAST(n_frames AS BIGINT) AS n_frames,
       |  CAST((i * n_frames) // k AS BIGINT) AS frame_idx,
       |  CAST(((i * n_frames) // k) * (n_bytes // n_frames) AS BIGINT) AS frame_off
       |FROM f
       |ORDER BY media_id, frame_idx""".stripMargin)

  /**
   * Resize stage (n54): every visual record mapped to its target-box fit —
   * longest side scaled to `box`, aspect preserved, integer floor
   * arithmetic (`out_w = w·box / max(w, h)`), so both engines agree
   * exactly. A real resampler replaces the body of the map; the plumbing
   * it plugs into — typed Dataset in, batched per-partition pass, dims
   * from the decode stage, no driver materialization — is the tested
   * part, exactly like [[decodeAll]].
   */
  def resizeAll(media: Dataset[MediaRecord], box: Long = 256L,
                batchSize: Int = 64): Dataset[ResizedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    decodeAll(media, batchSize)
      .filter(col("kind").isin("image", "video")).as[DecodedMedia]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // a real implementation opens one resampler context per batch
          batch.map { d =>
            val longest = math.max(d.width, d.height)
            ResizedMedia(d.media_id, d.kind, d.width, d.height,
              d.width * box / longest, d.height * box / longest)
          }
        }
      }
  }

  def resizeQuery(spark: SparkSession, dir: String): DataFrame =
    resizeAll(mediaFromDocuments(documents(spark, dir)))
      .toDF().orderBy("media_id")

  /** The decode-stub dims plus the integer box fit. */
  val resizeOracle: String = sql(Seq(records(stubBytes),
    "d" ->
      """|  SELECT media_id, kind, 320 + n % 320 AS width, 240 + n % 240 AS height
         |  FROM m WHERE kind IN ('image', 'video')""".stripMargin),
    """|SELECT media_id, kind,
       |  CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
       |  CAST(width * 256 // greatest(width, height) AS BIGINT) AS out_w,
       |  CAST(height * 256 // greatest(width, height) AS BIGINT) AS out_h
       |FROM d
       |ORDER BY media_id""".stripMargin)

  /**
   * Feature-extraction stage (n55): a fixed-dim embedding per media
   * record, batched per partition — the mapPartitions shape a real vision/
   * audio encoder plugs into (one model session per batch, fixed-width
   * array out). The stub "model" derives each of the 4 features from an
   * 8-hex-char chunk of the payload's md5 via the exact power-of-two map
   * to [-1, 1) (the n06/n07 construction), so the DuckDB oracle rebuilds
   * the identical doubles from md5 digit arithmetic alone.
   */
  def featureExtract(media: Dataset[MediaRecord],
                     batchSize: Int = 64): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      // one digest instance per partition: the "model session" the batch
      // loop would reuse in a real encoder
      val md = java.security.MessageDigest.getInstance("MD5")
      it.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          // feature c is the unsigned big-endian value of digest bytes
          // [4c, 4c+4) — identical to parsing hex chars [8c, 8c+8), without
          // the per-byte hex formatting and re-parse the profile showed
          // dominating this map at scale (round 18; value-identical)
          val dg = md.digest(r.payload)
          def f(c: Int): Double = {
            val v = ((dg(4 * c) & 0xffL) << 24) | ((dg(4 * c + 1) & 0xffL) << 16) |
              ((dg(4 * c + 2) & 0xffL) << 8) | (dg(4 * c + 3) & 0xffL)
            v.toDouble / 2147483648.0 - 1.0
          }
          MediaFeatures(r.media_id, r.kind, f(0), f(1), f(2), f(3))
        }
      }
    }
  }

  def featureQuery(spark: SparkSession, dir: String): DataFrame =
    featureExtract(mediaFromDocuments(documents(spark, dir)))
      .toDF().orderBy("media_id")

  /** md5(payload) = md5(text) (the payload IS the UTF-8 text bytes); each
    * feature from one 8-hex chunk via digit arithmetic and shifts. */
  val featureOracle: String = {
    val fs = (0 until 4).map(c =>
      s"  CAST(${hexChunk(s"$c * 8", "    ")} AS DOUBLE) / 2147483648.0 - 1.0 AS f$c")
    sql(Seq(records("md5(text) AS h")),
      s"""|SELECT media_id, kind,
          |${fs.mkString(",\n")}
          |FROM m
          |ORDER BY media_id""".stripMargin)
  }

  // ------------------------------ media end-to-end dedup (n56)

  /**
   * Wide feature head for the dedup chain: a 64-dim embedding per media
   * record from 16 salted digests (4 chunks each), the same batched
   * mapPartitions shape as [[featureExtract]] — one "model session"
   * (digest instance) per partition, reused across batches. 64 dims
   * matches the banded near-dup engine's plane geometry
   * ([[Dedup.bandedCosinePairs]]), and at that width the random-pair
   * cosine bulk concentrates at std 1/√64 ≈ 0.125, so a 0.9 threshold is
   * cleanly separating — the property the 4-dim demo head ([[featureExtract]])
   * cannot offer (at dim 4 the bulk reaches past any usable threshold and
   * the qualifying pair set is inherently quadratic).
   *
   * The stub "model" is md5 digit arithmetic (exact powers of two into
   * [-1, 1)), so DuckDB rebuilds bit-identical doubles; a real vision /
   * audio encoder replaces the digest call and nothing else.
   */
  def featureExtractWide(media: Dataset[MediaRecord], salts: Int = WideSalts,
                         batchSize: Int = 64): Dataset[MediaFeatureVec] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      // per-salt suffix bytes built once per task, not per row (the "model
      // session" amortization this mapPartitions shape exists for)
      val suffixes = Array.tabulate(salts)(s => s"|$s".getBytes("UTF-8"))
      it.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          val fv = new Array[Double](salts * 4)
          var s = 0
          while (s < salts) {
            md.reset()
            md.update(r.payload)
            md.update(suffixes(s))
            // component c is the unsigned big-endian value of digest bytes
            // [4c, 4c+4) — identical to parsing hex chars [8c, 8c+8),
            // without the per-byte hex formatting and re-parse (round 18;
            // value-identical)
            val dg = md.digest()
            var c = 0
            while (c < 4) {
              val v = ((dg(4 * c) & 0xffL) << 24) | ((dg(4 * c + 1) & 0xffL) << 16) |
                ((dg(4 * c + 2) & 0xffL) << 8) | (dg(4 * c + 3) & 0xffL)
              fv(s * 4 + c) = v.toDouble / 2147483648.0 - 1.0
              c += 1
            }
            s += 1
          }
          MediaFeatureVec(r.media_id, r.kind, fv)
        }
      }
    }
  }

  /** Deterministically planted re-encode variants: a copy of every feature
    * vector at media_id + [[Dedup.PlantOffset]], each coordinate i
    * (1-based) shifted by (1/128)·((media_id·31 + i) mod 7 − 3) — the
    * [[Dedup.plantedCopies]] construction on the media modality. Stands in
    * for what a real encoder produces on re-encoded/transcoded copies of
    * the same asset: near-identical embeddings (measured copy-to-original
    * cosine ≈ 0.9996 at this feature scale). Exact binary-fraction
    * arithmetic, so the oracle rebuilds identical doubles.
    * Two selects — the shift and the re-key in one projection would let
    * lateral alias resolution rebind media_id (the plantedCopies pitfall). */
  private[graft] def plantedMediaCopies(feats: DataFrame): DataFrame =
    feats.select(col("media_id"),
        transform(col("fv"), (x, i) =>
          x + lit(Dedup.PlantJitter) *
            (pmod(col("media_id") * 31 + i + 1, lit(7)) - 3)).as("v"))
      .select((col("media_id") + lit(Dedup.PlantOffset)).as("vec_id"), col("v"))

  /**
   * Near-dup pairs over media feature vectors: the corpus (features ∪
   * planted re-encode variants) through the shared banded candidate engine
   * — size-adaptive sign-projection banding, band-bucket self-join, exact
   * codegen DotProduct verify ([[Dedup.bandedCosinePairs]]). One candidate
   * engine serves text minhash, embeddings, and now media features; the
   * scale story (candidates linear in rows × bands, constant-width shuffle
   * keys, no driver materialization) is inherited, not re-implemented.
   */
  def mediaNearDupPairs(feats: DataFrame,
                        threshold: Double = Dedup.NearDupCosine,
                        maxBandBucket: Int = Int.MaxValue): DataFrame = {
    val base = feats.select(col("media_id").as("vec_id"), col("fv").as("v"))
    Dedup.bandedCosinePairs(base.unionByName(plantedMediaCopies(feats)),
      threshold, maxBandBucket)
  }

  /**
   * The media modality's end-to-end dedup (n56) — the one chain text (n38)
   * and embeddings (n53) already had: decode-stage payloads →
   * [[featureExtractWide]] 64-dim embeddings → banded near-dup pairs
   * ([[mediaNearDupPairs]]) → connected components
   * ([[Dedup.minLabelComponents]]) → a row-level dedup manifest keyed by
   * media_id, the n38 verdict shape: `exact_dup` (same payload md5, pointer
   * at the group's min media_id) takes precedence, remaining non-canonical
   * cluster members are `near_dup` pointing at their cluster canonical,
   * everything else is `keep`. Planted re-encode variants carry a unique
   * synthetic fingerprint (`reenc:<id>`), so they can only dedup through
   * the feature engine — which is the point: byte-level fingerprints
   * cannot see transcoded copies, embeddings can.
   *
   * Scale shape: one shuffle on the 32-hex fingerprint, the banded pair
   * stage's linear candidate work, O(log diameter) label rounds, and
   * primary-key hash joins back — no new wide exchange beyond the two
   * engines it composes.
   */
  def mediaDedupManifestQuery(spark: SparkSession, dir: String): DataFrame = {
    val media = mediaFromDocuments(documents(spark, dir))
    val feats = featureExtractWide(media).toDF()
    val clusters = Dedup.minLabelComponents(
      mediaNearDupPairs(feats).select("vec_a", "vec_b"),
      "vec_a", "vec_b", "media_id")
    val baseFp = media.toDF()
      .select(col("media_id"), col("kind"), md5(col("payload")).as("fp"))
    val plantedFp = baseFp
      .select((col("media_id") + lit(Dedup.PlantOffset)).as("media_id"),
        col("kind"))
      .withColumn("fp", concat(lit("reenc:"), col("media_id")))
    val corpus = baseFp.unionByName(plantedFp.select("media_id", "kind", "fp"))
    val keepers = corpus.groupBy("fp").agg(min(col("media_id")).as("fp_keep"))
    corpus.join(keepers, "fp")
      .join(clusters, Seq("media_id"), "left")
      .select(col("media_id") +: col("kind") +:
        Dedup.manifestVerdictCols("media_id", "keep_media"): _*)
      .orderBy("media_id")
  }

  /** Exact all-pairs oracle over the same construction: 16 salted md5s →
    * 64 features via digit arithmetic (s-major, i = s·4 + c + 1), planted
    * re-encode shift, cosine ≥ 0.9 pairs, recursive closure, fingerprint
    * groups, the n38 precedence CASE. Cosines never surface in the output;
    * the 0.9 threshold sits ≥ 0.09 from every actual value (planted
    * ≈ 0.9996, exact dups 1.0, bulk ≤ ~0.6), so cross-engine summation
    * order cannot flip a verdict. */
  val mediaDedupManifestOracle: String = sql(mediaClosure(records("text"),
    """|  -- column order (vec_id, v, i) must match pl's: the UNION ALL in ex
       |  -- is positional
       |""".stripMargin) ++ Seq(labels("vec_id"),
    "f" -> "  SELECT media_id, kind, md5(text) AS fp FROM m",
    "pf" ->
      s"""|  SELECT media_id + ${Dedup.PlantOffset} AS media_id, kind,
          |    'reenc:' || CAST(media_id + ${Dedup.PlantOffset} AS VARCHAR) AS fp
          |  FROM f""".stripMargin,
    "corp" -> "  SELECT * FROM f UNION ALL SELECT * FROM pf",
    keepers("media_id", "corp")),
    s"""|SELECT c.media_id, c.kind,
        |${verdict("c.media_id", "keep_media")}
        |FROM corp c
        |JOIN k USING (fp)
        |LEFT JOIN lab l ON l.vec_id = c.media_id
        |ORDER BY c.media_id""".stripMargin, recursive = true)

  /** The media records `m` to [[featureExtractWide]]'s components (`hs`,
    * `base`, with `note` ahead of `base`'s body), their planted re-encode
    * copies, the pairs at [[Dedup.NearDupCosine]] and their closure. */
  private def mediaClosure(m: Cte, note: String = ""): Seq[Cte] = Seq(m,
    "hs" ->
      s"""|  SELECT media_id, s, md5(text || '|' || CAST(s AS VARCHAR)) AS h
          |  FROM m, (SELECT unnest(range($WideSalts)) AS s)""".stripMargin,
    "base" ->
      s"""|$note  SELECT media_id AS vec_id,
          |    CAST(${hexChunk("c * 8", "      ")} AS DOUBLE)
          |      / 2147483648.0 - 1.0 AS v,
          |    s * 4 + c + 1 AS i
          |  FROM hs, (SELECT unnest(range(4)) AS c)""".stripMargin) ++
    plantedPairs(Dedup.PlantOffset, Dedup.PlantJitter, Dedup.NearDupCosine) ++
    closure("vec_a", "vec_b", "vec_id")

  /**
   * The consumable end of the media dedup family (n57) — the n36/n53 shape
   * on the media modality: the feature corpus (media ∪ planted re-encode
   * variants) with every non-canonical near-dup cluster member dropped,
   * rolled up per kind. Completes the batch symmetry across all three
   * modalities: text (pairs n02 → clusters n27 → corpus n36 → manifest
   * n38), embeddings (n26 → n37 → n53 → manifest-equivalent n52), media
   * (features n55 → pairs/clusters/manifest n56 → corpus n57).
   *
   * Scale shape inherited from n53: the drop set is applied as a LEFT ANTI
   * hash join on the primary key; the rollup is one partial-aggregated
   * count per kind — no new wide exchange beyond the banded pair stage.
   */
  def mediaDedupCorpusQuery(spark: SparkSession, dir: String): DataFrame = {
    val media = mediaFromDocuments(documents(spark, dir))
    val feats = featureExtractWide(media).toDF()
    val corpus = feats.select(col("media_id"), col("kind"))
      .unionByName(feats.select(
        (col("media_id") + lit(Dedup.PlantOffset)).as("media_id"), col("kind")))
    val losers = Dedup.minLabelComponents(
        mediaNearDupPairs(feats).select("vec_a", "vec_b"),
        "vec_a", "vec_b", "media_id")
      .filter(!col("is_canonical")).select("media_id")
    val kept = corpus.join(losers, Seq("media_id"), "left_anti")
      .groupBy("kind").agg(count(lit(1)).as("n_kept"))
    // LEFT join (the n53 lesson, e218930): a kind whose members are ALL
    // dropped must surface as (kind, n_total, 0, n_total), not vanish
    corpus.groupBy("kind").agg(count(lit(1)).as("n_total"))
      .join(kept, Seq("kind"), "left")
      .select(col("kind"), col("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
      .orderBy("kind")
  }

  /** The n56 closure CTEs plus the anti-join and per-kind rollup (the
    * dedupedEmbeddingCorpusOracle shape on the media modality). */
  val mediaDedupCorpusOracle: String = sql(mediaClosure(records("text")) ++
    Seq(losers("vec_id"), plantedCorpus("media_id", "kind", "m", Dedup.PlantOffset)),
    keptRollup("kind", "ON l.vec_id = c.media_id"), recursive = true)

  /**
   * Incremental / streaming media dedup (n58): the media feature corpus
   * ingested as a micro-batch stream through the UNCHANGED
   * [[IncrementalEmbedIndex]] — the engine is modality-agnostic (any
   * (vec_id, embedding) frame), so media gets the full n52 machinery for
   * free: pinned banding geometry, stream-static candidates, contracted
   * label merge, commit markers, compaction + snapshot GC. Completes the
   * last symmetry cell: every modality now has features → pairs →
   * clusters → manifest/corpus → INCREMENTAL (text n41, embeddings n52,
   * media n58).
   *
   * Oracle: the batch n56 closure verbatim (incremental maintenance
   * converges to the batch cluster table for any batching — the n41/n52
   * argument, inherited rather than re-proven).
   */
  def streamingMediaClustersQuery(spark: SparkSession, dir: String,
                                  chunks: Int = 4): DataFrame = {
    val base = graft.queries.Tables.scratchDir("n58")
    val feats = featureExtractWide(mediaFromDocuments(documents(spark, dir))).toDF()
    // persisted: the geometry count plus the `chunks` staging passes are
    // chunks+1 consumers of the feature-extraction pipeline; released
    // before the stream runs (staging parquet is the stream's input)
    val corpus = feats
      .select(col("media_id").as("vec_id"), col("fv").as("embedding"))
      .unionByName(plantedMediaCopies(feats)
        .select(col("vec_id"), col("v").as("embedding")))
      .persist()
    val index =
      try {
        val n = corpus.count()
        val geom = IncrementalEmbedDedup.geometryFor(n)
        val idx = new IncrementalEmbedIndex(base.resolve("state"),
          geometry = geom,
          bandBuckets = IncrementalEmbedDedup.bucketsFor(n, geom._2),
          idBuckets = IncrementalEmbedDedup.bucketsFor(n, 1))
        IncrementalEmbedDedup.stageChunks(corpus, base.resolve("input"), chunks)
        idx
      } finally corpus.unpersist()
    IncrementalEmbedDedup.runStream(spark, base.resolve("input"),
      base.resolve("ckpt"), index)
    index.compact(spark)
    index.finalClusters(spark)
      .withColumnRenamed("vec_id", "media_id").orderBy("media_id")
  }

  /** The n56 closure emitting the cluster table (every matched media id —
    * here all of them, since every record has a planted partner). */
  val streamingMediaClustersOracle: String = sql(
    mediaClosure("m" -> "  SELECT doc_id AS media_id, text FROM documents"),
    """|SELECT vec_id AS media_id, MIN(r) AS cluster_id,
       |  vec_id = MIN(r) AS is_canonical
       |FROM reach
       |GROUP BY vec_id
       |ORDER BY media_id""".stripMargin, recursive = true)

  /**
   * Composed media pipeline (n59) — the [[Pipeline.pipelineQuery]] (n33)
   * shape on the media modality, ONE fused plan end-to-end: decode
   * metadata + payload fingerprints → exact dedup (keep lowest media_id
   * per md5, one window over the constant-width fingerprint shuffle) →
   * quality gate on decode metadata (visual records must fit a minimum
   * box, audio a minimum sample rate — map-side integer predicates) →
   * deterministic hash split (the n14 primitive, 80/10/10) → per
   * (kind, split) shard manifest. No label propagation or any other
   * materialization barrier in the chain, so Catalyst fuses all five
   * stages into a single plan (the n33 property, pinned for media in
   * `PlanShapeSpec`). This completes the final symmetry cell: text has
   * its fused pipeline (n33); media now too.
   */
  def mediaPipelineQuery(spark: SparkSession, dir: String): DataFrame = {
    val media = mediaFromDocuments(documents(spark, dir))
    val base = decodeAll(media).toDF()
      .join(media.toDF().select(col("media_id"), md5(col("payload")).as("fp")),
        "media_id")
    val dedupW = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("media_id")
    val deduped = base.withColumn("rk", row_number().over(dedupW))
      .filter(col("rk") === 1).drop("rk", "fp")
    val gated = deduped.filter(
      (col("kind").isin("image", "video") &&
        col("width") >= 360 && col("height") >= 270) ||
      (col("kind") === "audio" && col("sample_rate") >= 16000))
    val b = Sampling.hashBucket(col("media_id"))
    gated.withColumn("split",
        when(b < 80, "train").when(b < 90, "validation").otherwise("test"))
      .groupBy("kind", "split")
      .agg(count(lit(1)).as("n_media"), sum(col("n_bytes")).as("total_bytes"))
      .orderBy("kind", "split")
  }

  /** Decode-stub metadata from octet lengths + md5 keep-first + the gate
    * predicates + the n14 hash-bucket split + the rollup. */
  val mediaPipelineOracle: String = sql(Seq(
    records(s"$stubBytes, md5(text) AS fp"),
    "d" ->
      s"""|  SELECT media_id, kind, fp, n AS n_bytes,
          |$stubDims
          |$stubRate
          |  FROM m""".stripMargin,
    "dd" ->
      """|  SELECT * FROM (
         |    SELECT media_id, kind, n_bytes, width, height, sample_rate,
         |      row_number() OVER (PARTITION BY fp ORDER BY media_id) AS rk
         |    FROM d) WHERE rk = 1""".stripMargin,
    "q" ->
      """|  SELECT * FROM dd
         |  WHERE (kind IN ('image', 'video') AND width >= 360 AND height >= 270)
         |     OR (kind = 'audio' AND sample_rate >= 16000)""".stripMargin,
    splitBuckets("media_id")),
    splitRollup("kind",
      """|  COUNT(*) AS n_media,
         |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes""".stripMargin))

  /** Per-kind metadata rollup over the decoded media — the oracle reproduces
    * the stub's arithmetic from octet lengths. */
  def multimodalQuery(spark: SparkSession, dir: String): DataFrame =
    decodeAll(mediaFromDocuments(documents(spark, dir)))
      .groupBy("kind")
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        (sum(col("width")).cast("double") / count(lit(1))).as("avg_width"),
        sum(col("n_frames")).as("total_frames"),
        max(col("sample_rate")).as("max_sample_rate"))
      .orderBy("kind")

  val multimodalOracle: String = sql(Seq(records(stubBytes),
    "d" ->
      s"""|  SELECT media_id, kind, n AS n_bytes,
          |$stubDims
          |    CASE WHEN kind = 'image' THEN 1
          |         WHEN kind = 'video' THEN 1 + n % 100 ELSE 0 END AS n_frames,
          |$stubRate
          |  FROM m""".stripMargin),
    """|SELECT kind,
       |  COUNT(*) AS n_media,
       |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       |  CAST(SUM(width) AS DOUBLE) / COUNT(*) AS avg_width,
       |  CAST(SUM(n_frames) AS BIGINT) AS total_frames,
       |  CAST(MAX(sample_rate) AS BIGINT) AS max_sample_rate
       |FROM d
       |GROUP BY kind
       |ORDER BY kind""".stripMargin)
}
