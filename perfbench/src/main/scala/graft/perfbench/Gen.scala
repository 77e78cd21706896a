package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Seeded input generators. The same seed gives the same rows; graft only
 * ever sees the files these write. Shapes follow the repo's testdata tables
 * (`documents`, `embeddings`, `lineitem`), with the properties the dedup
 * and search operators depend on planted explicitly.
 */
object Gen {
  private val Vocab = ("a the key agg row scan slow fast table value part hash " +
    "merge batch spark line sort window data column join small big customer " +
    "query order group filter stream vector index shard topic event state " +
    "commit offset sink source plan stage task shuffle spill cache label " +
    "token model score rank").split(' ')
  private val Langs = Array("en", "es", "fr", "de", "zh")

  /** Skewed pick among `n` earlier items: low indexes are chosen far more
    * often, so a few clusters are large and most are small. */
  private def skewed(r: java.util.Random, n: Int): Int =
    math.min(n - 1, (n * math.pow(r.nextDouble(), 3)).toInt)

  /** The seed-independent shape of a corpus of `n` items: for each item,
    * -1 if it is fresh, else the index of the earlier fresh item it copies,
    * plus whether the copy is exact. Fixing it keeps the amount of
    * duplicate work (cluster sizes, candidate pairs) the same for every
    * seed; the seed decides the content. */
  private def shape(n: Int, copyShare: Double, exactShare: Double,
                    salt: Long): Array[(Int, Boolean)] = {
    val r = new java.util.Random(salt)
    val fresh = scala.collection.mutable.ArrayBuffer.empty[Int]
    Array.tabulate(n) { i =>
      val u = r.nextDouble()
      if (fresh.isEmpty || u >= copyShare + exactShare) { fresh += i; (-1, false) }
      else (fresh(skewed(r, fresh.length)), u < exactShare)
    }
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /**
   * `n` documents of 40–90 words: 70% fresh, 25% near-duplicates of an
   * earlier fresh document (one word substituted: word-3-gram Jaccard
   * ≥ 35/41 against it, clear of the 0.8 threshold) and 5% exact copies.
   * Copies pick their source with a skew, so cluster sizes are skewed.
   */
  def documents(n: Int, seed: Long): Seq[Row] = {
    val r = new java.util.Random(seed * 31 + 1)
    val words = new Array[Array[String]](n)
    shape(n, 0.25, 0.05, 1L).zipWithIndex.map { case ((src, exact), i) =>
      words(i) =
        if (src < 0) Array.fill(40 + r.nextInt(51))(Vocab(r.nextInt(Vocab.length)))
        else if (exact) words(src)
        else {
          val w = words(src).clone()
          val p = r.nextInt(w.length)
          var sub = w(p)
          while (sub == w(p)) sub = Vocab(r.nextInt(Vocab.length))
          w(p) = sub
          w
        }
      val text = words(i).mkString(" ")
      Row(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(20)}",
        text.length.toLong)
    }.toSeq
  }

  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /**
   * `n` 64-dimensional vectors of norm ≈ 1: 80% independent Gaussian, 20%
   * planted cluster members (an earlier vector, picked with skew, plus
   * noise of norm ≈ 0.08, cosine ≥ 0.99 to it). Independent pairs stay
   * below cosine ≈ 0.7, clear of the 0.9 threshold.
   */
  def embeddings(n: Int, seed: Long): Seq[Row] = {
    val r = new java.util.Random(seed * 31 + 2)
    val vs = new Array[Array[Float]](n)
    shape(n, 0.20, 0.0, 2L).zipWithIndex.map { case ((src, _), i) =>
      vs(i) =
        if (src < 0) Array.fill(64)((r.nextGaussian() * 0.125).toFloat)
        else Array.tabulate(64)(d => (vs(src)(d) + r.nextGaussian() * 0.01).toFloat)
      Row(i.toLong, vs(i).toSeq, r.nextInt(10))
    }.toSeq
  }

  /**
   * `n` TPC-H-shaped line items, computed by Spark from the row number and
   * the seed (a hash per column), so a large table costs little to make;
   * money columns carry two decimals.
   */
  def lineitem(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    def draw(salt: Int, m: Long): Column =
      pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(m))
    def letter(salt: Int, letters: String): Column =
      element_at(array(letters.map(ch => lit(ch.toString)): _*),
        (draw(salt, letters.length.toLong) + 1).cast("int"))
    val day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay * 86400L
    spark.range(n).select(
      floor(col("id") / 4).as("l_orderkey"),
      (draw(1, 2000) + 1).as("l_partkey"),
      (draw(2, 100) + 1).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      (draw(3, 50) + 1).cast("double").as("l_quantity"),
      ((draw(4, 10400000) + 90000).cast("double") / 100.0).as("l_extendedprice"),
      (draw(5, 11).cast("double") / 100.0).as("l_discount"),
      (draw(6, 9).cast("double") / 100.0).as("l_tax"),
      letter(7, "ANR").as("l_returnflag"),
      letter(8, "OF").as("l_linestatus"),
      timestamp_seconds(lit(day0) + draw(9, 2500) * 86400L).as("l_shipdate"))
  }

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("event_time", TimestampType),
    StructField("user_id", LongType), StructField("kind", StringType),
    StructField("value", LongType)))

  /** Event times are this origin plus the event's scheduled creation
    * offset; the run maps offsets onto its own wall clock. */
  val EventOrigin: Long = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli

  /**
   * The event stream for `ticks` generator ticks of `tickMs`, `perTick` new
   * events a tick, ids from `firstId`. Each event is stamped with its
   * scheduled creation time (`offsetMs` + its slot in the tick) and lands
   * in the file of its own tick, or — 20% of the time — up to `maxShift`
   * ticks later (out-of-order arrival). A `resend` share is sent again
   * `1..maxResend` ticks after its first arrival. Returns (file, row).
   */
  def events(ticks: Int, tickMs: Int, perTick: Int, firstId: Long,
             offsetMs: Long, resend: Double, maxShift: Int, maxResend: Int,
             seed: Long): Seq[(Int, Row)] = {
    val r = new java.util.Random(seed * 31 + 4)
    val kinds = Array("view", "click", "cart", "buy")
    (0 until ticks).flatMap { t =>
      (0 until perTick).flatMap { j =>
        val id = firstId + t.toLong * perTick + j
        val at = new java.sql.Timestamp(EventOrigin + offsetMs + t.toLong * tickMs +
          j.toLong * tickMs / perTick)
        val row = Row(id, at, r.nextInt(1000).toLong, kinds(r.nextInt(4)),
          r.nextInt(10000).toLong)
        val f = t + (if (r.nextDouble() < 0.2) 1 + r.nextInt(maxShift) else 0)
        val again =
          if (r.nextDouble() < resend) Seq((f + 1 + r.nextInt(maxResend), row)) else Nil
        (f, row) +: again
      }
    }.filter(_._1 < ticks)
  }

  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Writes `rows` as one table directory `<dir>/<name>.parquet`. */
  def table(spark: SparkSession, dir: Path, name: String, rows: Seq[Row],
            schema: StructType, files: Int = 4): Unit =
    frame(spark, rows, schema).repartition(files)
      .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)

  /** `EventSchema` as parquet writes it for Spark (timestamps as UTC micros). */
  private val EventParquet = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional int64 event_id;
      |  optional int64 event_time (TIMESTAMP(MICROS,true));
      |  optional int64 user_id;
      |  optional binary kind (STRING);
      |  optional int64 value;
      |}""".stripMargin)

  /** Writes each file's events as its own parquet file
    * `<out>/<prefix>-<n>.parquet`, directly with parquet's writer (a cold
    * Spark job per segment would dominate the run's input generation). */
  def eventFiles(rows: Seq[(Int, Row)], out: Path, prefix: String): Seq[Path] = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    Files.createDirectories(out)
    val groups = new SimpleGroupFactory(EventParquet)
    val conf = new org.apache.hadoop.conf.Configuration()
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (f, inFile) =>
      val dest = out.resolve(f"$prefix-$f%06d.parquet")
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(dest.toUri))
        .withType(EventParquet).withConf(conf).build()
      try inFile.foreach { case (_, r) =>
        w.write(groups.newGroup()
          .append("event_id", r.getLong(0))
          .append("event_time", r.getTimestamp(1).getTime * 1000L)
          .append("user_id", r.getLong(2))
          .append("kind", r.getString(3))
          .append("value", r.getLong(4)))
      } finally w.close()
      dest
    }
  }
}
