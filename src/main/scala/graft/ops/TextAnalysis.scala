package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Tables._
import OracleSql._

/**
 * Text-analysis operators for training-data pipelines (north-star surface):
 * marker-based language ID, quality scoring, token counting, and document
 * fingerprinting. All are single-pass declarative column programs (one scan,
 * no shuffle except the final presentation sort), which is exactly what you
 * want for a 100 TB document sweep; every one is DuckDB-oracle-checked.
 */
object TextAnalysis {

  /** The word width of the cross-document span windows (n28, n34). */
  final val SpanWidth = 5
  /** The word width of the dedup segments (n45, n50, n51). */
  final val SegmentWidth = 4

  // -------------------------------------------------------- language ID

  /** Tiny function-word profiles per language. On the synthetic corpus the
    * content is English-ish regardless of the labeled lang; the operator's
    * contract (deterministic scoring + argmax with fixed priority) is what is
    * verified, not model quality. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "und", "die", "das", "ist"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "et", "de", "est"),
    "zh" -> Seq("de", "shi", "he", "zai", "le"),
  )

  private def markerCount(ws: Column, markers: Seq[String]): Column =
    size(filter(ws, w => w.isInCollection(markers)))

  /** Language ID by marker-word counts with fixed-priority argmax. */
  def langIdQuery(spark: SparkSession, dir: String): DataFrame = {
    val ws = split(lower(col("text")), "\\s+")
    val counts = langMarkers.map { case (lang, ms) => lang -> markerCount(ws, ms) }
    val m = greatest(counts.map(_._2): _*)
    val predicted = counts.foldRight(lit("und")) { case ((lang, c), acc) =>
      when(c === m && m > 0, lang).otherwise(acc)
    }
    // foldRight makes the FIRST matching language in declaration order win
    val cols = Seq(col("doc_id"), col("lang")) ++
      counts.map { case (l, c) => c.cast("long").as(s"c_$l") } :+
      predicted.as("predicted")
    documents(spark, dir)
      .select(cols: _*)
      .withColumn("is_match", col("predicted") === col("lang"))
      .orderBy("doc_id")
  }

  val langIdOracle: String = {
    val cnt = langMarkers.map { case (lang, ms) =>
      s"CAST(len(list_filter(ws, w -> w IN (${quoted(ms)}))) AS BIGINT) AS c_$lang"
    }.mkString(",\n  ")
    val cs = langMarkers.map { case (l, _) => s"c_$l" }.mkString(", ")
    val m = s"greatest($cs)"
    val pred = langMarkers.reverse.foldLeft("'und'") { case (acc, (lang, _)) =>
      s"CASE WHEN c_$lang = $m AND $m > 0 THEN '$lang' ELSE $acc END"
    }
    sql(Seq(words("doc_id, lang"),
      "c" ->
        s"""|  SELECT doc_id, lang,
            |  $cnt
            |  FROM w""".stripMargin),
      s"""|SELECT doc_id, lang, $cs,
          |  $pred AS predicted,
          |  ($pred) = lang AS is_match
          |FROM c
          |ORDER BY doc_id""".stripMargin)
  }

  // ------------------------------------------------------ quality score

  val qualityStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "on", "for")

  /** The n09 fixed-weight quality score as one column expression over a
    * text column — shared by n09 (which also surfaces the intermediate
    * counters) and the n62 per-domain quota cut. Pure arithmetic on
    * counts: the double is bit-identical across engines. */
  def qualityScoreCol(text: Column): Column = {
    val ws = split(lower(text), "\\s+")
    val nChars = length(text).cast("long")
    val nWords = size(ws).cast("long")
    val stopCnt = size(filter(ws, w => w.isInCollection(qualityStopwords))).cast("long")
    val alphaCnt = length(regexp_replace(text, "[^A-Za-z]", "")).cast("long")
    val avgWordLen = alphaCnt.cast("double") / nWords
    val stopRatio = stopCnt.cast("double") / nWords
    val alphaRatio = alphaCnt.cast("double") / nChars
    val lengthScore = least(nChars.cast("double") / lit(500.0), lit(1.0))
    lengthScore * 0.25 + stopRatio * 0.25 + alphaRatio * 0.25 +
      least(avgWordLen / lit(8.0), lit(1.0)) * 0.25
  }

  /** Heuristic document quality: length, word stats, stopword ratio, alpha
    * ratio — combined into a fixed-weight score. Pure arithmetic on counts,
    * so the double result is bit-identical across engines. */
  def qualityScoreQuery(spark: SparkSession, dir: String): DataFrame = {
    val text = col("text")
    val ws = split(lower(text), "\\s+")
    val nChars = length(text).cast("long")
    val nWords = size(ws).cast("long")
    val stopCnt = size(filter(ws, w => w.isInCollection(qualityStopwords))).cast("long")
    val alphaCnt = length(regexp_replace(text, "[^A-Za-z]", "")).cast("long")
    val avgWordLen = alphaCnt.cast("double") / nWords
    val stopRatio = stopCnt.cast("double") / nWords
    val alphaRatio = alphaCnt.cast("double") / nChars
    // the same expression tree qualityScoreCol builds — kept as the shared
    // helper so n62 cannot drift from the n09 definition
    val score = qualityScoreCol(text)
    documents(spark, dir)
      .select(col("doc_id"), nChars.as("n_chars"), nWords.as("n_words"),
        stopCnt.as("n_stopwords"), avgWordLen.as("avg_word_len"),
        stopRatio.as("stopword_ratio"), alphaRatio.as("alpha_ratio"),
        score.as("quality_score"))
      .orderBy("doc_id")
  }

  val qualityScoreOracle: String =
    sql(Seq("c" -> qualityCounts("doc_id", qualityStopwords)),
      s"""|SELECT doc_id, n_chars, n_words, n_stopwords,
          |  CAST(alpha_cnt AS DOUBLE) / n_words AS avg_word_len,
          |  CAST(n_stopwords AS DOUBLE) / n_words AS stopword_ratio,
          |  CAST(alpha_cnt AS DOUBLE) / n_chars AS alpha_ratio,
          |  ${qualityTerms("    ")} AS quality_score
          |FROM c
          |ORDER BY doc_id""".stripMargin)

  // ------------------------------------- quality quantile filtering (n29)

  /**
   * Per-language quality-quantile filtering: rank every document inside its
   * language by the n09 quality score and keep the top 75% (percent_rank ≥
   * 0.25) — the corpus-refinement stage that drops each language's worst
   * quartile without a global threshold distorted by cross-language score
   * distributions.
   *
   * percent_rank is rational arithmetic ((rank−1)/(n−1)) over a unique
   * (score, doc_id) ordering, so both engines produce identical doubles —
   * unlike interpolated percentile cutoffs, whose lerp formulas differ in
   * ulps between engines. Scale note: the per-language window implies a
   * per-language sort; at corpus scale replace the exact rank with
   * approx_percentile cutoffs computed in one pass and broadcast back — the
   * kept set then differs only within the approximation band around the
   * cutoff. The exact window form is the oracle-checkable reference.
   */
  def qualityQuantileQuery(spark: SparkSession, dir: String): DataFrame = {
    val text = col("text")
    val ws = split(lower(text), "\\s+")
    val nChars = length(text).cast("long")
    val nWords = size(ws).cast("long")
    val stopCnt = size(filter(ws, w => w.isInCollection(qualityStopwords))).cast("long")
    val alphaCnt = length(regexp_replace(text, "[^A-Za-z]", "")).cast("long")
    val score = least(nChars.cast("double") / lit(500.0), lit(1.0)) * 0.25 +
      (stopCnt.cast("double") / nWords) * 0.25 +
      (alphaCnt.cast("double") / nChars) * 0.25 +
      least((alphaCnt.cast("double") / nWords) / lit(8.0), lit(1.0)) * 0.25
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("quality_score"), col("doc_id"))
    documents(spark, dir)
      .select(col("doc_id"), col("lang"), score.as("quality_score"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("kept", col("pr") >= 0.25)
      .orderBy("doc_id")
  }

  val qualityQuantileOracle: String = sql(Seq(
    "c" -> qualityCounts("doc_id, lang", qualityStopwords),
    "s" ->
      s"""|  SELECT doc_id, lang,
          |    ${qualityTerms("      ")} AS quality_score
          |  FROM c""".stripMargin),
    """|SELECT doc_id, lang, quality_score,
       |  percent_rank() OVER (PARTITION BY lang ORDER BY quality_score, doc_id) AS pr,
       |  percent_rank() OVER (PARTITION BY lang ORDER BY quality_score, doc_id) >= 0.25 AS kept
       |FROM s
       |ORDER BY doc_id""".stripMargin)

  // -------------------------------------------------- repetition signals

  /**
   * Gopher/C4-style repetition quality signals: duplicate-word fraction and
   * top-word fraction per document. Computed via explode + two aggregations
   * (word counts, then per-doc stats) — the shape that scales to arbitrary
   * document counts, unlike an O(words²) per-row array program. Ratios are
   * integer-count divisions, so doubles are bit-identical across engines.
   */
  def repetitionStatsQuery(spark: SparkSession, dir: String): DataFrame = {
    val counts = documents(spark, dir)
      .select(col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    counts.groupBy("doc_id")
      .agg(sum(col("c")).as("n_words"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_count"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"), col("top_count"),
        ((col("n_words") - col("n_distinct")).cast("double") / col("n_words"))
          .as("dup_word_ratio"),
        (col("top_count").cast("double") / col("n_words")).as("top_word_ratio"))
      .orderBy("doc_id")
  }

  val repetitionStatsOracle: String = sql(Seq(
    "w" ->
      s"""|  SELECT doc_id, unnest($splitWords) AS w
          |  FROM documents""".stripMargin,
    "c" -> "  SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2",
    "s" ->
      """|  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
         |    COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_count
         |  FROM c GROUP BY 1""".stripMargin),
    """|SELECT doc_id, n_words, n_distinct, top_count,
       |  CAST(n_words - n_distinct AS DOUBLE) / n_words AS dup_word_ratio,
       |  CAST(top_count AS DOUBLE) / n_words AS top_word_ratio
       |FROM s
       |ORDER BY doc_id""".stripMargin)

  // -------------------------------------- cross-doc duplicated spans (n28)

  /**
   * Cross-document duplicated-span fraction: per document, the share of its
   * word 5-gram windows that also occur in at least one OTHER document —
   * the span-level contamination signal behind substring-dedup pipelines
   * (within-doc repetition is n16's job; this one needs the corpus-wide
   * inverted index). Windows keep their multiplicity: a doc that repeats a
   * cross-duplicated span counts it every time.
   *
   * Scale shape: windows are hashed to md5 immediately (constant-width
   * shuffle key, mirrorable in the oracle), and "appears in another doc" is
   * `min(doc_id) != max(doc_id)` per hash — one ordinary aggregate, NOT a
   * count-distinct expansion. Two shuffles total (per-hash flag, per-doc
   * stats); the window expression binds the split array to a lambda
   * variable so the regex split runs once per row (see
   * [[graft.ops.Dedup.wordShingles]]).
   */
  def dupSpanStatsQuery(spark: SparkSession, dir: String): DataFrame = {
    val n = SpanWidth
    val gramsOf: Column => Column = ws => {
      val grams = transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k + 1)): _*))
      when(size(ws) >= n, grams).otherwise(array().cast("array<string>"))
    }
    val grams = element_at(
      transform(array(split(lower(col("text")), "\\s+")), gramsOf), 1)
    val hashed = documents(spark, dir)
      .select(col("doc_id"), explode(grams).as("g"))
      .select(col("doc_id"), md5(col("g")).as("h"))
    val flags = hashed.groupBy("h")
      .agg((min(col("doc_id")) =!= max(col("doc_id"))).as("is_cross"))
    hashed.join(flags, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(col("is_cross").cast("long")).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        (col("n_dup_windows").cast("double") / col("n_windows")).as("dup_frac"))
      .orderBy("doc_id")
  }

  val dupSpanStatsOracle: String = sql(spanHashes :+
    "f" -> "  SELECT h, MIN(doc_id) <> MAX(doc_id) AS is_cross FROM g GROUP BY h",
    flaggedShare("is_cross", "n_dup_windows", "dup_frac", "h"))

  /** Every document's [[SpanWidth]]-word windows as md5s, with their
    * multiplicity (n28, n34). */
  private def spanHashes: Seq[Cte] = Seq(words(),
    "g" ->
      s"""|  SELECT doc_id,
          |    unnest([md5(${gram(SpanWidth, " " * 16)})
          |            for i in range(1, len(ws) - ${SpanWidth - 2})]) AS h
          |  FROM w WHERE len(ws) >= $SpanWidth""".stripMargin)

  // ---------------------------------------- n34 first-occurrence novelty

  /**
   * First-occurrence novelty: per document, the fraction of its word
   * 5-gram windows whose EARLIEST occurrence (min doc_id — ingestion-order
   * proxy) is this document. This is the keep-first attribution policy of
   * exact-substring dedup (Lee et al.'s "deduplicating training data")
   * at window granularity: a corpus-curation signal for "how much does
   * this doc add that wasn't already there". Windows keep multiplicity; a
   * window is novel in its first doc even if repeated there (within-doc
   * repetition is n16's signal, not this one's).
   *
   * Scale shape: same md5-hashed inverted index as n28 — the attribution
   * aggregate is `min(doc_id)` per hash (ordinary partial-aggregated min
   * on a constant-width key), then one join back and a per-doc count.
   */
  def noveltyQuery(spark: SparkSession, dir: String): DataFrame = {
    val n = SpanWidth
    val gramsOf: Column => Column = ws => {
      val grams = transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k + 1)): _*))
      when(size(ws) >= n, grams).otherwise(array().cast("array<string>"))
    }
    val grams = element_at(
      transform(array(split(lower(col("text")), "\\s+")), gramsOf), 1)
    val hashed = documents(spark, dir)
      .select(col("doc_id"), explode(grams).as("g"))
      .select(col("doc_id"), md5(col("g")).as("h"))
    val firstDoc = hashed.groupBy("h").agg(min(col("doc_id")).as("first_doc"))
    hashed.join(firstDoc, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum((col("doc_id") === col("first_doc")).cast("long")).as("n_novel"))
      .select(col("doc_id"), col("n_windows"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_windows")).as("novelty_frac"))
      .orderBy("doc_id")
  }

  val noveltyOracle: String = sql(spanHashes :+
    "f" -> "  SELECT h, MIN(doc_id) AS first_doc FROM g GROUP BY h",
    """|SELECT g.doc_id, COUNT(*) AS n_windows,
       |  CAST(SUM(CASE WHEN g.doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  CAST(SUM(CASE WHEN g.doc_id = first_doc THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
       |    AS novelty_frac
       |FROM g JOIN f USING (h)
       |GROUP BY g.doc_id
       |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------ token counting

  /** Token counts: whitespace tokens, regex word-ish tokens (a BPE-style
    * pre-tokenizer split), and a subword estimate of ceil(len/4) pieces per
    * word. */
  def tokenCountQuery(spark: SparkSession, dir: String): DataFrame = {
    val ws = split(col("text"), "\\s+")
    val bpeish = split(lower(col("text")), "[^a-z0-9]+")
    val subwords = aggregate(ws, lit(0L),
      (acc, w) => acc + ceil(length(w) / lit(4.0)).cast("long"))
    documents(spark, dir)
      .select(col("doc_id"),
        size(ws).cast("long").as("n_ws_tokens"),
        size(filter(bpeish, t => t =!= "")).cast("long").as("n_word_tokens"),
        subwords.as("n_subword_est"))
      .orderBy("doc_id")
  }

  val tokenCountOracle: String =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_ws_tokens,
      |  CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |        t -> t <> '')) AS BIGINT) AS n_word_tokens,
      |  CAST(list_sum(list_transform(string_split_regex(text, '\s+'),
      |        w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_subword_est
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ TF-IDF

  /**
   * Top TF-IDF term per document. The IDF is the rational form
   * `(N + 1) / (df + 1)` rather than its logarithm — transcendentals are
   * engine-ambiguous in the last ulp (see README determinism notes) and the
   * per-document argmax ranking is unchanged by the monotone log. Two
   * shuffles: term counting and document-frequency join; argmax via max_by
   * over a unique (score, term) ordering.
   */
  def tfidfQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val n = docs.count() // tiny scalar, the only driver-side value
    val terms = docs
      .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z]+")).as("term"))
      .filter(col("term") =!= "" && !col("term").isin(qualityStopwords: _*))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = terms.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term")
      .withColumn("tfidf", col("tf") * (lit(n + 1.0) / (col("df") + 1)))
    // argmax via MAX over a (score, term) struct: scores are ratios of small
    // ints so ties across terms are real, and the term tie-breaks
    val best = max(struct(col("tfidf").as("tfidf"), col("term").as("term")))
    scored.groupBy("doc_id")
      .agg(best.getField("term").as("top_term"),
        best.getField("tfidf").as("top_score"))
      .orderBy("doc_id")
  }

  val tfidfOracle: String = sql(Seq(
    "terms" ->
      """|  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
         |  FROM documents""".stripMargin,
    "t" ->
      s"""|  SELECT doc_id, term FROM terms
          |  WHERE term <> '' AND term NOT IN (${quoted(qualityStopwords)})""".stripMargin,
    "tf" -> "  SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2",
    "df" -> "  SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1",
    "scored" ->
      """|  SELECT doc_id, term,
         |    tf * (((SELECT COUNT(*) FROM documents) + 1.0) / (df + 1)) AS tfidf
         |  FROM tf JOIN df USING (term)""".stripMargin),
    """|SELECT doc_id,
       |  (MAX({'tfidf': tfidf, 'term': term})).term AS top_term,
       |  (MAX({'tfidf': tfidf, 'term': term})).tfidf AS top_score
       |FROM scored
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin)

  // -------------------------------------------------- fingerprinting

  /**
   * Document fingerprints: md5 of whitespace-normalized text, plus a
   * winnowing-style fingerprint — the minimum md5 over a stride of 20-char
   * shingles (stride 7), robust to local edits. Both are order-independent
   * string mins/hashes, so they hash-match across engines.
   */
  def fingerprintQuery(spark: SparkSession, dir: String): DataFrame = {
    val norm = regexp_replace(lower(col("text")), "\\s+", " ")
    val nShingles = greatest(
      floor((length(norm) - 20).cast("double") / 7.0).cast("long") + 1, lit(0L))
    documents(spark, dir)
      .withColumn("norm", norm)
      .withColumn("n_sh", nShingles)
      .withColumn("fingerprint", md5(col("norm")))
      .withColumn("winnow_fp",
        when(col("n_sh") > 0,
          array_min(transform(sequence(lit(0), col("n_sh") - 1),
            i => md5(col("norm").substr(i * 7 + 1, lit(20))))))
          .otherwise(md5(col("norm"))))
      .select(col("doc_id"), col("fingerprint"), col("winnow_fp"),
        length(col("norm")).cast("long").as("norm_len"))
      .orderBy("doc_id")
  }

  val fingerprintOracle: String = sql(Seq(
    "n" -> "  SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS norm FROM documents",
    "s" ->
      """|  SELECT doc_id, norm,
         |    greatest(CAST(floor((length(norm) - 20) / 7.0) AS BIGINT) + 1, 0) AS n_sh
         |  FROM n""".stripMargin),
    """|SELECT doc_id,
       |  md5(norm) AS fingerprint,
       |  CASE WHEN n_sh > 0
       |    THEN list_min([md5(norm[i * 7 + 1 : i * 7 + 20]) for i in range(0, n_sh)])
       |    ELSE md5(norm) END AS winnow_fp,
       |  CAST(length(norm) AS BIGINT) AS norm_len
       |FROM s
       |ORDER BY doc_id""".stripMargin)

  // ----------------------------------------- n43 corpus-trained bigram LM

  /**
   * Corpus-trained bigram language-model fluency score — the self-supervised
   * stand-in for the KenLM-perplexity quality filter (CCNet-style): train
   * bigram counts on the corpus itself, then score every document by its
   * mean bigram conditional probability p(w2|w1) = c(w1 w2)/c(w1·). Higher
   * means the document's word transitions are typical of the corpus; the
   * lowest-scoring tail is the incoherent/outlier cut.
   *
   * Exactness: probabilities are engine-ambiguous only if you touch
   * transcendentals (log-perplexity) or order-dependent float sums. Neither
   * happens here: each probability is quantized to
   * `q = (c2 · 2^30) div c1` in pure integer arithmetic (exact in both
   * engines), the per-doc sum runs in BIGINTs (order-independent), and the
   * mean is ONE double division of exact integers at the end — the n35
   * integer-quantization treatment. The monotone log is dropped for the
   * same reason as n13's TF-IDF: it cannot change any ranking. Envelope:
   * `c2 < 2^33` keeps `c2·2^30 < 2^63`; a hotter bigram (≈8.6e9
   * occurrences — a ~10^11-token corpus's "of the") raises an explicit
   * error on the #bigram-types frame rather than silently wrapping (the
   * n31 treatment); past that, shard the quantization by salting c2.
   *
   * Scale shape: bigram extraction is map-side (one split per row, bound
   * via the lambda trick of [[dupSpanStatsQuery]]); the model is ONE
   * partial-aggregated count on (w1, w2) — Zipf skew lands on the
   * map-side combine, not the shuffle; prefix totals derive from the
   * model table (#bigram-types rows, not corpus rows); scoring re-joins
   * doc bigrams to the model on (w1, w2) — at production scale the model
   * table is the broadcast side once pruned to the top-k vocabulary —
   * and the per-doc aggregate is the only other corpus-width shuffle.
   */
  def bigramLmQuery(spark: SparkSession, dir: String): DataFrame =
    bigramLm(documents(spark, dir))

  def bigramLm(docs: DataFrame): DataFrame = {
    val pairsOf: Column => Column = ws => {
      val ps = transform(sequence(lit(1), size(ws) - 1),
        i => struct(element_at(ws, i).as("w1"), element_at(ws, i + 1).as("w2")))
      when(size(ws) >= 2, ps)
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    }
    val pairs = element_at(
      transform(array(split(lower(col("text")), "\\s+")), pairsOf), 1)
    val bg = docs
      .select(col("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    val model = c2.join(c1, "w1")
      .withColumn("q",
        when(col("c2") < lit(1L << 33),
          expr("c2 * CAST(1073741824 AS BIGINT) div c1"))
          .otherwise(raise_error(concat(
            lit("n43 quantization envelope exceeded: c2 = "),
            col("c2").cast("string"), lit(" >= 2^33"))).cast("long")))
      .select("w1", "w2", "q")
    bg.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sum_q"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_q"),
        (col("sum_q").cast("double") /
          (col("n_bigrams").cast("double") * lit(1073741824.0))).as("lm_score"))
      .orderBy("doc_id")
  }

  val bigramLmOracle: String = sql(bigramModel("w"),
    """|SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(q) AS BIGINT) AS sum_q,
       |  CAST(SUM(q) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1073741824.0)
       |    AS lm_score
       |FROM bg JOIN model USING (w1, w2)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin)

  /** The corpus-trained model of [[bigramLm]] over the word split `w`:
    * each document's bigrams, their counts and the quantized
    * probabilities `q` (n43, n49). */
  private[ops] def bigramModel(w: String): Seq[Cte] = Seq(words(name = w),
    "bg" ->
      s"""|  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
          |  FROM $w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) r""".stripMargin,
    "c2" -> "  SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2",
    "c1" -> "  SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1",
    "model" ->
      """|  SELECT w1, w2, CAST((c2 * 1073741824) // c1 AS BIGINT) AS q
         |  FROM c2 JOIN c1 USING (w1)""".stripMargin)

  // ------------------------------------ n45 segment-level cross-doc dedup

  /**
   * Segment-level cross-document dedup with text reconstruction — the
   * RefinedWeb/CCNet line-dedup transformation at segment granularity (the
   * synthetic corpus has no sentence punctuation, so "line" = a
   * non-overlapping 4-word window): every segment whose EARLIEST corpus
   * occurrence (min doc_id — the n34 keep-first attribution) is elsewhere
   * is dropped, and the document's surviving text is reassembled in
   * original segment order. Unlike the document-level families (n01–n38)
   * this rewrites documents instead of selecting them — the dedup that
   * salvages partially-duplicated pages. A doc that repeats a segment it
   * owns keeps every copy (within-doc repetition is n16's signal).
   *
   * Scale shape: segments are md5-hashed immediately (constant-width
   * shuffle key); attribution is `min(doc_id)` per hash — one
   * partial-aggregated min, the n34 inverted-index shape — then one join
   * back and a per-doc rebuild. The rebuild's collect_list is per-document
   * (bounded by doc size, the same envelope any per-doc array program
   * already has), ordered deterministically by array_sort on (pos, seg)
   * — collect_list's arrival order is not deterministic, the sort is what
   * makes the output exact.
   */
  def segmentDedupQuery(spark: SparkSession, dir: String,
                        width: Int = SegmentWidth): DataFrame =
    segmentDedup(documents(spark, dir), width)

  def segmentDedup(docs: DataFrame, width: Int = SegmentWidth): DataFrame = {
    val segsOf: Column => Column = ws =>
      transform(sequence(lit(0), size(ws) - 1, lit(width)),
        st => concat_ws(" ", slice(ws, st + 1, lit(width))))
    val segs = element_at(
      transform(array(split(lower(col("text")), "\\s+")), segsOf), 1)
    val exploded = docs
      .select(col("doc_id"), posexplode(segs).as(Seq("pos", "seg")))
      .withColumn("h", md5(col("seg")))
    val firstDoc = exploded.groupBy("h").agg(min(col("doc_id")).as("first_doc"))
    exploded.join(firstDoc, "h")
      .withColumn("kept", col("doc_id") === col("first_doc"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(col("kept").cast("long")).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("pos"), col("seg"))))),
          x => x.getField("seg")), " ").as("kept_text"))
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        (col("n_kept").cast("double") / col("n_segs")).as("kept_frac"),
        col("kept_text"))
      .orderBy("doc_id")
  }

  // --------------------------------- n50 within-doc segment dedup rewrite

  /**
   * Within-document segment dedup with text reconstruction — the other
   * half of the RefinedWeb/CCNet line-dedup recipe: [[segmentDedup]] (n45)
   * drops segments whose earliest occurrence is in ANOTHER document but
   * deliberately keeps within-doc repeats; this op drops every repeat of a
   * segment AFTER its first occurrence INSIDE the same document (menus,
   * boilerplate headers, scraped pagination loops) and reassembles the
   * text. Attribution is `min(pos)` per (doc, segment-hash) — the n45
   * machinery with the grouping key narrowed from corpus-global to
   * per-document, which also changes the scale shape: the aggregation key
   * is (doc_id, h), so the shuffle partitions by document and NO
   * cross-document traffic exists at all — this op would run as a
   * map-side-only pass under a bucketing on doc_id.
   */
  def innerSegmentDedupQuery(spark: SparkSession, dir: String,
                             width: Int = SegmentWidth): DataFrame =
    innerSegmentDedup(documents(spark, dir), width)

  def innerSegmentDedup(docs: DataFrame, width: Int = SegmentWidth): DataFrame = {
    val segsOf: Column => Column = ws =>
      transform(sequence(lit(0), size(ws) - 1, lit(width)),
        st => concat_ws(" ", slice(ws, st + 1, lit(width))))
    val segs = element_at(
      transform(array(split(lower(col("text")), "\\s+")), segsOf), 1)
    val exploded = docs
      .select(col("doc_id"), posexplode(segs).as(Seq("pos", "seg")))
      .withColumn("h", md5(col("seg")))
    val firstPos = exploded.groupBy("doc_id", "h")
      .agg(min(col("pos")).as("first_pos"))
    exploded.join(firstPos, Seq("doc_id", "h"))
      .withColumn("kept", col("pos") === col("first_pos"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(col("kept").cast("long")).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("pos"), col("seg"))))),
          x => x.getField("seg")), " ").as("kept_text"))
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        (col("n_kept").cast("double") / col("n_segs")).as("kept_frac"),
        col("kept_text"))
      .orderBy("doc_id")
  }

  val innerSegmentDedupOracle: String = sql(segments :+
    "f" -> "  SELECT doc_id, h, MIN(pos) AS first_pos FROM seg GROUP BY 1, 2",
    keptSegments("pos = first_pos", "doc_id, h"))

  /** Each document's [[SegmentWidth]]-word segments in order (`pos`), as
    * text and md5 (n45, n50). */
  private def segments: Seq[Cte] = Seq(words(),
    "seg" ->
      s"""|  SELECT doc_id, CAST(st / $SegmentWidth AS BIGINT) AS pos,
          |    md5($segmentText) AS h,
          |    $segmentText AS seg
          |  $segmentStarts""".stripMargin)

  private def segmentText: String =
    s"array_to_string(list_slice(ws, st + 1, st + $SegmentWidth), ' ')"
  private def segmentStarts: String =
    s"FROM w, LATERAL (SELECT unnest(range(0, len(ws), $SegmentWidth)) AS st) r"

  /** Per document, its segments, the `kept` ones' count and share, and
    * their text in order. */
  private def keptSegments(kept: String, using: String): String =
    s"""|SELECT doc_id, COUNT(*) AS n_segs,
        |${keptShare(kept)},
        |  COALESCE(string_agg(CASE WHEN $kept THEN seg END,
        |    ' ' ORDER BY pos), '') AS kept_text
        |FROM seg JOIN f USING ($using)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin

  // ----------------------------------- n51 duplicated-segment leaderboard

  /**
   * Global duplicated-segment leaderboard — the audit a data team runs
   * before choosing dedup/boilerplate thresholds: the top-20 segments by
   * how many DISTINCT documents contain them, with total occurrence
   * counts. n30 answers this per-source with a DF threshold; this is the
   * corpus-global ranked view (the "which exact strings are everywhere"
   * report that catches cookie banners, license headers, scraped nav
   * bars). Determinism: ties rank by segment hash, so the top-20 cut is
   * total-ordered.
   *
   * Scale shape: one md5 shuffle into a partial-aggregated per-hash count
   * (count_distinct docs partial-aggregates on (h, doc_id) — Spark plans
   * the standard two-phase distinct expansion), then a top-20 over the
   * distinct-segment frame — the d50 ordered-limit shape, which the
   * TopKRewrite/TakeOrderedAndProject machinery keeps as a per-partition
   * bounded heap + single 20-row merge: no global sort of the segment
   * table ever materializes.
   */
  def dupSegmentTopQuery(spark: SparkSession, dir: String,
                         width: Int = SegmentWidth, k: Int = 20): DataFrame =
    dupSegmentTop(documents(spark, dir), width, k)

  def dupSegmentTop(docs: DataFrame, width: Int = SegmentWidth, k: Int = 20): DataFrame = {
    val segsOf: Column => Column = ws =>
      transform(sequence(lit(0), size(ws) - 1, lit(width)),
        st => concat_ws(" ", slice(ws, st + 1, lit(width))))
    val segs = element_at(
      transform(array(split(lower(col("text")), "\\s+")), segsOf), 1)
    docs
      .select(col("doc_id"), explode(segs).as("seg"))
      .withColumn("h", md5(col("seg")))
      .groupBy("h", "seg")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .orderBy(col("n_docs").desc, col("h"))
      .limit(k)
  }

  val dupSegmentTopOracle: String = sql(Seq(words(),
    "seg" ->
      s"""|  SELECT doc_id,
          |    $segmentText AS seg
          |  $segmentStarts""".stripMargin),
    """|SELECT md5(seg) AS h, seg,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  COUNT(*) AS n_occ
       |FROM seg
       |GROUP BY seg
       |ORDER BY n_docs DESC, h
       |LIMIT 20""".stripMargin)

  val segmentDedupOracle: String = sql(segments :+
    "f" -> "  SELECT h, MIN(doc_id) AS first_doc FROM seg GROUP BY h",
    keptSegments("doc_id = first_doc", "h"))
}
