package graft.ops

/**
 * The named CTE fragments the DuckDB oracle twins are built from, and the
 * one composer that lays a twin out. Each fragment mirrors one Spark step
 * and takes that step's parameters, so a twin and its query read the same
 * threshold, shingle size and planted-copy rule:
 *
 *  - [[words]], [[sharedShingles]], [[jaccardPairs]]: the whitespace split
 *    and distinct k-shingle sets of [[Dedup.wordShingles]], and the exact
 *    threshold join that [[Dedup.minHashNearDupPairs]] and
 *    [[Dedup.ngramJaccardPairs]] verify to (banding's miss odds at the
 *    threshold are below the testdata's resolution);
 *  - [[closure]], [[losers]], [[labels]], [[clusterRows]]: the min-label
 *    connected components of [[Dedup.minLabelComponents]] as a recursive
 *    reachability closure (tractable because near-dup clusters are small;
 *    the twin needs `WITH RECURSIVE`);
 *  - [[embeddingValues]], [[planted]], [[unitVectors]], [[cosinePairs]]:
 *    [[Dedup.plantedCopies]] / [[Multimodal.plantedMediaCopies]],
 *    [[Dedup.unitVector]] and the exact DotProduct verify of
 *    [[Dedup.bandedCosinePairs]] and [[Dedup.embeddingNearDupPairs]];
 *  - [[keepers]], [[verdict]]: the md5-group keepers and the precedence
 *    CASE of [[Dedup.manifestVerdictCols]];
 *  - [[qualityCounts]], [[qualityTerms]]: the counters and the four
 *    weighted terms of [[TextAnalysis.qualityScoreCol]];
 *  - [[planes]], [[components]], [[dots]], [[assigned]], [[probedQuery]]:
 *    the md5 integer directions of [[IvfGeometry]] and the LSH planes,
 *    the floor(x·2²⁰) components and the BIGINT cell dots.
 *
 * Why the two engines agree bit for bit: the planted jitter is an exact
 * binary fraction ([[Dedup.PlantJitter]] = 2⁻⁷) times a small integer, and
 * the `CAST(… AS DOUBLE)` keeps DuckDB's decimal literal out of the
 * arithmetic, so both engines do the same double multiply and add (the
 * operands of `%` are non-negative, so DuckDB's `%` equals Spark's `pmod`).
 * Unit components are one norm and one division per component, the
 * formulation the n39 kNN graph proves. Integer dots and counts run in
 * BIGINT, and an outer `CAST(… AS BIGINT)` on a DuckDB SUM keeps its
 * HUGEINT from rendering as float64 in the oracle compare. Quality scores
 * are ratios of exact integer counts. An oracle whose text no fragment
 * reproduces byte for byte stays hand-written beside its query.
 */
object OracleSql {
  /** A named CTE: its name and its body. */
  type Cte = (String, String)

  /** The CTE list `a AS (\n…\n), b AS (\n…\n)`: a body that starts with
    * its indent sits on its own lines, an unindented one inline. */
  def ctes(cs: Seq[Cte]): String = cs.map { case (n, body) =>
    if (body.startsWith(" ")) s"$n AS (\n$body\n)" else s"$n AS ($body)"
  }.mkString(", ")

  /** `WITH <ctes>\n<tail>`. */
  def sql(cs: Seq[Cte], tail: String, recursive: Boolean = false): String =
    (if (recursive) "WITH RECURSIVE " else "WITH ") + ctes(cs) + "\n" + tail

  // ----------------------------------------------------------------- text

  val splitWords = "string_split_regex(lower(text), '\\s+')"

  /** Each document's lowercased whitespace split, as `ws`. */
  def words(cols: String = "doc_id", name: String = "w"): Cte =
    name -> s"  SELECT $cols, $splitWords AS ws FROM documents"

  /** `ws[i] || ' ' || … || ws[i+k-1]`, three words to a line. */
  def gram(k: Int, indent: String): String =
    (0 until k).map(j => if (j == 0) "ws[i]" else s"ws[i+$j]").grouped(3)
      .map(_.mkString(" || ' ' || ")).mkString(s" || ' ' ||\n$indent")

  /** The distinct word k-shingle sets (`sh`), one row per shingle (`ex`),
    * and the shingles each document pair shares (`common`). */
  def sharedShingles(k: Int, ex: String = "ex"): Seq[Cte] = Seq(words(),
    "sh" -> s"""|  SELECT doc_id,
                |    list_distinct([${gram(k, "")}
                |                   for i in range(1, len(ws) - ${k - 2})]) AS shingles
                |  FROM w WHERE len(ws) >= $k""".stripMargin,
    ex -> "  SELECT doc_id, unnest(shingles) AS sh FROM sh",
    "common" -> s"""|  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_common
                    |  FROM $ex x JOIN $ex y USING (sh)
                    |  WHERE x.doc_id < y.doc_id
                    |  GROUP BY 1, 2""".stripMargin)

  val shingleCounts = "SELECT doc_id, len(shingles) AS sz FROM sh"

  val jaccard = "CAST(n_common AS DOUBLE) / (a.sz + b.sz - n_common)"

  /** The pair and its Jaccard, as a select list. */
  val pairJaccard: String =
    s"""|doc_a, doc_b,
        |  $jaccard AS jaccard""".stripMargin

  /** The pairs of `common` at Jaccard ≥ `threshold`, each line indented
    * by `in`. */
  def jaccardJoin(select: String, threshold: Double, in: String): String =
    s"""|SELECT $select
        |FROM common
        |JOIN sz a ON a.doc_id = doc_a
        |JOIN sz b ON b.doc_id = doc_b
        |WHERE $jaccard >= $threshold""".stripMargin
      .linesIterator.map(in + _).mkString("\n")

  /** [[sharedShingles]] cut to the (doc_a, doc_b) pairs at `threshold`. */
  def jaccardPairs(k: Int, threshold: Double, ex: String = "ex",
                   select: String = "doc_a, doc_b",
                   name: String = "pairs"): Seq[Cte] =
    sharedShingles(k, ex) ++ Seq("sz" -> s"$shingleCounts\n",
      name -> jaccardJoin(select, threshold, "  "))

  // ------------------------------------------------------ label closure

  /** Both directions of every `pairs` row (`edges`), and every id with
    * each id it reaches (`reach`). */
  def closure(a: String, b: String, id: String): Seq[Cte] = Seq(
    "edges" -> s"""|  SELECT $a AS src, $b AS dst FROM pairs
                   |  UNION ALL
                   |  SELECT $b AS src, $a AS dst FROM pairs""".stripMargin,
    "reach" -> s"""|  SELECT DISTINCT src AS $id, src AS r FROM edges
                   |  UNION
                   |  SELECT e.dst AS $id, reach.r
                   |  FROM reach JOIN edges e ON e.src = reach.$id""".stripMargin)

  /** The non-canonical cluster members: every id above its cluster min. */
  def losers(id: String): Cte =
    "losers" -> s"  SELECT $id FROM reach GROUP BY $id HAVING $id <> MIN(r)"

  /** Each clustered id's label, the min id it reaches. */
  def labels(id: String): Cte =
    "lab" -> s"  SELECT $id, MIN(r) AS cluster_id FROM reach GROUP BY $id"

  /** The (id, cluster_id, is_canonical) cluster table. */
  def clusterRows(id: String): String =
    s"""|SELECT $id, MIN(r) AS cluster_id, $id = MIN(r) AS is_canonical
        |FROM reach
        |GROUP BY $id
        |ORDER BY $id""".stripMargin

  // ------------------------------------------------------------- vectors

  /** Every embedding component as a double, with its 1-based index. */
  val embeddingValues: String =
    """|  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings""".stripMargin

  /** The planted near-dup copies of `base`'s (vec_id, v, i) rows at
    * `offset` with the `jitter` shift, and `base` ∪ copies as `ex`. */
  def planted(offset: Long, jitter: Double): Seq[Cte] = Seq(
    "pl" -> s"""|  SELECT vec_id + $offset AS vec_id, pv AS v, i FROM
                |    (SELECT vec_id, v + CAST($jitter AS DOUBLE) * ((vec_id*31 + i) % 7 - 3) AS pv, i FROM base)""".stripMargin,
    "ex" -> "  SELECT * FROM base UNION ALL SELECT * FROM pl")

  /** The norms (`n`) and unit components (`u`) of `ex`'s rows. */
  def unitVectors(ex: String = "ex", n: String = "n",
                  u: String = "u"): Seq[Cte] = Seq(
    n -> s"  SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM $ex GROUP BY vec_id",
    u -> s"  SELECT $ex.vec_id, v / nrm AS u, i FROM $ex JOIN $n USING (vec_id)")

  /** Every vec_a < vec_b pair with its cosine, the unit-vector dot. */
  val cosinePairs: Cte = "p" ->
    """|  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.u * b.u) AS cosine
       |  FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id
       |  GROUP BY 1, 2""".stripMargin

  /** `base` ∪ its planted copies to the (vec_a, vec_b) pairs at cosine ≥
    * `threshold`. */
  def plantedPairs(offset: Long, jitter: Double, threshold: Double): Seq[Cte] =
    planted(offset, jitter) ++ unitVectors() ++ Seq(cosinePairs,
      "pairs" -> s"  SELECT vec_a, vec_b FROM p WHERE cosine >= $threshold")

  /** `from`'s ids with `col`, and their planted copies at `offset`. */
  def plantedCorpus(id: String, col: String, from: String, offset: Long): Cte =
    "corp" -> s"""|  SELECT $id, $col FROM $from
                  |  UNION ALL
                  |  SELECT $id + $offset AS $id, $col FROM $from""".stripMargin

  /** Per `key`, the planted corpus's rows, the kept and the dropped
    * (`losers`, met by `join`). */
  def keptRollup(key: String, join: String): String =
    s"""|SELECT c.$key, COUNT(*) AS n_total,
        |  CAST(COUNT(*) FILTER (l.vec_id IS NULL) AS BIGINT) AS n_kept,
        |  CAST(COUNT(*) FILTER (l.vec_id IS NOT NULL) AS BIGINT) AS n_dropped
        |FROM corp c LEFT JOIN losers l $join
        |GROUP BY c.$key
        |ORDER BY c.$key""".stripMargin

  // ------------------------------------------------------- window shares

  /** Per document of `g`, its windows and the count and share of them
    * that `flag` marks (`f` joined on `using`). */
  def flaggedShare(flag: String, n: String, frac: String,
                   using: String): String =
    s"""|SELECT g.doc_id, COUNT(*) AS n_windows,
        |  CAST(SUM(CASE WHEN $flag THEN 1 ELSE 0 END) AS BIGINT) AS $n,
        |  CAST(SUM(CASE WHEN $flag THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS $frac
        |FROM g JOIN f USING ($using)
        |GROUP BY g.doc_id
        |ORDER BY doc_id""".stripMargin

  /** The `kept` rows' count and share of their group. */
  def keptShare(kept: String): String =
    s"""|  CAST(SUM(CASE WHEN $kept THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(SUM(CASE WHEN $kept THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS kept_frac""".stripMargin

  // ------------------------------------------------------------ manifests

  /** Each fingerprint's keeper, its min id over `from`. */
  def keepers(id: String, from: String): Cte =
    "k" -> s"  SELECT fp, MIN($id) AS fp_keep FROM $from GROUP BY fp"

  /** The verdict and keep-pointer columns: `exact_dup` (pointer at the
    * fingerprint keeper) before `near_dup` (at the cluster label) before
    * `keep` (at itself). */
  def verdict(id: String, keep: String): String =
    Seq(("'exact_dup'", "'near_dup'", "'keep'", "verdict"),
      ("k.fp_keep", "l.cluster_id", id, keep)).map { case (x, n, s, as) =>
      s"""|  CASE WHEN $id <> k.fp_keep THEN $x
          |       WHEN l.cluster_id IS NOT NULL AND $id <> l.cluster_id
          |         THEN $n
          |       ELSE $s END AS $as""".stripMargin
    }.mkString(",\n")

  // --------------------------------------------------------------- splits

  /** [[Sampling.splitCol]]'s 80/10/10 CASE over the bucket `b`, its lines
    * indented by `in`. */
  def splitCase(in: String): String =
    s"""|${in}CASE WHEN b < 80 THEN 'train'
        |$in     WHEN b < 90 THEN 'validation'
        |$in     ELSE 'test' END AS split""".stripMargin

  /** The rows of `q` with the [[Sampling.hashBucket]] `b` of their `id`. */
  def splitBuckets(id: String): Cte = "s" ->
    s"""|  SELECT *, CAST(('0x' || substring(md5('graft:' || CAST($id AS VARCHAR)), 1, 8))
        |                 AS UBIGINT) % 100 AS b
        |  FROM q""".stripMargin

  /** Per (`key`, split) of `s`, the `aggs` columns. */
  def splitRollup(key: String, aggs: String): String =
    s"""|SELECT $key,
        |${splitCase("  ")},
        |$aggs
        |FROM s
        |GROUP BY 1, 2
        |ORDER BY $key, split""".stripMargin

  // ------------------------------------------------------------- quality

  /** The quality counters of each document, after `cols` and before
    * `more`. */
  def qualityCounts(cols: String, stopwords: Seq[String],
                    more: String = ""): String =
    s"""|  SELECT $cols,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len($splitWords) AS BIGINT) AS n_words,
        |    CAST(len(list_filter($splitWords,
        |          w -> w IN (${quoted(stopwords)}))) AS BIGINT) AS n_stopwords,
        |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha_cnt$more
        |  FROM documents""".stripMargin

  /** The four weighted score terms over the counters, `+` lines indented. */
  def qualityTerms(in: String): String =
    Seq("least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 0.25",
      "+ (CAST(n_stopwords AS DOUBLE) / n_words) * 0.25",
      "+ (CAST(alpha_cnt AS DOUBLE) / n_chars) * 0.25",
      "+ least((CAST(alpha_cnt AS DOUBLE) / n_words) / 8.0, 1.0) * 0.25")
      .mkString(s"\n$in")

  /** `'a', 'b', …`: a SQL IN list. */
  def quoted(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(", ")

  // ------------------------------------------------------- md5 integer dots

  /** `n` md5-derived integer directions over 64 components, named `c`:
    * component i of direction j is the first 8 hex digits of
    * md5('<c>_j_i') as an unsigned integer, less 2³¹. */
  def planes(name: String, c: String, n: Int): Cte = name ->
    s"""|  SELECT $c, i,
        |    CAST(list_sum([(strpos('0123456789abcdef',
        |        substr(md5('${c}_' || $c || '_' || i), d + 1, 1)) - 1)
        |        * (1 << (4 * (7 - d))) for d in range(8)]) AS BIGINT)
        |      - 2147483648 AS comp
        |  FROM range($n) t($c), range(64) s(i)""".stripMargin

  /** Every embedding component as a double `x` with its 0-based index,
    * as `ex` ([[dots]] quantizes it to floor(x·2²⁰)). */
  val components: Cte = "ex" ->
    """|  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
       |    unnest(CAST(embedding AS DOUBLE[])) AS x
       |  FROM embeddings""".stripMargin

  /** Each vector's BIGINT dot with each of `dirs`'s directions `c`. */
  def dots(c: String = "c", dirs: String = "dirs"): Cte = "dots" ->
    s"""|  SELECT vec_id, $c,
        |    SUM(CAST(floor(x * 1048576.0) AS BIGINT) * comp) AS dot
        |  FROM ex JOIN $dirs USING (i)
        |  GROUP BY 1, 2""".stripMargin

  /** `QUALIFY` the first row per `by` under `order`, kept while `cut`. */
  def firstBy(order: String, cut: String, by: String = "vec_id"): String =
    s"""|  QUALIFY ROW_NUMBER() OVER (PARTITION BY $by
        |                             ORDER BY $order) $cut""".stripMargin

  /** Each vector's cell: its best dot, ties to the smallest cell. */
  val assigned: Cte = "assigned" ->
    s"""|  SELECT vec_id, c AS cell FROM dots
        |${firstBy("dot DESC, c", "= 1")}""".stripMargin

  /** The `nProbe` cells the query vector `q` probes. */
  def probedQuery(q: Long, nProbe: Int): Cte = "probed" ->
    s"""|  SELECT c AS cell FROM dots WHERE vec_id = $q
        |  ORDER BY dot DESC, c LIMIT $nProbe""".stripMargin
}
