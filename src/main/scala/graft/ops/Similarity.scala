package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Tables._
import OracleSql._

/**
 * Approximate-nearest-neighbor search and exact similarity over the
 * embeddings table (north-star surface; the exact brute-force baseline is
 * D19 in [[graft.queries.BatchQueries]]).
 *
 * What lives here:
 *  - [[annLshTopK]] (n06): sign-projection LSH banding over md5-derived
 *    integer planes, oracle-gated end to end;
 *  - [[ivfTopK]] (n07): the float-cosine IVF on the md5 projection
 *    quantizer, probing inside the plan, oracle-gated;
 *  - [[knnJoin]] (n42): the batched kNN join on a TRAINED (seeded KMeans)
 *    quantizer — rows-only, recall-gated against n39;
 *  - the exact n35 label centroids and the n39 kNN graph;
 *  - the cell equi-join with its size crossover and the per-query verify
 *    cut every batched kNN join shares.
 *
 * The IVF/PQ ladder (n60–n84) is data, not code: each rung is a
 * [[ScanSpec]] or [[JoinSpec]] literal run by one planner per shape
 * ([[AnnLadder]]), with its DuckDB twin built from the same literal
 * ([[AnnOracle]]); the ladder table is on [[AnnSpec]]. The test suite
 * asserts recall against the exact D19/n39 answers for every approximate
 * path.
 */
object Similarity {

  /** float array column → exact-double cosine similarity column: the
    * codegen'd [[graft.functions.CosineSimilarity]] kernel (bit-identical to
    * D19's oracle formulation), reused by both index paths for ranking. */
  def cosineCol(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  private val toUnitVector = udf { (xs: Seq[Float]) =>
    val arr = xs.map(_.toDouble).toArray
    val norm = math.sqrt(arr.map(x => x * x).sum)
    Vectors.dense(if (norm == 0) arr else arr.map(_ / norm))
  }

  // ----------------------------------------------------------- LSH path

  /** n06 banding geometry: 12 bands × 4 bits. At the bulk cosines of the
    * uniform-random embeddings table the bands are a soft prune, not a
    * separator (the n05 in-bulk story) — the point of n06 is the LSH ANN
    * *shape* with cross-engine-deterministic banding; n07/n42 carry the
    * IVF scale path. */
  private val AnnBits = 4
  private val AnnBands = 12

  /** md5-derived sign-projection planes (the n04 trick lifted from one bit
    * to a whole coefficient), as SCALED INTEGERS: component i of plane p is
    * the first 8 hex chars of md5("p_&lt;p&gt;_&lt;i&gt;") read as a 32-bit
    * integer, shifted to [-2³¹, 2³¹) — the [-1,1) map multiplied by 2³¹,
    * kept integer so the banding dots are 64-bit integer sums
    * ([[graft.functions.SignBandHashesQ]]): associative and commutative, no
    * cross-engine summation-order assumption anywhere (round-10 verdict
    * task 2; the float formulation relied on DuckDB's uncontracted SUM
    * order). Both engines rebuild the identical integers from md5 alone —
    * no RNG, no seed — which is what lets the DuckDB oracle recompute the
    * band hashes verbatim ([[annLshOracle]]). Sign projections only need a
    * symmetric coefficient distribution, so uniform replaces Gaussian at no
    * loss here. */
  private lazy val annPlanes: Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(AnnBands * AnnBits * 64) { idx =>
      val p = idx / 64
      val i = idx % 64
      val hex = md.digest(s"p_${p}_${i}".getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16) - 2147483648L
    }
  }

  /**
   * Top-k approximate neighbors of `queryVecId` via sign-projection LSH
   * banding: candidates = vectors sharing at least one (band, bandHash)
   * with the query (the codegen [[graft.functions.SignBandHashesQ]] kernel
   * over the md5-derived integer [[annPlanes]] — the sign of an
   * integer-quantized dot is scale-invariant in the vector, so banding
   * runs on the raw vectors, no normalization to disagree over), ranked by
   * exact cosine ([[cosineCol]], the d19 kernel). Deterministic and
   * DuckDB-recomputable end to end — round 9 replaced the seed-dependent
   * MLlib BRP-LSH path with an oracle-gated md5 construction, and round 11
   * made the banding dots integer arithmetic so neither engine's summation
   * order can flip a bit ([[graft.functions.QuantizedDots]] for the
   * exactness argument; `QuantizedDotsSpec` perturbs the order). Both the
   * query's bands and its embedding travel as broadcast frames.
   *
   * Scale shape: banding is one map-side kernel pass; the candidate join
   * broadcasts the query's 12 band rows; scoring touches only candidates;
   * the global top-k is TakeOrderedAndProject via orderBy+limit.
   */
  def annLshTopK(emb: DataFrame, queryVecId: Long = 0L, k: Int = 5): DataFrame = {
    val base = emb.select(col("vec_id"), col("label"), col("embedding"))
    val banded = base.select(col("vec_id"),
      posexplode(graft.functions.SignBandHashesQ(
        transform(col("embedding"), x => x.cast("double")),
        annPlanes, 64, AnnBits, AnnBands)).as(Seq("band", "bh")))
    val qBands = banded.filter(col("vec_id") === queryVecId).select("band", "bh")
    val cands = banded.join(broadcast(qBands), Seq("band", "bh"))
      .filter(col("vec_id") =!= queryVecId)
      .select("vec_id").distinct()
    val q = base.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qv"))
    cands.join(base, "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        cosineCol(col("embedding"), col("qv")).as("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  def annLshQuery(spark: SparkSession, dir: String): DataFrame =
    annLshTopK(embeddings(spark, dir))

  /** The n06 twin computation in DuckDB: rebuild the md5-derived INTEGER
    * planes (8 hex digits → a 32-bit integer via digit arithmetic and
    * shifts, shifted by 2³¹ to the scaled [-2³¹, 2³¹) components),
    * quantize each vector component to `floor(x·2²⁰)` (exact in both
    * engines — see [[graft.functions.QuantizedDots]]), recompute every
    * vector's band hashes over BIGINT dot sums (MSB-first packing,
    * matching the [[graft.functions.SignBandHashesQ]] fold; integer SUM is
    * order-independent, so no cross-engine summation-order assumption —
    * round-10 verdict task 2 closed), take band-collision candidates
    * against vec 0, and rank them with the d19 cosine formulation (the
    * final float ranking keeps d19's full-table aggregation shape, the
    * construction the driver gate has hash-proven since round 1). */
  val annLshOracle: String = d19Scored(Seq(
    planes("pl", "p", AnnBands * AnnBits), components, dots("p", "pl"),
    "bnd" ->
      s"""|  SELECT vec_id, p // $AnnBits AS band,
          |    SUM(CASE WHEN dot > 0
          |        THEN 1 << CAST(${AnnBits - 1} - (p % $AnnBits) AS INT)
          |        ELSE 0 END) AS bh
          |  FROM dots GROUP BY 1, 2""".stripMargin,
    "cand" ->
      """|  SELECT DISTINCT e.vec_id
         |  FROM bnd e JOIN bnd q ON e.band = q.band AND e.bh = q.bh
         |  WHERE q.vec_id = 0 AND e.vec_id <> 0""".stripMargin),
    """|  -- scored over the FULL table in d19's exact shape, candidates
       |  -- applied AFTER aggregation: restricting the scan first perturbs
       |  -- the summation order and drifts the last ulp off the d19-proven
       |  -- cross-engine agreement
       |""".stripMargin,
    """|SELECT vec_id, label, dot / (SQRT(na2) * SQRT(nb2)) AS score
       |FROM s JOIN cand USING (vec_id)
       |ORDER BY score DESC, vec_id
       |LIMIT 5""".stripMargin)

  /** `head`, then d19's exact cosine of every vector against vec 0 over
    * the full table (`s`, with `note` ahead of its body), then `tail`. */
  private def d19Scored(head: Seq[Cte], note: String, tail: String): String = {
    val q = "q" -> "SELECT embedding AS qv FROM embeddings WHERE vec_id = 0"
    val scored = Seq(
      "ex2" ->
        """|  SELECT vec_id, label, unnest(CAST(embedding AS DOUBLE[])) AS a,
           |    generate_subscripts(embedding, 1) AS i
           |  FROM embeddings WHERE vec_id <> 0""".stripMargin,
      "qx" ->
        """|  SELECT unnest(CAST(qv AS DOUBLE[])) AS b,
           |    generate_subscripts(qv, 1) AS i
           |  FROM q""".stripMargin,
      "s" -> (note +
        """|  SELECT vec_id, any_value(label) AS label,
           |    SUM(a * b) AS dot, SUM(a * a) AS na2, SUM(b * b) AS nb2
           |  FROM ex2 JOIN qx USING (i) GROUP BY vec_id""".stripMargin))
    s"WITH ${ctes(head :+ q)},\n${ctes(scored)}\n$tail"
  }

  // ----------------------------------------------------------- IVF path

  /**
   * IVF top-k with a DETERMINISTIC coarse quantizer: each vector lands in
   * cell argmax_c dot(v, dir_c) over the md5-derived [[IvfGeometry]] dirs
   * (a fixed random-projection quantizer — the untrained cousin of KMeans
   * cells; first index wins dot ties on both engines, and integer dots
   * mean a tie IS a tie, not a float accident), the query probes its
   * `nProbe` best cells by the same score, and probed-cell members rank by
   * exact cosine (the d19 kernel). Round 9 replaced the seeded-KMeans
   * version (rows-only checked) with an oracle-gated md5 construction;
   * round 11 made the quantizer dots integer arithmetic
   * ([[graft.functions.QuantizedDots]]) so no engine's summation order can
   * flip a near-tied argmax. The TRAINED quantizer lives on in the n42
   * batched kNN join, where per-query recall is the gate. Fully
   * distributed: cells assign map-side, the probed-cell set rides as a
   * broadcast, and the top-k is TakeOrderedAndProject.
   *
   * The double-evaluation bind: the dot-score array is bound to a lambda
   * variable before argmax/array_position reference it (interpreted HOFs
   * re-evaluate per reference — the [[Dedup.wordShingles]] pitfall).
   */
  def ivfTopK(emb: DataFrame, queryVecId: Long = 0L, k: Int = 5,
              nProbe: Int = IvfGeometry.Default.nProbe): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    val scored = emb.select(col("vec_id"), col("label"), col("embedding"),
      posexplode(IvfGeometry.Default.dotsCol(v)).as(Seq("cell", "dot")))
    val assigned = emb.select(col("vec_id"), col("label"), col("embedding"),
      IvfGeometry.Default.cellCol(v).as("cell"))
    val probedCells = scored.filter(col("vec_id") === queryVecId)
      .orderBy(desc("dot"), col("cell"))
      .limit(nProbe)
      .select("cell")
    val q = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qv"))
    assigned
      .join(broadcast(probedCells), "cell")
      .filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        cosineCol(col("embedding"), col("qv")).as("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  def ivfQuery(spark: SparkSession, dir: String): DataFrame =
    ivfTopK(embeddings(spark, dir))

  /** The n07 twin computation in DuckDB: rebuild the integer directions
    * from md5 digit arithmetic, quantize components to `floor(x·2²⁰)`,
    * assign every vector to its argmax cell over BIGINT dot sums (ties to
    * the smallest index, matching Spark's `array_position`
    * first-occurrence — and with integer dots the tie set is identical in
    * both engines by construction), probe the query's top-nProbe
    * cells, and rank probed-cell members with the d19 cosine formulation —
    * the final float ranking keeps d19's full-table aggregation shape. */
  val ivfOracle: String = d19Scored(Seq(
    planes("dirs", "c", IvfGeometry.Default.nlist), components, dots(), assigned,
    probedQuery(0, IvfGeometry.Default.nProbe)), "",
    """|SELECT s.vec_id, s.label, s.dot / (SQRT(s.na2) * SQRT(s.nb2)) AS score
       |FROM s
       |JOIN assigned ON assigned.vec_id = s.vec_id
       |JOIN probed ON probed.cell = assigned.cell
       |ORDER BY score DESC, s.vec_id
       |LIMIT 5""".stripMargin)

  // ------------------------------------------------- n42 IVF kNN join

  /**
   * Batched ANN kNN JOIN — every row of a query table gets its approximate
   * k nearest neighbors from the index in ONE distributed plan. n06/n07
   * answer a single probe vector (and legitimately pull that one parameter
   * driver-side); this is the shape a 100 TB semantic-dedup actually
   * executes — millions of queries × a billion-vector index — where no
   * vector may touch the driver. The exact kNN graph (n39) is the recall
   * oracle.
   *
   * Plan: (1) KMeans(nlist) coarse centroids over unit vectors (fixed
   * seed; at corpus scale trained on a sample); (2) every index vector
   * assigned to its cell map-side; (3) every QUERY row scored against the
   * centroids — at nlist ≤ `centroidLiteralMax` via an exploded literal
   * centroid table (nlist×dim doubles as a plan constant), above it via a
   * broadcast centroid frame (round 10: both paths implemented and
   * result-identical, `OpsSpec` pins parity) — and cut to its
   * nProbe best cells with [[graft.plans.TopKPerKey]] (bounded heap, no
   * global sort); (4) equi-join on cell against the cell-partitioned
   * index — each query moves nProbe times, each index vector once, never
   * the n² pair space — exact-cosine scoring (codegen
   * [[graft.functions.DotProduct]]), and a second TopKPerKey cut to k per
   * query. Compare work is n·(nProbe/nlist)·|index| — the IVF recall/cost
   * dial; KMeans balances cells, and residual cell skew at scale is AQE
   * skew-join territory (the d35 treatment).
   *
   * CACHING CONTRACT: the unit-vector frame is `persist()`ed (it feeds the
   * KMeans fit, the index side, and the query side) and NOT unpersisted
   * here — the returned plan still references it lazily, so an in-function
   * unpersist would recompute the projection three times downstream. The
   * caller owns the release: run `spark.catalog.clearCache()` (or
   * unpersist the cached ancestor) after the result's terminal action, as
   * Bench/Verify/PlanAudit do per query.
   */
  def knnJoin(emb: DataFrame, k: Int = 3, nlist: Int = 8,
              nProbe: Int = 4,
              centroidLiteralMax: Int = 1024): DataFrame = {
    val spark = emb.sparkSession
    val par = emb.sparkSession.sparkContext.defaultParallelism
    // persisted: consumed by KMeans fit, the index side, and the query
    // side; released by the session-level per-query clearCache policy
    val unit = emb.repartition(par).select(col("vec_id"),
      Dedup.unitVector(col("embedding")).as("u"),
      toUnitVector(col("embedding")).as("features")).persist()
    val model = new KMeans().setK(nlist).setSeed(42L).setMaxIter(5)
      .setFeaturesCol("features").setPredictionCol("cell").fit(unit)
    val index = model.transform(unit)
      .select(col("cell"), col("vec_id").as("nbr"), col("u").as("un"))
    // centroid scoring: every query row against every centroid (n × nlist
    // by design — the coarse-quantizer probe). Two physical shapes behind
    // one semantic:
    //  - nlist ≤ centroidLiteralMax: the centroids ride as a PLAN LITERAL
    //    exploded per row (nlist×dim doubles as a plan constant — zero
    //    join machinery, the audited default shape at nlist=8);
    //  - larger nlist: a literal that size would bloat every task binary
    //    and the plan tree, so the centroids become a BROADCAST FRAME and
    //    the n × nlist pairing is an explicit broadcast cross join (the
    //    scaladoc'd switch, now implemented; `OpsSpec` pins path parity).
    val scoredCells = if (nlist <= centroidLiteralMax) {
      val ctrLit = array(model.clusterCenters.zipWithIndex.map { case (c, i) =>
        val arr = c.toArray
        val nrm = math.sqrt(arr.map(x => x * x).sum)
        struct(lit(i).as("cell"), array(arr.map(x => lit(x / nrm)): _*).as("ctr"))
      }: _*)
      unit
        .select(col("vec_id"), col("u"), explode(ctrLit).as("c"))
        .select(col("vec_id"), col("u"), col("c.cell").as("cell"),
          graft.functions.DotProduct(col("u"), col("c.ctr")).as("ccos"))
    } else {
      import spark.implicits._
      val ctrDf = model.clusterCenters.zipWithIndex.map { case (c, i) =>
        val arr = c.toArray
        val nrm = math.sqrt(arr.map(x => x * x).sum)
        (i, arr.map(_ / nrm).toSeq)
      }.toSeq.toDF("cell", "ctr")
      unit.select(col("vec_id"), col("u"))
        .crossJoin(broadcast(ctrDf))
        .select(col("vec_id"), col("u"), col("cell"),
          graft.functions.DotProduct(col("u"), col("ctr")).as("ccos"))
    }
    knnJoinVerify(probeCut(scoredCells.withColumnRenamed("ccos", "score"),
        nProbe), index, k, graft.functions.DotProduct(_, _), "cosine",
      ascending = false, largeProbe = cellJoinLargeProbe(emb))
  }

  /** Size-aware join-strategy crossover for the kNN-join family's cell
    * equi-join (round-18, closing the round-17 "inversion" finding): at
    * the oracle-gated bench point (sf0.1 = 2,000 vectors) AQE's broadcast
    * conversion of the low-cardinality cell join is optimal, but at
    * n = 20,000 synthetic probe rows it is measured ~4× WRONG for the
    * code-only joins — n65 31.5 s AQE-on vs 8.2 s AQE-off (BASELINE
    * round-17 "inversion" table): the broadcast keeps the tiny probe-side
    * exchange AQE-coalescible, the 100M-pair SDC/dot verify stage
    * collapses onto a handful of tasks, and the compute serializes. So
    * above this SOURCE-size threshold the cell join is pinned to the
    * shuffled-HASH strategy AQE-off picks (the d35/knnJoin
    * centroid-switch pattern: a static size switch on a plan parameter,
    * decided from the scan's own file statistics — no runtime re-plan,
    * no count job). 3 MiB of embedding parquet ≈ 12k 64-float vectors:
    * comfortably above every oracle-gated bench point (sf0.1 ≈ 0.5 MiB —
    * those plans keep their measured-optimal AQE choices and their
    * hashes) and below the measured inversion point. */
  private val CellJoinShuffleHashBytes = 3L << 20

  /** The crossover decision input: Catalyst's own size estimate of the
    * probe/index source — for a parquet scan, the on-disk file bytes
    * (driver-side metadata; evaluating it runs no job). */
  private[graft] def cellJoinLargeProbe(emb: DataFrame): Boolean =
    emb.queryExecution.optimizedPlan.stats.sizeInBytes >= CellJoinShuffleHashBytes

  /** Salt width for the crossover path's cell join (round-19, guide
    * §2.5): the probe side is split s ways by a DETERMINISTIC hash of the
    * query id (never `rand()` — retried map tasks must reproduce the same
    * row-to-salt assignment, SPARK-38388) and the index side is exploded
    * once per salt, so the join runs on (cell, salt) — pairs identical,
    * per-task verify work bounded by max-cell/s. Two birds: (a) the skew
    * hole — user-specified widths are exempt from AQE skew splitting and
    * SHJ gets no skew mitigation, so a hot IVF cell (a popular region of
    * embedding space — guaranteed at 100 TB) previously serialized its
    * whole verify workload into ONE task; (b) key cardinality — nlist=8
    * distinct cells over w=32 partitions left ≥3/4 of the cores idle in
    * the verify stage even on uniform data (§2.5: synthetic keys need
    * 20-100× more distinct values than partitions; 8·s keys spread where
    * 8 cannot). Cost: index-side shuffle bytes ×s (the index is the
    * narrow side — code arrays, not unit vectors, on the PQ paths), and
    * the per-task SHJ build grows with how many (cell, salt) groups hash
    * into one partition (each group is one full cell's index rows) — at
    * cluster scale size the shuffle width to ≥ cells·s for this join so
    * each task builds ~one cell. Env-tunable for cluster geometries; the
    * default keeps 8·16 = 128 granules ≈ 4×w locally. */
  private val CellJoinSaltWidth: Int =
    graft.tools.Sessions.envInt("SPARK_GRAFT_CELL_SALT", 16)

  /** The cell equi-join with the crossover applied. Above the threshold
    * the join is hinted to shuffled-hash — so neither static planning
    * nor AQE can demote the verify stage to a broadcast over a coalesced
    * stream side — AND both sides are pinned to an explicit exchange
    * width: the cell shuffle is only a few MiB of codes, so AQE's
    * coalescer would otherwise fold it to a task or two and re-serialize
    * the 100M-pair verify stage the hint just rescued (user-specified
    * widths are exempt from coalescing). The join key is salted
    * (cell, salt) per [[CellJoinSaltWidth]] — skew defense + key
    * cardinality, result-identical. Below the threshold: the plain
    * join, exactly the measured-optimal bench-point plan. */
  private[graft] def cellJoinWithCrossover(probed: DataFrame, index: DataFrame,
                                    largeProbe: Boolean): DataFrame =
    if (!largeProbe) probed.join(index, "cell")
    else {
      val w = index.sparkSession.sessionState.conf.numShufflePartitions
      val s = CellJoinSaltWidth
      probed
        .withColumn("salt", pmod(xxhash64(col("vec_id")), lit(s)).cast("int"))
        .repartition(w, col("cell"), col("salt"))
        .join(
          index
            .withColumn("salt", explode(array((0 until s).map(lit): _*)))
            .repartition(w, col("cell"), col("salt"))
            .hint("shuffle_hash"),
          Seq("cell", "salt"))
        .drop("salt")
    }

  /** The per-query probe cut of a batched kNN join: each query row's
    * nProbe best cells by (score DESC, cell ASC) — a bounded heap
    * ([[graft.plans.TopKPerKey]]), no global sort. `scored` carries
    * (vec_id, u, cell, score). */
  private[graft] def probeCut(scored: DataFrame, nProbe: Int): DataFrame =
    graft.plans.TopKPerKey(scored, Seq(col("vec_id")),
      Seq(col("score").desc, col("cell")), nProbe)

  /** The join→verify→cut of every batched kNN join: `probed` (vec_id, u,
    * cell — at most nProbe rows per query, cut by [[probeCut]] or stored
    * at ingest by a streaming index) equi-joins the cell-keyed `index`
    * (cell, nbr, un) under the [[cellJoinLargeProbe]] crossover — each
    * query moves nProbe times, each index vector once, never the n² pair
    * space — and keeps each query's best `n` (vec_id, nbr, score) rows by
    * the `verify` kernel. */
  private[graft] def verifyCut(probed: DataFrame, index: DataFrame, n: Int,
                               verify: (Column, Column) => Column,
                               scoreName: String, ascending: Boolean,
                               largeProbe: Boolean = false): DataFrame = {
    // ascending ranks DISTANCES, where a defensive-null score would sort
    // nulls-first into the top-k (the n61 ADC lesson) — rank NULLS LAST
    // so a malformed row can never displace a genuine candidate, and
    // drop any null stragglers AFTER the cut (≤ n·k rows). A pre-cut
    // isNotNull filter instead gets PUSHED INTO the join condition,
    // where it re-evaluates the verify kernel for every candidate pair
    // and breaks the join→project→heap codegen pipeline — measured 42 s
    // vs 11 s on a 200M-pair corpus (ProbePqJoinScale, BASELINE r15).
    val cands = cellJoinWithCrossover(
        probed.select(col("vec_id"), col("u"), col("cell")), index, largeProbe)
      .filter(col("vec_id") =!= col("nbr"))
      .withColumn(scoreName, verify(col("u"), col("un")))
    val top = graft.plans.TopKPerKey(cands.select("vec_id", "nbr", scoreName),
      Seq(col("vec_id")), Seq(scoreOrder(scoreName, ascending), col("nbr")), n)
    if (ascending) top.filter(col(scoreName).isNotNull) else top
  }

  private def scoreOrder(scoreName: String, ascending: Boolean): Column =
    if (ascending) col(scoreName).asc_nulls_last else col(scoreName).desc

  /** [[verifyCut]] at k with the rank column: (vec_id, rank, nbr, score). */
  private[graft] def knnJoinVerify(probed: DataFrame, index: DataFrame,
                                   k: Int,
                                   verify: (Column, Column) => Column,
                                   scoreName: String,
                                   ascending: Boolean,
                                   largeProbe: Boolean = false): DataFrame =
    ranked(verifyCut(probed, index, k, verify, scoreName, ascending,
      largeProbe), scoreName, scoreOrder(scoreName, ascending))

  /** The rank column over a per-query cut (a window over the already-cut
    * n·k rows, not the pair stream), sorted by (vec_id, rank). */
  private[graft] def ranked(top: DataFrame, scoreName: String,
                            ord: Column): DataFrame =
    top
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("vec_id").orderBy(ord, col("nbr")))
        .cast("long"))
      .select(col("vec_id"), col("rank"), col("nbr"), col(scoreName))
      .orderBy("vec_id", "rank")

  /** n42: the embeddings table as BOTH query and index side (directly
    * comparable to the exact n39 graph). Seed-dependent through KMeans ⇒
    * rows-only checked; recall vs n39 asserted in OpsSpec. */
  def knnJoinQuery(spark: SparkSession, dir: String): DataFrame =
    knnJoin(embeddings(spark, dir))

  // ----------------------------------------- n35 exact per-label centroids

  /**
   * Per-label embedding centroids (the coarse-centroid statistics an IVF
   * index trains from, and the per-class mean a dataset card reports) —
   * computed EXACTLY across engines despite being float math: each float
   * component quantizes to `floor(x·2^20)` (float→double is exact, ×2^20
   * is an exponent shift, floor is exact), the per-(label, dim) sum runs
   * in BIGINTs (order-independent, no float-summation drift), and the mean
   * is one correctly-rounded division at the end. With |x| ≤ 1 the
   * operands stay below 2^53 (exact double conversion, so the division is
   * correctly rounded from exact inputs) while n·2^20 < 2^53 — about
   * 8.6e9 vectors per label; past that the engines still agree to 1 ulp of
   * the conversion, and the BIGINT sum itself stays exact to n ≈ 8.8e12.
   *
   * Scale shape: posexplode then one partial-aggregated integer sum on
   * (label, dim) — the map-side combine carries 64 longs per label per
   * task, never vectors; no window, no join.
   */
  def labelCentroidQuery(spark: SparkSession, dir: String): DataFrame = {
    val quantized = embeddings(spark, dir)
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("label"), col("dim").cast("long").as("dim"),
        floor(col("x").cast("double") * 1048576.0).cast("long").as("q"))
    quantized.groupBy("label", "dim")
      .agg(count(lit(1)).as("n_vecs"), sum(col("q")).as("sum_q"))
      .select(col("label"), col("dim"), col("n_vecs"), col("sum_q"),
        (col("sum_q").cast("double") /
          (col("n_vecs") * lit(1048576L)).cast("double")).as("mean"))
      .orderBy("label", "dim")
  }

  val labelCentroidOracle: String = sql(Seq(
    "q" ->
      """|  SELECT CAST(label AS BIGINT) AS label,
         |    CAST(i - 1 AS BIGINT) AS dim,
         |    CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT) AS q
         |  FROM (SELECT label, embedding[i] AS x, i
         |        FROM embeddings,
         |             LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) r)""".stripMargin),
    """|SELECT label, dim, COUNT(*) AS n_vecs,
       |  CAST(SUM(q) AS BIGINT) AS sum_q,
       |  CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE) /
       |    CAST(COUNT(*) * 1048576 AS DOUBLE) AS mean
       |FROM q
       |GROUP BY label, dim
       |ORDER BY label, dim""".stripMargin)

  // ------------------------------------------------------ n39 kNN graph

  /**
   * Exact k-nearest-neighbor graph over the embeddings table — the
   * curation primitive semantic-dedup and diversity-filtering pipelines
   * (SemDeDup-style) build on: every vector gets its k highest-cosine
   * neighbors, exactly, with (cosine DESC, nbr ASC) as the total order.
   *
   * Scale shape: pair generation reuses the n05 block-grid equi-join (the
   * n² compare space partitioned into bounded B×B cells — an EXACT kNN
   * graph is inherently Ω(n²) compares; n06 LSH / n07 IVF are the
   * subquadratic paths when recall < 1 is acceptable). The per-vector
   * top-k runs on the custom [[graft.plans.TopKPerKey]] whole-operator:
   * a bounded heap per partition means only k rows per vec_id per
   * partition reach the shuffle — never the full pair stream — and there
   * is no global sort anywhere. The pair table is persisted because the
   * symmetric union reads it twice (it is the materialized candidate set
   * a kNN-graph pipeline stores anyway); the trailing rank column is a
   * window over the already-reduced n·k rows, not the pair stream.
   */
  def knnGraphQuery(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    // NegativeInfinity = no cosine filter at all (see embeddingNearDupPairs:
    // a -1.0 threshold could drop a near-antipodal pair on float rounding).
    // The persist is released by the caller's session-level clearCache
    // (Verify/Bench/PlanAudit all clear per query).
    val pairs = Dedup
      .embeddingNearDupPairs(embeddings(spark, dir),
        threshold = Double.NegativeInfinity)
      .persist()
    val sym = pairs
      .select(col("vec_a").as("vec_id"), col("vec_b").as("nbr"), col("cosine"))
      .unionByName(pairs
        .select(col("vec_b").as("vec_id"), col("vec_a").as("nbr"), col("cosine")))
    val top = graft.plans.TopKPerKey(sym, Seq(col("vec_id")),
      Seq(col("cosine").desc, col("nbr")), k)
    top
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("vec_id").orderBy(col("cosine").desc, col("nbr")))
        .cast("long"))
      .select(col("vec_id"), col("rank"), col("nbr"), col("cosine"))
      .orderBy("vec_id", "rank")
  }

  /** All-pairs cosine (the n05 CTE chain, no threshold), symmetrized, then
    * the same (cosine DESC, nbr ASC) row_number cut. */
  val knnGraphOracle: String = sql((("ex" -> embeddingValues) +:
    unitVectors()) ++ Seq(cosinePairs,
    "sym" ->
      """|  SELECT vec_a AS vec_id, vec_b AS nbr, cosine FROM p
         |  UNION ALL
         |  SELECT vec_b AS vec_id, vec_a AS nbr, cosine FROM p""".stripMargin,
    "r" ->
      """|  SELECT vec_id, nbr, cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
         |                            ORDER BY cosine DESC, nbr) AS BIGINT) AS rank
         |  FROM sym""".stripMargin),
    """|SELECT vec_id, rank, nbr, cosine
       |FROM r
       |WHERE rank <= 3
       |ORDER BY vec_id, rank""".stripMargin)
}
