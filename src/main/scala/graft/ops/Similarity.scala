package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Tables._

/**
 * Approximate-nearest-neighbor search over the embeddings table (north-star
 * surface; the exact brute-force baseline is D19 in
 * [[graft.queries.BatchQueries]]).
 *
 * Two scale paths:
 *  - [[annLshTopK]]: sign-projection LSH banding over md5-derived planes —
 *    deterministic with no RNG anywhere, so the DuckDB oracle recomputes
 *    the full band-candidate-rank pipeline and hash-matches it (round 9;
 *    previously MLlib BRP-LSH, seed-dependent and rows-only);
 *  - [[ivfTopK]]: an IVF index with a deterministic md5-derived projection
 *    quantizer (round 9; previously seeded KMeans) — every vector assigned
 *    to its argmax-direction cell map-side, the query probes its nProbe
 *    best cells, probed members rank by exact cosine. Oracle-gated like
 *    n06. At 100 TB this is the shape that works: assignment is a
 *    map-side pass, the probe touches ~nProbe/nlist of the data, and
 *    nothing but the probed-cell id set rides a broadcast.
 *
 * The TRAINED quantizer (seeded KMeans) lives in [[knnJoin]] (n42), the
 * one remaining rows-only ANN entry; the test suite asserts recall
 * against the exact D19 top-k for every approximate path.
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
  val annLshOracle: String =
    s"""WITH pl AS (
       |  SELECT p, i,
       |    CAST(list_sum([(strpos('0123456789abcdef',
       |        substr(md5('p_' || p || '_' || i), d + 1, 1)) - 1)
       |        * (1 << (4 * (7 - d))) for d in range(8)]) AS BIGINT)
       |      - 2147483648 AS comp
       |  FROM range(${AnnBands * AnnBits}) t(p), range(64) s(i)
       |), ex AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
       |    unnest(CAST(embedding AS DOUBLE[])) AS x
       |  FROM embeddings
       |), dots AS (
       |  SELECT vec_id, p,
       |    SUM(CAST(floor(x * 1048576.0) AS BIGINT) * comp) AS dot
       |  FROM ex JOIN pl USING (i)
       |  GROUP BY 1, 2
       |), bnd AS (
       |  SELECT vec_id, p // $AnnBits AS band,
       |    SUM(CASE WHEN dot > 0
       |        THEN 1 << CAST(${AnnBits - 1} - (p % $AnnBits) AS INT)
       |        ELSE 0 END) AS bh
       |  FROM dots GROUP BY 1, 2
       |), cand AS (
       |  SELECT DISTINCT e.vec_id
       |  FROM bnd e JOIN bnd q ON e.band = q.band AND e.bh = q.bh
       |  WHERE q.vec_id = 0 AND e.vec_id <> 0
       |), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |ex2 AS (
       |  SELECT vec_id, label, unnest(CAST(embedding AS DOUBLE[])) AS a,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings WHERE vec_id <> 0
       |), qx AS (
       |  SELECT unnest(CAST(qv AS DOUBLE[])) AS b,
       |    generate_subscripts(qv, 1) AS i
       |  FROM q
       |), s AS (
       |  -- scored over the FULL table in d19's exact shape, candidates
       |  -- applied AFTER aggregation: restricting the scan first perturbs
       |  -- the summation order and drifts the last ulp off the d19-proven
       |  -- cross-engine agreement
       |  SELECT vec_id, any_value(label) AS label,
       |    SUM(a * b) AS dot, SUM(a * a) AS na2, SUM(b * b) AS nb2
       |  FROM ex2 JOIN qx USING (i) GROUP BY vec_id
       |)
       |SELECT vec_id, label, dot / (SQRT(na2) * SQRT(nb2)) AS score
       |FROM s JOIN cand USING (vec_id)
       |ORDER BY score DESC, vec_id
       |LIMIT 5""".stripMargin

  // ----------------------------------------------------------- IVF path

  /** n07 coarse-quantizer geometry: 8 cells, 4 probed. (The untrained
    * projection quantizer needs wider probing than the old KMeans cells
    * to clear the OpsSpec recall gate on uniform-random vectors — KMeans
    * shapes cells to the data, fixed directions cannot; nProbe/nlist stays
    * the recall/cost dial exactly as in a trained IVF.) */
  private val IvfNList = 8
  private val IvfNProbe = 4

  /** md5-derived INTEGER cell directions (the [[annPlanes]] construction
    * with a `c_` namespace, flat row-major): direction c's component i
    * rebuilds identically in both engines, and the dots are 64-bit integer
    * sums ([[graft.functions.QuantizedDots]]), so cell assignment — argmax
    * over the direction dots — is cross-engine deterministic with no
    * training step and no summation-order assumption. PARAMETERIZED on
    * nlist (round-17 verdict #2: real IVF scales nlist ≈ √N, and the
    * geometry dial must be measurable, not a constant): directions for a
    * finer geometry extend the same namespace, so nlist=8 remains the
    * exact prefix of nlist=64 and every hash-matched query keeps its
    * frozen default. */
  private val ivfDirsCache =
    scala.collection.concurrent.TrieMap.empty[Int, Array[Long]]
  private[graft] def ivfDirsFor(nlist: Int): Array[Long] =
    ivfDirsCache.getOrElseUpdate(nlist, {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(nlist * 64) { idx =>
        val c = idx / 64
        val i = idx % 64
        val hex = md.digest(s"c_${c}_${i}".getBytes("UTF-8"))
          .take(4).map(b => f"$b%02x").mkString
        java.lang.Long.parseLong(hex, 16) - 2147483648L
      }
    })

  /** The frozen default geometry's directions (every oracle-gated query). */
  private def ivfDirs: Array[Long] = ivfDirsFor(IvfNList)

  /**
   * IVF top-k with a DETERMINISTIC coarse quantizer: each vector lands in
   * cell argmax_c dot(v, dir_c) over the md5-derived integer [[ivfDirs]]
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
              nProbe: Int = IvfNProbe): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    val dots = graft.functions.QuantizedDots(v, ivfDirs, 64, IvfNList)
    val scored = emb.select(col("vec_id"), col("label"), col("embedding"),
      posexplode(dots).as(Seq("cell", "dot")))
    val assigned = emb.select(col("vec_id"), col("label"), col("embedding"),
      ivfCellCol(v).as("cell"))
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

  /** The n07 twin computation in DuckDB: rebuild the integer [[ivfDirs]]
    * from md5 digit arithmetic, quantize components to `floor(x·2²⁰)`,
    * assign every vector to its argmax cell over BIGINT dot sums (ties to
    * the smallest index, matching Spark's `array_position`
    * first-occurrence — and with integer dots the tie set is identical in
    * both engines by construction), probe the query's top-`IvfNProbe`
    * cells, and rank probed-cell members with the d19 cosine formulation —
    * the final float ranking keeps d19's full-table aggregation shape. */
  val ivfOracle: String =
    s"""WITH dirs AS (
       |  SELECT c, i,
       |    CAST(list_sum([(strpos('0123456789abcdef',
       |        substr(md5('c_' || c || '_' || i), d + 1, 1)) - 1)
       |        * (1 << (4 * (7 - d))) for d in range(8)]) AS BIGINT)
       |      - 2147483648 AS comp
       |  FROM range($IvfNList) t(c), range(64) s(i)
       |), ex AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
       |    unnest(CAST(embedding AS DOUBLE[])) AS x
       |  FROM embeddings
       |), dots AS (
       |  SELECT vec_id, c,
       |    SUM(CAST(floor(x * 1048576.0) AS BIGINT) * comp) AS dot
       |  FROM ex JOIN dirs USING (i)
       |  GROUP BY 1, 2
       |), assigned AS (
       |  SELECT vec_id, c AS cell FROM dots
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |                             ORDER BY dot DESC, c) = 1
       |), probed AS (
       |  SELECT c AS cell FROM dots WHERE vec_id = 0
       |  ORDER BY dot DESC, c LIMIT $IvfNProbe
       |), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |ex2 AS (
       |  SELECT vec_id, label, unnest(CAST(embedding AS DOUBLE[])) AS a,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings WHERE vec_id <> 0
       |), qx AS (
       |  SELECT unnest(CAST(qv AS DOUBLE[])) AS b,
       |    generate_subscripts(qv, 1) AS i
       |  FROM q
       |), s AS (
       |  SELECT vec_id, any_value(label) AS label,
       |    SUM(a * b) AS dot, SUM(a * a) AS na2, SUM(b * b) AS nb2
       |  FROM ex2 JOIN qx USING (i) GROUP BY vec_id
       |)
       |SELECT s.vec_id, s.label, s.dot / (SQRT(s.na2) * SQRT(s.nb2)) AS score
       |FROM s
       |JOIN assigned ON assigned.vec_id = s.vec_id
       |JOIN probed ON probed.cell = assigned.cell
       |ORDER BY score DESC, s.vec_id
       |LIMIT 5""".stripMargin

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
    knnJoinCore(scoredCells.withColumnRenamed("ccos", "score"), index,
      k, nProbe, largeProbe = cellJoinLargeProbe(emb))
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
  private def cellJoinWithCrossover(probed: DataFrame, index: DataFrame,
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

  /** The shared tail of the batched kNN join — both the trained-KMeans
    * n42 and its deterministic-quantizer twin n60 run exactly this plan:
    * per-query nProbe-cell cut ([[graft.plans.TopKPerKey]], bounded heap),
    * equi-join on cell against the cell-partitioned index (each query
    * moves nProbe times, each index vector once — never the n² pair
    * space), exact-cosine scoring (codegen [[graft.functions.DotProduct]]),
    * and a second TopKPerKey cut to k per query. `scoredCells` carries
    * (vec_id, u, cell, score); `index` carries (cell, nbr, un). The
    * verify score is pluggable: n42 ranks on the exact float cosine
    * (codegen DotProduct); the n60 twin ranks on an order-independent
    * integer quantized dot so the oracle reproduces it bit-for-bit.
    * `largeProbe` engages the [[cellJoinLargeProbe]] crossover. */
  private def knnJoinCore(scoredCells: DataFrame, index: DataFrame,
                          k: Int, nProbe: Int,
                          verify: (Column, Column) => Column =
                            graft.functions.DotProduct(_, _),
                          scoreName: String = "cosine",
                          ascending: Boolean = false,
                          largeProbe: Boolean = false): DataFrame = {
    val probed = graft.plans.TopKPerKey(scoredCells, Seq(col("vec_id")),
      Seq(col("score").desc, col("cell")), nProbe)
    knnJoinVerify(probed, index, k, verify, scoreName, ascending, largeProbe)
  }

  /** The join→verify→top-k tail of [[knnJoinCore]], shared with the
    * incremental n71 index, whose probe cut is precomputed AT INGEST
    * (the per-row probed-cells array) — the streaming form skips the
    * first TopKPerKey shuffle entirely. `probed` carries
    * (vec_id, u, cell) with ≤ nProbe rows per query. */
  private[graft] def knnJoinVerify(probed: DataFrame, index: DataFrame,
                                   k: Int,
                                   verify: (Column, Column) => Column,
                                   scoreName: String,
                                   ascending: Boolean,
                                   largeProbe: Boolean = false): DataFrame = {
    // ascending ranks DISTANCES, where a defensive-null score would sort
    // nulls-first into the top-k (the n61 ADC lesson) — rank NULLS LAST
    // so a malformed row can never displace a genuine candidate, and
    // drop any null stragglers AFTER the cut (≤ n·k rows). A pre-cut
    // isNotNull filter instead gets PUSHED INTO the join condition,
    // where it re-evaluates the verify kernel for every candidate pair
    // and breaks the join→project→heap codegen pipeline — measured 42 s
    // vs 11 s on a 200M-pair corpus (ProbePqJoinScale, BASELINE r15).
    val ord = if (ascending) col(scoreName).asc_nulls_last
              else col(scoreName).desc
    val cands = cellJoinWithCrossover(
        probed.select(col("vec_id"), col("u"), col("cell")), index, largeProbe)
      .filter(col("vec_id") =!= col("nbr"))
      .withColumn(scoreName, verify(col("u"), col("un")))
    val top = graft.plans.TopKPerKey(cands.select("vec_id", "nbr", scoreName),
      Seq(col("vec_id")), Seq(ord, col("nbr")), k)
    val kept = if (ascending) top.filter(col(scoreName).isNotNull) else top
    kept
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("vec_id").orderBy(ord, col("nbr")))
        .cast("long"))
      .select(col("vec_id"), col("rank"), col("nbr"), col(scoreName))
      .orderBy("vec_id", "rank")
  }

  /** n42: the embeddings table as BOTH query and index side (directly
    * comparable to the exact n39 graph). Seed-dependent through KMeans ⇒
    * rows-only checked; recall vs n39 asserted in OpsSpec. */
  def knnJoinQuery(spark: SparkSession, dir: String): DataFrame =
    knnJoin(embeddings(spark, dir))

  /**
   * n60 — the batched kNN join on the DETERMINISTIC coarse quantizer (the
   * n06/n07 md5 treatment applied to n42, round-13 verdict #7): the same
   * [[knnJoinCore]] plan as the trained-KMeans n42 — TopKPerKey nProbe-cell
   * probe, cell equi-join, exact-cosine verify, TopKPerKey top-k — but with
   * the [[ivfDirs]] md5-derived directions as the cells and the integer
   * [[graft.functions.QuantizedDots]] scores for assignment/probing, so a
   * DuckDB oracle reproduces the cell structure bit-for-bit and the whole
   * join is HASH-checked. The verify rank is an order-independent BIGINT
   * quantized dot (`Σ ⌊uₐ·2²⁰⌋·⌊u_b·2²⁰⌋`, the n35 integer treatment —
   * a float cosine's summation order flips last-ulp bits between engines),
   * via codegen'd builtin HOFs (zip_with + aggregate). n42 keeps the
   * trained quantizer, the float-cosine verify, and its recall gate
   * (`OpsSpec`); this twin buys oracle coverage of the plan shape.
   *
   * The verify stays on the CODEGEN DotProduct, not a lambda HOF: each
   * side's unit vector is quantized ONCE per row (n rows, not n·nProbe·
   * |cell| pairs) to an integral-valued double array, and the pairwise
   * dot runs through DotProduct — every product ≤ 2²·²⁰·2²⁰ = 2⁴⁰ and
   * every partial sum ≤ 64·2⁴⁰ < 2⁵³ is an EXACT integer in a double,
   * so the float summation is order-independent and the final cast to
   * BIGINT is lossless. (A zip_with+aggregate verify was measured at
   * 44 s on the sf0.1 bench — interpreted lambdas with a per-pair array
   * allocation on the 2M-pair candidate stream; DotProduct brings the
   * same stream back to the n42 cost class.)
   */
  def knnJoinDet(emb: DataFrame, k: Int = 3,
                 nProbe: Int = IvfNProbe): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    val dots = graft.functions.QuantizedDots(v, ivfDirs, 64, IvfNList)
    def quantUnit(c: Column): Column =
      // floor() yields BIGINT; back to double for the codegen DotProduct
      // (the values are integral, so the cast is exact)
      transform(Dedup.unitVector(c), x =>
        floor(x * lit(1048576.0)).cast("double"))
    // argmax cell over integer dots (ties to the smallest index) — the
    // ivfTopK assignment, keyed for the index side of the join
    val index = emb.select(col("vec_id").as("nbr"),
      quantUnit(col("embedding")).as("un"),
      ivfCellCol(v).cast("int").as("cell"))
    val scored = emb
      .select(col("vec_id"), quantUnit(col("embedding")).as("u"),
        posexplode(dots).as(Seq("cell", "score")))
    knnJoinCore(scored, index, k, nProbe,
      verify = (ua, ub) => graft.functions.DotProduct(ua, ub).cast("long"),
      scoreName = "score_q", largeProbe = cellJoinLargeProbe(emb))
  }

  def knnJoinDetQuery(spark: SparkSession, dir: String): DataFrame =
    knnJoinDet(embeddings(spark, dir))

  /** The n60 twin in DuckDB: [[ivfOracle]]'s md5 directions and BIGINT
    * quantized dots reproduce cell assignment and the per-query nProbe
    * probe exactly (integer scores — no float argmax ties to flip), then
    * the probed pairs rank by the BIGINT quantized unit-vector dot
    * (order-independent integer sum; the unit components themselves are
    * bit-identical — ascending-order norm sum then one exact division,
    * the n39-proven formulation). */
  val knnJoinDetOracle: String =
    s"""WITH dirs AS (
       |  SELECT c, i,
       |    CAST(list_sum([(strpos('0123456789abcdef',
       |        substr(md5('c_' || c || '_' || i), d + 1, 1)) - 1)
       |        * (1 << (4 * (7 - d))) for d in range(8)]) AS BIGINT)
       |      - 2147483648 AS comp
       |  FROM range($IvfNList) t(c), range(64) s(i)
       |), ex AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
       |    unnest(CAST(embedding AS DOUBLE[])) AS x
       |  FROM embeddings
       |), dots AS (
       |  SELECT vec_id, c,
       |    SUM(CAST(floor(x * 1048576.0) AS BIGINT) * comp) AS dot
       |  FROM ex JOIN dirs USING (i)
       |  GROUP BY 1, 2
       |), assigned AS (
       |  SELECT vec_id, c AS cell FROM dots
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |                             ORDER BY dot DESC, c) = 1
       |), probed AS (
       |  SELECT vec_id, c AS cell FROM dots
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |                             ORDER BY dot DESC, c) <= $IvfNProbe
       |), exd AS (
       |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |), nr AS (
       |  SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM exd GROUP BY vec_id
       |), uv AS (
       |  SELECT exd.vec_id, v / nrm AS u, i FROM exd JOIN nr USING (vec_id)
       |), pairs AS (
       |  SELECT q.vec_id, ix.vec_id AS nbr
       |  FROM probed q JOIN assigned ix
       |    ON ix.cell = q.cell AND ix.vec_id <> q.vec_id
       |), s AS (
       |  SELECT p.vec_id, p.nbr,
       |    -- outer BIGINT cast: DuckDB SUM(BIGINT) yields HUGEINT, which
       |    -- the driver's hash renders as float64 (the d98/round-12 rule)
       |    CAST(SUM(CAST(floor(a.u * 1048576.0) AS BIGINT) *
       |             CAST(floor(b.u * 1048576.0) AS BIGINT)) AS BIGINT) AS score_q
       |  FROM pairs p
       |  JOIN uv a ON a.vec_id = p.vec_id
       |  JOIN uv b ON b.vec_id = p.nbr AND b.i = a.i
       |  GROUP BY 1, 2
       |), r AS (
       |  SELECT vec_id, nbr, score_q,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
       |                            ORDER BY score_q DESC, nbr) AS BIGINT) AS rank
       |  FROM s
       |)
       |SELECT vec_id, rank, nbr, score_q
       |FROM r
       |WHERE rank <= 3
       |ORDER BY vec_id, rank""".stripMargin

  // ------------------------------------------- n65 SDC batched PQ ranking

  /** SDC codeword-pair distance table for the md5 [[pqCodebook]] —
    * nSub·nCode² = 2048 longs, a 16 KiB plan constant shared by EVERY
    * query-candidate pair (unlike the ADC LUT, which is per-query). */
  private lazy val pqPairTable: Array[Long] =
    graft.functions.ProductQuantization
      .pairDistanceTable(pqCodebook, PqSubDim, PqNSub, PqNCode)

  /**
   * n65 — the batched many-query PQ ranking (round-14 verdict #5): the
   * n60 kNN-join plan with the verify step scanning PQ CODES instead of
   * raw vectors. n61's ADC ships a per-query LUT as a plan literal —
   * impossible when every vector is a query — so the batched shape uses
   * the SYMMETRIC distance (Jégou et al. §IV.A): one codeword-pair table
   * ([[pqPairTable]], depends only on the codebook) serves all pairs,
   * and the codegen [[graft.functions.PqSdcExpr]] kernel does nSub=8
   * lookups per pair where n60's DotProduct does 64 multiply-adds over
   * 64-double arrays. This is the composition that makes a 100 TB
   * semantic-dedup scan CODES end to end: the shuffled candidate stream
   * carries 8-int arrays (~32 B/row) instead of 64-double unit vectors
   * (~512 B/row) — the dominant exchange shrinks ~16× — and the raw
   * vectors are never read past the one encode pass.
   *
   * Everything is 64-bit integer arithmetic (codes, pair table, sums),
   * so the DuckDB oracle rebuilds the full join bit-for-bit and the
   * query is HASH-checked like n60 — no rows-only concession.
   */
  def pqKnnJoin(emb: DataFrame, k: Int = 3,
                nProbe: Int = IvfNProbe): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    val dots = graft.functions.QuantizedDots(v, ivfDirs, 64, IvfNList)
    val index = emb.select(col("vec_id").as("nbr"),
      pqEncodeCol(v).as("un"),
      ivfCellCol(v).cast("int").as("cell"))
    val scored = emb.select(col("vec_id"), pqEncodeCol(v).as("u"),
      posexplode(dots).as(Seq("cell", "score")))
    knnJoinCore(scored, index, k, nProbe,
      verify = (a, b) => graft.functions.ProductQuantization
        .sdc(a, b, pqPairTable, PqNSub, PqNCode),
      scoreName = "sdist", ascending = true,
      largeProbe = cellJoinLargeProbe(emb))
  }

  def pqKnnJoinQuery(spark: SparkSession, dir: String): DataFrame =
    pqKnnJoin(embeddings(spark, dir))

  /** Dev-only variant with a pluggable verify (cost isolation probes). */
  private[graft] def pqKnnJoinDev(emb: DataFrame,
                                  verify: (Column, Column) => Column,
                                  k: Int = 3,
                                  nProbe: Int = IvfNProbe,
                                  breakIndexStage: Boolean = false,
                                  mergeJoin: Boolean = false,
                                  largeProbe: Boolean = false): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    val dots = graft.functions.QuantizedDots(v, ivfDirs, 64, IvfNList)
    val index0 = emb.select(col("vec_id").as("nbr"),
      pqEncodeCol(v).as("un"),
      ivfCellCol(v).cast("int").as("cell"))
    val index1 = if (breakIndexStage) index0.repartition(col("cell")) else index0
    val index = if (mergeJoin) index1.hint("merge") else index1
    val scored = emb.select(col("vec_id"), pqEncodeCol(v).as("u"),
      posexplode(dots).as(Seq("cell", "score")))
    knnJoinCore(scored, index, k, nProbe, verify,
      scoreName = "sdist", ascending = true, largeProbe = largeProbe)
  }

  /** The n65 twin in DuckDB: the [[knnJoinDetOracle]] cell structure
    * (md5 dirs, BIGINT dots, per-vector assignment + nProbe probe), the
    * [[ivfPqOracle]] codes (integer argmin per subspace), a codeword-pair
    * distance table from the codebook self-join, and the summed SDC
    * lookups ranked (sdist ASC, nbr) per query — integer end to end. */
  // lazy: the PQ geometry vals are declared further down the object; a
  // strict val here would interpolate their pre-init zeros into the SQL
  lazy val pqKnnJoinOracle: String =
    s"""WITH dirs AS (
       |  SELECT c, i,
       |    CAST(list_sum([(strpos('0123456789abcdef',
       |        substr(md5('c_' || c || '_' || i), d + 1, 1)) - 1)
       |        * (1 << (4 * (7 - d))) for d in range(8)]) AS BIGINT)
       |      - 2147483648 AS comp
       |  FROM range($IvfNList) t(c), range(64) s(i)
       |), cb AS (
       |  SELECT m, c, i,
       |    CAST(list_sum([(strpos('0123456789abcdef',
       |        substr(md5('pq_' || m || '_' || c || '_' || i), d + 1, 1)) - 1)
       |        * (1 << (4 * (4 - d))) for d in range(5)]) AS BIGINT)
       |      - 524288 AS comp
       |  FROM range($PqNSub) t(m), range($PqNCode) u(c), range($PqSubDim) s(i)
       |), ex AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
       |    unnest(CAST(embedding AS DOUBLE[])) AS x
       |  FROM embeddings
       |), exq AS (
       |  SELECT vec_id, i, i // $PqSubDim AS m, i % $PqSubDim AS si,
       |    CAST(floor(x * 1048576.0) AS BIGINT) AS q
       |  FROM ex
       |), dots AS (
       |  SELECT exq.vec_id, dirs.c, SUM(exq.q * dirs.comp) AS dot
       |  FROM exq JOIN dirs ON dirs.i = exq.i
       |  GROUP BY 1, 2
       |), assigned AS (
       |  SELECT vec_id, c AS cell FROM dots
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |                             ORDER BY dot DESC, c) = 1
       |), probed AS (
       |  SELECT vec_id, c AS cell FROM dots
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |                             ORDER BY dot DESC, c) <= $IvfNProbe
       |), d2 AS (
       |  SELECT exq.vec_id, cb.m, cb.c,
       |    SUM((exq.q - cb.comp) * (exq.q - cb.comp)) AS d2
       |  FROM exq JOIN cb ON cb.m = exq.m AND cb.i = exq.si
       |  GROUP BY 1, 2, 3
       |), codes AS (
       |  SELECT vec_id, m, c AS code FROM d2
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |                             ORDER BY d2, c) = 1
       |), pd AS (
       |  SELECT a.m, a.c AS c1, b.c AS c2,
       |    SUM((a.comp - b.comp) * (a.comp - b.comp)) AS d2
       |  FROM cb a JOIN cb b ON a.m = b.m AND a.i = b.i
       |  GROUP BY 1, 2, 3
       |), pairs AS (
       |  SELECT q.vec_id, ix.vec_id AS nbr
       |  FROM probed q JOIN assigned ix
       |    ON ix.cell = q.cell AND ix.vec_id <> q.vec_id
       |), s AS (
       |  SELECT p.vec_id, p.nbr,
       |    CAST(SUM(pd.d2) AS BIGINT) AS sdist
       |  FROM pairs p
       |  JOIN codes ca ON ca.vec_id = p.vec_id
       |  JOIN codes cn ON cn.vec_id = p.nbr AND cn.m = ca.m
       |  JOIN pd ON pd.m = ca.m AND pd.c1 = ca.code AND pd.c2 = cn.code
       |  GROUP BY 1, 2
       |), r AS (
       |  SELECT vec_id, nbr, sdist,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
       |                            ORDER BY sdist, nbr) AS BIGINT) AS rank
       |  FROM s
       |)
       |SELECT vec_id, rank, nbr, sdist
       |FROM r
       |WHERE rank <= 3
       |ORDER BY vec_id, rank""".stripMargin

  // ------------------------------------------- n68 SQ8 batched kNN join

  /**
   * n68 — the batched kNN join on INT8 scalar-quantized vectors (the
   * FAISS "SQ8" layout): the n60 [[knnJoinCore]] plan with the verify
   * step scanning 64-byte int8 code BINARYs instead of 64-double unit
   * vectors. The middle rung of the compression ladder the family now
   * spans — n60 floats (512 B/row, exact), n68 SQ8 (64 B/row, ×8
   * smaller, per-dimension resolution kept), n65 PQ-SDC (32 B/row, ×16
   * smaller, resolution traded away) — and in practice the highest-
   * fidelity layout that still shrinks the candidate exchange by an
   * order of magnitude: codes rank by the codegen
   * [[graft.functions.Sq8DotExpr]] integer dot, whose top-3 agreement
   * with the exact n60 ranking measures 0.94 (gated ≥ 0.9 in `Sq8Spec`;
   * PQ needs a trained codebook to clear recall 0.12 at the same k —
   * BASELINE round 15).
   *
   * Everything is integer end to end — the shared bit-identical unit
   * vector quantizes with ONE double product per component
   * (`clamp(floor(u·127))`), scores are 64-bit integer sums — so the
   * DuckDB oracle rebuilds the full join and the query is HASH-checked
   * like n60/n65.
   */
  def sq8KnnJoin(emb: DataFrame, k: Int = 3,
                 nProbe: Int = IvfNProbe): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    val dots = graft.functions.QuantizedDots(v, ivfDirs, 64, IvfNList)
    def codes(c: Column): Column =
      graft.functions.ScalarQuantization.encode(Dedup.unitVector(c), 64)
    val index = emb.select(col("vec_id").as("nbr"),
      codes(col("embedding")).as("un"),
      ivfCellCol(v).cast("int").as("cell"))
    val scored = emb.select(col("vec_id"), codes(col("embedding")).as("u"),
      posexplode(dots).as(Seq("cell", "score")))
    knnJoinCore(scored, index, k, nProbe,
      verify = (a, b) => graft.functions.ScalarQuantization.dot(a, b),
      scoreName = "sq8dot", largeProbe = cellJoinLargeProbe(emb))
  }

  def sq8KnnJoinQuery(spark: SparkSession, dir: String): DataFrame =
    sq8KnnJoin(embeddings(spark, dir))

  /** The n68 twin in DuckDB: the [[knnJoinDetOracle]] cell structure
    * (md5 dirs, BIGINT dots, assignment + nProbe probe), with the probed
    * pairs ranked by the integer dot of the clamped int8 codes
    * (`clamp(floor(u·127))` — one exact double product per component
    * over the bit-identical unit vector, then a BIGINT sum). */
  val sq8KnnJoinOracle: String =
    s"""WITH dirs AS (
       |  SELECT c, i,
       |    CAST(list_sum([(strpos('0123456789abcdef',
       |        substr(md5('c_' || c || '_' || i), d + 1, 1)) - 1)
       |        * (1 << (4 * (7 - d))) for d in range(8)]) AS BIGINT)
       |      - 2147483648 AS comp
       |  FROM range($IvfNList) t(c), range(64) s(i)
       |), ex AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
       |    unnest(CAST(embedding AS DOUBLE[])) AS x
       |  FROM embeddings
       |), dots AS (
       |  SELECT vec_id, c,
       |    SUM(CAST(floor(x * 1048576.0) AS BIGINT) * comp) AS dot
       |  FROM ex JOIN dirs USING (i)
       |  GROUP BY 1, 2
       |), assigned AS (
       |  SELECT vec_id, c AS cell FROM dots
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |                             ORDER BY dot DESC, c) = 1
       |), probed AS (
       |  SELECT vec_id, c AS cell FROM dots
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |                             ORDER BY dot DESC, c) <= $IvfNProbe
       |), exd AS (
       |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |), nr AS (
       |  SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM exd GROUP BY vec_id
       |), uv AS (
       |  SELECT exd.vec_id,
       |    least(127, greatest(-127,
       |      CAST(floor((v / nrm) * 127.0) AS BIGINT))) AS q, i
       |  FROM exd JOIN nr USING (vec_id)
       |), pairs AS (
       |  SELECT q.vec_id, ix.vec_id AS nbr
       |  FROM probed q JOIN assigned ix
       |    ON ix.cell = q.cell AND ix.vec_id <> q.vec_id
       |), s AS (
       |  SELECT p.vec_id, p.nbr,
       |    CAST(SUM(a.q * b.q) AS BIGINT) AS sq8dot
       |  FROM pairs p
       |  JOIN uv a ON a.vec_id = p.vec_id
       |  JOIN uv b ON b.vec_id = p.nbr AND b.i = a.i
       |  GROUP BY 1, 2
       |), r AS (
       |  SELECT vec_id, nbr, sq8dot,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
       |                            ORDER BY sq8dot DESC, nbr) AS BIGINT) AS rank
       |  FROM s
       |)
       |SELECT vec_id, rank, nbr, sq8dot
       |FROM r
       |WHERE rank <= 3
       |ORDER BY vec_id, rank""".stripMargin

  // --------------------- n78 batched IVFADC-R: re-ranked PQ kNN join

  /** n78 shortlist depth: the single-query IVFADC-R convention (n75's
    * R=100) carried to the join — each probe row's candidate list is cut
    * to R on codes BEFORE any full vector is touched. */
  private val PqJoinRerankR = 100

  /**
   * n78 — the batched kNN join with IVFADC-R's exact re-rank stage
   * (round-16 verdict #1; Jégou et al. TPAMI 2011 §V at join scale):
   * the n65 PQ-SDC join ranks every candidate on 32-byte codes, so its
   * join-scale recall inherits the code ceiling the single-query path
   * escaped in n75. This query adds the same two-stage fix PER PROBE
   * ROW: (1) the n65 plan verbatim — probe cut, cell equi-join, codegen
   * SDC over codes — but cut at R ([[PqJoinRerankR]]) per query instead
   * of k, yielding an n·R shortlist of bare (vec_id, nbr) id pairs;
   * (2) ONLY the shortlisted ids fetch their full vectors, by two
   * SHUFFLE-HASH id joins against the source table — NOT broadcast: the
   * id set is n·R and scales with the probe side (the n75 broadcast
   * works because its one query contributes R ids total) — and re-score
   * with the n60 exact integer quantized dot (unit vectors quantized
   * once per fetched row, codegen [[graft.functions.DotProduct]], every
   * partial sum an exact integer). A final TopKPerKey cuts to k.
   *
   * 100 TB economics: the wide candidate stream (n·(nProbe/nlist)·|index|
   * pairs) still carries 8-int codes only; full 512-byte vectors ride
   * exactly 2·n·R rows of fetch shuffle — the verify kernel never sees a
   * pair that survived neither cut, and no stage rescans the corpus per
   * candidate. Integer end to end ⇒ HASH-checked like n65/n75 (shortlist
   * membership at the R-th boundary, re-rank scores, and the final order
   * all rebuild in DuckDB).
   *
   * Measured (ProbePqRecall sf0.1 `join` mode): join-scale recall@3 vs
   * exact cosine goes 0.0245 (n65, SDC codes end to end) → 0.2272 (this
   * query, R=100) — a ×9.3 gain at unchanged candidate-stream width; the
   * probed-cell ceiling is 0.726, and the remaining gap is SDC shortlist
   * capture (symmetric coded-query distances are noisier than the
   * single-query ADC shortlist, which re-ranks to 0.29 from the same
   * codebook). At sf0.001 with R ≥ the candidate count the re-rank IS
   * the probe ceiling: 0.469 vs n65's 0.038 (`PqJoinRerankSpec`).
   */
  def pqKnnJoinRerank(emb: DataFrame, k: Int = 3,
                      r: Int = PqJoinRerankR,
                      nProbe: Int = IvfNProbe): DataFrame =
    pqKnnJoinRerankWith(emb, pqCodebook, PqNCode, pqPairTable, k, r, nProbe)

  /** The shared two-stage join plan, parameterized on the codebook —
    * n78 passes the md5 [[pqCodebook]] (oracle-reproducible), n80 the
    * raw Lloyd-trained k*=256 one (the n61/n66 pairing at join scale).
    * The SDC pair table rides in the task binary, which Spark itself
    * broadcasts once per stage — at k*=256 that is nSub·256² longs
    * (4 MiB), the FAISS-resident table size, NOT a per-row or per-task
    * cost; at k*=16 it is 16 KiB. */
  private def pqKnnJoinRerankWith(emb: DataFrame, codebook: Array[Long],
                                  nCode: Int, pairTable: Array[Long],
                                  k: Int, r: Int,
                                  nProbe: Int): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    val dots = graft.functions.QuantizedDots(v, ivfDirs, 64, IvfNList)
    def codesCol(c: Column): Column = graft.functions.ProductQuantization
      .encode(c, codebook, PqSubDim, PqNSub, nCode)
    val index = emb.select(col("vec_id").as("nbr"),
      codesCol(v).as("un"),
      ivfCellCol(v).cast("int").as("cell"))
    val scored = emb.select(col("vec_id"), codesCol(v).as("u"),
      posexplode(dots).as(Seq("cell", "score")))
    val probed = graft.plans.TopKPerKey(scored, Seq(col("vec_id")),
      Seq(col("score").desc, col("cell")), nProbe)
    val cands = probed.select(col("vec_id"), col("u"), col("cell"))
      .join(index, "cell")
      .filter(col("vec_id") =!= col("nbr"))
      .withColumn("sdist", graft.functions.ProductQuantization
        .sdc(col("u"), col("un"), pairTable, PqNSub, nCode))
    // the R-cut heap sees (vec_id, nbr, sdist) — codes and vectors have
    // both left the stream; nulls rank last and drop AFTER the cut (the
    // knnJoinVerify contract: a pre-cut isNotNull pushes into the join)
    val shortlist = graft.plans.TopKPerKey(
      cands.select(col("vec_id"), col("nbr"), col("sdist")),
      Seq(col("vec_id")), Seq(col("sdist").asc_nulls_last, col("nbr")), r)
      .filter(col("sdist").isNotNull)
      .select("vec_id", "nbr")
    rerankJoinTail(emb, shortlist, k)
  }

  /** The exact-re-rank tail shared by every batched two-stage join
    * (n78/n80/n81 and the incremental trained twin): ONLY the
    * shortlisted (vec_id, nbr) id pairs fetch their full vectors, by two
    * SHUFFLE-HASH id joins against the source table — NOT broadcast: the
    * id set is n·R and scales with the probe side — then re-score with
    * the n60 exact integer quantized dot and cut to k. The n·R·~528 B
    * fetch-exchange bill is measured equal to its closed-form prediction
    * (BASELINE round-17, `ProbePqJoinScale`): linear in queries, never a
    * function of index size. */
  private[graft] def rerankJoinTail(emb: DataFrame, shortlist: DataFrame,
                                    k: Int): DataFrame = {
    def quantUnit(c: Column): Column =
      transform(Dedup.unitVector(c), x =>
        floor(x * lit(1048576.0)).cast("double"))
    val quv = emb.select(col("vec_id"), quantUnit(col("embedding")).as("uq"))
    val rescored = shortlist
      .join(quv.hint("shuffle_hash"), Seq("vec_id"))
      .join(quv.select(col("vec_id").as("nbr"), col("uq").as("unx"))
        .hint("shuffle_hash"), Seq("nbr"))
      .select(col("vec_id"), col("nbr"),
        graft.functions.DotProduct(col("uq"), col("unx"))
          .cast("long").as("qdot"))
    val top = graft.plans.TopKPerKey(rescored, Seq(col("vec_id")),
      Seq(col("qdot").desc, col("nbr")), k)
    top
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("vec_id").orderBy(col("qdot").desc, col("nbr")))
        .cast("long"))
      .select(col("vec_id"), col("rank"), col("nbr"), col("qdot"))
      .orderBy("vec_id", "rank")
  }

  def pqKnnJoinRerankQuery(spark: SparkSession, dir: String): DataFrame =
    pqKnnJoinRerank(embeddings(spark, dir))

  /**
   * n80 — the batched two-stage join on a TRAINED k*=256 codebook: the
   * n78 plan verbatim with Lloyd-trained codewords (raw vectors, NOT
   * residuals — SDC compares codes across cells, and residual codes are
   * cell-relative, so a cross-cell symmetric distance over them is
   * incoherent; the raw codebook is the coherent trained choice at join
   * scale). Measured (`ProbePqRecall join`, sf0.1, k=3): recall goes
   * 0.0245 (n65 codes) → 0.2272 (n78, md5 shortlist) → 0.1702 (trained
   * codes alone) → **0.6533 re-ranked — 90% of the 0.7258 probe
   * ceiling**, ×2.9 over n78 at identical plan shape, candidate-stream
   * width (8-int codes), and fetch bill (R=100). Training is
   * SQL-inexpressible ⇒ rows-only like n66/n73/n76/n79, bounded by the
   * driver-twin equality + planted-floor gates in `PqJoinRerankSpec`.
   */
  def pqKnnJoinRerankTrained(emb: DataFrame, k: Int = 3,
                             r: Int = PqJoinRerankR,
                             nProbe: Int = IvfNProbe): DataFrame = {
    val cb = trainedPqCodebook(emb, PqNCodeHi)
    val pt = graft.functions.ProductQuantization
      .pairDistanceTable(cb, PqSubDim, PqNSub, PqNCodeHi)
    pqKnnJoinRerankWith(emb, cb, PqNCodeHi, pt, k, r, nProbe)
  }

  def pqKnnJoinRerankTrainedQuery(spark: SparkSession, dir: String): DataFrame =
    pqKnnJoinRerankTrained(embeddings(spark, dir))

  /**
   * n81 — the batched two-stage join with an ASYMMETRIC (ADC) shortlist
   * (round-17 verdict #2): the n78 plan with stage 1's SDC verify
   * replaced by the join-scale ADC kernel
   * ([[graft.functions.ProductQuantization.adcq]] /
   * `PqAdcQExpr`) — each probe row carries its RAW integer vector
   * (floor(x·2²⁰) longs, the shared quantization) instead of its codes,
   * and ranks candidates by the direct per-subspace
   * Σ (q_i − codeword_i)², codebook as a plan literal, no per-row LUT
   * materialization. The measured motivation (BASELINE round-18
   * `ProbePqRecall join`): SDC quantizes the QUERY side down to codes
   * too, and that noise is exactly the shortlist-capture gap the
   * round-17 verdict isolated — the asymmetric shortlist recovers it at
   * identical probe structure, R, and fetch bill.
   *
   * Scale anatomy vs n78: the INDEX side of the candidate exchange — the
   * corpus-scale side — still carries 8-int codes only; the probe side
   * carries 64 longs per probed row (n·nProbe rows, the n60 width,
   * linear in queries). Fetch stage unchanged ([[rerankJoinTail]]).
   * Integer end to end ⇒ HASH-checked like n78 (the shortlist boundary
   * reuses the query's d2 table, which the oracle already builds).
   */
  def pqKnnJoinRerankAdc(emb: DataFrame, k: Int = 3,
                         r: Int = PqJoinRerankR,
                         nProbe: Int = IvfNProbe): DataFrame =
    pqKnnJoinRerankAdcWith(emb, pqCodebook, PqNCode, k, r, nProbe)

  /** The shared asymmetric two-stage join plan, parameterized on the
    * codebook — n81 passes the md5 [[pqCodebook]] (oracle-reproducible),
    * n84 the raw Lloyd-trained k*=256 one (the n78/n80 pairing with the
    * ADC shortlist). */
  private def pqKnnJoinRerankAdcWith(emb: DataFrame, codebook: Array[Long],
                                     nCode: Int, k: Int, r: Int,
                                     nProbe: Int): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    val dots = graft.functions.QuantizedDots(v, ivfDirs, 64, IvfNList)
    val qInt = transform(v, x =>
      floor(x * lit(graft.functions.QuantizedDots.Scale)).cast("long"))
    val index = emb.select(col("vec_id").as("nbr"),
      graft.functions.ProductQuantization
        .encode(v, codebook, PqSubDim, PqNSub, nCode).as("un"),
      ivfCellCol(v).cast("int").as("cell"))
    val scored = emb.select(col("vec_id"), qInt.as("u"),
      posexplode(dots).as(Seq("cell", "score")))
    val probed = graft.plans.TopKPerKey(scored, Seq(col("vec_id")),
      Seq(col("score").desc, col("cell")), nProbe)
    // the size crossover guards this cell join like n65's (same verify-
    // stage serialization risk under AQE's broadcast conversion at scale)
    val cands = cellJoinWithCrossover(
        probed.select(col("vec_id"), col("u"), col("cell")), index,
        cellJoinLargeProbe(emb))
      .filter(col("vec_id") =!= col("nbr"))
      .withColumn("adist", graft.functions.ProductQuantization
        .adcq(col("u"), col("un"), codebook, PqSubDim, PqNSub, nCode))
    val shortlist = graft.plans.TopKPerKey(
      cands.select(col("vec_id"), col("nbr"), col("adist")),
      Seq(col("vec_id")), Seq(col("adist").asc_nulls_last, col("nbr")), r)
      .filter(col("adist").isNotNull)
      .select("vec_id", "nbr")
    rerankJoinTail(emb, shortlist, k)
  }

  def pqKnnJoinRerankAdcQuery(spark: SparkSession, dir: String): DataFrame =
    pqKnnJoinRerankAdc(embeddings(spark, dir))

  /**
   * n84 — the asymmetric two-stage join on the raw Lloyd-trained k*=256
   * codebook: the n81 plan with trained codewords. Measured
   * (`ProbePqRecall join`, sf0.1, k=3): join-scale recall@3
   * 0.2272 (n78 SDC/md5) → 0.3123 (n81 ADC/md5) → 0.6533 (n80
   * SDC/trained) → **0.7177 — 98.9% of the 0.7258 probe ceiling** —
   * the asymmetric shortlist closes the capture gap the round-17
   * verdict isolated, at identical probe structure, R, and fetch bill
   * (a residual variant measured 0.7193, +0.0016 — not worth the
   * per-cell centroid plumbing at join scale). Training is
   * SQL-inexpressible ⇒ rows-only like n80, bounded by the driver-twin
   * equality + planted-floor gates in `PqJoinRerankSpec`; the plan
   * shape is the hash-matched n81's verbatim.
   */
  def pqKnnJoinRerankAdcTrained(emb: DataFrame, k: Int = 3,
                                r: Int = PqJoinRerankR,
                                nProbe: Int = IvfNProbe): DataFrame =
    pqKnnJoinRerankAdcWith(emb, trainedPqCodebook(emb, PqNCodeHi),
      PqNCodeHi, k, r, nProbe)

  def pqKnnJoinRerankAdcTrainedQuery(spark: SparkSession, dir: String): DataFrame =
    pqKnnJoinRerankAdcTrained(embeddings(spark, dir))

  /** The n78 twin in DuckDB: the [[pqKnnJoinOracle]] CTE chain through
    * the per-pair SDC sum, the per-query shortlist cut at R (integer
    * sdist ⇒ the R-th boundary is identical in both engines), then the
    * [[knnJoinDetOracle]] exact quantized-dot re-rank over ONLY the
    * shortlisted pairs — (qdot DESC, nbr) rank cut to k. Integer end to
    * end. */
  lazy val pqKnnJoinRerankOracle: String =
    s"""WITH dirs AS (
       |  SELECT c, i,
       |    CAST(list_sum([(strpos('0123456789abcdef',
       |        substr(md5('c_' || c || '_' || i), d + 1, 1)) - 1)
       |        * (1 << (4 * (7 - d))) for d in range(8)]) AS BIGINT)
       |      - 2147483648 AS comp
       |  FROM range($IvfNList) t(c), range(64) s(i)
       |), cb AS (
       |  SELECT m, c, i,
       |    CAST(list_sum([(strpos('0123456789abcdef',
       |        substr(md5('pq_' || m || '_' || c || '_' || i), d + 1, 1)) - 1)
       |        * (1 << (4 * (4 - d))) for d in range(5)]) AS BIGINT)
       |      - 524288 AS comp
       |  FROM range($PqNSub) t(m), range($PqNCode) u(c), range($PqSubDim) s(i)
       |), ex AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
       |    unnest(CAST(embedding AS DOUBLE[])) AS x
       |  FROM embeddings
       |), exq AS (
       |  SELECT vec_id, i, i // $PqSubDim AS m, i % $PqSubDim AS si,
       |    CAST(floor(x * 1048576.0) AS BIGINT) AS q
       |  FROM ex
       |), dots AS (
       |  SELECT exq.vec_id, dirs.c, SUM(exq.q * dirs.comp) AS dot
       |  FROM exq JOIN dirs ON dirs.i = exq.i
       |  GROUP BY 1, 2
       |), assigned AS (
       |  SELECT vec_id, c AS cell FROM dots
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |                             ORDER BY dot DESC, c) = 1
       |), probed AS (
       |  SELECT vec_id, c AS cell FROM dots
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |                             ORDER BY dot DESC, c) <= $IvfNProbe
       |), d2 AS (
       |  SELECT exq.vec_id, cb.m, cb.c,
       |    SUM((exq.q - cb.comp) * (exq.q - cb.comp)) AS d2
       |  FROM exq JOIN cb ON cb.m = exq.m AND cb.i = exq.si
       |  GROUP BY 1, 2, 3
       |), codes AS (
       |  SELECT vec_id, m, c AS code FROM d2
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |                             ORDER BY d2, c) = 1
       |), pd AS (
       |  SELECT a.m, a.c AS c1, b.c AS c2,
       |    SUM((a.comp - b.comp) * (a.comp - b.comp)) AS d2
       |  FROM cb a JOIN cb b ON a.m = b.m AND a.i = b.i
       |  GROUP BY 1, 2, 3
       |), pairs AS (
       |  SELECT q.vec_id, ix.vec_id AS nbr
       |  FROM probed q JOIN assigned ix
       |    ON ix.cell = q.cell AND ix.vec_id <> q.vec_id
       |), s AS (
       |  SELECT p.vec_id, p.nbr,
       |    CAST(SUM(pd.d2) AS BIGINT) AS sdist
       |  FROM pairs p
       |  JOIN codes ca ON ca.vec_id = p.vec_id
       |  JOIN codes cn ON cn.vec_id = p.nbr AND cn.m = ca.m
       |  JOIN pd ON pd.m = ca.m AND pd.c1 = ca.code AND pd.c2 = cn.code
       |  GROUP BY 1, 2
       |), short AS (
       |  SELECT vec_id, nbr FROM s
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |                             ORDER BY sdist, nbr) <= $PqJoinRerankR
       |), exd AS (
       |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |), nr AS (
       |  SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM exd GROUP BY vec_id
       |), uv AS (
       |  SELECT exd.vec_id, v / nrm AS u, i FROM exd JOIN nr USING (vec_id)
       |), qd AS (
       |  SELECT sh.vec_id, sh.nbr,
       |    CAST(SUM(CAST(floor(a.u * 1048576.0) AS BIGINT) *
       |             CAST(floor(b.u * 1048576.0) AS BIGINT)) AS BIGINT) AS qdot
       |  FROM short sh
       |  JOIN uv a ON a.vec_id = sh.vec_id
       |  JOIN uv b ON b.vec_id = sh.nbr AND b.i = a.i
       |  GROUP BY 1, 2
       |), r AS (
       |  SELECT vec_id, nbr, qdot,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
       |                            ORDER BY qdot DESC, nbr) AS BIGINT) AS rank
       |  FROM qd
       |)
       |SELECT vec_id, rank, nbr, qdot
       |FROM r
       |WHERE rank <= 3
       |ORDER BY vec_id, rank""".stripMargin

  /** The n81 twin in DuckDB: the [[pqKnnJoinRerankOracle]] chain with the
    * SDC pair-table stage replaced by the ASYMMETRIC per-pair distance —
    * which is just the query's own d2 table (already built for the encode
    * step) looked up at the CANDIDATE's codes: adist(q, nbr) =
    * Σ_m d2[q][m][code_m(nbr)]. No pd CTE; the shortlist cut, fetch, and
    * exact re-rank are unchanged. Integer end to end. */
  lazy val pqKnnJoinRerankAdcOracle: String =
    s"""WITH dirs AS (
       |  SELECT c, i,
       |    CAST(list_sum([(strpos('0123456789abcdef',
       |        substr(md5('c_' || c || '_' || i), d + 1, 1)) - 1)
       |        * (1 << (4 * (7 - d))) for d in range(8)]) AS BIGINT)
       |      - 2147483648 AS comp
       |  FROM range($IvfNList) t(c), range(64) s(i)
       |), cb AS (
       |  SELECT m, c, i,
       |    CAST(list_sum([(strpos('0123456789abcdef',
       |        substr(md5('pq_' || m || '_' || c || '_' || i), d + 1, 1)) - 1)
       |        * (1 << (4 * (4 - d))) for d in range(5)]) AS BIGINT)
       |      - 524288 AS comp
       |  FROM range($PqNSub) t(m), range($PqNCode) u(c), range($PqSubDim) s(i)
       |), ex AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
       |    unnest(CAST(embedding AS DOUBLE[])) AS x
       |  FROM embeddings
       |), exq AS (
       |  SELECT vec_id, i, i // $PqSubDim AS m, i % $PqSubDim AS si,
       |    CAST(floor(x * 1048576.0) AS BIGINT) AS q
       |  FROM ex
       |), dots AS (
       |  SELECT exq.vec_id, dirs.c, SUM(exq.q * dirs.comp) AS dot
       |  FROM exq JOIN dirs ON dirs.i = exq.i
       |  GROUP BY 1, 2
       |), assigned AS (
       |  SELECT vec_id, c AS cell FROM dots
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |                             ORDER BY dot DESC, c) = 1
       |), probed AS (
       |  SELECT vec_id, c AS cell FROM dots
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |                             ORDER BY dot DESC, c) <= $IvfNProbe
       |), d2 AS (
       |  SELECT exq.vec_id, cb.m, cb.c,
       |    SUM((exq.q - cb.comp) * (exq.q - cb.comp)) AS d2
       |  FROM exq JOIN cb ON cb.m = exq.m AND cb.i = exq.si
       |  GROUP BY 1, 2, 3
       |), codes AS (
       |  SELECT vec_id, m, c AS code FROM d2
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |                             ORDER BY d2, c) = 1
       |), pairs AS (
       |  SELECT q.vec_id, ix.vec_id AS nbr
       |  FROM probed q JOIN assigned ix
       |    ON ix.cell = q.cell AND ix.vec_id <> q.vec_id
       |), s AS (
       |  SELECT p.vec_id, p.nbr,
       |    CAST(SUM(d2.d2) AS BIGINT) AS adist
       |  FROM pairs p
       |  JOIN codes cn ON cn.vec_id = p.nbr
       |  JOIN d2 ON d2.vec_id = p.vec_id AND d2.m = cn.m AND d2.c = cn.code
       |  GROUP BY 1, 2
       |), short AS (
       |  SELECT vec_id, nbr FROM s
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |                             ORDER BY adist, nbr) <= $PqJoinRerankR
       |), exd AS (
       |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |), nr AS (
       |  SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM exd GROUP BY vec_id
       |), uv AS (
       |  SELECT exd.vec_id, v / nrm AS u, i FROM exd JOIN nr USING (vec_id)
       |), qd AS (
       |  SELECT sh.vec_id, sh.nbr,
       |    CAST(SUM(CAST(floor(a.u * 1048576.0) AS BIGINT) *
       |             CAST(floor(b.u * 1048576.0) AS BIGINT)) AS BIGINT) AS qdot
       |  FROM short sh
       |  JOIN uv a ON a.vec_id = sh.vec_id
       |  JOIN uv b ON b.vec_id = sh.nbr AND b.i = a.i
       |  GROUP BY 1, 2
       |), r AS (
       |  SELECT vec_id, nbr, qdot,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
       |                            ORDER BY qdot DESC, nbr) AS BIGINT) AS rank
       |  FROM qd
       |)
       |SELECT vec_id, rank, nbr, qdot
       |FROM r
       |WHERE rank <= 3
       |ORDER BY vec_id, rank""".stripMargin

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

  val labelCentroidOracle: String =
    """WITH q AS (
      |  SELECT CAST(label AS BIGINT) AS label,
      |    CAST(i - 1 AS BIGINT) AS dim,
      |    CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT) AS q
      |  FROM (SELECT label, embedding[i] AS x, i
      |        FROM embeddings,
      |             LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) r)
      |)
      |SELECT label, dim, COUNT(*) AS n_vecs,
      |  CAST(SUM(q) AS BIGINT) AS sum_q,
      |  CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE) /
      |    CAST(COUNT(*) * 1048576 AS DOUBLE) AS mean
      |FROM q
      |GROUP BY label, dim
      |ORDER BY label, dim""".stripMargin

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

  // ------------------------------------------------------- n61 IVF-PQ

  /** n61 PQ geometry: 64 dims = 8 subspaces × 8 dims, 16 codewords per
    * subspace — codes are 8 small ints (4 bits of information each) per
    * vector vs 256 bytes of raw floats, the ~30× index-size reduction
    * that makes a 100 TB ANN index RAM-resident per executor. */
  private val PqSubDim = 8
  private val PqNSub = 8
  private val PqNCode = 16

  /** md5-derived INTEGER codewords (the [[ivfDirs]] construction at
    * codeword scale, `pq_` namespace, flat (m, c, i) row-major): 5 hex
    * digits → [0, 2²⁰) − 2¹⁹ ∈ [−2¹⁹, 2¹⁹) — the same range the ±0.5
    * fixture components occupy after the 2²⁰ quantization, so argmin over
    * integer squared distances is a meaningful (if untrained) codebook.
    * Rebuilds identically from DuckDB md5 digit arithmetic. */
  private lazy val pqCodebook: Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(PqNSub * PqNCode * PqSubDim) { idx =>
      val m = idx / (PqNCode * PqSubDim)
      val c = (idx / PqSubDim) % PqNCode
      val i = idx % PqSubDim
      val hex = md.digest(s"pq_${m}_${c}_${i}".getBytes("UTF-8"))
        .take(3).map(b => f"$b%02x").mkString.substring(0, 5)
      java.lang.Long.parseLong(hex, 16) - 524288L
    }
  }

  /** Dev/spec accessors for the PQ geometry (the kernel spec rebuilds the
    * codebook and LUT driver-side and pins the distributed results). */
  private[graft] def debugPqCodebook: Array[Long] = pqCodebook
  private[graft] def debugPqGeometry: (Int, Int, Int) = (PqSubDim, PqNSub, PqNCode)
  private[graft] def debugIvfDirs: Array[Long] = ivfDirs
  private[graft] def debugIvfGeometry: (Int, Int) = (IvfNList, IvfNProbe)
  private[graft] def debugPqNCodeHi: Int = PqNCodeHi

  /** IVF cell of a double-vector column: integer argmax over [[ivfDirs]]
    * (first index wins ties — exact in both engines; the n07 assignment,
    * shared by n61 and the n63 incremental index). The dot-score array is
    * bound to a lambda variable before argmax/array_position reference it
    * (the interpreted-HOF re-evaluation bind). */
  private[graft] def ivfCellCol(v: Column): Column = ivfCellCol(v, IvfNList)

  /** Geometry-parameterized cell assignment (same argmax rule at any
    * nlist; the default overload keeps every oracle-gated plan frozen). */
  private[graft] def ivfCellCol(v: Column, nlist: Int): Column = {
    val dots = graft.functions.QuantizedDots(v, ivfDirsFor(nlist), 64, nlist)
    element_at(transform(array(dots), a =>
      array_position(a, array_max(a))), 1) - 1
  }

  /** The nProbe best cells of a double-vector column, as a map-side
    * array (dot DESC, cell ASC — the n07 probe rule): an 8-element
    * comparator sort per row, no shuffle. Equal by construction to the
    * TopKPerKey cut [[knnJoinCore]] applies to the posexploded scores
    * (integer dots ⇒ no float ties; the comparator is total), so an
    * index can precompute its members' probe sets AT INGEST — the n71
    * incremental kNN join reads them back instead of re-shuffling the
    * score stream (pinned against the batch cut in `IncrementalSq8Spec`).
    * Element 1 is the vector's own assignment cell ([[ivfCellCol]]). */
  private[graft] def probedCellsCol(v: Column,
                                    nProbe: Int = IvfNProbe): Column = {
    val dots = graft.functions.QuantizedDots(v, ivfDirs, 64, IvfNList)
    val pairs = zip_with(dots, sequence(lit(0), lit(IvfNList - 1)),
      (d, c) => struct(d.as("dot"), c.as("cell")))
    val sorted = array_sort(pairs, (l, r) =>
      when(l.getField("dot") > r.getField("dot"), lit(-1))
        .when(l.getField("dot") < r.getField("dot"), lit(1))
        .otherwise(l.getField("cell") - r.getField("cell")))
    transform(slice(sorted, 1, nProbe), s => s.getField("cell"))
  }

  /** Driver-side twin of the IVF cell dots — integer arithmetic, so it
    * agrees with [[graft.functions.QuantizedDots]] bit-for-bit (pinned in
    * `ProductQuantizationSpec`); lets a single-probe query compute its
    * probe set without a Spark job. */
  private[graft] def ivfDotsLocal(q: Array[Long]): Array[Long] =
    ivfDotsLocalAt(q, IvfNList)

  /** Geometry-parameterized driver dots (same integer arithmetic). */
  private[graft] def ivfDotsLocalAt(q: Array[Long], nlist: Int): Array[Long] = {
    val dirs = ivfDirsFor(nlist)
    Array.tabulate(nlist) { c =>
      var dot = 0L
      var i = 0
      val n = math.min(64, q.length)
      while (i < n) { dot += q(i) * dirs(c * 64 + i); i += 1 }
      dot
    }
  }

  /** The query's `nProbe` best cells by (dot DESC, cell ASC) — the n07
    * probe rule, driver-side. */
  private[graft] def probeCellsLocal(q: Array[Long],
                                     nProbe: Int = IvfNProbe): Seq[Long] =
    probeCellsLocalAt(q, IvfNList, nProbe)

  /** Geometry-parameterized probe rule (nlist × nProbe — both dials). */
  private[graft] def probeCellsLocalAt(q: Array[Long], nlist: Int,
                                       nProbe: Int): Seq[Long] = {
    val dots = ivfDotsLocalAt(q, nlist)
    (0 until nlist).sortBy(c => (-dots(c), c)).take(nProbe).map(_.toLong)
  }

  /** PQ code column at the n61 geometry (codegen argmin encode). */
  private[graft] def pqEncodeCol(v: Column): Column =
    graft.functions.ProductQuantization
      .encode(v, pqCodebook, PqSubDim, PqNSub, PqNCode)

  /** ADC distance column for a quantized query vector (codegen lookup
    * sum over the query's integer subspace-distance table). */
  private[graft] def pqAdcCol(codes: Column, q: Array[Long]): Column =
    graft.functions.ProductQuantization.adc(codes,
      graft.functions.ProductQuantization.distanceTable(
        q, pqCodebook, PqSubDim, PqNSub, PqNCode),
      PqNSub, PqNCode)

  /**
   * n61 — IVF-PQ top-k, the full memory-bounded ANN scan a 100 TB
   * deployment runs (Jégou et al., TPAMI 2011): vectors are PQ-ENCODED
   * once at index build (map-side, codegen [[graft.functions.PqEncodeExpr]];
   * at scale the codes table is what gets stored — 8 ints/vector, not 64
   * floats), the query probes its `nProbe` best IVF cells (the n07
   * deterministic coarse quantizer, integer argmax), and probed-cell
   * members rank by ASYMMETRIC distance — `nSub` lookups into the query's
   * per-subspace integer distance table ([[graft.functions.PqAdcExpr]]),
   * never touching the raw vectors. Everything on the ranking path is
   * 64-bit integer arithmetic, so the DuckDB oracle reproduces codes,
   * LUT, and the final (adist ASC, vec_id) order bit-for-bit.
   *
   * The one query vector is a plan parameter (the n06/n07 single-probe
   * convention — its LUT is built driver-side and ships as a literal);
   * the batched many-query shape lives in n42/n60, where queries stay
   * distributed. Top-k is TakeOrderedAndProject — no global sort.
   *
   * Planted-duplicate theorem (the spec's hard gate): the query's own
   * code for subspace m is argmin_c lut[m][c], so an exact duplicate of
   * the query — which shares its codes — attains Σ_m min_c lut[m][c],
   * the global minimum of the ADC objective: a duplicate can never be
   * out-ranked, only tied.
   */
  def ivfPqTopK(emb: DataFrame, queryVecId: Long = 0L, k: Int = 5,
                nProbe: Int = IvfNProbe): DataFrame =
    ivfPqRank(emb, pqCodebook, queryVecId, k, nProbe)

  /** The shared IVF-PQ single-query plan, parameterized on the codebook —
    * n61 passes the md5 [[pqCodebook]] (oracle-reproducible), n66 the
    * Lloyd-trained one (better recall, SQL-inexpressible training) — and
    * on the IVF geometry (round-17 verdict #3: the n82 finer-geometry
    * rung runs this plan verbatim at nlist=64; the md5 direction
    * namespace extends, so the default geometry's plans are untouched). */
  private def ivfPqRank(emb: DataFrame, codebook: Array[Long],
                        queryVecId: Long, k: Int, nProbe: Int,
                        nlist: Int = IvfNList): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    // the one query vector is a plan parameter: probe set AND LUT are
    // integer driver arithmetic (bit-equal to the kernels — pinned in
    // ProductQuantizationSpec), so the probe needs no Spark job at all
    val qRow = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding")).head()
    val q = graft.functions.ProductQuantization.quantize(
      qRow.getSeq[Float](0).map(_.toDouble))
    val cells = probeCellsLocalAt(q, nlist, nProbe)
    val lut = graft.functions.ProductQuantization.distanceTable(
      q, codebook, PqSubDim, PqNSub, PqNCode)
    // index build: PQ codes + IVF cell, one map-side pass
    emb.select(col("vec_id"), col("label"),
        graft.functions.ProductQuantization
          .encode(v, codebook, PqSubDim, PqNSub, PqNCode).as("codes"),
        ivfCellCol(v, nlist).as("cell"))
      .filter(col("cell").isInCollection(cells))
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"), col("label"),
        graft.functions.ProductQuantization
          .adc(col("codes"), lut, PqNSub, PqNCode).as("adist"))
      // a null ADC distance is the kernels' defensive contract for a
      // malformed row (wrong-length vector ⇒ null codes; out-of-range
      // code ⇒ null sum) — and Spark sorts nulls FIRST ascending, so
      // without this filter a malformed row would OUTRANK every genuine
      // neighbor (round-14 advice). Unreachable on this path today (a
      // null embedding also nulls the cell and dies at the cell filter),
      // but the ranking must agree with the defensive contract, not
      // depend on its unreachability.
      .filter(col("adist").isNotNull)
      .orderBy(col("adist"), col("vec_id"))
      .limit(k)
  }

  def ivfPqQuery(spark: SparkSession, dir: String): DataFrame =
    ivfPqTopK(embeddings(spark, dir))

  /** n82 IVF geometry: the finer rung the 100 TB design wants (real IVF
    * deployments scale nlist ≈ √N). The round-17 sweep measured it: at
    * EQUAL scan fraction, nlist=64 beats the nlist=8 default by +10.6
    * recall points (0.813 vs 0.707 at 0.50 scan; BASELINE round-17
    * geometry tables); this query ships the rung at nProbe=8 — a 0.125
    * expected scan fraction, the recall-per-read operating point. */
  private val IvfNListFine = 64
  private val IvfNProbeFine = 8

  /**
   * n82 — the n61 IVF-PQ scan at the FINER geometry (nlist=64/nProbe=8,
   * round-17 verdict #3): the [[ivfPqRank]] plan verbatim with
   * [[ivfDirsFor]](64) as the coarse quantizer. The md5 direction
   * namespace EXTENDS (nlist=8 is the exact prefix of nlist=64, pinned
   * in `PqRecallSpec`), so the default geometry's hash-matched plans are
   * untouched while this query pushes the geometry the scale design
   * actually wants through the driver's oracle gate: the DuckDB twin
   * rebuilds the 64-direction quantizer from the same md5 digit
   * arithmetic (`range(64)` in the CTE) — integer end to end,
   * hash-checked like n61.
   */
  def ivfPqGeo64TopK(emb: DataFrame, queryVecId: Long = 0L,
                     k: Int = 5): DataFrame =
    ivfPqRank(emb, pqCodebook, queryVecId, k, IvfNProbeFine, IvfNListFine)

  def ivfPqGeo64Query(spark: SparkSession, dir: String): DataFrame =
    ivfPqGeo64TopK(embeddings(spark, dir))

  // -------------------------------------------- n66 trained-codebook PQ

  /** n66 training-sample rule: a deterministic hash sample (the n14
    * primitive — no RNG, so the same table always trains the same
    * codebook) capped at [[PqTrainCap]] collected rows. The cap is the
    * broadcast-threshold pattern: at 100 TB codebook training is a
    * bounded-sample driver step (Jégou et al. train on a subset too);
    * the sample NEVER scales with the corpus. */
  private val PqTrainSampleMod = 4
  private val PqTrainCap = 65536

  /** Lloyd-trained per-subspace codebooks from the shipped sample rule —
    * deterministic end to end (hash sample, sorted collect, farthest-point
    * init, fixed iterations): same table in, same codebook out, which is
    * what lets the driver's rows-only check stay stable across runs. */
  private[graft] def trainedPqCodebook(emb: DataFrame,
                                       nCode: Int = PqNCode): Array[Long] = {
    val sample = emb
      .filter(pmod(xxhash64(col("vec_id")), lit(PqTrainSampleMod)) === 0)
      .sort("vec_id")
      .limit(PqTrainCap)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect()
      .map(r => graft.functions.ProductQuantization.quantize(r.getSeq[Double](0)))
    graft.functions.ProductQuantization
      .trainCodebook(sample, PqSubDim, PqNSub, nCode)
  }

  /**
   * n66 — IVF-PQ top-k on a TRAINED codebook: the n61 plan verbatim
   * (same coarse quantizer, same probe rule, same codegen encode/ADC
   * kernels, same geometry) with per-subspace Lloyd-trained codewords
   * ([[graft.functions.ProductQuantization.trainCodebook]]) instead of
   * the md5 construction. Measured motivation (round-14 verdict #3,
   * priced by `ProbePqRecall` at sf0.1): bulk recall@5 vs exact cosine
   * is 0.038 with the md5 codebook and ~0.13 trained — a ×3.5 retrieval-
   * quality gap at identical scan cost, on uniform-random vectors (the
   * PQ worst case: no cluster structure, 32-bit codes resolving weakly
   * separated neighbors). Lloyd's is SQL-inexpressible, so this is the
   * n42-style rows-only entry (recall-gated in `PqRecallSpec`) beside
   * the hash-matched n61 — the same trained/deterministic pairing as
   * n42/n60.
   */
  def ivfPqTrainedTopK(emb: DataFrame, queryVecId: Long = 0L, k: Int = 5,
                       nProbe: Int = IvfNProbe): DataFrame =
    ivfPqRank(emb, trainedPqCodebook(emb), queryVecId, k, nProbe)

  def ivfPqTrainedQuery(spark: SparkSession, dir: String): DataFrame =
    ivfPqTrainedTopK(embeddings(spark, dir))

  // ------------------------------------------- n72 residual IVF-PQ

  /**
   * Per-cell integer centroids: the component-wise mean of each IVF
   * cell's quantized members, with TRUNCATING integer division — the
   * same rounding in Spark (`div`), DuckDB (`//` on BIGINT), and Scala
   * (`/` on Long), so the centroid table rebuilds bit-for-bit in the
   * oracle. One scan + one (cell, component) partial aggregate
   * (map-side combine carries it; the shuffle is IvfNList×64 keyed
   * partials), collected to a plan constant of IvfNList×64 longs — the
   * bounded-collect class of [[trainedPqCodebook]]: the result NEVER
   * scales with the corpus, at 100 TB this is the one-pass statistics
   * job every IVF build already runs. A cell with no members keeps the
   * zero centroid (its residual degenerates to the raw vector —
   * harmless: an empty cell also contributes no candidates).
   */
  private[graft] def cellCentroids(emb: DataFrame,
                                   nlist: Int = IvfNList): Array[Array[Long]] = {
    val v = transform(col("embedding"), x => x.cast("double"))
    val qInt = transform(v, x =>
      floor(x * lit(graft.functions.QuantizedDots.Scale)).cast("long"))
    val rows = emb
      .select(ivfCellCol(v, nlist).cast("long").as("cell"), qInt.as("q"))
      .select(col("cell"), posexplode(col("q")).as(Seq("i", "qi")))
      .groupBy("cell", "i")
      .agg(expr("sum(qi) div count(*)").as("ctr"))
      .collect()
    val out = Array.ofDim[Long](nlist, 64)
    rows.foreach(r => out(r.getLong(0).toInt)(r.getInt(1)) = r.getLong(2))
    out
  }

  /** Driver-side residual of a quantized vector against a centroid row
    * (spec twin of the plan-side zip_with). */
  private[graft] def residualLocal(q: Array[Long],
                                   ctr: Array[Long]): Array[Long] =
    Array.tabulate(q.length)(i => q(i) - ctr(i))

  /**
   * The shared RESIDUAL IVF-PQ single-query plan (Jégou et al. TPAMI
   * 2011 §IV-A, round-15 verdict #2): codes are computed on
   * r = q − centroid(cell) instead of the raw quantized vector, and the
   * query's LUT is rebuilt PER PROBED CELL from its residual in that
   * cell — a candidate ranks under its own cell's LUT (the when-chain
   * over the nProbe probed cells; each arm is the same codegen
   * [[graft.functions.PqAdcExpr]] with a different plan-literal table).
   * Same kernels, same geometry, one integer subtraction at encode time:
   * the residual rides into the existing double-vector encode kernel as
   * (q − c)/2²⁰ — exact in binary floating point (the numerator is an
   * integer below 2²¹ and the divisor a power of two), so the kernel's
   * internal floor(x·2²⁰) recovers q − c bit-for-bit and the whole plan
   * stays integer end to end ⇒ the md5-codebook variant is HASH-checked
   * like n61. `nCode` is a parameter: the md5 variant keeps the n61
   * geometry (16 codewords), the trained variant ships the canonical
   * 256-codeword resolution (Jégou et al. use k* = 256).
   */
  private def ivfPqResidualRank(emb: DataFrame, codebook: Array[Long],
                                ctr: Array[Array[Long]], nCode: Int,
                                queryVecId: Long, k: Int,
                                nProbe: Int): DataFrame = {
    // the IVF geometry rides in on the centroid table: nlist = ctr.length
    // (the frozen default for every oracle-gated entry; finer geometries
    // via the parameterized callers — round-17 verdict #2)
    val nlist = ctr.length
    val v = transform(col("embedding"), x => x.cast("double"))
    val qRow = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding")).head()
    val q = graft.functions.ProductQuantization.quantize(
      qRow.getSeq[Float](0).map(_.toDouble))
    val cells = probeCellsLocalAt(q, nlist, nProbe)
    // one LUT per probed cell, from the query's residual IN that cell
    val luts: Map[Long, Array[Long]] = cells.map { c =>
      c -> graft.functions.ProductQuantization.distanceTable(
        residualLocal(q, ctr(c.toInt)), codebook, PqSubDim, PqNSub, nCode)
    }.toMap
    val qInt = transform(v, x =>
      floor(x * lit(graft.functions.QuantizedDots.Scale)).cast("long"))
    val ctrLit = array(ctr.map(row => array(row.map(lit(_)): _*)): _*)
    val resid = zip_with(col("q"),
      element_at(ctrLit, (col("cell") + 1).cast("int")),
      (a, b) => (a - b).cast("double") /
        lit(graft.functions.QuantizedDots.Scale))
    val adist = cells.tail.foldLeft(
      when(col("cell") === cells.head, graft.functions.ProductQuantization
        .adc(col("codes"), luts(cells.head), PqNSub, nCode))) { (acc, c) =>
      acc.when(col("cell") === c, graft.functions.ProductQuantization
        .adc(col("codes"), luts(c), PqNSub, nCode))
    }
    emb.select(col("vec_id"), col("label"), qInt.as("q"),
        ivfCellCol(v, nlist).as("cell"))
      .filter(col("cell").isInCollection(cells))
      .filter(col("vec_id") =!= queryVecId)
      .withColumn("codes", graft.functions.ProductQuantization
        .encode(resid, codebook, PqSubDim, PqNSub, nCode))
      .select(col("vec_id"), col("label"), adist.as("adist"))
      // the defensive-null ranking contract (see ivfPqRank)
      .filter(col("adist").isNotNull)
      .orderBy(col("adist"), col("vec_id"))
      .limit(k)
  }

  /** n72 — residual IVF-PQ top-k on the md5 codebook: the n61 plan with
    * residual encoding, hash-checked end to end (centroids, residuals,
    * codes, per-cell LUTs all rebuild in DuckDB integer arithmetic).
    * Recall on the uniform-random fixture is ~n61's (residuals only pay
    * when the codebook fits their distribution — priced in
    * `ProbePqRecall`); what this variant buys is ORACLE COVERAGE of the
    * residual plumbing the trained n73 ranking runs on. */
  def ivfPqResidualTopK(emb: DataFrame, queryVecId: Long = 0L, k: Int = 5,
                        nProbe: Int = IvfNProbe): DataFrame =
    ivfPqResidualRank(emb, pqCodebook, cellCentroids(emb), PqNCode,
      queryVecId, k, nProbe)

  def ivfPqResidualQuery(spark: SparkSession, dir: String): DataFrame =
    ivfPqResidualTopK(embeddings(spark, dir))

  // ----------------------------------- n73 trained residual IVF-PQ (k*=256)

  /** The canonical IVFADC code resolution: 256 codewords = 8 bits per
    * subspace (Jégou et al. TPAMI 2011 use k* = 256 throughout). The
    * n61/n66/n72 geometry kept 16 codewords so the md5 codebook could
    * rebuild in DuckDB digit arithmetic; the trained ranking has no such
    * constraint, and the resolution — not the residual — turns out to be
    * the dominant quality term on the uniform-random fixture (measured,
    * `ProbePqRecall` sf0.1: trained16 0.120 → trained256 0.309 →
    * trained256+residual 0.311 against the 0.72 probe ceiling). Codes
    * stay 8 small ints; storage is unchanged. */
  private val PqNCodeHi = 256

  /** Lloyd-trained codebook over RESIDUALS at the k*=256 resolution —
    * the n66 sample rule (deterministic hash sample, capped, sorted)
    * with one subtraction against the member's cell centroid before
    * training. Same no-RNG discipline: same table in, same codebook out. */
  private[graft] def trainedResidualCodebook(emb: DataFrame,
                                             ctr: Array[Array[Long]]): Array[Long] = {
    val v = transform(col("embedding"), x => x.cast("double"))
    val sample = emb
      .filter(pmod(xxhash64(col("vec_id")), lit(PqTrainSampleMod)) === 0)
      .sort("vec_id")
      .limit(PqTrainCap)
      .select(v.as("v"), ivfCellCol(v, ctr.length).cast("long").as("cell"))
      .collect()
      .map { r =>
        val q = graft.functions.ProductQuantization.quantize(r.getSeq[Double](0))
        residualLocal(q, ctr(r.getLong(1).toInt))
      }
    graft.functions.ProductQuantization
      .trainCodebook(sample, PqSubDim, PqNSub, PqNCodeHi)
  }

  /**
   * n73 — residual IVF-PQ top-k, TRAINED codebook at the canonical
   * 256-codeword resolution: the round-15 verdict's quality rung,
   * measured at recall@5 = 0.311 on the sf0.1 uniform-random fixture —
   * 2.6× the 16-codeword trained n66 (0.120) and 8× the hash-matched
   * md5 n61 (0.038), against the 0.72 nProbe=4 probe ceiling — at
   * IDENTICAL scan cost and storage (8 code ints per vector; the LUT
   * grows to 8×256 longs, still a plan literal). Lloyd's is
   * SQL-inexpressible ⇒ rows-only like n66, with the recall floor gated
   * in `PqRecallSpec`; the residual/centroid PLUMBING it runs on is the
   * hash-matched n72 plan verbatim.
   */
  def ivfPqResidualTrainedTopK(emb: DataFrame, queryVecId: Long = 0L,
                               k: Int = 5,
                               nProbe: Int = IvfNProbe,
                               nlist: Int = IvfNList): DataFrame = {
    val ctr = cellCentroids(emb, nlist)
    ivfPqResidualRank(emb, trainedResidualCodebook(emb, ctr), ctr,
      PqNCodeHi, queryVecId, k, nProbe)
  }

  def ivfPqResidualTrainedQuery(spark: SparkSession, dir: String): DataFrame =
    ivfPqResidualTrainedTopK(embeddings(spark, dir))

  // ------------------------- n75/n76 IVFADC-R: exact re-rank of the shortlist

  /**
   * The exact re-rank tail (Jégou et al. TPAMI 2011 §V, "IVFADC-R"):
   * given an ADC shortlist of R candidates, fetch ONLY those R full
   * vectors by key (a broadcast-semi of R ids against the vector store —
   * at 100 TB this is R point lookups, never a second corpus scan) and
   * re-score them with the exact integer quantized dot (the n60 verify:
   * unit vectors quantized once to integral doubles, codegen
   * [[graft.functions.DotProduct]], every partial sum an exact integer —
   * order-independent, so the re-rank hash-matches in DuckDB). This is
   * the standard two-stage retrieval economics: the wide scan reads
   * 8-int codes, the 512-byte vectors are touched R times per query.
   *
   * Measured motivation (`ProbePqRecall` sf0.1, R=100): recall@5 jumps
   * to 0.29 over the md5 shortlist (vs 0.04 ranking on ADC alone) and to
   * **0.71 over the trained-residual-256 shortlist — the 0.72 IVF probe
   * ceiling**, i.e. the re-rank recovers ~98% of what the coarse
   * quantizer admits; code resolution stops mattering once the shortlist
   * captures the true neighbors.
   */
  private[graft] def exactRerank(emb: DataFrame, shortlist: DataFrame,
                                 queryVecId: Long, k: Int): DataFrame = {
    val qv = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray
    // driver twin of Dedup.unitVector + the n60 quantUnit (same fold
    // order: sequential sum of squares, one division, floor(u·2^20))
    val nrm = math.sqrt(qv.map(x => x * x).sum)
    val qu = (if (nrm == 0) qv else qv.map(_ / nrm))
      .map(x => math.floor(x * 1048576.0))
    val quLit = array(qu.map(lit(_)): _*)
    def quantUnit(c: Column): Column =
      transform(Dedup.unitVector(c), x =>
        floor(x * lit(1048576.0)).cast("double"))
    emb.join(broadcast(shortlist.select("vec_id")), "vec_id")
      .select(col("vec_id"), col("label"),
        graft.functions.DotProduct(quantUnit(col("embedding")), quLit)
          .cast("long").as("qdot"))
      .orderBy(col("qdot").desc, col("vec_id"))
      .limit(k)
  }

  /** n75 — IVFADC-R on the md5 codebook: the n61 shuffle-free ADC scan
    * cut at R instead of k, then the exact integer re-rank — every stage
    * integer ⇒ HASH-checked end to end (shortlist membership, re-rank
    * scores, and the final order all rebuild in DuckDB). R=100 ships
    * because the R dial saturates there (BASELINE round-17 R sweep,
    * trained-res-256 shortlist at sf0.1: recall@5 0.553/0.666/0.707/
    * 0.718/0.720 at R=20/50/100/200/500 vs the 0.7196 probe ceiling —
    * R=100 buys 98% of the ceiling; 5× more fetches buy the last 2%). */
  def ivfPqRerankTopK(emb: DataFrame, queryVecId: Long = 0L, k: Int = 5,
                      r: Int = 100, nProbe: Int = IvfNProbe): DataFrame =
    exactRerank(emb,
      ivfPqRank(emb, pqCodebook, queryVecId, r, nProbe), queryVecId, k)

  def ivfPqRerankQuery(spark: SparkSession, dir: String): DataFrame =
    ivfPqRerankTopK(embeddings(spark, dir))

  /** n76 — IVFADC-R over the TRAINED residual-256 shortlist (the n73
    * plan cut at R): the shipped quality ceiling — measured recall@5
    * 0.71 vs the 0.72 probe ceiling at sf0.1. Rows-only like n66/n73
    * (the trained codebook is SQL-inexpressible); the re-rank mechanics
    * are the hash-matched n75's verbatim and the recall floor is gated
    * in `PqRecallSpec`. */
  def ivfPqResidualTrainedRerankTopK(emb: DataFrame, queryVecId: Long = 0L,
                                     k: Int = 5, r: Int = 100,
                                     nProbe: Int = IvfNProbe,
                                     nlist: Int = IvfNList): DataFrame = {
    val ctr = cellCentroids(emb, nlist)
    val shortlist = ivfPqResidualRank(emb,
      trainedResidualCodebook(emb, ctr), ctr, PqNCodeHi, queryVecId, r, nProbe)
    exactRerank(emb, shortlist, queryVecId, k)
  }

  def ivfPqResidualTrainedRerankQuery(spark: SparkSession, dir: String): DataFrame =
    ivfPqResidualTrainedRerankTopK(embeddings(spark, dir))

  /** The n61 twin computation in DuckDB: rebuild the integer [[ivfDirs]]
    * and [[pqCodebook]] from md5 digit arithmetic, quantize components to
    * `floor(x·2²⁰)`, compute every (vector, subspace, codeword) integer
    * squared distance once — argmin rows become the codes, the query's
    * rows become the LUT — assign IVF cells by BIGINT argmax dot, probe
    * the query's top cells, and rank probed-cell members by the summed
    * LUT lookups. Integer end to end: ties and the k-th boundary are
    * identical in both engines by construction. PARAMETERIZED on the IVF
    * geometry (the md5 namespace extends with nlist, so `range(nlist)`
    * rebuilds any rung): n61/n63 bind the frozen default, n82 the finer
    * 64/8 rung. */
  val ivfPqOracle: String = ivfPqOracleAt(IvfNList, IvfNProbe)

  lazy val ivfPqGeo64Oracle: String = ivfPqOracleAt(IvfNListFine, IvfNProbeFine)

  private def ivfPqOracleAt(nlist: Int, nProbe: Int): String =
    s"""WITH dirs AS (
       |  SELECT c, i,
       |    CAST(list_sum([(strpos('0123456789abcdef',
       |        substr(md5('c_' || c || '_' || i), d + 1, 1)) - 1)
       |        * (1 << (4 * (7 - d))) for d in range(8)]) AS BIGINT)
       |      - 2147483648 AS comp
       |  FROM range($nlist) t(c), range(64) s(i)
       |), cb AS (
       |  SELECT m, c, i,
       |    CAST(list_sum([(strpos('0123456789abcdef',
       |        substr(md5('pq_' || m || '_' || c || '_' || i), d + 1, 1)) - 1)
       |        * (1 << (4 * (4 - d))) for d in range(5)]) AS BIGINT)
       |      - 524288 AS comp
       |  FROM range($PqNSub) t(m), range($PqNCode) u(c), range($PqSubDim) s(i)
       |), ex AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
       |    unnest(CAST(embedding AS DOUBLE[])) AS x
       |  FROM embeddings
       |), exq AS (
       |  SELECT vec_id, i, i // $PqSubDim AS m, i % $PqSubDim AS si,
       |    CAST(floor(x * 1048576.0) AS BIGINT) AS q
       |  FROM ex
       |), dots AS (
       |  SELECT exq.vec_id, dirs.c, SUM(exq.q * dirs.comp) AS dot
       |  FROM exq JOIN dirs ON dirs.i = exq.i
       |  GROUP BY 1, 2
       |), assigned AS (
       |  SELECT vec_id, c AS cell FROM dots
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |                             ORDER BY dot DESC, c) = 1
       |), probed AS (
       |  SELECT c AS cell FROM dots WHERE vec_id = 0
       |  ORDER BY dot DESC, c LIMIT $nProbe
       |), d2 AS (
       |  SELECT exq.vec_id, cb.m, cb.c,
       |    SUM((exq.q - cb.comp) * (exq.q - cb.comp)) AS d2
       |  FROM exq JOIN cb ON cb.m = exq.m AND cb.i = exq.si
       |  GROUP BY 1, 2, 3
       |), codes AS (
       |  SELECT vec_id, m, c AS code FROM d2
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |                             ORDER BY d2, c) = 1
       |), lut AS (
       |  SELECT m, c, d2 FROM d2 WHERE vec_id = 0
       |), adist AS (
       |  SELECT codes.vec_id, CAST(SUM(lut.d2) AS BIGINT) AS adist
       |  FROM codes JOIN lut ON lut.m = codes.m AND lut.c = codes.code
       |  WHERE codes.vec_id <> 0
       |  GROUP BY 1
       |)
       |SELECT a.vec_id, e.label, a.adist
       |FROM adist a
       |JOIN embeddings e ON e.vec_id = a.vec_id
       |JOIN assigned ON assigned.vec_id = a.vec_id
       |JOIN probed ON probed.cell = assigned.cell
       |ORDER BY a.adist, a.vec_id
       |LIMIT 5""".stripMargin

  /** The n72 twin in DuckDB: the [[ivfPqOracle]] rebuild extended with
    * the residual plumbing — per-cell integer centroids (truncating
    * `//`, matching Spark's `div`), residuals for every vector against
    * its OWN cell, codes from residuals, and the query's LUT rebuilt per
    * probed cell from ITS residual, joined through the candidate's
    * assigned cell. Integer end to end; ties identical by construction. */
  val ivfPqResidualOracle: String =
    s"""WITH dirs AS (
       |  SELECT c, i,
       |    CAST(list_sum([(strpos('0123456789abcdef',
       |        substr(md5('c_' || c || '_' || i), d + 1, 1)) - 1)
       |        * (1 << (4 * (7 - d))) for d in range(8)]) AS BIGINT)
       |      - 2147483648 AS comp
       |  FROM range($IvfNList) t(c), range(64) s(i)
       |), cb AS (
       |  SELECT m, c, i,
       |    CAST(list_sum([(strpos('0123456789abcdef',
       |        substr(md5('pq_' || m || '_' || c || '_' || i), d + 1, 1)) - 1)
       |        * (1 << (4 * (4 - d))) for d in range(5)]) AS BIGINT)
       |      - 524288 AS comp
       |  FROM range($PqNSub) t(m), range($PqNCode) u(c), range($PqSubDim) s(i)
       |), ex AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
       |    unnest(CAST(embedding AS DOUBLE[])) AS x
       |  FROM embeddings
       |), exq AS (
       |  SELECT vec_id, i, i // $PqSubDim AS m, i % $PqSubDim AS si,
       |    CAST(floor(x * 1048576.0) AS BIGINT) AS q
       |  FROM ex
       |), dots AS (
       |  SELECT exq.vec_id, dirs.c, SUM(exq.q * dirs.comp) AS dot
       |  FROM exq JOIN dirs ON dirs.i = exq.i
       |  GROUP BY 1, 2
       |), assigned AS (
       |  SELECT vec_id, c AS cell FROM dots
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |                             ORDER BY dot DESC, c) = 1
       |), probed AS (
       |  SELECT c AS cell FROM dots WHERE vec_id = 0
       |  ORDER BY dot DESC, c LIMIT $IvfNProbe
       |), ctr AS (
       |  SELECT assigned.cell, exq.i, SUM(exq.q) // COUNT(*) AS ctr
       |  FROM exq JOIN assigned ON assigned.vec_id = exq.vec_id
       |  GROUP BY 1, 2
       |), rq AS (
       |  SELECT exq.vec_id, exq.m, exq.si, exq.q - ctr.ctr AS r
       |  FROM exq
       |  JOIN assigned ON assigned.vec_id = exq.vec_id
       |  JOIN ctr ON ctr.cell = assigned.cell AND ctr.i = exq.i
       |), d2 AS (
       |  SELECT rq.vec_id, cb.m, cb.c,
       |    SUM((rq.r - cb.comp) * (rq.r - cb.comp)) AS d2
       |  FROM rq JOIN cb ON cb.m = rq.m AND cb.i = rq.si
       |  GROUP BY 1, 2, 3
       |), codes AS (
       |  SELECT vec_id, m, c AS code FROM d2
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |                             ORDER BY d2, c) = 1
       |), qrq AS (
       |  SELECT probed.cell, exq.m, exq.si, exq.q - ctr.ctr AS r
       |  FROM exq
       |  CROSS JOIN probed
       |  JOIN ctr ON ctr.cell = probed.cell AND ctr.i = exq.i
       |  WHERE exq.vec_id = 0
       |), lut AS (
       |  SELECT qrq.cell, cb.m, cb.c,
       |    SUM((qrq.r - cb.comp) * (qrq.r - cb.comp)) AS d2
       |  FROM qrq JOIN cb ON cb.m = qrq.m AND cb.i = qrq.si
       |  GROUP BY 1, 2, 3
       |), adist AS (
       |  SELECT codes.vec_id, CAST(SUM(lut.d2) AS BIGINT) AS adist
       |  FROM codes
       |  JOIN assigned ON assigned.vec_id = codes.vec_id
       |  JOIN lut ON lut.cell = assigned.cell
       |          AND lut.m = codes.m AND lut.c = codes.code
       |  WHERE codes.vec_id <> 0
       |  GROUP BY 1
       |)
       |SELECT a.vec_id, e.label, a.adist
       |FROM adist a
       |JOIN embeddings e ON e.vec_id = a.vec_id
       |ORDER BY a.adist, a.vec_id
       |LIMIT 5""".stripMargin

  /** The n75 twin in DuckDB: the [[ivfPqOracle]] rebuild cut at R = 100
    * (shortlist membership is integer-exact, so both engines agree on
    * the R-th boundary), then the n60-style exact quantized-dot re-rank
    * over the shortlist — unit vectors, floor(u·2²⁰) BIGINT products,
    * (qdot DESC, vec_id) final order. Integer end to end. */
  val ivfPqRerankOracle: String =
    s"""WITH dirs AS (
       |  SELECT c, i,
       |    CAST(list_sum([(strpos('0123456789abcdef',
       |        substr(md5('c_' || c || '_' || i), d + 1, 1)) - 1)
       |        * (1 << (4 * (7 - d))) for d in range(8)]) AS BIGINT)
       |      - 2147483648 AS comp
       |  FROM range($IvfNList) t(c), range(64) s(i)
       |), cb AS (
       |  SELECT m, c, i,
       |    CAST(list_sum([(strpos('0123456789abcdef',
       |        substr(md5('pq_' || m || '_' || c || '_' || i), d + 1, 1)) - 1)
       |        * (1 << (4 * (4 - d))) for d in range(5)]) AS BIGINT)
       |      - 524288 AS comp
       |  FROM range($PqNSub) t(m), range($PqNCode) u(c), range($PqSubDim) s(i)
       |), ex AS (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
       |    unnest(CAST(embedding AS DOUBLE[])) AS x
       |  FROM embeddings
       |), exq AS (
       |  SELECT vec_id, i, i // $PqSubDim AS m, i % $PqSubDim AS si,
       |    CAST(floor(x * 1048576.0) AS BIGINT) AS q
       |  FROM ex
       |), dots AS (
       |  SELECT exq.vec_id, dirs.c, SUM(exq.q * dirs.comp) AS dot
       |  FROM exq JOIN dirs ON dirs.i = exq.i
       |  GROUP BY 1, 2
       |), assigned AS (
       |  SELECT vec_id, c AS cell FROM dots
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
       |                             ORDER BY dot DESC, c) = 1
       |), probed AS (
       |  SELECT c AS cell FROM dots WHERE vec_id = 0
       |  ORDER BY dot DESC, c LIMIT $IvfNProbe
       |), d2 AS (
       |  SELECT exq.vec_id, cb.m, cb.c,
       |    SUM((exq.q - cb.comp) * (exq.q - cb.comp)) AS d2
       |  FROM exq JOIN cb ON cb.m = exq.m AND cb.i = exq.si
       |  GROUP BY 1, 2, 3
       |), codes AS (
       |  SELECT vec_id, m, c AS code FROM d2
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |                             ORDER BY d2, c) = 1
       |), lut AS (
       |  SELECT m, c, d2 FROM d2 WHERE vec_id = 0
       |), adist AS (
       |  SELECT codes.vec_id, CAST(SUM(lut.d2) AS BIGINT) AS adist
       |  FROM codes JOIN lut ON lut.m = codes.m AND lut.c = codes.code
       |  WHERE codes.vec_id <> 0
       |  GROUP BY 1
       |), short AS (
       |  SELECT a.vec_id
       |  FROM adist a
       |  JOIN assigned ON assigned.vec_id = a.vec_id
       |  JOIN probed ON probed.cell = assigned.cell
       |  ORDER BY a.adist, a.vec_id
       |  LIMIT 100
       |), exd AS (
       |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings
       |), nr AS (
       |  SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM exd GROUP BY vec_id
       |), uv AS (
       |  SELECT exd.vec_id, v / nrm AS u, i FROM exd JOIN nr USING (vec_id)
       |), qdot AS (
       |  SELECT s.vec_id,
       |    CAST(SUM(CAST(floor(a.u * 1048576.0) AS BIGINT) *
       |             CAST(floor(b.u * 1048576.0) AS BIGINT)) AS BIGINT) AS qdot
       |  FROM short s
       |  JOIN uv a ON a.vec_id = s.vec_id
       |  JOIN uv b ON b.vec_id = 0 AND b.i = a.i
       |  GROUP BY 1
       |)
       |SELECT q.vec_id, e.label, q.qdot
       |FROM qdot q
       |JOIN embeddings e ON e.vec_id = q.vec_id
       |ORDER BY q.qdot DESC, q.vec_id
       |LIMIT 5""".stripMargin

  /** All-pairs cosine (the n05 CTE chain, no threshold), symmetrized, then
    * the same (cosine DESC, nbr ASC) row_number cut. */
  val knnGraphOracle: String =
    """WITH ex AS (
      |  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
      |    generate_subscripts(embedding, 1) AS i
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM ex GROUP BY vec_id
      |), u AS (
      |  SELECT ex.vec_id, v / nrm AS u, i FROM ex JOIN n USING (vec_id)
      |), p AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.u * b.u) AS cosine
      |  FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id
      |  GROUP BY 1, 2
      |), sym AS (
      |  SELECT vec_a AS vec_id, vec_b AS nbr, cosine FROM p
      |  UNION ALL
      |  SELECT vec_b AS vec_id, vec_a AS nbr, cosine FROM p
      |), r AS (
      |  SELECT vec_id, nbr, cosine,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
      |                            ORDER BY cosine DESC, nbr) AS BIGINT) AS rank
      |  FROM sym
      |)
      |SELECT vec_id, rank, nbr, cosine
      |FROM r
      |WHERE rank <= 3
      |ORDER BY vec_id, rank""".stripMargin
}
