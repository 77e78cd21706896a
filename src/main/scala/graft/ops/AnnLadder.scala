package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{ProductQuantization, QuantizedDots}
import graft.queries.BatchQueries.QueryFn
import graft.queries.Tables.embeddings

/**
 * IVF coarse-quantizer geometry: `nlist` md5-derived INTEGER cell
 * directions (the n06 plane construction with a `c_` namespace, flat
 * row-major) and the `nProbe` cells a query probes. Direction c's
 * component i rebuilds identically in both engines and the dots are
 * 64-bit integer sums ([[graft.functions.QuantizedDots]]), so assignment
 * (argmax, first index wins ties) and the probe rule (dot DESC, cell ASC)
 * are cross-engine deterministic with no training step. The namespace
 * EXTENDS with nlist: nlist=8 is the exact prefix of nlist=64, so a finer
 * rung leaves every default-geometry plan and oracle untouched.
 */
final case class IvfGeometry(nlist: Int, nProbe: Int) {

  def dirs: Array[Long] = IvfGeometry.dirsFor(nlist)

  /** The nlist integer cell dots of a double-vector column. */
  def dotsCol(v: Column): Column = QuantizedDots(v, dirs, 64, nlist)

  /** IVF cell of a double-vector column: integer argmax over [[dirs]]. The
    * dot array is bound to a lambda variable before argmax/array_position
    * reference it (interpreted HOFs re-evaluate per reference). */
  def cellCol(v: Column): Column =
    element_at(transform(array(dotsCol(v)), a =>
      array_position(a, array_max(a))), 1) - 1

  /** The nProbe best cells of a double-vector column as a map-side array
    * (dot DESC, cell ASC): equal by construction to the TopKPerKey probe
    * cut of the batched join, so an index can store its members' probe
    * sets AT INGEST (pinned in `IncrementalSq8Spec`). Element 1 is the
    * vector's own assignment cell. */
  def probedCellsCol(v: Column): Column = {
    val pairs = zip_with(dotsCol(v), sequence(lit(0), lit(nlist - 1)),
      (d, c) => struct(d.as("dot"), c.as("cell")))
    val sorted = array_sort(pairs, (l, r) =>
      when(l.getField("dot") > r.getField("dot"), lit(-1))
        .when(l.getField("dot") < r.getField("dot"), lit(1))
        .otherwise(l.getField("cell") - r.getField("cell")))
    transform(slice(sorted, 1, nProbe), s => s.getField("cell"))
  }

  /** Driver-side twin of [[dotsCol]] — integer arithmetic, bit-equal to the
    * kernel (pinned in `ProductQuantizationSpec`), so a single-probe query
    * computes its probe set without a Spark job. */
  def dotsLocal(q: Array[Long]): Array[Long] = {
    val d = dirs
    Array.tabulate(nlist) { c =>
      var dot = 0L
      var i = 0
      val n = math.min(64, q.length)
      while (i < n) { dot += q(i) * d(c * 64 + i); i += 1 }
      dot
    }
  }

  /** The query's `nProbe` best cells by (dot DESC, cell ASC), driver-side. */
  def probeLocal(q: Array[Long], nProbe: Int = nProbe): Seq[Long] = {
    val dots = dotsLocal(q)
    (0 until nlist).sortBy(c => (-dots(c), c)).take(nProbe).map(_.toLong)
  }
}

object IvfGeometry {
  /** The frozen geometry of every oracle-gated rung but n82. The untrained
    * projection quantizer needs wider probing than KMeans cells to clear
    * the recall gates on uniform-random vectors. */
  val Default = IvfGeometry(8, 4)

  /** n82's finer rung (real IVF scales nlist ≈ √N): at EQUAL scan fraction
    * nlist=64 beats the default by +10.6 recall points (0.813 vs 0.707 at
    * 0.50 scan, BASELINE round-17); nProbe=8 is a 0.125 scan fraction. */
  val Fine = IvfGeometry(64, 8)

  private val cache = scala.collection.concurrent.TrieMap.empty[Int, Array[Long]]

  /** Directions computed once per JVM per nlist. */
  private[graft] def dirsFor(nlist: Int): Array[Long] =
    cache.getOrElseUpdate(nlist, {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(nlist * 64) { idx =>
        val hex = md.digest(s"c_${idx / 64}_${idx % 64}".getBytes("UTF-8"))
          .take(4).map(b => f"$b%02x").mkString
        java.lang.Long.parseLong(hex, 16) - 2147483648L
      }
    })
}

/** PQ geometry: 64 dims = 8 subspaces × 8 dims; codes are 8 small ints per
  * vector vs 256 bytes of raw floats. The md5 codebook keeps 16 codewords
  * per subspace so DuckDB digit arithmetic rebuilds it; trained codebooks
  * ship the canonical k* = 256 (Jégou et al. TPAMI 2011). */
object Pq {
  val SubDim = 8
  val NSub = 8
  val NCode = 16
  val NCodeHi = 256

  /** md5-derived INTEGER codewords (`pq_` namespace, flat (m, c, i)
    * row-major): 5 hex digits → [0, 2²⁰) − 2¹⁹, the range the ±0.5 fixture
    * components occupy after the 2²⁰ quantization. Once per JVM. */
  lazy val md5Codebook: Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(NSub * NCode * SubDim) { idx =>
      val m = idx / (NCode * SubDim)
      val c = (idx / SubDim) % NCode
      val hex = md.digest(s"pq_${m}_${c}_${idx % SubDim}".getBytes("UTF-8"))
        .take(3).map(b => f"$b%02x").mkString.substring(0, 5)
      java.lang.Long.parseLong(hex, 16) - 524288L
    }
  }

  /** PQ code column of a double-vector column (codegen argmin encode). */
  def encode(v: Column, codebook: Array[Long], nCode: Int): Column =
    ProductQuantization.encode(v, codebook, SubDim, NSub, nCode)
}

/** Where a rung's codewords come from: the md5 construction (DuckDB
  * rebuilds it ⇒ oracle-gated) or Lloyd training on the deterministic
  * hash sample (SQL-inexpressible ⇒ rows-only). */
sealed trait Codebook { def nCode: Int }
object Codebook {
  case object Md5 extends Codebook { val nCode: Int = Pq.NCode }
  final case class Trained(nCode: Int) extends Codebook
}

/** The codewords a planner encodes and ranks with; residual codes also
  * carry the per-cell centroids they are relative to. */
final case class Quantizer(codebook: Array[Long], nCode: Int,
                           centroids: Option[Array[Array[Long]]])

/** How the batched join's PQ shortlist ranks: SYMMETRIC (code vs code, one
  * codeword-pair table for all pairs) or ASYMMETRIC (the probe row's raw
  * integer vector vs the candidate's codes). */
sealed trait Ranking
object Ranking {
  case object Sdc extends Ranking
  case object Adc extends Ranking
}

/**
 * One rung of the IVF/PQ ladder as data (REPOSE, ICDE 2021: one index
 * family whose variants are query-time parameters; IVFADC, Jégou et al.
 * TPAMI 2011, is one algorithm with these knobs). Every rung runs one of
 * two planners — [[ScanSpec]] (a single query vector, vec 0's top 5) or
 * [[JoinSpec]] (every row a query, top 3 per row) — and every md5 rung's
 * DuckDB twin comes from the same literal ([[AnnOracle]]). Measured
 * recall is vs exact cosine at sf0.1 (`ProbePqRecall`; scan recall@5 with
 * a 0.72 probe ceiling, join recall@3 with a 0.726 one):
 *
 * | query | shape | codebook | encoding | ranking | R | geometry | oracle | recall |
 * |-------|-------|----------|----------|---------|---|----------|--------|--------|
 * | n61 | scan | md5 k*=16 | raw | ADC | — | 8/4 | yes | 0.038 |
 * | n66 | scan | trained k*=16 | raw | ADC | — | 8/4 | rows-only | 0.120 |
 * | n72 | scan | md5 k*=16 | residual | ADC | — | 8/4 | yes | ≈ n61 |
 * | n73 | scan | trained k*=256 | residual | ADC | — | 8/4 | rows-only | 0.311 |
 * | n75 | scan | md5 k*=16 | raw | ADC | 100 | 8/4 | yes | 0.29 |
 * | n76 | scan | trained k*=256 | residual | ADC | 100 | 8/4 | rows-only | 0.707 |
 * | n82 | scan | md5 k*=16 | raw | ADC | — | 64/8 | yes | — |
 * | n60 | join | exact quantized unit vectors | — | integer dot | — | 8/4 | yes | = ceiling |
 * | n68 | join | SQ8 int8 | — | integer dot | — | 8/4 | yes | 0.94 top-3 agreement with n60 |
 * | n65 | join | md5 k*=16 | raw | SDC | — | 8/4 | yes | 0.0245 |
 * | n78 | join | md5 k*=16 | raw | SDC | 100 | 8/4 | yes | 0.2272 |
 * | n80 | join | trained k*=256 | raw | SDC | 100 | 8/4 | rows-only | 0.6533 |
 * | n81 | join | md5 k*=16 | raw | ADC | 100 | 8/4 | yes | 0.3123 |
 * | n84 | join | trained k*=256 | raw | ADC | 100 | 8/4 | rows-only | 0.7177 |
 *
 * Rows-only rungs are bounded by driver-twin equality and planted-floor
 * gates (`PqRecallSpec`, `PqJoinRerankSpec`, `IncrementalAnnSpec`).
 *
 * The streaming rungs are the same literals answered from a [[CodesIndex]]
 * fed as a 4-batch stream ([[CodesIndex.streamed]]); encode, cell and
 * probe set are per-row functions, so each equals its batch rung and
 * shares its oracle:
 *
 * | query | = | index layout | quantizer stored beside the state |
 * |-------|---|--------------|-----------------------------------|
 * | n63 | n61 over the index | PQ | none (md5) |
 * | n71 | n68 over the index | SQ8 | none |
 * | n77 | n75 over the index | PQ | none (md5) |
 * | n79 | n76 over the index | PQ | trained residual k*=256 + cell centroids |
 * | n83 | n80 over the index | PQ | trained k*=256 + zero centroids |
 */
sealed trait AnnSpec {
  def plan(emb: DataFrame): DataFrame
  /** The same query answered from a committed codes index; `emb` is the
    * source table the re-rank fetches from. */
  def plan(index: CodesIndex, emb: DataFrame): DataFrame
  /** The DuckDB twin; None for a trained codebook. */
  def oracle: Option[String]
  def query: QueryFn = (spark, dir) => plan(embeddings(spark, dir))
}

/**
 * The single-query IVF-PQ scan: vec 0's probe set and LUT are integer
 * driver arithmetic (no Spark job), every vector is PQ-encoded map-side
 * with its IVF cell, probed-cell members rank by ADC lookup sum, and the
 * top-k is TakeOrderedAndProject — no shuffle. `residual` encodes
 * r = q − centroid(cell) with one LUT per probed cell (Jégou §IV-A);
 * `rerank` cuts the ADC scan at R and re-ranks only those R vectors by the
 * exact integer quantized dot (IVFADC-R, §V). Residual codes are
 * cell-relative, so residual encoding exists only here, never under the
 * join's cross-cell SDC.
 */
final case class ScanSpec(codebook: Codebook = Codebook.Md5,
                          residual: Boolean = false,
                          rerank: Boolean = false,
                          geometry: IvfGeometry = IvfGeometry.Default,
                          k: Int = AnnLadder.ScanK)
  extends AnnSpec {
  def plan(emb: DataFrame): DataFrame = AnnLadder.scan(this, emb)
  def plan(index: CodesIndex, emb: DataFrame): DataFrame = AnnLadder.scan(this,
    index, emb, AnnLadder.vector(emb, AnnLadder.QueryVecId), AnnLadder.QueryVecId)
  def oracle: Option[String] = AnnOracle.scan(this)
}

/**
 * The batched kNN join: every row probes its nProbe cells (TopKPerKey,
 * no global sort), equi-joins the cell-keyed index under the size
 * crossover ([[Similarity.cellJoinWithCrossover]]) — each query moves
 * nProbe times, each index vector once — verifies on the spec's codes and
 * cuts to k per query. [[JoinSpec.Exact]] ranks on exactly quantized unit
 * vectors, [[JoinSpec.Sq8]] on int8 codes, [[JoinSpec.PqCodes]] on PQ
 * codes (32 B/row in the candidate exchange instead of 512), optionally
 * cut at R and re-ranked exactly on ONLY the shortlisted ids' vectors.
 */
sealed trait JoinSpec extends AnnSpec {
  def plan(emb: DataFrame): DataFrame = AnnLadder.join(this, emb)
  def plan(index: CodesIndex, emb: DataFrame): DataFrame =
    AnnLadder.join(this, index, emb)
  def oracle: Option[String] = AnnOracle.join(this)
}
object JoinSpec {
  case object Exact extends JoinSpec
  case object Sq8 extends JoinSpec
  final case class PqCodes(codebook: Codebook, ranking: Ranking,
                           rerank: Boolean) extends JoinSpec
}

/** The two planners, each over a fresh encode or a committed
  * [[CodesIndex]], and the column builders the index's ingest shares. */
object AnnLadder {
  import IvfGeometry.{Default => Ivf}

  /** The single query vector, the scan's k, the join's k, and the re-rank
    * shortlist depth: n76's recall saturates by R=100 (BASELINE round-17
    * sweep: 0.553/0.666 at R=20/50, 0.718/0.720 at R=200/500). */
  val QueryVecId = 0L
  val ScanK = 5
  val JoinK = 3
  val R = 100

  /** n66 training-sample rule: a deterministic hash sample (no RNG) capped
    * at [[TrainCap]] collected rows — codebook training is a bounded
    * driver step that never scales with the corpus. */
  private val TrainSampleMod = 4
  private val TrainCap = 65536

  def doubles(c: Column): Column = transform(c, x => x.cast("double"))

  /** The shared integer quantization floor(x·2²⁰) of a double vector. */
  def qIntCol(v: Column): Column =
    transform(v, x => floor(x * lit(QuantizedDots.Scale)).cast("long"))

  /** The unit vector quantized to integral doubles floor(u·2²⁰): every
    * DotProduct partial sum over two of them is an exact integer (< 2⁵³),
    * so the float sum is order-independent and the BIGINT cast lossless. */
  def quantUnit(c: Column): Column =
    transform(Dedup.unitVector(c), x =>
      floor(x * lit(1048576.0)).cast("double"))

  /** The SQ8 int8 code of the unit vector (n68's verify side). */
  def sq8Codes: Column = graft.functions.ScalarQuantization
    .encode(Dedup.unitVector(col("embedding")), 64)

  /** PQ codes of a double-vector column as (a column selected beside the
    * cell, an encode added after it): raw codes encode in one pass; a
    * residual (q − centroid(cell)) needs its row's cell, so `q` is
    * selected first and enters the double encode kernel as (q − c)/2²⁰ —
    * exact (an integer below 2²¹ over a power of two), so the kernel's
    * floor(x·2²⁰) recovers q − c bit-for-bit. Shared by the batch scan
    * and the codes index's ingest. */
  def pqCodes(v: Column, quant: Quantizer): (Column, Option[Column]) =
    quant.centroids match {
      case None => (Pq.encode(v, quant.codebook, quant.nCode).as("codes"), None)
      case Some(ctr) =>
        val ctrLit = array(ctr.map(row => array(row.map(lit(_)): _*)): _*)
        (qIntCol(v).as("q"), Some(Pq.encode(zip_with(col("q"),
          element_at(ctrLit, (col("cell") + 1).cast("int")),
          (a, b) => (a - b).cast("double") / lit(QuantizedDots.Scale)),
          quant.codebook, quant.nCode)))
    }

  /** ADC distance of `codes` to the quantized query `q`: one LUT for raw
    * codes; with centroids, one LUT per probed cell from the query's
    * residual IN that cell, dispatched by a when-chain on `cell`. */
  private def adcCol(q: Array[Long], cells: Seq[Long],
                     quant: Quantizer): Column = {
    def arm(r: Array[Long]): Column = ProductQuantization.adc(col("codes"),
      ProductQuantization.distanceTable(r, quant.codebook, Pq.SubDim,
        Pq.NSub, quant.nCode), Pq.NSub, quant.nCode)
    quant.centroids match {
      case None => arm(q)
      case Some(c) =>
        def cellArm(cell: Long) = arm(residualLocal(q, c(cell.toInt)))
        cells.tail.foldLeft(when(col("cell") === cells.head,
          cellArm(cells.head))) { (acc, cell) =>
          acc.when(col("cell") === cell, cellArm(cell))
        }
    }
  }

  /** Driver-side residual of a quantized vector against a centroid row. */
  def residualLocal(q: Array[Long], ctr: Array[Long]): Array[Long] =
    Array.tabulate(q.length)(i => q(i) - ctr(i))

  private def trainingSample(emb: DataFrame): DataFrame =
    emb.filter(pmod(xxhash64(col("vec_id")), lit(TrainSampleMod)) === 0)
      .sort("vec_id")
      .limit(TrainCap)

  /** Lloyd-trained per-subspace codebook on raw vectors — deterministic end
    * to end (hash sample, sorted collect, farthest-point init, fixed
    * iterations): same table in, same codebook out. */
  def trainedPqCodebook(emb: DataFrame, nCode: Int): Array[Long] = {
    val sample = trainingSample(emb)
      .select(doubles(col("embedding")).as("v"))
      .collect()
      .map(r => ProductQuantization.quantize(r.getSeq[Double](0)))
    ProductQuantization.trainCodebook(sample, Pq.SubDim, Pq.NSub, nCode)
  }

  /** The same rule over RESIDUALS against each member's cell centroid
    * (`ctr` from [[cellCentroids]] at the same geometry). */
  def trainedResidualCodebook(emb: DataFrame, ctr: Array[Array[Long]],
                              geo: IvfGeometry = Ivf,
                              nCode: Int = Pq.NCodeHi): Array[Long] = {
    val v = doubles(col("embedding"))
    val sample = trainingSample(emb)
      .select(v.as("v"), geo.cellCol(v).cast("long").as("cell"))
      .collect()
      .map { r =>
        val q = ProductQuantization.quantize(r.getSeq[Double](0))
        residualLocal(q, ctr(r.getLong(1).toInt))
      }
    ProductQuantization.trainCodebook(sample, Pq.SubDim, Pq.NSub, nCode)
  }

  /**
   * Per-cell integer centroids: the component-wise mean of each cell's
   * quantized members with TRUNCATING division — the same rounding in
   * Spark (`div`), DuckDB (`//`) and Scala (`/`), so the table rebuilds
   * bit-for-bit in the oracle. One scan + one (cell, component) partial
   * aggregate collected to nlist×64 longs, never corpus-sized. An empty
   * cell keeps the zero centroid (it contributes no candidates either).
   */
  def cellCentroids(emb: DataFrame,
                    geo: IvfGeometry = Ivf): Array[Array[Long]] = {
    val v = doubles(col("embedding"))
    val rows = emb
      .select(geo.cellCol(v).cast("long").as("cell"),
        qIntCol(v).as("q"))
      .select(col("cell"), posexplode(col("q")).as(Seq("i", "qi")))
      .groupBy("cell", "i")
      .agg(expr("sum(qi) div count(*)").as("ctr"))
      .collect()
    val out = Array.ofDim[Long](geo.nlist, 64)
    rows.foreach(r => out(r.getLong(0).toInt)(r.getInt(1)) = r.getLong(2))
    out
  }

  /** The quantizer a spec's batch planner builds from `emb`: the md5
    * codewords or Lloyd's on `emb` — over residuals against the cell
    * centroids (at the spec's geometry) for residual codes. SQ8 and the
    * exact join use none. */
  def quantizer(spec: AnnSpec, emb: DataFrame): Quantizer = {
    val (cbk, ctr, geo) = spec match {
      case s: ScanSpec => (s.codebook,
        if (s.residual) Some(cellCentroids(emb, s.geometry)) else None,
        s.geometry)
      case JoinSpec.PqCodes(c, _, _) => (c, None, Ivf)
      case _ => (Codebook.Md5, None, Ivf)
    }
    Quantizer(cbk match {
      case Codebook.Md5 => Pq.md5Codebook
      case Codebook.Trained(n) => ctr.fold(trainedPqCodebook(emb, n))(
        trainedResidualCodebook(emb, _, geo, n))
    }, cbk.nCode, ctr)
  }

  /** The embedding of row `id`. */
  def vector(emb: DataFrame, id: Long): Seq[Float] =
    emb.filter(col("vec_id") === id).select(col("embedding")).head()
      .getSeq[Float](0)

  /** The scan planner over a fresh encode of `emb` (see [[ScanSpec]]). */
  def scan(spec: ScanSpec, emb: DataFrame): DataFrame = {
    val quant = quantizer(spec, emb)
    val v = doubles(col("embedding"))
    val (codes, residual) = pqCodes(v, quant)
    val cands = emb.select(col("vec_id"), col("label"), codes,
      spec.geometry.cellCol(v).as("cell"))
    scanTail(spec, emb, quant, _ => cands, residual,
      vector(emb, QueryVecId), QueryVecId)
  }

  /** The scan planner over a committed PQ codes index: the read is
    * listing-pruned to the probed cells' leaf dirs and ranks under the
    * quantizer stored with the codes. The tail's `cell isin` filter
    * re-applies the probe on pre-compaction parts (batch-sized,
    * unbucketed by design) and is a no-op on pruned levels. */
  def scan(spec: ScanSpec, index: CodesIndex, emb: DataFrame,
           queryVec: Seq[Float], exclude: Long): DataFrame = {
    require(index.layout == CodesLayout.Pq && spec.geometry == Ivf,
      s"$spec cannot scan a ${index.layout} index at $Ivf")
    scanTail(spec, emb, index.quantizer,
      cells => index.codes(emb.sparkSession, Some(cells)), None, queryVec,
      exclude)
  }

  /** The scan's one tail: the query's probe set and LUTs are integer
    * driver arithmetic (no Spark job); the probed cells' members but
    * `exclude` rank by ADC lookup sum, and the top-k is
    * TakeOrderedAndProject — no shuffle. A null ADC distance is the
    * kernels' defensive contract for a malformed row, and nulls sort
    * FIRST ascending — so they are dropped before the cut. */
  private def scanTail(spec: ScanSpec, emb: DataFrame, quant: Quantizer,
                       codes: Seq[Long] => DataFrame,
                       residual: Option[Column], queryVec: Seq[Float],
                       exclude: Long): DataFrame = {
    val q = ProductQuantization.quantize(queryVec.map(_.toDouble))
    val cells = spec.geometry.probeLocal(q)
    val cands = codes(cells).filter(col("cell").isInCollection(cells))
      .filter(col("vec_id") =!= exclude)
    // residual codes encode after the cell filter
    val shortlist = residual.fold(cands)(cands.withColumn("codes", _))
      .select(col("vec_id"), col("label"), adcCol(q, cells, quant).as("adist"))
      .filter(col("adist").isNotNull)
      .orderBy(col("adist"), col("vec_id"))
      .limit(if (spec.rerank) R else spec.k)
    if (spec.rerank) exactRerank(emb, shortlist, queryVec, spec.k)
    else shortlist
  }

  /** The join planner over a fresh encode of `emb` (see [[JoinSpec]]). */
  def join(spec: JoinSpec, emb: DataFrame): DataFrame = {
    val quant = quantizer(spec, emb)
    val v = doubles(col("embedding"))
    // probe-side column, index-side column
    val (probe, indexed) = spec match {
      case JoinSpec.Exact =>
        (quantUnit(col("embedding")), quantUnit(col("embedding")))
      case JoinSpec.Sq8 => (sq8Codes, sq8Codes)
      case JoinSpec.PqCodes(_, ranking, _) =>
        val codes = Pq.encode(v, quant.codebook, quant.nCode)
        (if (ranking == Ranking.Adc) qIntCol(v) else codes, codes)
    }
    val index = emb.select(col("vec_id").as("nbr"), indexed.as("un"),
      Ivf.cellCol(v).cast("int").as("cell"))
    val scored = emb.select(col("vec_id"), probe.as("u"),
      posexplode(Ivf.dotsCol(v)).as(Seq("cell", "score")))
    joinTail(spec, emb, quant, Similarity.probeCut(scored, Ivf.nProbe), index,
      Similarity.cellJoinLargeProbe(emb))
  }

  /** The join planner over a committed codes index: the probe side
    * explodes the STORED probe sets (the cut happened at ingest — no
    * TopKPerKey over a score stream) and both sides rank on stored codes
    * under the index's quantizer. */
  def join(spec: JoinSpec, index: CodesIndex, emb: DataFrame): DataFrame = {
    val st = index.codes(emb.sparkSession, None)
    val codes = col(index.layout.codes)
    val probed = (spec, index.layout) match {
      case (JoinSpec.Sq8, CodesLayout.Sq8) =>
        st.select(col("vec_id"), codes.as("u"), explode(col("probed")).as("cell"))
      // the probe arrays are INT, the PQ layout's cells BIGINT
      case (JoinSpec.PqCodes(_, Ranking.Sdc, _), CodesLayout.Pq) =>
        st.select(col("vec_id"), codes.as("u"), explode(col("probed")).as("pc"))
          .select(col("vec_id"), col("u"), col("pc").cast("long").as("cell"))
      case _ => throw new IllegalArgumentException(
        s"$spec cannot rank the stored codes of a ${index.layout} index")
    }
    joinTail(spec, emb, index.quantizer, probed,
      st.select(col("vec_id").as("nbr"), codes.as("un"), col("cell")),
      largeProbe = false)
  }

  /** The join's one tail: the size-aware cell join, verify on the spec's
    * kernel, and the per-query cut to k — or to R, re-ranked exactly on
    * the shortlisted ids' vectors. */
  private def joinTail(spec: JoinSpec, emb: DataFrame, quant: Quantizer,
                       probed: DataFrame, index: DataFrame,
                       largeProbe: Boolean): DataFrame = {
    // verify kernel, score, ascending
    val (verify, score, asc): ((Column, Column) => Column, String, Boolean) =
      spec match {
        case JoinSpec.Exact => ((a, b) =>
          graft.functions.DotProduct(a, b).cast("long"), "score_q", false)
        case JoinSpec.Sq8 =>
          (graft.functions.ScalarQuantization.dot _, "sq8dot", false)
        case JoinSpec.PqCodes(_, Ranking.Sdc, _) =>
          val table = ProductQuantization.pairDistanceTable(quant.codebook,
            Pq.SubDim, Pq.NSub, quant.nCode)
          ((a, b) => ProductQuantization.sdc(a, b, table, Pq.NSub,
            quant.nCode), "sdist", true)
        case JoinSpec.PqCodes(_, Ranking.Adc, _) =>
          ((a, b) => ProductQuantization.adcq(a, b, quant.codebook, Pq.SubDim,
            Pq.NSub, quant.nCode), "adist", true)
      }
    spec match {
      case JoinSpec.PqCodes(_, _, true) =>
        rerankJoinTail(emb, Similarity.verifyCut(probed, index, R, verify,
          score, asc, largeProbe).select("vec_id", "nbr"), JoinK)
      case _ =>
        Similarity.knnJoinVerify(probed, index, JoinK, verify, score, asc,
          largeProbe)
    }
  }

  /** The exact re-rank of a single query's shortlist (IVFADC-R): fetch ONLY
    * the R shortlisted vectors (a broadcast-semi of R ids — R point lookups
    * at scale, never a second corpus scan) and re-score with the exact
    * integer quantized dot against the query's driver-side twin. */
  def exactRerank(emb: DataFrame, shortlist: DataFrame, queryVec: Seq[Float],
                  k: Int): DataFrame = {
    val qv = queryVec.map(_.toDouble).toArray
    // driver twin of quantUnit (same fold order: sequential sum of
    // squares, one division, floor(u·2^20))
    val nrm = math.sqrt(qv.map(x => x * x).sum)
    val qu = (if (nrm == 0) qv else qv.map(_ / nrm))
      .map(x => math.floor(x * 1048576.0))
    val quLit = array(qu.map(lit(_)): _*)
    emb.join(broadcast(shortlist.select("vec_id")), "vec_id")
      .select(col("vec_id"), col("label"),
        graft.functions.DotProduct(quantUnit(col("embedding")), quLit)
          .cast("long").as("qdot"))
      .orderBy(col("qdot").desc, col("vec_id"))
      .limit(k)
  }

  /** The exact re-rank of a batched shortlist: ONLY the shortlisted
    * (vec_id, nbr) pairs fetch their full vectors, by two SHUFFLE-HASH id
    * joins (not broadcast: the id set is n·R and scales with the probe
    * side), re-score with the exact integer quantized dot and cut to k.
    * The n·R·~528 B fetch bill is linear in queries, never a function of
    * index size (BASELINE round-17, `ProbePqJoinScale`). */
  def rerankJoinTail(emb: DataFrame, shortlist: DataFrame,
                     k: Int): DataFrame = {
    val quv = emb.select(col("vec_id"), quantUnit(col("embedding")).as("uq"))
    val rescored = shortlist
      .join(quv.hint("shuffle_hash"), Seq("vec_id"))
      .join(quv.select(col("vec_id").as("nbr"), col("uq").as("unx"))
        .hint("shuffle_hash"), Seq("nbr"))
      .select(col("vec_id"), col("nbr"),
        graft.functions.DotProduct(col("uq"), col("unx"))
          .cast("long").as("qdot"))
    Similarity.ranked(graft.plans.TopKPerKey(rescored, Seq(col("vec_id")),
      Seq(col("qdot").desc, col("nbr")), k), "qdot", col("qdot").desc)
  }
}

/**
 * The DuckDB twins of the md5 rungs, built from the same spec literal the
 * planner runs: the md5 directions and codewords rebuild from md5 digit
 * arithmetic, components quantize to floor(x·2²⁰), cell dots, codes
 * (argmin per subspace, ties to the smallest codeword), LUTs, SDC pair
 * sums and re-rank dots are all BIGINT, so ties and every k-th/R-th
 * boundary are identical in both engines by construction. Float unit
 * components are bit-identical too (ascending-order norm sum, one exact
 * division — the n39 formulation). An outer BIGINT cast on every SUM keeps
 * DuckDB's HUGEINT from rendering as float64 in the driver's hash.
 */
object AnnOracle {
  import AnnLadder.{JoinK, QueryVecId, R}

  private type Cte = (String, String)

  private def sql(ctes: Seq[Cte], tail: String): String =
    ctes.map { case (n, body) => s"$n AS (\n$body\n)" }
      .mkString("WITH ", ", ", "\n") + tail

  private def dirs(nlist: Int): Cte = "dirs" ->
    s"""|  SELECT c, i,
        |    CAST(list_sum([(strpos('0123456789abcdef',
        |        substr(md5('c_' || c || '_' || i), d + 1, 1)) - 1)
        |        * (1 << (4 * (7 - d))) for d in range(8)]) AS BIGINT)
        |      - 2147483648 AS comp
        |  FROM range($nlist) t(c), range(64) s(i)""".stripMargin

  private val cb: Cte = "cb" ->
    s"""|  SELECT m, c, i,
        |    CAST(list_sum([(strpos('0123456789abcdef',
        |        substr(md5('pq_' || m || '_' || c || '_' || i), d + 1, 1)) - 1)
        |        * (1 << (4 * (4 - d))) for d in range(5)]) AS BIGINT)
        |      - 524288 AS comp
        |  FROM range(${Pq.NSub}) t(m), range(${Pq.NCode}) u(c), range(${Pq.SubDim}) s(i)""".stripMargin

  private val ex: Cte = "ex" ->
    """|  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
       |    unnest(CAST(embedding AS DOUBLE[])) AS x
       |  FROM embeddings""".stripMargin

  private val exq: Cte = "exq" ->
    s"""|  SELECT vec_id, i, i // ${Pq.SubDim} AS m, i % ${Pq.SubDim} AS si,
        |    CAST(floor(x * 1048576.0) AS BIGINT) AS q
        |  FROM ex""".stripMargin

  /** Cell dots straight off `ex` (the float joins) or off `exq` (PQ). */
  private val dots: Cte = "dots" ->
    """|  SELECT vec_id, c,
       |    SUM(CAST(floor(x * 1048576.0) AS BIGINT) * comp) AS dot
       |  FROM ex JOIN dirs USING (i)
       |  GROUP BY 1, 2""".stripMargin

  private val dotsQ: Cte = "dots" ->
    """|  SELECT exq.vec_id, dirs.c, SUM(exq.q * dirs.comp) AS dot
       |  FROM exq JOIN dirs ON dirs.i = exq.i
       |  GROUP BY 1, 2""".stripMargin

  private def firstBy(order: String, cut: String,
                      by: String = "vec_id"): String =
    s"""|  QUALIFY ROW_NUMBER() OVER (PARTITION BY $by
        |                             ORDER BY $order) $cut""".stripMargin

  private val assigned: Cte = "assigned" ->
    s"  SELECT vec_id, c AS cell FROM dots\n${firstBy("dot DESC, c", "= 1")}"

  /** The join's per-row probe cut and the scan's probe of vec 0. */
  private def probedAll(nProbe: Int): Cte = "probed" ->
    s"  SELECT vec_id, c AS cell FROM dots\n${firstBy("dot DESC, c", s"<= $nProbe")}"

  private def probedQuery(nProbe: Int): Cte = "probed" ->
    s"""|  SELECT c AS cell FROM dots WHERE vec_id = $QueryVecId
        |  ORDER BY dot DESC, c LIMIT $nProbe""".stripMargin

  /** Every (row, subspace, codeword) integer squared distance of `t.x`. */
  private def d2(t: String, key: String, x: String): String =
    s"""|  SELECT $t.$key, cb.m, cb.c,
        |    SUM(($t.$x - cb.comp) * ($t.$x - cb.comp)) AS d2
        |  FROM $t JOIN cb ON cb.m = $t.m AND cb.i = $t.si
        |  GROUP BY 1, 2, 3""".stripMargin

  private val codes: Cte = "codes" ->
    s"  SELECT vec_id, m, c AS code FROM d2\n${firstBy("d2, c", "= 1", "vec_id, m")}"

  private val pd: Cte = "pd" ->
    """|  SELECT a.m, a.c AS c1, b.c AS c2,
       |    SUM((a.comp - b.comp) * (a.comp - b.comp)) AS d2
       |  FROM cb a JOIN cb b ON a.m = b.m AND a.i = b.i
       |  GROUP BY 1, 2, 3""".stripMargin

  private val exd: Cte = "exd" ->
    """|  SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
       |    generate_subscripts(embedding, 1) AS i
       |  FROM embeddings""".stripMargin

  private val nr: Cte = "nr" ->
    "  SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM exd GROUP BY vec_id"

  private val uv: Cte = "uv" ->
    "  SELECT exd.vec_id, v / nrm AS u, i FROM exd JOIN nr USING (vec_id)"

  private val uvSq8: Cte = "uv" ->
    """|  SELECT exd.vec_id,
       |    least(127, greatest(-127,
       |      CAST(floor((v / nrm) * 127.0) AS BIGINT))) AS q, i
       |  FROM exd JOIN nr USING (vec_id)""".stripMargin

  private def qdot(name: String): String =
    s"""|    CAST(SUM(CAST(floor(a.u * 1048576.0) AS BIGINT) *
        |             CAST(floor(b.u * 1048576.0) AS BIGINT)) AS BIGINT) AS $name""".stripMargin

  /** Pairwise `uv` dot over the (vec_id, nbr) rows of `src`. */
  private def uvPairs(src: String, a: String): String =
    s"""|  FROM $src $a
        |  JOIN uv a ON a.vec_id = $a.vec_id
        |  JOIN uv b ON b.vec_id = $a.nbr AND b.i = a.i
        |  GROUP BY 1, 2""".stripMargin

  private val pairs: Cte = "pairs" ->
    """|  SELECT q.vec_id, ix.vec_id AS nbr
       |  FROM probed q JOIN assigned ix
       |    ON ix.cell = q.cell AND ix.vec_id <> q.vec_id""".stripMargin

  /** A scan twin; raw codes rank under the query's one LUT, residual codes
    * (against truncating-`//` cell centroids) under the query's LUT
    * rebuilt per probed cell, joined through the candidate's own cell. */
  def scan(spec: ScanSpec): Option[String] = spec.codebook match {
    case Codebook.Trained(_) => None
    case Codebook.Md5 =>
      val g = spec.geometry
      val head = Seq(dirs(g.nlist), cb, ex, exq, dotsQ, assigned,
        probedQuery(g.nProbe))
      val coded = if (!spec.residual) Seq("d2" -> d2("exq", "vec_id", "q"),
        codes, "lut" -> s"  SELECT m, c, d2 FROM d2 WHERE vec_id = $QueryVecId",
        "adist" ->
          s"""|  SELECT codes.vec_id, CAST(SUM(lut.d2) AS BIGINT) AS adist
              |  FROM codes JOIN lut ON lut.m = codes.m AND lut.c = codes.code
              |  WHERE codes.vec_id <> $QueryVecId
              |  GROUP BY 1""".stripMargin)
      else Seq(
        "ctr" ->
          """|  SELECT assigned.cell, exq.i, SUM(exq.q) // COUNT(*) AS ctr
             |  FROM exq JOIN assigned ON assigned.vec_id = exq.vec_id
             |  GROUP BY 1, 2""".stripMargin,
        "rq" ->
          """|  SELECT exq.vec_id, exq.m, exq.si, exq.q - ctr.ctr AS r
             |  FROM exq
             |  JOIN assigned ON assigned.vec_id = exq.vec_id
             |  JOIN ctr ON ctr.cell = assigned.cell AND ctr.i = exq.i""".stripMargin,
        "d2" -> d2("rq", "vec_id", "r"), codes,
        "qrq" ->
          s"""|  SELECT probed.cell, exq.m, exq.si, exq.q - ctr.ctr AS r
              |  FROM exq
              |  CROSS JOIN probed
              |  JOIN ctr ON ctr.cell = probed.cell AND ctr.i = exq.i
              |  WHERE exq.vec_id = $QueryVecId""".stripMargin,
        "lut" -> d2("qrq", "cell", "r"),
        "adist" ->
          s"""|  SELECT codes.vec_id, CAST(SUM(lut.d2) AS BIGINT) AS adist
              |  FROM codes
              |  JOIN assigned ON assigned.vec_id = codes.vec_id
              |  JOIN lut ON lut.cell = assigned.cell
              |          AND lut.m = codes.m AND lut.c = codes.code
              |  WHERE codes.vec_id <> $QueryVecId
              |  GROUP BY 1""".stripMargin)
      // a residual LUT exists only for probed cells: no probe join needed
      val inProbed = if (spec.residual) Nil else Seq(
        "JOIN assigned ON assigned.vec_id = a.vec_id",
        "JOIN probed ON probed.cell = assigned.cell")
      def ranked(sel: Seq[String], n: Int): Seq[String] =
        sel ++ inProbed ++ Seq("ORDER BY a.adist, a.vec_id", s"LIMIT $n")
      if (!spec.rerank) Some(sql(head ++ coded, ranked(Seq(
        "SELECT a.vec_id, e.label, a.adist", "FROM adist a",
        "JOIN embeddings e ON e.vec_id = a.vec_id"), spec.k).mkString("\n")))
      else Some(sql(head ++ coded ++ Seq(
        "short" -> ranked(Seq("SELECT a.vec_id", "FROM adist a"), R)
          .map("  " + _).mkString("\n"),
        exd, nr, uv,
        "qdot" ->
          s"""|  SELECT s.vec_id,
              |${qdot("qdot")}
              |  FROM short s
              |  JOIN uv a ON a.vec_id = s.vec_id
              |  JOIN uv b ON b.vec_id = $QueryVecId AND b.i = a.i
              |  GROUP BY 1""".stripMargin),
        s"""|SELECT q.vec_id, e.label, q.qdot
            |FROM qdot q
            |JOIN embeddings e ON e.vec_id = q.vec_id
            |ORDER BY q.qdot DESC, q.vec_id
            |LIMIT ${spec.k}""".stripMargin))
  }

  /** A join twin: the per-row probe, candidate pairs through the assigned
    * cells, the spec's integer score, and for a re-rank the per-row R-cut
    * shortlist re-scored by the exact quantized dot. */
  def join(spec: JoinSpec): Option[String] = {
    val g = IvfGeometry.Default
    def rank(score: String, order: String, src: String): Cte = "r" ->
      s"""|  SELECT vec_id, nbr, $score,
          |    CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
          |                            ORDER BY $order, nbr) AS BIGINT) AS rank
          |  FROM $src""".stripMargin
    def query(ctes: Seq[Cte], score: String): Option[String] = Some(sql(ctes,
      s"""|SELECT vec_id, rank, nbr, $score
          |FROM r
          |WHERE rank <= $JoinK
          |ORDER BY vec_id, rank""".stripMargin))
    val floatHead = Seq(dirs(g.nlist), ex, dots, assigned, probedAll(g.nProbe))
    spec match {
      case JoinSpec.Exact => query(floatHead ++ Seq(exd, nr, uv, pairs,
        "s" ->
          s"""|  SELECT p.vec_id, p.nbr,
              |    -- outer BIGINT cast: DuckDB SUM(BIGINT) yields HUGEINT, which
              |    -- the driver's hash renders as float64 (the d98/round-12 rule)
              |${qdot("score_q")}
              |${uvPairs("pairs", "p")}""".stripMargin,
        rank("score_q", "score_q DESC", "s")), "score_q")
      case JoinSpec.Sq8 => query(floatHead ++ Seq(exd, nr, uvSq8, pairs,
        "s" ->
          s"""|  SELECT p.vec_id, p.nbr,
              |    CAST(SUM(a.q * b.q) AS BIGINT) AS sq8dot
              |${uvPairs("pairs", "p")}""".stripMargin,
        rank("sq8dot", "sq8dot DESC", "s")), "sq8dot")
      case JoinSpec.PqCodes(Codebook.Trained(_), _, _) => None
      case JoinSpec.PqCodes(Codebook.Md5, ranking, rerank) =>
        val (score, scored) = ranking match {
          case Ranking.Sdc => ("sdist", Seq(pd, pairs, "s" ->
            """|  SELECT p.vec_id, p.nbr,
               |    CAST(SUM(pd.d2) AS BIGINT) AS sdist
               |  FROM pairs p
               |  JOIN codes ca ON ca.vec_id = p.vec_id
               |  JOIN codes cn ON cn.vec_id = p.nbr AND cn.m = ca.m
               |  JOIN pd ON pd.m = ca.m AND pd.c1 = ca.code AND pd.c2 = cn.code
               |  GROUP BY 1, 2""".stripMargin))
          // the asymmetric distance is the query's own d2 table looked up
          // at the candidate's codes
          case Ranking.Adc => ("adist", Seq(pairs, "s" ->
            """|  SELECT p.vec_id, p.nbr,
               |    CAST(SUM(d2.d2) AS BIGINT) AS adist
               |  FROM pairs p
               |  JOIN codes cn ON cn.vec_id = p.nbr
               |  JOIN d2 ON d2.vec_id = p.vec_id AND d2.m = cn.m AND d2.c = cn.code
               |  GROUP BY 1, 2""".stripMargin))
        }
        val coded = Seq(dirs(g.nlist), cb, ex, exq, dotsQ, assigned,
          probedAll(g.nProbe), "d2" -> d2("exq", "vec_id", "q"), codes) ++ scored
        if (!rerank) query(coded :+ rank(score, score, "s"), score)
        else query(coded ++ Seq(
          "short" -> s"  SELECT vec_id, nbr FROM s\n${firstBy(s"$score, nbr", s"<= $R")}",
          exd, nr, uv,
          "qd" -> s"  SELECT sh.vec_id, sh.nbr,\n${qdot("qdot")}\n${uvPairs("short", "sh")}",
          rank("qdot", "qdot DESC", "qd")), "qdot")
    }
  }
}
