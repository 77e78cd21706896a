package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession => T}
import graft.queries.{BatchQueries, Tables}

/** Behavior checks for the approximate (non-oracle) operators: planted
  * near-dups are found, ANN paths agree with the exact baseline, HLL stays
  * within its error bound, exact dedup actually deduplicates. */
class OpsSpec extends AnyFunSuite {
  lazy val spark = T.spark

  test("simhash near-dup pairs include planted near-duplicates") {
    val pairs = Dedup.simHashNearDupPairs(Tables.documents(spark, T.sf0001))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = Dedup.ngramJaccardPairs(Tables.documents(spark, T.sf0001))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.nonEmpty)
    // simhash measures a different similarity than jaccard: it must catch a
    // majority of the 0.99-jaccard planted pairs (recall), and false
    // positives stay a small constant on this corpus
    assert(pairs.intersect(planted).size >= planted.size / 2)
    assert((pairs -- planted).size <= 10, s"unexpected pairs: ${pairs -- planted}")
  }

  test("exact fingerprint dedup collapses duplicated input") {
    val docs = Tables.documents(spark, T.sf0001)
    val doubled = docs.unionAll(docs)
    val out = Dedup.exactByFingerprint(doubled)
    assert(out.count() == docs.count())
    assert(out.filter(col("n_copies") =!= 2).count() == 0)
  }

  test("near-dup clusters: endpoints of every pair share a cluster, canonical is the min") {
    val docs = Tables.documents(spark, T.sf0001)
    val pairs = Dedup.minHashNearDupPairs(docs)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = Dedup.nearDupClusters(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(pairs.nonEmpty && labels.nonEmpty)
    // both endpoints of every near-dup pair carry the same cluster id
    pairs.foreach { case (a, b) =>
      assert(labels(a)._1 == labels(b)._1, s"pair ($a,$b) split across clusters")
    }
    // cluster id = min member id; canonical flag marks exactly that member
    labels.groupBy(_._2._1).foreach { case (cid, members) =>
      assert(cid == members.keys.min, s"cluster $cid is not its min member")
      assert(members.count(_._2._2) == 1 && members(cid)._2,
        s"cluster $cid canonical flag wrong")
    }
  }

  test("embedding clusters: endpoints of every banded pair share a cluster, canonical is the min") {
    val emb = Tables.embeddings(spark, T.sf0001)
    val pairs = Dedup.embeddingLshNearDupPairs(emb)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = Dedup.embeddingClustersQuery(spark, T.sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(pairs.nonEmpty && labels.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(labels(a)._1 == labels(b)._1, s"pair ($a,$b) split across clusters")
    }
    labels.groupBy(_._2._1).foreach { case (cid, members) =>
      assert(cid == members.keys.min, s"cluster $cid is not its min member")
      assert(members.count(_._2._2) == 1 && members(cid)._2,
        s"cluster $cid canonical flag wrong")
    }
  }

  test("kNN graph: structure sound, matches driver-side brute force") {
    val rows = Similarity.knnGraphQuery(spark, T.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val emb = Tables.embeddings(spark, T.sf0001)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    assert(rows.map(_._1).distinct.length == emb.size)
    rows.groupBy(_._1).foreach { case (v, ns) =>
      assert(ns.map(_._2).sorted.sameElements(1L to ns.length))
      assert(ns.length == math.min(3, emb.size - 1))
      assert(ns.forall(_._3 != v), s"vec $v lists itself as neighbor")
      val byRank = ns.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"vec $v cosines not non-increasing")
    }
    // brute-force the top-3 for a handful of vectors
    def unit(a: Array[Double]) = { val n = math.sqrt(a.map(x => x * x).sum); a.map(_ / n) }
    def cos(a: Array[Double], b: Array[Double]) =
      unit(a).zip(unit(b)).map { case (x, y) => x * y }.sum
    emb.keys.toSeq.sorted.take(5).foreach { v =>
      val expect = emb.keys.filter(_ != v)
        .map(o => (o, cos(emb(v), emb(o))))
        .toSeq.sortBy { case (o, c) => (-c, o) }.take(3).map(_._1)
      val got = rows.filter(_._1 == v).sortBy(_._2).map(_._3).toSeq
      assert(got == expect, s"vec $v top-3 mismatch: got $got expected $expect")
    }
  }

  test("dedup manifest: partitions the corpus, pointers are consistent") {
    val docs = Tables.documents(spark, T.sf0001)
    val rows = Dedup.dedupManifestQuery(spark, T.sf0001)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    // one verdict per document, no invention
    assert(rows.length == docs.count())
    assert(rows.map(_._1).distinct.length == rows.length)
    val byDoc = rows.map(r => r._1 -> r).toMap
    val texts = docs.select(col("doc_id"), md5(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { case (id, verdict, keep) =>
      verdict match {
        case "keep" => assert(keep == id, s"keeper $id points elsewhere")
        case "exact_dup" =>
          // the pointer is an older doc with the identical fingerprint
          assert(keep < id && texts(keep) == texts(id), s"exact_dup $id -> $keep")
        case "near_dup" =>
          // the pointer is the cluster canonical: older, present, and itself
          // never an exact_dup pointer-chase target of this doc
          assert(keep < id && byDoc.contains(keep), s"near_dup $id -> $keep")
        case other => fail(s"unknown verdict $other")
      }
    }
    // every md5 group keeps exactly one non-exact_dup representative
    val dupCount = rows.count(_._2 == "exact_dup")
    assert(dupCount == texts.size - texts.values.toSet.size)
  }

  /** Union-find reference: every endpoint → its component minimum. */
  private def unionFindComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.groupBy(find).flatMap { case (_, ms) =>
      val min = ms.min; ms.map(_ -> min)
    }
  }

  /** minLabelComponents at driver-path ceiling `ceiling`: labels, rounds
    * reported (0 = driver path) and the output schema. */
  private def components(edges: Seq[(Long, Long)], ceiling: Int) = {
    import spark.implicits._
    var rounds = -1
    val out = Dedup.minLabelComponents(edges.toDF("a", "b"), "a", "b", "id",
      maxIters = 50, onConverged = r => rounds = r, ceiling)
    val got = out.collect().map { r =>
      assert(r.getBoolean(2) == (r.getLong(0) == r.getLong(1)))
      r.getLong(0) -> r.getLong(1)
    }.toMap
    (got, rounds, out.schema)
  }

  test("minLabelComponents equals union-find on random graphs (fixed seed)") {
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 30 + rng.nextInt(40)
      // ~n random edges: a near-critical random graph — has a giant
      // component with nontrivial diameter plus isolated chains/cycles,
      // stressing the doubling path far harder than planted 2-3 cliques
      val edges = Seq.fill(n)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val expect = unionFindComponents(edges)
      // both paths on every trial: the driver union-find (default
      // ceiling) and the distributed rounds (ceiling 0)
      val (local, localRounds, localSchema) =
        components(edges, LabelLog.SmallMergeMaxEdges)
      val (dist, distRounds, distSchema) = components(edges, 0)
      assert(localRounds == 0 && distRounds >= 1,
        s"trial $trial: rounds $localRounds / $distRounds")
      assert(local == expect, s"trial $trial (n=$n) driver path mismatch")
      assert(dist == expect, s"trial $trial (n=$n) distributed mismatch")
      assert(localSchema == distSchema,
        s"trial $trial: schemas differ\n$localSchema\n$distSchema")
    }
  }

  test("minLabelComponents: the default ceiling splits the paths at 4096 edges") {
    // a subcritical random graph (average degree ≈ 0.7): many small
    // trees, so the distributed side converges in a few rounds
    val rng = new scala.util.Random(7)
    val n = 12000
    val edges = Iterator.continually(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.take(LabelLog.SmallMergeMaxEdges + 1).toSeq
    for (m <- Seq(LabelLog.SmallMergeMaxEdges, LabelLog.SmallMergeMaxEdges + 1)) {
      val (got, rounds, _) =
        components(edges.take(m), LabelLog.SmallMergeMaxEdges)
      assert((rounds == 0) == (m <= LabelLog.SmallMergeMaxEdges),
        s"$m edges: $rounds rounds")
      assert(got == unionFindComponents(edges.take(m)), s"$m edges mismatch")
    }
  }

  test("near-dup clusters: result is checkpoint-backed with truncated lineage") {
    val out = Dedup.nearDupClusters(Tables.documents(spark, T.sf0001))
    // the per-round eager localCheckpoint must leave a constant-size plan:
    // a LogicalRDD scan + projection, with NO join tree — raw lineage would
    // nest two copies of the previous round per round (the doubling join
    // has two consumers) and re-analysis cost would grow exponentially
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD"),
      s"expected a checkpoint-backed plan, got:\n$plan")
    assert(!plan.contains("Join"),
      s"expected the iterative join tree to be truncated, got:\n$plan")
    // the checkpoint blocks outlive the internal unpersists in the finally
    assert(out.count() > 0)
  }

  test("cross-doc duplicated spans: bounded fractions, near-dup docs flagged") {
    val stats = TextAnalysis.dupSpanStatsQuery(spark, T.sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(stats.nonEmpty)
    stats.values.foreach { case (nw, nd, frac) =>
      assert(nd >= 0 && nd <= nw)
      assert(frac >= 0.0 && frac <= 1.0)
      assert(math.abs(frac - nd.toDouble / nw) < 1e-15)
    }
    // docs with a 0.99-jaccard near-duplicate share almost all their windows
    val planted = Dedup.ngramJaccardPairs(Tables.documents(spark, T.sf0001))
      .select("doc_a", "doc_b").collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(planted.nonEmpty)
    planted.foreach { d =>
      assert(stats(d)._3 > 0.5, s"planted near-dup doc $d has dup_frac ${stats(d)._3}")
    }
  }

  test("quality quantile filter keeps ~75% of each language") {
    val rows = TextAnalysis.qualityQuantileQuery(spark, T.sf0001)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("kept").cast("long")).as("n_kept"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, kept) = (r.getLong(1), r.getLong(2))
      // percent_rank >= 0.25 keeps ceil(0.75·(n-1)) + 1-ish rows; allow the
      // one-rank discretization wiggle on small per-language populations
      val frac = kept.toDouble / n
      assert(frac > 0.70 && frac < 0.80, s"lang ${r.getString(0)}: kept $kept/$n")
    }
  }

  test("novelty: first occurrence owns its windows; planted later near-dups score low") {
    val stats = TextAnalysis.noveltyQuery(spark, T.sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(stats.nonEmpty)
    stats.values.foreach { case (nw, nn, frac) =>
      assert(nn >= 0 && nn <= nw)
      assert(frac >= 0.0 && frac <= 1.0)
    }
    // for each planted 0.99-jaccard pair, the LATER doc's windows mostly
    // first-occur in the earlier one, so its novelty collapses while the
    // earlier doc keeps (at least) everything not shared with still-earlier docs
    val planted = Dedup.ngramJaccardPairs(Tables.documents(spark, T.sf0001))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(planted.nonEmpty)
    planted.foreach { case (a, b) =>
      val later = math.max(a, b)
      assert(stats(later)._3 < 0.5, s"later near-dup doc $later has novelty ${stats(later)._3}")
    }
  }

  test("boilerplate stats: bounded fractions, flag is source-scoped DF not co-occurrence") {
    val rows = Corpus.boilerplateStatsQuery(spark, T.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, nw, nbp, frac) =>
      assert(nbp >= 0 && nbp <= nw)
      assert(math.abs(frac - nbp.toDouble / nw) < 1e-15)
    }
    // a gram must clear 20% of its source's docs, not merely appear twice:
    // the boilerplate window count is strictly below the n28-style
    // "shared with any other doc" count summed over the same corpus
    val anyShared = TextAnalysis.dupSpanStatsQuery(spark, T.sf0001)
      .agg(sum("n_dup_windows")).collect()(0).getLong(0)
    assert(rows.map(_._3).sum <= anyShared || anyShared == 0)
  }

  test("temperature mixing: exact integer weights, kept counts near the sqrt-flattened targets") {
    val rows = Corpus.temperatureMixingQuery(spark, T.sf0001, budget = 20)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val wTotal = rows.head._4
    rows.foreach { case (src, n, w, wt, kept) =>
      assert(wt == wTotal, s"w_total differs for $src")
      assert(w == math.floor(math.sqrt(n.toDouble) * 65536.0).toLong)
      assert(kept >= 0 && kept <= n)
    }
    // the md5 buckets are uniform: total kept lands near the budget
    val kept = rows.map(_._5).sum
    assert(kept > 5 && kept < 40, s"total kept $kept vs budget 20")
  }

  test("ANN paths recover most of the exact top-5") {
    val exact = BatchQueries.d19CosineTopK(spark, T.sf0001)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val lsh = Similarity.annLshQuery(spark, T.sf0001)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfQuery(spark, T.sf0001)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(lsh.intersect(exact).size >= 3, s"lsh=$lsh exact=$exact")
    assert(ivf.intersect(exact).size >= 3, s"ivf=$ivf exact=$exact")
  }

  test("n42 kNN join recovers most of the exact n39 graph") {
    // nProbe=4 of nlist=8 probes ~half the index per query; on
    // uniform-random embeddings (no cluster structure for the coarse
    // quantizer to exploit — the worst case for IVF) the measured recall
    // of the exact top-3 is ~0.77 at sf0.001. Assert a margin below; exact
    // per-pair equality is n39's job, this guards the join plumbing.
    val exact = Similarity.knnGraphQuery(spark, T.sf0001)
      .select("vec_id", "nbr").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.knnJoinQuery(spark, T.sf0001)
      .select("vec_id", "nbr").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"n42 recall vs exact n39: $recall%.3f")
    assert(recall >= 0.6, s"recall $recall (${approx.size} approx, ${exact.size} exact)")
    // every query vector answered with a full top-k
    assert(approx.map(_._1).size == exact.map(_._1).size)
  }

  test("n42 planted recall survives a small probe fraction") {
    // the spec-sized twin of the ScaleCurve recall-only gate (round-12
    // verdict #3 — the x100 property, previously tool-run only, now in
    // every `sbt test`): plant near-identical partners (cosine ~0.9996,
    // known ground truth) on a 10% sample, dial the IVF to a 1/16 probe
    // fraction (nlist=64, nProbe=4 — finds BULK neighbors only by luck),
    // and require the planted partner in the top-3 for >= 0.6 of pairs.
    // A near-identical vector lands in the same coarse cell, so planted
    // recall surviving a small probe fraction is exactly the asymmetry an
    // IVF index promises a semantic-dedup pipeline at 100 TB.
    val emb = Tables.embeddings(spark, T.sf0001)
    val sample = emb.filter(pmod(xxhash64(col("vec_id")), lit(10)) === 0)
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .unionByName(Dedup.plantedCopies(sample)
        .select(col("vec_id"),
          transform(col("v"), x => x.cast("float")).as("embedding")))
    val hits = Similarity.knnJoin(corpus, k = 3, nlist = 64, nProbe = 4)
      .filter(col("nbr") === col("vec_id") + lit(Dedup.PlantOffset))
      .count()
    val pairs = sample.count()
    spark.catalog.clearCache()
    val recall = hits.toDouble / pairs
    info(f"n42 planted recall at 1/16 probe fraction: $recall%.3f ($hits of $pairs)")
    assert(recall >= 0.6, f"planted recall $recall%.3f below the 0.6 gate")
  }

  test("n42 centroid paths: broadcast frame equals the plan-literal explode") {
    // the large-nlist switch (round 10): forcing centroidLiteralMax = 0
    // routes centroid scoring through the broadcast frame; same KMeans
    // seed, same DotProduct kernel, same normalized centroid doubles —
    // the two physical shapes must produce the identical kNN join
    val emb = Tables.embeddings(spark, T.sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "rank", "nbr").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val literal = rows(Similarity.knnJoin(emb))
    val frame = rows(Similarity.knnJoin(emb, centroidLiteralMax = 0))
    spark.catalog.clearCache()
    assert(literal.nonEmpty)
    assert(frame == literal,
      s"frame minus literal: ${frame.diff(literal).take(3)}; " +
        s"literal minus frame: ${literal.diff(frame).take(3)}")
  }

  test("approx_count_distinct within 10% of exact") {
    val o = Tables.orders(spark, T.sf0001)
    val exact = o.select(countDistinct(col("o_custkey"))).head().getLong(0)
    val approx = o.select(approx_count_distinct(col("o_custkey"))).head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.10)
  }

  test("hash sample is a deterministic partition near the 80/10/10 target") {
    val out = Sampling.hashSampleQuery(spark, T.sf0001)
    val total = out.count()
    val bySplit = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.values.sum == total)
    // md5 buckets are uniform-ish; 500 docs gives loose but real bounds
    assert(bySplit("train").toDouble / total > 0.7)
    assert(bySplit.getOrElse("validation", 0L) + bySplit.getOrElse("test", 0L) > 0)
    // determinism: a second evaluation is identical
    assert(out.collect().toSeq == Sampling.hashSampleQuery(spark, T.sf0001).collect().toSeq)
  }

  test("sequence packing keeps every bin at or under budget (except single-doc overflow)") {
    val budget = 256
    val bins = Sampling.seqPackingQuery(spark, T.sf0001, budget).collect()
    assert(bins.nonEmpty)
    bins.foreach { r =>
      val nDocs = r.getLong(2); val sumTokens = r.getLong(3)
      // greedy open-at-boundary packing: a bin only exceeds the budget via
      // the single document that crosses the boundary, never by more than
      // one document's tokens
      assert(nDocs > 0)
      assert(sumTokens < 2L * budget, s"bin $r overpacked")
    }
  }

  test("repetition stats: ratios bounded and consistent with distinct counts") {
    val rows = TextAnalysis.repetitionStatsQuery(spark, T.sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nWords = r.getLong(1); val nDistinct = r.getLong(2); val top = r.getLong(3)
      assert(nDistinct <= nWords && top <= nWords && top >= 1)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) < 1.0)
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
    }
  }

  test("multimodal decode covers all kinds with positive sizes") {
    val out = Multimodal.multimodalQuery(spark, T.sf0001).collect()
    assert(out.map(_.getString(0)).toSet == Set("audio", "image", "video"))
    assert(out.forall(_.getLong(1) > 0))
  }

  test("bigram LM: scores in (0,1], duplicate texts score identically, quantization near-lossless") {
    val out = TextAnalysis.bigramLmQuery(spark, T.sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.nonEmpty)
    out.foreach { case (doc, (n, sumQ, score)) =>
      assert(n > 0 && sumQ > 0)
      assert(score > 0.0 && score <= 1.0, s"doc $doc score $score")
    }
    // identical texts produce identical bigram streams, hence equal scores:
    // sf0.001 has no planted exact dups (those appear at sf0.1), so double
    // the corpus under shifted ids — the score is a pure function of text
    val docs = Tables.documents(spark, T.sf0001)
    val doubled = docs.unionAll(docs.withColumn("doc_id", col("doc_id") + 100000L))
    val dbl = TextAnalysis.bigramLm(doubled).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    out.keys.foreach { id =>
      assert(dbl(id) == dbl(id + 100000L), s"copies of doc $id diverge")
    }
    // quantization check: per prefix w1, the floor'd 2^30-scaled conditional
    // probabilities must sum to within #successor-types of exactly 2^30
    val ds = Tables.documents(spark, T.sf0001)
    ds.createOrReplaceTempView("n43docs")
    val bad = spark.sql(
      """WITH w AS (SELECT doc_id, split(lower(text), '\\s+') AS ws FROM n43docs),
        |bg AS (SELECT ws[i - 1] AS w1, ws[i] AS w2
        |       FROM w LATERAL VIEW explode(sequence(1, size(ws) - 1)) t AS i
        |       WHERE size(ws) >= 2),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
        |q AS (SELECT c2.w1, c2.c2 * CAST(1073741824 AS BIGINT) div c1.c1 AS q
        |      FROM c2 JOIN c1 ON c2.w1 = c1.w1)
        |SELECT w1, SUM(q) AS s, COUNT(*) AS types FROM q GROUP BY w1
        |HAVING SUM(q) > 1073741824 OR SUM(q) <= 1073741824 - COUNT(*)
        |""".stripMargin).collect()
    assert(bad.isEmpty, s"prefixes with lossy quantization: ${bad.mkString(", ")}")
  }

  test("bloom decontamination: prefilter has no false negatives and result equals the no-bloom plan") {
    val dir = T.sf0001
    val docs = Tables.documents(spark, dir)
    val grams = docs
      .select(col("doc_id"), explode(Dedup.wordShingles(col("text"), 3)).as("gram"))
    val bench = grams.filter(col("doc_id") % 101 === 0)
    val corpus = grams.filter(col("doc_id") % 101 =!= 0)
    val bloom = bench.stat.bloomFilter("gram", math.max(bench.count(), 1L), 0.03)
    val bloomB = spark.sparkContext.broadcast(bloom)
    val might = udf((g: String) => bloomB.value.mightContainString(g))
    val total = corpus.count()
    val passed = corpus.filter(might(col("gram"))).count()
    val trueHits = corpus.join(bench.select("gram"), Seq("gram"), "left_semi").count()
    // Bloom guarantee: every true match passes; the rest is fpp-bounded noise
    assert(passed >= trueHits, s"bloom dropped true matches: $passed < $trueHits")
    assert(passed < total, s"bloom prefilter screened nothing ($passed of $total)")
    // the sketch stage must not change the answer
    val withBloom = Corpus.bloomDecontamQuery(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = docs.filter(col("doc_id") % 101 =!= 0)
      .join(corpus.join(bench.select("gram"), Seq("gram"), "left_semi")
        .select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(withBloom == exact)
  }

  test("segment dedup: keep-first attribution, exact-dup docs fully dropped, faithful rebuild") {
    val out = TextAnalysis.segmentDedupQuery(spark, T.sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(4))).toMap
    assert(out.nonEmpty)
    val docs = Tables.documents(spark, T.sf0001)
    val texts = docs
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // a later exact duplicate owns none of its segments: sf0.001 has no
    // planted exact dups, so double the corpus under shifted (larger) ids —
    // every copy's segments are owned by the original
    val doubled = docs.unionAll(docs.withColumn("doc_id", col("doc_id") + 100000L))
    TextAnalysis.segmentDedup(doubled).collect().foreach { r =>
      if (r.getLong(0) >= 100000L) {
        assert(r.getLong(2) == 0L, s"dup doc ${r.getLong(0)} kept segments")
        assert(r.getString(4).isEmpty)
      }
    }
    // fully-kept docs rebuild to the whitespace-normalized original (doc 0
    // is always fully kept: no smaller doc_id can own its segments)
    val fullyKept = out.filter { case (_, (n, k, _)) => n == k }
    assert(fullyKept.contains(0L))
    fullyKept.foreach { case (doc, (_, _, rebuilt)) =>
      assert(rebuilt == texts(doc).split("\\s+", -1).mkString(" "),
        s"doc $doc rebuild mismatch")
    }
  }

  test("snapshot drift: tv in [0,1] on real data, exactly 0 for identical snapshots") {
    val out = Corpus.snapshotDriftQuery(spark, T.sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val tv = r.getDouble(4)
      assert(tv >= 0.0 && tv <= 1.0, s"source ${r.getString(0)} tv $tv")
      assert(tv > 0.0, "disjoint random halves should show some drift")
    }
    // put a full copy of the corpus in EACH snapshot (explicit split
    // column): the two snapshots then have IDENTICAL word distributions,
    // so every cross-product cancels and tv must be exactly 0.0 — the
    // integer arithmetic makes this an equality, not a tolerance
    val docs = Tables.documents(spark, T.sf0001)
    val twinned = docs.withColumn("is_a", lit(true))
      .unionAll(docs.withColumn("is_a", lit(false)))
    Corpus.snapshotDrift(twinned, col("is_a")).collect().foreach { r =>
      assert(r.getDouble(4) == 0.0,
        s"identical snapshots drifted: ${r.getString(0)} -> ${r.getDouble(4)}")
      assert(r.getLong(1) == r.getLong(2), "twin construction broke totals")
    }
  }

  test("content-defined chunking survives a one-word prefix shift that blinds fixed segments") {
    val docs = Tables.documents(spark, T.sf0001)
    // chunk-length sanity: 1/8 boundary probability => mean chunk ~8 words
    val base = Corpus.cdcChunks(docs).collect()
    val nChunks = base.map(_.getLong(1)).sum.toDouble
    val nWords = docs.select(sum(size(split(lower(col("text")), "\\s+"))))
      .head().getLong(0).toDouble
    val meanLen = nWords / nChunks
    assert(meanLen > 5.0 && meanLen < 12.0, s"mean chunk length $meanLen")
    // exact copies own nothing: every chunk's first occurrence is the original
    val copies = docs.withColumn("doc_id", col("doc_id") + 100000L)
    Corpus.cdcChunks(docs.unionAll(copies)).collect()
      .filter(_.getLong(0) >= 100000L)
      .foreach(r => assert(r.getLong(2) == 0L, s"exact copy ${r.getLong(0)} kept chunks"))
    // one-word prefix shift: fixed 4-word segments all move off-grid, so
    // n45 sees nothing (copies keep 100% of segments) …
    val shifted = copies.withColumn("text", concat(lit("qqzz "), col("text")))
    // (mostly: the corpus has planted near-dups with insertions/deletions,
    // so ~8% of shifted segments still collide with some other doc's
    // alignment — measured 0.92 mean kept)
    val seg = TextAnalysis.segmentDedup(docs.unionAll(shifted)).collect()
      .filter(_.getLong(0) >= 100000L)
    assert(seg.nonEmpty)
    val segKept = seg.map(r => r.getLong(2).toDouble / r.getLong(1)).sum / seg.length
    assert(segKept > 0.8,
      f"fixed segments unexpectedly matched after the shift: $segKept%.3f")
    // … while CDC boundaries re-synchronize after the first shared window
    // and the copies lose most of their chunks to the originals
    val cdc = Corpus.cdcChunks(docs.unionAll(shifted)).collect()
      .filter(_.getLong(0) >= 100000L)
    val keptFrac = cdc.map(_.getDouble(3)).sum / cdc.length
    assert(keptFrac < 0.5,
      f"CDC failed to re-sync after shift: mean kept_frac $keptFrac%.3f")
    assert(segKept - keptFrac > 0.3,
      f"CDC ($keptFrac%.3f) should beat fixed segments ($segKept%.3f) by a wide margin")
  }

  test("cdc chunk counts match the pure-Scala model of the boundary rule") {
    // binds the shipped Spark program to the model CdcChunkProps proves
    // theorems about — if either drifts, this breaks
    import spark.implicits._
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rnd = new scala.util.Random(42)
    val docs = (0L until 20L).map(i =>
      (i, Seq.fill(30 + rnd.nextInt(50))("w" + rnd.nextInt(40)).mkString(" ")))
    val got = Corpus.cdcChunks(docs.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.foreach { case (id, text) =>
      val ws = text.split(" ")
      def isBoundary(i: Int) = i >= 2 && {
        val h = md5hex(s"${ws(i - 2)} ${ws(i - 1)} ${ws(i)}")
        h.head == '0' || h.head == '8'
      }
      val boundaries = ws.indices.count(isBoundary)
      // a boundary closes a chunk; words after the last boundary form one more
      val expected = boundaries + (if (isBoundary(ws.length - 1)) 0 else 1)
      assert(got(id) == expected.toLong, s"doc $id: ${got(id)} != $expected")
    }
  }

  test("dup-segment leaderboard: k rows, sorted by reach, planted boilerplate tops it") {
    val out = TextAnalysis.dupSegmentTopQuery(spark, T.sf0001).collect()
    assert(out.length == 20)
    val reach = out.map(_.getLong(2))
    assert(reach.zip(reach.tail).forall { case (a, b) => a >= b }, "not sorted")
    out.foreach(r => assert(r.getLong(3) >= r.getLong(2),
      "occurrences must be >= distinct docs"))
    // plant a 4-word banner segment in 40 synthetic docs: it must take the
    // #1 slot (max organic reach at sf0.001 is far below 40)
    import spark.implicits._
    val banner = (100000L until 100040L)
      .map(i => (i, s"this site uses cookies unique$i tail words here"))
      .toDF("doc_id", "text")
    assert(reach.max < 40, s"organic reach ${reach.max} >= banner reach 40")
    val docs = Tables.documents(spark, T.sf0001).select("doc_id", "text")
      .unionByName(banner)
    val top = TextAnalysis.dupSegmentTop(docs).collect().head
    assert(top.getString(1) == "this site uses cookies", s"banner not #1: $top")
    assert(top.getLong(2) == 40L && top.getLong(3) == 40L)
  }

  test("quality mixing: strata cover source x tier, high tier out-sampled, kept near budget") {
    val out = Corpus.qualityMixingQuery(spark, T.sf0001).collect()
    assert(out.nonEmpty)
    val bySource = out.groupBy(_.getString(0))
    bySource.foreach { case (src, rows) =>
      assert(rows.map(_.getString(1)).toSet == Set("high", "low"),
        s"$src missing a tier")
      // exact median split: tier sizes differ by at most 1
      val ns = rows.map(_.getLong(2))
      assert(math.abs(ns(0) - ns(1)) <= 1, s"$src uneven tiers: ${ns.toSeq}")
      // the doubled weight is exact: w_u(high) = 2 * floor(sqrt(n_high)*2^16)
      val w = rows.map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
      assert(w("high")._2 ==
        2L * math.floor(math.sqrt(w("high")._1.toDouble) * 65536.0).toLong,
        s"$src high-tier weight not doubled: $w")
    }
    // realized acceptance per stratum is a fixed-bucket draw over ~13 docs,
    // so dominance only holds in aggregate: across all sources the high
    // tiers (2x threshold) must out-sample the low tiers decisively
    val keptByTier = out.groupBy(_.getString(1))
      .map { case (t, rs) => t -> rs.map(_.getLong(5)).sum }
    assert(keptByTier("high") > keptByTier("low"),
      s"high tiers not up-sampled in aggregate: $keptByTier")
    // realized total ~ budget (bias bound is one bucket-quantum per stratum)
    val kept = out.map(_.getLong(5)).sum
    assert(kept > 50 && kept < 200, s"total kept $kept far from budget 100")
  }

  test("inner segment dedup: within-doc repeats drop, cross-doc repeats survive") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c d a b c d e f g h"), // repeated first segment
      (1L, "a b c d x y z w")          // same segment in ANOTHER doc: kept
    ).toDF("doc_id", "text")
    val out = TextAnalysis.innerSegmentDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(4))).toMap
    assert(out(0L) == ((3L, 2L, "a b c d e f g h")))
    assert(out(1L) == ((2L, 2L, "a b c d x y z w")))
    // on the real corpus: n_kept is the distinct-segment count — always in
    // (0, n_segs], and equal to n_segs exactly when no segment repeats
    val real = TextAnalysis.innerSegmentDedupQuery(spark, T.sf0001).collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      assert(r.getLong(2) > 0 && r.getLong(2) <= r.getLong(1),
        s"doc ${r.getLong(0)}: kept ${r.getLong(2)} of ${r.getLong(1)}")
    }
  }
}
