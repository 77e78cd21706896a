package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkTestSession => T}

/** The plans we would want on a 1000-executor cluster, asserted on the
  * headline queries: filters and projections reach the scans, small dims
  * broadcast, global top-k never globally sorts. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = T.spark

  private def plan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, T.sf0001)
    df.queryExecution.executedPlan.toString
  }

  test("d01: the shipdate filter is pushed into the parquet scan") {
    val p = plan("d01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
  }

  test("d01: the scan reads only referenced columns (pruned ReadSchema)") {
    val p = plan("d01_pricing_summary")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_comment") && !read.contains("l_orderkey"), read)
  }

  test("d02: dimension joins broadcast") {
    val p = plan("d02_revenue_nation")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("d03: global top-10 plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("d03_top_parts")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("d62: the price predicate is pushed into the ORC scan") {
    val p = plan("d62_orc_source")
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(o_totalprice"), p)
  }

  test("d73: the event_type predicate prunes partitions at the scan") {
    import org.apache.spark.sql.functions.col
    val staging = Tables.scratchDir("d73spec").resolve("by_type")
    Tables.events(spark, T.sf0001)
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(staging.toString)
    val p = RuntimeQueries.partitionedRead(spark, staging.toString)
      .queryExecution.executedPlan.toString
    // match the two filter lists independently over the whole plan string:
    // scan-description layout (one line vs wrapped) is a rendering detail,
    // and a missing list should read as an assertion failure, not a
    // NoSuchElementException from brittle split-indexing
    val partFilters = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
    assert(partFilters.isDefined, s"no PartitionFilters list in plan:\n$p")
    assert(partFilters.get.group(1).contains("event_type"), p)
    // the predicate must NOT land in the row-level pushed filters: pruning
    // happens at listing time, before any file is opened
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p)
    assert(pushed.isDefined, s"no PushedFilters list in plan:\n$p")
    assert(!pushed.get.group(1).contains("event_type"), p)
  }

  // ---- dedup family: the candidate stages must stay bucketed at scale ----

  /** The scale contract for every near-dup operator: candidate generation
    * is an equi-join on constant-width keys (band hashes, block ids,
    * length buckets) — never an unpruned pair space. A CartesianProduct or
    * BroadcastNestedLoopJoin node anywhere in the plan means a non-equi
    * pair stage sneaked back in. */
  private def assertNoPairBlowup(name: String): String = {
    val p = plan(name)
    assert(!p.contains("CartesianProduct"), s"$name plans a CartesianProduct:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"$name plans a BroadcastNestedLoopJoin:\n$p")
    p
  }

  test("n02 minhash: no cartesian; candidates shuffle on (band, bandhash)") {
    val p = assertNoPairBlowup("n02_dedup_minhash_lsh")
    assert("hashpartitioning\\(band#\\d+, bh#\\d+".r.findFirstIn(p).isDefined
      || p.contains("BroadcastHashJoin"), // tiny sf may broadcast a side
      s"n02 candidate join neither shuffles on (band, bh) nor broadcasts:\n$p")
  }

  test("n03 jaccard: no cartesian; inverted index joins on the shingle hash") {
    val p = assertNoPairBlowup("n03_ngram_jaccard")
    assert("hashpartitioning\\(sh#\\d+".r.findFirstIn(p).isDefined
      || p.contains("BroadcastHashJoin"),
      s"n03 prefix join neither shuffles on sh nor broadcasts:\n$p")
  }

  test("n04 simhash: no cartesian (pigeonhole block join)") {
    assertNoPairBlowup("n04_dedup_simhash")
  }

  test("n05 embedding exact: block-grid equi-join, no cartesian") {
    val p = assertNoPairBlowup("n05_dedup_embedding")
    // the grid join must be a real equi-join on the two-int cell key
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"n05 grid join missing:\n$p")
  }

  test("n25 edit distance: length bucket is part of the shuffle key") {
    val p = assertNoPairBlowup("n25_edit_distance")
    assert("hashpartitioning\\(lang#\\d+, source#\\d+, bkt#\\d+".r
        .findFirstIn(p).isDefined || p.contains("BroadcastHashJoin"),
      s"n25 does not shuffle on (lang, source, bkt):\n$p")
  }

  test("n28 dup spans: no cartesian; the window index shuffles on the md5 hash") {
    val p = assertNoPairBlowup("n28_dup_span_stats")
    assert("hashpartitioning\\(h#\\d+".r.findFirstIn(p).isDefined
      || p.contains("BroadcastHashJoin"),
      s"n28 flag join neither shuffles on h nor broadcasts:\n$p")
  }

  test("n26 embedding LSH: banded candidates, no cartesian") {
    val p = assertNoPairBlowup("n26_embedding_lsh")
    assert("hashpartitioning\\(band#\\d+, bh#\\d+".r.findFirstIn(p).isDefined
      || p.contains("BroadcastHashJoin"),
      s"n26 candidate join neither shuffles on (band, bh) nor broadcasts:\n$p")
  }

  test("n06 ann-lsh: query bands and query vector ride as broadcasts") {
    val p = plan("n06_ann_lsh")
    // candidate generation joins the corpus bands against the query's 12
    // band rows — that side must broadcast, never shuffle the corpus
    assert(p.contains("BroadcastHashJoin"),
      s"n06 band-candidate join is not a broadcast hash join:\n$p")
    assert(!p.contains("CartesianProduct"), s"n06 plans a CartesianProduct:\n$p")
    // global top-5 must be TakeOrderedAndProject, not a global sort
    assert(p.contains("TakeOrderedAndProject"),
      s"n06 top-k is not TakeOrderedAndProject:\n$p")
  }

  test("n30 boilerplate: DF index joins on (source, h), no cartesian") {
    val p = assertNoPairBlowup("n30_boilerplate")
    assert("hashpartitioning\\(source#\\d+, h#\\d+".r.findFirstIn(p).isDefined
      || p.contains("BroadcastHashJoin"),
      s"n30 flag join neither shuffles on (source, h) nor broadcasts:\n$p")
  }

  test("n31 temperature mix: per-source weights broadcast, no cartesian") {
    val p = assertNoPairBlowup("n31_temperature_mix")
    // the per-source weight frame must come back as a broadcast dim — a
    // shuffle of the full doc table against a 20-row frame would be wrong
    assert(p.contains("BroadcastHashJoin"),
      s"n31 weight join is not a broadcast:\n$p")
  }

  test("n34 novelty: attribution index shuffles on the md5 hash, no cartesian") {
    val p = assertNoPairBlowup("n34_novelty")
    assert("hashpartitioning\\(h#\\d+".r.findFirstIn(p).isDefined
      || p.contains("BroadcastHashJoin"),
      s"n34 attribution join neither shuffles on h nor broadcasts:\n$p")
  }

  test("n38 manifest: fingerprint + cluster-label joins are hash joins, no cartesian") {
    assertNoPairBlowup("n38_dedup_manifest")
  }

  test("n39 knn graph: no cartesian; per-key cut is the custom TopKPerKey operator") {
    val p = assertNoPairBlowup("n39_knn_graph")
    assert(p.contains("TopKPerKey"),
      s"n39 does not plan the bounded-heap top-k operator:\n$p")
  }

  test("n61 ivf-pq: codegen encode/ADC kernels, top-k with no global sort, no shuffle") {
    val p = plan("n61_ivf_pq")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("pq_encode") && p.contains("pq_adc"),
      s"n61 does not plan the PQ kernels:\n$p")
    // probe set and LUT are plan literals (driver integer arithmetic), so
    // the whole ranking is ONE shuffle-free scan stage
    assert(!p.contains("Exchange"), s"n61 plans a shuffle:\n$p")
  }

  test("n65 pq knn join: SDC kernel over codes, TopKPerKey cuts, cell equi-join, no cartesian") {
    val p = assertNoPairBlowup("n65_pq_knn_join")
    assert(p.contains("TopKPerKey"),
      s"n65 does not plan the bounded-heap top-k operator:\n$p")
    // the verify step must be the codegen SDC kernel scanning CODE arrays
    // (8 ints/row) — the whole point of the batched PQ shape is that the
    // candidate exchange never carries raw embeddings
    assert(p.contains("pq_sdc") && p.contains("pq_encode"),
      s"n65 does not plan the PQ kernels:\n$p")
    assert("hashpartitioning\\(cell#\\d+".r.findFirstIn(p).isDefined
      || p.contains("BroadcastHashJoin"),
      s"n65 candidate join neither shuffles on cell nor broadcasts:\n$p")
  }

  test("n68 sq8 knn join: SQ8 kernels over code binaries, TopKPerKey cuts, cell equi-join, no cartesian") {
    val p = assertNoPairBlowup("n68_sq8_knn_join")
    assert(p.contains("TopKPerKey"),
      s"n68 does not plan the bounded-heap top-k operator:\n$p")
    // the verify step must be the codegen SQ8 dot scanning 64-byte code
    // BINARYs — the candidate exchange never carries raw embeddings
    assert(p.contains("sq8_dot") && p.contains("sq8_encode"),
      s"n68 does not plan the SQ8 kernels:\n$p")
    assert("hashpartitioning\\(cell#\\d+".r.findFirstIn(p).isDefined
      || p.contains("BroadcastHashJoin"),
      s"n68 candidate join neither shuffles on cell nor broadcasts:\n$p")
  }

  test("n66 trained ivf-pq: the n61 shuffle-free scan shape, trained codebook as plan literal") {
    val p = plan("n66_ivf_pq_trained")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("pq_encode") && p.contains("pq_adc"),
      s"n66 does not plan the PQ kernels:\n$p")
    // training is a bounded driver step; the ranking plan itself must
    // stay ONE shuffle-free scan stage, exactly like n61
    assert(!p.contains("Exchange"), s"n66 plans a shuffle:\n$p")
  }

  test("n72 residual ivf-pq: the n61 shuffle-free scan shape with residual encode and per-cell LUT chain") {
    val p = plan("n72_ivf_pq_residual")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("pq_encode") && p.contains("pq_adc"),
      s"n72 does not plan the PQ kernels:\n$p")
    // centroids are a separate bounded job collected to a plan literal;
    // the ranking itself must stay ONE shuffle-free scan stage like n61
    assert(!p.contains("Exchange"), s"n72 plans a shuffle:\n$p")
    // the per-probed-cell LUT dispatch is a CASE chain of ADC arms, one
    // per probed cell — all codegen, no join against a LUT table
    assert("(?s)CASE WHEN.*pq_adc.*pq_adc".r.findFirstIn(p).isDefined,
      s"n72 does not plan the per-cell LUT when-chain:\n$p")
  }

  test("n73 trained residual ivf-pq: the n72 shape, trained k*=256 codebook as plan literal") {
    val p = plan("n73_ivf_pq_residual_trained")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("pq_encode") && p.contains("pq_adc"),
      s"n73 does not plan the PQ kernels:\n$p")
    assert(!p.contains("Exchange"), s"n73 plans a shuffle:\n$p")
  }

  test("n74 card+neardup: the n70 rollup joined to S-row manifest counts by broadcast, no cartesian") {
    val p = assertNoPairBlowup("n74_card_neardup")
    assert(p.contains("BroadcastHashJoin"),
      s"n74 manifest-count join is not a broadcast:\n$p")
  }

  test("n75 ivfadc-r: ADC shortlist stage + broadcast re-rank fetch, no second corpus shuffle") {
    val p = plan("n75_ivf_pq_rerank")
    assert(p.contains("pq_adc"), s"n75 shortlist does not rank on the ADC kernel:\n$p")
    // the R full vectors are fetched by a BROADCAST of the shortlist ids —
    // the two-stage retrieval shape: codes scan wide, vectors touched R times
    assert(p.contains("BroadcastHashJoin"),
      s"n75 re-rank fetch is not a broadcast semi/inner:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("n76 trained ivfadc-r: the n75 shape on the trained-residual shortlist") {
    val p = plan("n76_ivf_pq_rerank_trained")
    assert(p.contains("pq_adc") && p.contains("BroadcastHashJoin")
      && p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("n78 batched ivfadc-r: SDC shortlist + shuffle-hash id fetch; the exact dot touches only shortlist pairs") {
    val p = assertNoPairBlowup("n78_pq_knn_rerank")
    // stage 1 is the n65 plan: the wide candidate stream ranks on the
    // codegen SDC kernel over 8-int codes — raw vectors stay out of it
    assert(p.contains("pq_sdc") && p.contains("pq_encode"),
      s"n78 shortlist stage does not rank on the PQ kernels:\n$p")
    // three bounded-heap cuts: nProbe cells, R shortlist, final k
    assert(p.contains("TopKPerKey"),
      s"n78 does not plan the bounded-heap top-k operator:\n$p")
    // stage 2 fetches full vectors by SHUFFLE-HASH id joins (the id set is
    // n*R — it scales with the probe side, so a broadcast would ship the
    // whole shortlist to every task; the hint makes the shape explicit)
    assert(p.contains("ShuffledHashJoin"),
      s"n78 re-rank fetch is not a shuffle-hash id join:\n$p")
    // the exact-dot verify runs ONCE, above the fetch joins — never inside
    // the cell join where it would rescan every candidate pair (the
    // "no second corpus-wide verify" claim: exactly one dot_product site)
    val dotSites = "dot_product".r.findAllIn(p).size
    assert(dotSites == 1,
      s"n78 plans $dotSites dot_product sites (want 1 — above the fetch):\n$p")
    // and that one site must sit AFTER the SDC stage in the plan's
    // bottom-up order: the dot's projection consumes the fetch join,
    // whose probe side is the R-cut TopKPerKey over sdist
    assert(p.indexOf("dot_product") < p.indexOf("pq_sdc"),
      s"n78 exact dot does not sit above the SDC shortlist stage:\n$p")
  }

  test("n80 trained two-stage join: the n78 shape verbatim (trained codewords change constants, not the plan)") {
    val p = assertNoPairBlowup("n80_pq_knn_rerank_trained")
    assert(p.contains("pq_sdc") && p.contains("pq_encode"),
      s"n80 shortlist stage does not rank on the PQ kernels:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"n80 re-rank fetch is not a shuffle-hash id join:\n$p")
    assert("dot_product".r.findAllIn(p).size == 1,
      s"n80 must have exactly one dot_product site (above the fetch):\n$p")
  }

  test("n81 adc two-stage join: asymmetric kernel site, no SDC; shuffle-hash fetch; one dot site above it") {
    val p = assertNoPairBlowup("n81_pq_knn_rerank_adc")
    // stage 1 ranks on the join-scale ADC kernel: the query side rides as
    // raw integer vectors, the index side as codes — exactly one site,
    // and NO pq_sdc anywhere (the shortlist is asymmetric by design)
    assert("pq_adc_q".r.findAllIn(p).size == 1,
      s"n81 must plan exactly one pq_adc_q site:\n$p")
    assert(!p.contains("pq_sdc"),
      s"n81 must not plan an SDC site — the shortlist is asymmetric:\n$p")
    assert(p.contains("pq_encode"),
      s"n81 index side does not encode codes:\n$p")
    assert(p.contains("TopKPerKey"),
      s"n81 does not plan the bounded-heap top-k operator:\n$p")
    // stage 2 is the shared rerankJoinTail: shuffle-hash id fetch, one
    // exact-dot site above it (the n78 contract)
    assert(p.contains("ShuffledHashJoin"),
      s"n81 re-rank fetch is not a shuffle-hash id join:\n$p")
    assert("dot_product".r.findAllIn(p).size == 1,
      s"n81 must have exactly one dot_product site (above the fetch):\n$p")
    assert(p.indexOf("dot_product") < p.indexOf("pq_adc_q"),
      s"n81 exact dot does not sit above the ADC shortlist stage:\n$p")
  }

  test("n84 trained asymmetric join: the n81 shape verbatim (trained codewords change constants, not the plan)") {
    val p = assertNoPairBlowup("n84_pq_knn_rerank_adc_trained")
    assert("pq_adc_q".r.findAllIn(p).size == 1 && !p.contains("pq_sdc"),
      s"n84 shortlist is not a single asymmetric-kernel site:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"n84 re-rank fetch is not a shuffle-hash id join:\n$p")
    assert("dot_product".r.findAllIn(p).size == 1,
      s"n84 must have exactly one dot_product site (above the fetch):\n$p")
  }

  test("n82 geo64 ivf-pq: the n61 shuffle-free scan shape at the finer geometry") {
    val p = plan("n82_ivf_pq_geo64")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("pq_encode") && p.contains("pq_adc"),
      s"n82 does not plan the PQ kernels:\n$p")
    // nlist=64 changes the quantizer constants, not the plan: probe set
    // and LUT stay driver literals, the ranking ONE shuffle-free scan
    assert(!p.contains("Exchange"), s"n82 plans a shuffle:\n$p")
  }

  test("cell-join crossover: above the size threshold the kNN-join cell join pins to shuffled-hash; the bench point does not") {
    import org.apache.spark.sql.functions._
    // the ProbePqJoinScale corpus construction, sized just past the 3 MiB
    // crossover (16k x 64 floats of xxhash noise — incompressible)
    val dir = Tables.scratchDir("xoverspec").resolve("emb.parquet")
    val comps = transform(sequence(lit(0), lit(63)), i =>
      (pmod(xxhash64(col("id"), i), lit(1000001L)).cast("double")
        / 1000000.0 - 0.5).cast("float"))
    spark.range(16000).select(col("id").as("vec_id"), comps.as("embedding"),
        lit(0).as("label"))
      .repartition(8).write.mode("overwrite").parquet(dir.toString)
    val big = spark.read.parquet(dir.toString)
    assert(graft.ops.Similarity.cellJoinLargeProbe(big),
      "16k synthetic corpus must sit above the crossover threshold")
    // above threshold: the one join in the n65 plan (the cell join) must
    // be pinned to shuffled-hash so AQE cannot demote the verify stage's
    // parallelism to a broadcast over a coalesced stream side (the
    // measured ~4x inversion at n=20000, BASELINE round-17)
    import graft.ops.{Codebook, JoinSpec, Ranking}
    val p = JoinSpec.PqCodes(Codebook.Md5, Ranking.Sdc, rerank = false).plan(big)
      .queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"),
      s"above-threshold n65 cell join is not shuffled-hash:\n$p")
    // n78 takes the same crossover: its cell join is the third
    // shuffled-hash join beside the two shortlist id fetches
    val p78 = JoinSpec.PqCodes(Codebook.Md5, Ranking.Sdc, rerank = true).plan(big)
      .queryExecution.executedPlan.toString
    assert("ShuffledHashJoin".r.findAllMatchIn(p78).size === 3,
      s"above-threshold n78 cell join is not shuffled-hash:\n$p78")
    // the oracle-gated bench point stays below the threshold: its
    // measured-optimal AQE plan (and its hash) are untouched
    assert(!graft.ops.Similarity.cellJoinLargeProbe(
      Tables.embeddings(spark, T.sf0001)),
      "the sf0.001 bench-point source must stay below the crossover threshold")
  }

  test("n83 streaming trained join: stored probe sets and stored codes — no encode, no probe shuffle; shuffle-hash fetch") {
    // building this plan replays the staged stream first (the n41/n71
    // precedent); the asserted plan is the join over the committed state
    val p = assertNoPairBlowup("n83_streaming_pq_knn_rerank_trained")
    // the probe side EXPLODES the per-vector probe sets computed at
    // ingest — a Generate, not a TopKPerKey shuffle over a score stream
    assert(p.contains("Generate explode"),
      s"n83 probe side does not explode the stored probe sets:\n$p")
    // ranks STORED codes: the SDC kernel appears, the encode kernel must
    // NOT — encoding happened once at ingest, the query plan reads codes
    assert(p.contains("pq_sdc"),
      s"n83 does not rank on the SDC kernel:\n$p")
    assert(!p.contains("pq_encode"),
      s"n83 re-encodes at query time — the state read is not codes-only:\n$p")
    assert(p.contains("ShuffledHashJoin"),
      s"n83 re-rank fetch is not a shuffle-hash id join:\n$p")
    assert("dot_product".r.findAllIn(p).size == 1,
      s"n83 must have exactly one dot_product site (above the fetch):\n$p")
  }

  test("n62 domain cap: the quota cut is the custom TopKPerKey operator") {
    val p = plan("n62_domain_cap")
    assert(p.contains("TopKPerKey"),
      s"n62 does not plan the bounded-heap quota cut:\n$p")
  }

  test("n53 embedding deduped corpus: anti-join rollup, no cartesian") {
    // building this plan runs the label propagation first (the n41
    // precedent); the asserted plan is the anti-join + per-label rollup
    // over the checkpointed labels
    assertNoPairBlowup("n53_embedding_dedup_corpus")
  }

  test("n41 streaming manifest: final-state joins are hash joins, no cartesian") {
    // building this plan replays the staged stream first (the d20/d21
    // precedent); the asserted plan is the manifest derivation over the
    // persisted state tables
    assertNoPairBlowup("n41_streaming_manifest")
  }

  test("n42 knn join: cell equi-join + TopKPerKey cuts, no cartesian") {
    val p = assertNoPairBlowup("n42_knn_join")
    assert(p.contains("TopKPerKey"),
      s"n42 does not plan the bounded-heap top-k operator:\n$p")
    // centroid scoring at nlist=8 is the DESIGNED shape: an explode of the
    // plan-literal centroid array (a Generate node — nlist x dim doubles as
    // a plan constant), never a join against a materialized centroid
    // table. When nlist reaches the tens of thousands the audited
    // expectation flips to a BroadcastHashJoin against a centroid frame
    // (the knnJoin scaladoc's switch); at today's nlist a broadcast here
    // would mean the literal path silently regressed into an exchange.
    assert(p.contains("Generate explode"),
      s"n42 centroid scoring is not the literal-explode shape:\n$p")
    // the candidate stage must be an equi-join on the int cell id — each
    // query row moves nProbe times, each index vector once
    assert("hashpartitioning\\(cell#\\d+".r.findFirstIn(p).isDefined
      || p.contains("BroadcastHashJoin"),
      s"n42 candidate join neither shuffles on cell nor broadcasts:\n$p")
  }

  test("n56 media dedup: fingerprint + cluster-label joins are hash joins, no cartesian") {
    // building this plan runs the banded pair stage + label propagation
    // first (the n53/n41 precedent — the labels land as a checkpointed
    // LogicalRDD); the asserted plan is the manifest derivation: the fp
    // keeper join and the cluster join must stay hash, never a pair space
    assertNoPairBlowup("n56_media_dedup")
  }

  test("n59 media pipeline: stages fuse into one plan, dedup shuffles on fp") {
    val p = assertNoPairBlowup("n59_media_pipeline")
    // the exact-dedup window must shuffle on the constant-width md5
    // fingerprint; the gate and split predicates are map-side, so the
    // whole five-stage chain is one fused plan (the n33 property)
    assert("hashpartitioning\\(fp#\\d+".r.findFirstIn(p).isDefined,
      s"n59 dedup window does not shuffle on fp:\n$p")
  }

  test("n40 source overlap: gram self-join shuffles on the md5, no cartesian") {
    val p = assertNoPairBlowup("n40_source_overlap")
    assert("hashpartitioning\\(h#\\d+".r.findFirstIn(p).isDefined
      || p.contains("BroadcastHashJoin"),
      s"n40 gram join neither shuffles on h nor broadcasts:\n$p")
  }

  test("n43 bigram LM: model and scoring joins are hash joins, no cartesian") {
    val p = assertNoPairBlowup("n43_bigram_lm")
    // the envelope guard must not break whole-stage codegen of the model
    assert(p.contains("HashAggregate"), s"n43 lost partial aggregation:\n$p")
  }

  test("n44 bloom decontamination: verify semi-join and keep anti-join are hash joins") {
    val p = assertNoPairBlowup("n44_bloom_decontam")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"n44 lost its semi/anti join structure:\n$p")
  }

  test("n45 segment dedup: attribution index shuffles on the md5 hash, no cartesian") {
    val p = assertNoPairBlowup("n45_segment_dedup")
    assert("hashpartitioning\\(h#\\d+".r.findFirstIn(p).isDefined
      || p.contains("BroadcastHashJoin"),
      s"n45 attribution join neither shuffles on h nor broadcasts:\n$p")
  }

  test("n48 streaming drift: final-state derivation is vocab-sized, no cartesian") {
    // building this plan replays the staged stream first (the n41
    // precedent); the asserted plan is driftFromCounts over the persisted
    // vocabulary-sized count state
    assertNoPairBlowup("n48_streaming_drift")
  }

  test("n46 snapshot drift: single-pass conditional counts, totals join stays hash") {
    val p = assertNoPairBlowup("n46_snapshot_drift")
    // one explode feeding a partial-aggregated (source, word) count; the
    // two snapshots must NOT appear as two scans of the corpus
    assert(p.contains("HashAggregate"), s"n46 lost partial aggregation:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("n47 cdc chunks: window passes share one doc_id sort, attribution on md5") {
    val p = assertNoPairBlowup("n47_cdc_chunks")
    assert(p.contains("Window"), s"n47 lost its window passes:\n$p")
    assert("hashpartitioning\\(h#\\d+".r.findFirstIn(p).isDefined
      || p.contains("BroadcastHashJoin"),
      s"n47 attribution join neither shuffles on h nor broadcasts:\n$p")
  }

  test("n49 quality mixing: stratum table broadcasts onto the bucket predicate") {
    val p = assertNoPairBlowup("n49_quality_mixing")
    assert(p.contains("BroadcastHashJoin"),
      s"n49 stratum join is not broadcast:\n$p")
  }

  test("n50 inner segment dedup: aggregation keyed by doc, no cross-doc exchange width") {
    val p = assertNoPairBlowup("n50_inner_segment_dedup")
    assert("hashpartitioning\\(doc_id#\\d+".r.findFirstIn(p).isDefined,
      s"n50 does not partition by doc_id:\n$p")
  }

  test("n51 dup-segment leaderboard: ordered limit plans as bounded top-k, not a global sort") {
    val p = assertNoPairBlowup("n51_dup_segment_top")
    assert(p.contains("TakeOrderedAndProject") || p.contains("TopK"),
      s"n51 materializes a global sort for a 20-row answer:\n$p")
  }

  test("n33 pipeline: stages fuse into one plan, no cartesian") {
    val p = assertNoPairBlowup("n33_pipeline_e2e")
    // the dedup window must shuffle on the constant-width fingerprint; the
    // quality gate and split predicates are map-side (no extra exchange
    // between the dedup window and the final aggregate beyond the agg's own)
    assert("hashpartitioning\\(fp#\\d+".r.findFirstIn(p).isDefined,
      s"n33 dedup window does not shuffle on fp:\n$p")
  }

  test("d90: bitmap construction is partial-aggregated before the shuffle") {
    val p = plan("d90_bitmap_distinct")
    // map-side partial bitmaps must form BEFORE the exchange: the shuffle
    // then carries one fixed-width bitmap per (group, bucket), not raw keys
    assert(p.contains("partial_bitmap_construct_agg"), p)
  }

  test("SQL join-strategy and distribution hints reach the physical plan") {
    Tables.orders(spark, T.sf0001).createOrReplaceTempView("v_hints_o")
    Tables.customer(spark, T.sf0001).createOrReplaceTempView("v_hints_c")
    // BROADCAST forces a broadcast join even where sizes wouldn't pick one
    val bhj = spark.sql(
      """SELECT /*+ BROADCAST(c) */ c.c_mktsegment, COUNT(*) AS n
        |FROM v_hints_o o JOIN v_hints_c c ON o.o_custkey = c.c_custkey
        |GROUP BY 1""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(bhj.contains("BroadcastHashJoin"), bhj)
    // MERGE forces sort-merge on the same join
    val smj = spark.sql(
      """SELECT /*+ MERGE(c) */ c.c_mktsegment, COUNT(*) AS n
        |FROM v_hints_o o JOIN v_hints_c c ON o.o_custkey = c.c_custkey
        |GROUP BY 1""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(smj.contains("SortMergeJoin"), smj)
    // REPARTITION hint lands a user-requested shuffle with the asked width
    val rep = spark.sql(
      "SELECT /*+ REPARTITION(7, o_custkey) */ o_orderkey FROM v_hints_o")
      .queryExecution.executedPlan.toString
    assert(rep.contains("REPARTITION_BY_NUM") && rep.contains("hashpartitioning(o_custkey"), rep)
    // REBALANCE plans an AQE-managed output rebalance
    val reb = spark.sql(
      "SELECT /*+ REBALANCE(o_orderpriority) */ o_orderkey, o_orderpriority FROM v_hints_o")
      .queryExecution.executedPlan.toString
    assert(reb.contains("REBALANCE"), reb)
  }

  test("whole-stage codegen covers the d01 aggregation pipeline") {
    // AQE only materializes codegen stages in the final plan — execute first
    val df = graft.SparkEntry.queries("d01_pricing_summary")(spark, T.sf0001)
    df.collect() // finalizes THIS queryExecution's adaptive plan (a write
    // would execute a separate wrapping plan and leave this one unplanned)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p)
    // "*(n)" prefixes are the WholeStageCodegen stage markers: scan-filter-
    // project-partialAgg must share one codegen stage, finalAgg another
    assert(p.contains("*(1) Filter") && p.contains("*(1) HashAggregate"), p)
    assert(p.contains("*(2) HashAggregate"), p)
  }
}
