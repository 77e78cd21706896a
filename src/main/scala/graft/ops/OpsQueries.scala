package graft.ops

import graft.queries.BatchQueries.QueryFn

/**
 * Registry of the north-star operator queries (dedup, similarity search,
 * text analysis, multimodal) — the LLM-training-data-pipeline surface that
 * complements the relational inventory in [[graft.queries.BatchQueries]].
 *
 * Oracle-backed wherever DuckDB can express the computation exactly; the
 * hash/seed-dependent paths (SimHash, LSH-ANN, IVF) are rows-only checked by
 * the driver and recall-asserted in the test suite.
 */
object OpsQueries {

  /** The IVF/PQ ladder rungs the streaming indexes converge to or train
    * from (the full ladder table is on [[AnnSpec]]). */
  private val n61 = ScanSpec()
  private val n68: JoinSpec = JoinSpec.Sq8
  private val n75 = ScanSpec(rerank = true)
  val n76 = ScanSpec(Codebook.Trained(Pq.NCodeHi), residual = true,
    rerank = true)
  val n80 = JoinSpec.PqCodes(Codebook.Trained(Pq.NCodeHi), Ranking.Sdc,
    rerank = true)

  /** Every rung as a spec literal: its query runs the shape's planner, its
    * oracle (md5 codebooks only) is built from the same literal. */
  private val ladder: Seq[(String, AnnSpec)] = Seq(
    "n60_knn_join_det" -> JoinSpec.Exact,
    "n61_ivf_pq" -> n61,
    "n65_pq_knn_join" -> JoinSpec.PqCodes(Codebook.Md5, Ranking.Sdc, rerank = false),
    "n66_ivf_pq_trained" -> ScanSpec(Codebook.Trained(Pq.NCode)),
    "n68_sq8_knn_join" -> n68,
    "n72_ivf_pq_residual" -> ScanSpec(residual = true),
    "n73_ivf_pq_residual_trained" ->
      ScanSpec(Codebook.Trained(Pq.NCodeHi), residual = true),
    "n75_ivf_pq_rerank" -> n75,
    "n76_ivf_pq_rerank_trained" -> n76,
    "n78_pq_knn_rerank" -> JoinSpec.PqCodes(Codebook.Md5, Ranking.Sdc, rerank = true),
    "n80_pq_knn_rerank_trained" -> n80,
    "n81_pq_knn_rerank_adc" -> JoinSpec.PqCodes(Codebook.Md5, Ranking.Adc, rerank = true),
    "n82_ivf_pq_geo64" -> ScanSpec(geometry = IvfGeometry.Fine),
    "n84_pq_knn_rerank_adc_trained" ->
      JoinSpec.PqCodes(Codebook.Trained(Pq.NCodeHi), Ranking.Adc, rerank = true),
  )

  val queries: Map[String, QueryFn] =
    ladder.map { case (n, s) => n -> s.query }.toMap ++ Map(
    "n01_dedup_fingerprint" -> (Dedup.exactDedupQuery _),
    "n02_dedup_minhash_lsh" -> (Dedup.minHashDedupQuery _),
    "n03_ngram_jaccard" -> (Dedup.ngramJaccardQuery _),
    "n04_dedup_simhash" -> (Dedup.simHashDedupQuery _),
    "n05_dedup_embedding" -> (Dedup.embeddingNearDupQuery _),
    "n06_ann_lsh" -> (Similarity.annLshQuery _),
    "n07_ann_ivf" -> (Similarity.ivfQuery _),
    "n08_lang_id" -> (TextAnalysis.langIdQuery _),
    "n09_quality_score" -> (TextAnalysis.qualityScoreQuery _),
    "n10_token_count" -> (TextAnalysis.tokenCountQuery _),
    "n11_fingerprint" -> (TextAnalysis.fingerprintQuery _),
    "n12_multimodal_meta" -> (Multimodal.multimodalQuery _),
    "n13_tfidf_top_term" -> (TextAnalysis.tfidfQuery _),
    "n14_hash_sample" -> (Sampling.hashSampleQuery _),
    "n15_seq_packing" -> ((s, d) => Sampling.seqPackingQuery(s, d)),
    "n16_repetition_stats" -> (TextAnalysis.repetitionStatsQuery _),
    "n17_multimodal_frames" -> (Multimodal.frameSampleQuery _),
    "n18_stratified_sample" -> (Sampling.stratifiedSampleQuery _),
    "n19_chunking" -> ((s, d) => Corpus.chunkingQuery(s, d)),
    "n20_contamination" -> (Corpus.contaminationQuery _),
    "n21_vocab_coverage" -> (Corpus.vocabCoverageQuery _),
    "n22_mixing_weights" -> (Corpus.mixingWeightsQuery _),
    "n23_pii_redact" -> (Corpus.piiRedactQuery _),
    "n24_domain_extract" -> (Corpus.domainExtractQuery _),
    "n25_edit_distance" -> (Dedup.editDistanceQuery _),
    "n26_embedding_lsh" -> (Dedup.embeddingLshDedupQuery _),
    "n27_dedup_clusters" -> (Dedup.nearDupClustersQuery _),
    "n28_dup_span_stats" -> (TextAnalysis.dupSpanStatsQuery _),
    "n29_quality_quantile" -> (TextAnalysis.qualityQuantileQuery _),
    "n30_boilerplate" -> (Corpus.boilerplateStatsQuery _),
    "n31_temperature_mix" -> ((s, d) => Corpus.temperatureMixingQuery(s, d)),
    "n32_host_canonical" -> (Pipeline.hostCanonicalQuery _),
    "n33_pipeline_e2e" -> (Pipeline.pipelineQuery _),
    "n34_novelty" -> (TextAnalysis.noveltyQuery _),
    "n35_label_centroid" -> (Similarity.labelCentroidQuery _),
    "n36_dedup_corpus" -> (Dedup.dedupedCorpusQuery _),
    "n37_embedding_clusters" -> (Dedup.embeddingClustersQuery _),
    "n38_dedup_manifest" -> (Dedup.dedupManifestQuery _),
    "n39_knn_graph" -> ((s, d) => Similarity.knnGraphQuery(s, d)),
    "n40_source_overlap" -> ((s, d) => Corpus.sourceOverlapQuery(s, d)),
    "n41_streaming_manifest" -> ((s, d) => IncrementalDedup.streamingManifestQuery(s, d)),
    // seed-dependent (KMeans centroids): rows-only; recall-vs-n39 in OpsSpec
    "n42_knn_join" -> (Similarity.knnJoinQuery _),
    "n43_bigram_lm" -> (TextAnalysis.bigramLmQuery _),
    "n44_bloom_decontam" -> ((s, d) => Corpus.bloomDecontamQuery(s, d)),
    "n45_segment_dedup" -> ((s, d) => TextAnalysis.segmentDedupQuery(s, d)),
    "n46_snapshot_drift" -> (Corpus.snapshotDriftQuery _),
    "n47_cdc_chunks" -> (Corpus.cdcChunkQuery _),
    "n48_streaming_drift" -> ((s, d) => IncrementalDrift.streamingDriftQuery(s, d)),
    "n49_quality_mixing" -> ((s, d) => Corpus.qualityMixingQuery(s, d)),
    "n50_inner_segment_dedup" -> ((s, d) => TextAnalysis.innerSegmentDedupQuery(s, d)),
    "n51_dup_segment_top" -> ((s, d) => TextAnalysis.dupSegmentTopQuery(s, d)),
    "n52_streaming_embedding_clusters" ->
      ((s, d) => IncrementalEmbedDedup.streamingEmbeddingClustersQuery(s, d)),
    "n53_embedding_dedup_corpus" -> (Dedup.dedupedEmbeddingCorpusQuery _),
    "n54_media_resize" -> (Multimodal.resizeQuery _),
    "n55_media_features" -> (Multimodal.featureQuery _),
    "n56_media_dedup" -> (Multimodal.mediaDedupManifestQuery _),
    "n57_media_dedup_corpus" -> (Multimodal.mediaDedupCorpusQuery _),
    "n58_streaming_media_clusters" ->
      ((s, d) => Multimodal.streamingMediaClustersQuery(s, d)),
    "n59_media_pipeline" -> (Multimodal.mediaPipelineQuery _),
    // per-domain quota on the TopKPerKey whole-operator
    "n62_domain_cap" -> ((s, d) => Pipeline.domainCapQuery(s, d)),
    // the incremental twin of n61: foreachBatch encode, cell-bucketed levels
    "n63_streaming_ivf_pq" -> ((s, d) => IncrementalAnn.streamingIvfPqQuery(s, d)),
    // split-aware decontamination: n02 near-dup pairs straddling the n14 split
    "n64_split_leakage" -> (Pipeline.splitLeakageQuery _),
    // the incremental twin of n62: batch-local TopKPerKey cuts appended,
    // host-bucketed levels, selection associativity ⇒ batch answer
    "n67_streaming_domain_cap" ->
      ((s, d) => IncrementalQuota.streamingDomainCapQuery(s, d)),
    // the ingest-gate twin of n44: per-batch Bloom screen + exact verify
    // against the static benchmark grams; verdicts are per-row functions
    "n69_streaming_decontam" ->
      ((s, d) => IncrementalDecontam.streamingDecontamQuery(s, d)),
    // the per-source dataset card: n10/n09/n01's shared expressions
    // rolled up into the corpus report a training run publishes
    "n70_dataset_card" -> (Corpus.datasetCardQuery _),
    // the incremental twin of n68: SQ8 codes + precomputed probe sets
    // ingested per batch, cell-bucketed levels — the ×8-narrower state
    "n71_streaming_sq8_knn" ->
      ((s, d) => IncrementalSq8.streamingSq8KnnQuery(s, d)),
    // the n70 card + the near-dup rate from the n38 manifest verdicts,
    // reduced to S per-source counts before a broadcast join
    "n74_card_neardup" -> (Corpus.datasetCardNearDupQuery _),
    // IVFADC-R on streaming state: codes shortlist from the pruned n63
    // index read, vectors fetched from the source table by id
    "n77_streaming_ivf_pq_rerank" ->
      ((s, d) => IncrementalAnn.streamingIvfPqRerankQuery(s, d)),
    // the n77 ingest on the TRAINED residual-256 quantizer (persisted
    // beside the state for restart stability): the n76 quality rung
    // served from streaming state — rows-only, equality-to-n76 gated
    "n79_streaming_ivf_pq_trained" ->
      ((s, d) => IncrementalAnn.streamingIvfPqTrainedRerankQuery(s, d)),
    // the n80 trained two-stage join served from streaming state: stored
    // probe sets + stored codes (raw trained codebook as a zero-centroid
    // quantizer), SDC shortlist, exact re-rank fetch from the source
    // table — rows-only (trained codebook), equality-to-n80 gated
    "n83_streaming_pq_knn_rerank_trained" ->
      ((s, d) => IncrementalAnn.streamingPqKnnRerankTrainedQuery(s, d)),
  )

  val oracles: Map[String, String] =
    ladder.flatMap { case (n, s) => s.oracle.map(n -> _) }.toMap ++ Map(
    "n01_dedup_fingerprint" -> Dedup.exactDedupOracle,
    "n02_dedup_minhash_lsh" -> Dedup.jaccardPairsOracle,
    "n03_ngram_jaccard" -> Dedup.jaccardPairsOracle,
    // round 8: n04's word hash is md5-derived, so DuckDB recomputes the
    // exact SimHash fingerprints; round 9 extended the trick to n06's LSH
    // planes and n07's IVF cell directions. Only n42 (trained KMeans
    // quantizer) remains rows-only among the ANN family.
    "n04_dedup_simhash" -> Dedup.simHashPairsOracle,
    "n06_ann_lsh" -> Similarity.annLshOracle,
    "n07_ann_ivf" -> Similarity.ivfOracle,
    "n05_dedup_embedding" -> Dedup.embeddingNearDupOracle,
    "n08_lang_id" -> TextAnalysis.langIdOracle,
    "n09_quality_score" -> TextAnalysis.qualityScoreOracle,
    "n10_token_count" -> TextAnalysis.tokenCountOracle,
    "n11_fingerprint" -> TextAnalysis.fingerprintOracle,
    "n12_multimodal_meta" -> Multimodal.multimodalOracle,
    "n13_tfidf_top_term" -> TextAnalysis.tfidfOracle,
    "n14_hash_sample" -> Sampling.hashSampleOracle,
    "n15_seq_packing" -> Sampling.seqPackingOracle,
    "n16_repetition_stats" -> TextAnalysis.repetitionStatsOracle,
    "n17_multimodal_frames" -> Multimodal.frameSampleOracle,
    "n18_stratified_sample" -> Sampling.stratifiedSampleOracle,
    "n19_chunking" -> Corpus.chunkingOracle(),
    "n20_contamination" -> Corpus.contaminationOracle,
    "n21_vocab_coverage" -> Corpus.vocabCoverageOracle,
    "n22_mixing_weights" -> Corpus.mixingWeightsOracle,
    "n23_pii_redact" -> Corpus.piiRedactOracle,
    "n24_domain_extract" -> Corpus.domainExtractOracle,
    "n25_edit_distance" -> Dedup.editDistanceOracle(),
    "n26_embedding_lsh" -> Dedup.embeddingLshOracle,
    "n27_dedup_clusters" -> Dedup.nearDupClustersOracle,
    "n28_dup_span_stats" -> TextAnalysis.dupSpanStatsOracle,
    "n29_quality_quantile" -> TextAnalysis.qualityQuantileOracle,
    "n30_boilerplate" -> Corpus.boilerplateStatsOracle,
    "n31_temperature_mix" -> Corpus.temperatureMixingOracle,
    "n32_host_canonical" -> Pipeline.hostCanonicalOracle,
    "n33_pipeline_e2e" -> Pipeline.pipelineOracle,
    "n34_novelty" -> TextAnalysis.noveltyOracle,
    "n35_label_centroid" -> Similarity.labelCentroidOracle,
    "n36_dedup_corpus" -> Dedup.dedupedCorpusOracle,
    "n37_embedding_clusters" -> Dedup.embeddingClustersOracle,
    "n38_dedup_manifest" -> Dedup.dedupManifestOracle,
    "n39_knn_graph" -> Similarity.knnGraphOracle,
    "n40_source_overlap" -> Corpus.sourceOverlapOracle,
    // incremental maintenance must converge to the batch answer: same SQL
    "n41_streaming_manifest" -> Dedup.dedupManifestOracle,
    "n43_bigram_lm" -> TextAnalysis.bigramLmOracle,
    // exact result: the Bloom stage is a prefilter, not an approximation
    "n44_bloom_decontam" -> Corpus.bloomDecontamOracle,
    "n45_segment_dedup" -> TextAnalysis.segmentDedupOracle,
    "n46_snapshot_drift" -> Corpus.snapshotDriftOracle,
    "n47_cdc_chunks" -> Corpus.cdcChunkOracle,
    // incremental maintenance must converge to the batch answer: same SQL
    "n48_streaming_drift" -> Corpus.snapshotDriftOracle,
    "n49_quality_mixing" -> Corpus.qualityMixingOracle,
    "n50_inner_segment_dedup" -> TextAnalysis.innerSegmentDedupOracle,
    "n51_dup_segment_top" -> TextAnalysis.dupSegmentTopOracle,
    // incremental maintenance converges to the batch n37 answer, so the
    // batch oracle applies verbatim (the n41/n48 pattern)
    "n52_streaming_embedding_clusters" -> Dedup.embeddingClustersOracle,
    "n53_embedding_dedup_corpus" -> Dedup.dedupedEmbeddingCorpusOracle,
    "n54_media_resize" -> Multimodal.resizeOracle,
    "n55_media_features" -> Multimodal.featureOracle,
    "n56_media_dedup" -> Multimodal.mediaDedupManifestOracle,
    "n57_media_dedup_corpus" -> Multimodal.mediaDedupCorpusOracle,
    // incremental maintenance converges to the batch n56 closure: same SQL
    "n58_streaming_media_clusters" -> Multimodal.streamingMediaClustersOracle,
    "n59_media_pipeline" -> Multimodal.mediaPipelineOracle,
    "n62_domain_cap" -> Pipeline.domainCapOracle,
    // encode/cell are per-row deterministic ⇒ the incremental index equals
    // the batch n61 index exactly for any batching: the batch oracle verbatim
    "n63_streaming_ivf_pq" -> n61.oracle.get,
    "n64_split_leakage" -> Pipeline.splitLeakageOracle,
    // bounded selection is associative ⇒ the incremental quota equals the
    // batch n62 answer exactly for any batching: the batch oracle verbatim
    "n67_streaming_domain_cap" -> Pipeline.domainCapOracle,
    // per-row verdicts ⇒ the gate equals the batch n44 answer for any
    // batching: the batch oracle verbatim
    "n69_streaming_decontam" -> Corpus.bloomDecontamOracle,
    // integer counts/sums + two exact final divisions: hash-matched
    "n70_dataset_card" -> Corpus.datasetCardOracle,
    // codes/cells/probe sets are per-row functions ⇒ the incremental
    // index equals the batch n68 join for any batching: oracle verbatim
    "n71_streaming_sq8_knn" -> n68.oracle.get,
    // the n70 and n38 oracles composed as CTEs: hash-matched
    "n74_card_neardup" -> Corpus.datasetCardNearDupOracle,
    // index state == batch encode per row (the n63 theorem) ⇒ the
    // streaming two-stage query equals batch n75: oracle verbatim
    "n77_streaming_ivf_pq_rerank" -> n75.oracle.get,
    // n79/n83 omitted: trained quantizers (rows-only), bounded by
    // IncrementalAnnSpec's equality to the batch n76/n80 plans
  )
}
