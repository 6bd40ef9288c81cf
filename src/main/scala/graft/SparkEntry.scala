package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{BpeTrainer, CorpusOps, EmbeddingOps, EventOps, TextOps}
import graft.sources.Synth

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries marked with an oracle run against the sandbox proxy tables
  * (`events`/`documents`/`embeddings`, FIXTURES.md §7) so DuckDB can verify
  * them; queries without an oracle (hash-signature and pipeline operators)
  * get the rows-only check and are verified in the ScalaTest suites instead.
  */
object SparkEntry {

  /** Flagship: the full batch pipeline (decode → validate → convert →
    * enrich → dedup → lake layout) on deterministic synthetic input. */
  def entry(spark: SparkSession): DataFrame = {
    Sessions.tune(spark)
    Pipeline.run(Synth.inputTable(spark, 5000))
  }


  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- LRS query surface (SURVEY.md §2.2/§2.3) on the events proxy ----
    "q_lrs_get_window" -> ((s, d) => EventOps.getWindow(s, d)),
    "q_lrs_get_asc" -> ((s, d) => EventOps.getWindow(s, d, ascending = true)),
    "q_lrs_by_id" -> ((s, d) => EventOps.byId(s, d)),
    "q_lrs_by_agent" -> ((s, d) => EventOps.byAgent(s, d)),
    "q_lrs_keyset_page2" -> ((s, d) => EventOps.keysetPage2(s, d)),
    "q_lrs_json_extract" -> ((s, d) => EventOps.jsonExtract(s, d)),
    // ---- aggregations / windows / sessions (SURVEY.md §2.8) -------------
    "q_distinct_users" -> ((s, d) => EventOps.distinctUsers(s, d)),
    "q_tumbling_counts" -> ((s, d) => EventOps.tumblingCounts(s, d)),
    "q_sliding_counts" -> ((s, d) => EventOps.slidingCounts(s, d)),
    "q_sessionize" -> ((s, d) => EventOps.sessionize(s, d)),
    // r4 CEP: time-bounded ordered funnel (view→click→purchase, each ≤12h)
    // as a one-exchange windowed state machine; streaming twin = Funnel
    "q_cep_funnel" -> ((s, d) => EventOps.cepFunnel(s, d)),
    // r4: as-of attribution join (click → latest view at-or-before), the
    // union+last-ignoreNulls trick — no join operator, verified vs DuckDB's
    // native ASOF JOIN
    "q_asof_join" -> ((s, d) => EventOps.asofAttribution(s, d)),
    // r6: point-in-interval range join via grid bucketing (equi-join on
    // time cells — the naive theta join would be a cartesian; the global
    // PlanSpec no-CartesianProduct gate proves this plan isn't)
    "q_range_join" -> ((s, d) => EventOps.rangeJoinQuery(s, d)),
    // r6: gaps-and-islands → SCD-2 validity intervals per actor
    "q_scd2_islands" -> ((s, d) => EventOps.scd2Islands(s, d)),
    // ---- training-data text ops -----------------------------------------
    "q_dedup_exact" -> ((s, d) => TextOps.dedupExact(s, d)),
    "q_token_count" -> ((s, d) => TextOps.tokenCount(s, d)),
    "q_text_quality" -> ((s, d) => TextOps.quality(s, d)),
    "q_lang_id" -> ((s, d) => TextOps.langId(s, d)),
    "q_ngram_jaccard" -> ((s, d) => TextOps.jaccardPairs(s, d)),
    // served via the CorpusOps keyed cache: one pair graph per session,
    // shared with the whole dedup family by construction (not by
    // CacheManager plan-matching luck)
    "q_minhash_lsh" -> ((s, d) => CorpusOps.nearDupPairs(s, d)),
    // banded (4×16-bit) + exact-verify = ALL pairs at hamming ≤ 3; the
    // md5-derived 63-bit signature is recomputed independently by DuckDB
    "q_simhash_pairs" -> ((s, d) => TextOps.simhashPairs(s, d)),
    // invariant oracle: purity + injectivity ⇔ n_distinct_fp == n_texts
    "q_fingerprint" -> ((s, d) => TextOps.fingerprintCheck(s, d)),
    // r6 retrieval family: BM25 query scoring (the dedup-against-eval /
    // topical-slice primitive) and MOSS-style winnowing fingerprints (the
    // LOCAL overlap index set-based MinHash/SimHash cannot provide)
    "q_bm25_topk" -> ((s, d) => graft.operators.SearchOps.bm25TopK(s, d)),
    "q_winnow" -> ((s, d) => graft.operators.SearchOps.winnowFingerprints(s, d)),
    // r6 late: the MOSS report shape — pairs sharing >=2 fingerprints with
    // the matched span localized on each side (hot-fp capped self-join)
    "q_winnow_pairs" -> ((s, d) => graft.operators.SearchOps.winnowPairs(s, d)),
    // r6 privacy audit: quasi-identifier tuples matched by < k docs
    "q_k_anon" -> ((s, d) => graft.operators.SearchOps.kAnonAudit(s, d)),
    // r6 layout family: Morton-key kernel proof + end-to-end zone-map file
    // pruning (Z-order write → pruned read → exact integer aggregates; the
    // spec proves files were actually skipped, the oracle proves nothing
    // was lost)
    "q_zorder_key" -> ((s, d) => graft.operators.LayoutOps.zorderKeyQuery(s, d)),
    "q_zorder_prune" -> ((s, d) => graft.operators.LayoutOps.zorderPruneQuery(s, d)),
    "q_mm_meta" -> ((s, d) => TextOps.multimodalMeta(s, d)),
    // r4: REAL MP4 box-walk round trip — deterministic containers built and
    // decoded in one narrow pass, closed-form oracle incl. quarantined rows
    "q_mp4_meta" -> ((s, d) => graft.operators.MediaOps.mp4MetaQuery(s, d)),
    // r5: REAL sample-byte extraction — stsz+stsc+stco/co64 → per-sample
    // (offset,size) → md5 of the sliced payload; the oracle recomputes
    // every hash from the closed-form payload strings
    "q_mp4_samples" -> ((s, d) => graft.operators.MediaOps.mp4SamplesQuery(s, d)),
    // r5: frame-level exact dedup over the REAL extracted sample bytes —
    // hash-keyed groupBy across the corpus, planted positives (payloads
    // keyed by doc_id mod 97), oracle recomputes every duplicate group
    "q_frame_dedup" -> ((s, d) => graft.operators.MediaOps.frameDedupQuery(s, d)),
    // r6 (keyframe-aware): frames are the video track's stss-designated
    // SYNC samples, fingerprinted from REAL extracted bytes — codec-bound
    // work is now only DECODING a frame, not finding/slicing/hashing it
    "q_frame_sample" -> ((s, d) => graft.operators.MediaOps.frameSampleQuery(s, d)
      .selectExpr("doc_id", "CAST(frame_idx AS BIGINT) AS frame_idx",
        "CAST(sample_idx AS BIGINT) AS sample_idx", "size", "frame_md5")),
    // ---- corpus-preparation ops (CorpusOps) ------------------------------
    "q_rep_signals" -> ((s, d) => CorpusOps.repetitionSignals(s, d)),
    "q_seq_pack" -> ((s, d) => CorpusOps.packSequences(s, d)),
    "q_pseudonymize" -> ((s, d) => CorpusOps.pseudonymize(s, d)),
    "q_decontam" -> ((s, d) => CorpusOps.contamination(s, d)),
    // r4: overlap-FRACTION contamination (the policy metric real
    // decontamination thresholds on; integer-exact keep boundary)
    "q_contam_overlap" -> ((s, d) => CorpusOps.contaminationOverlap(s, d)),
    // r4: overlapping sliding-window chunking (RAG/embedding prep) —
    // shuffle-free narrow explode, closed-form oracle
    "q_chunk_overlap" -> ((s, d) => CorpusOps.chunkDocs(s, d)),
    // r4: token-budget curation — best-quality docs until 40% of corpus
    // tokens, banded two-phase global cumsum (no single-partition sort)
    "q_token_budget" -> ((s, d) => CorpusOps.tokenBudget(s, d)),
    // r4: curriculum schedule — exact global quality rank + epoch slice
    // via the banded cumsum (weight 1), no single-partition sort
    "q_curriculum" -> ((s, d) => CorpusOps.curriculum(s, d)),
    // r4: leakage-safe train/eval split — whole near-dup clusters assigned
    // to a side by hashed representative (reuses the cached CC labels)
    "q_cluster_split" -> ((s, d) => CorpusOps.clusterSplit(s, d)),
    // r4: UniMax waterfilling token-budget allocation across sources —
    // windows run over the k-source aggregate, never the corpus
    "q_unimax_budget" -> ((s, d) => CorpusOps.unimaxBudget(s, d)),
    // r4: int8 embedding quantization fidelity audit (fused native pass:
    // scale, max reconstruction error, original↔decode cosine)
    "q_quant_embed" -> ((s, d) => EmbeddingOps.quantAudit(s, d)),
    // r6: fixed-point PCA — one O(d²)-state Gram pass + driver power
    // iteration + codegen'd projection; integer arithmetic end to end, so
    // the unrolled-CTE oracle matches bit-for-bit
    "q_embed_pca" -> ((s, d) => EmbeddingOps.pcaProjectQuery(s, d)),
    // r4: ROLLUP grouping sets — (source,lang) cells, subtotals, total
    "q_rollup_counts" -> ((s, d) => CorpusOps.rollupCounts(s, d)),
    // r4: PIVOT contingency matrix (source × language counts)
    "q_pivot_langs" -> ((s, d) => CorpusOps.pivotLangs(s, d)),
    // r4: lag-window interarrival profile per user (µs-exact gaps)
    "q_user_gaps" -> ((s, d) => CorpusOps.userGaps(s, d)),
    // r4: KL(source || corpus) unigram drift — mixture-planning audit
    "q_kl_source_drift" -> ((s, d) => CorpusOps.sourceDrift(s, d)),
    // r4: per-doc unigram entropy (information-theoretic repetition view)
    "q_text_entropy" -> ((s, d) => CorpusOps.textEntropy(s, d)),
    // r4: PMI collocations (multi-word units worth merging pre-tokenizer)
    "q_pmi_bigrams" -> ((s, d) => CorpusOps.pmiBigrams(s, d)),
    // r4: SpaceSaving heavy-hitters sketch Aggregator (bounded-memory
    // top-k; exact at the shipped capacity — the oracle proves it)
    "q_heavy_hitters" -> ((s, d) => CorpusOps.heavyHitters(s, d)),
    // r5: KLL-shaped mergeable quantile sketch (exact at the oracle
    // capacity — matches DuckDB quantile_disc bit-for-bit; production
    // dial's rank-error floor pinned in QuantileSpec)
    "q_quantile_sketch" -> ((s, d) => EventOps.quantileSketchQuery(s, d)),
    // r5: fixed-point PageRank over a deterministic synthetic link graph
    // (iterative join+agg, int64 micro-units — order-independent, oracle
    // is a recursive-CTE power iteration)
    "q_pagerank" -> ((s, d) => graft.operators.GraphOps.pageRankQuery(s, d)),
    // r6: triangle audit on the near-dup pair graph (degree-oriented
    // node-iterator — skew-proof wedge enumeration; rides the cached pair
    // graph, no new corpus scan)
    "q_triangles" -> ((s, d) => graft.operators.GraphOps.triangleCounts(s, d)),
    // r5: PII detect+redact with planted positives (RE2∩Java patterns,
    // redacted text md5-gated)
    "q_pii_redact" -> ((s, d) => TextOps.piiRedact(s, d)),
    // r5: KMV bottom-k sketch set ops — per-source distinct-shingle
    // cardinalities and pairwise union/intersection (exact at the oracle
    // k; small-k dial is bit-deterministic, error pinned in KmvSpec)
    "q_kmv_overlap" -> ((s, d) => TextOps.kmvSourceOverlap(s, d)),
    // r5: per-actor daily admission quota (batch twin of the streaming
    // Quota machine — first n per (user, UTC day) in event-time order)
    "q_rate_quota" -> ((s, d) => EventOps.rateQuota(s, d)),
    // r4: ordered aggregation — top user-journey prefixes
    "q_session_paths" -> ((s, d) => CorpusOps.sessionPaths(s, d)),
    // r4: UNPIVOT round trip of the pivot matrix (zero cells preserved)
    "q_unpivot_langs" -> ((s, d) => CorpusOps.unpivotLangs(s, d)),
    // r4: Zipf least-squares fit over top-100 vocab (corpus-health audit)
    "q_zipf_audit" -> ((s, d) => CorpusOps.zipfAudit(s, d)),
    // r4: per-source TF-IDF top terms (catalog fingerprint)
    "q_tfidf_terms" -> ((s, d) => CorpusOps.tfidfTerms(s, d)),
    // r4: median/MAD robust length outliers per source
    "q_length_outliers" -> ((s, d) => CorpusOps.lengthOutliers(s, d)),
    // r4: pair-graph degree histogram — the pre-CC hot-cluster skew audit
    "q_dup_degree" -> ((s, d) => CorpusOps.dupDegreeHistogram(s, d)),
    // r4: one-row dataset card (docs/tokens/catalog/dup exposure)
    "q_corpus_stats" -> ((s, d) => CorpusOps.corpusStats(s, d)),
    // r4: contrastive hard negatives — top-k most-similar DIFFERENT-label
    "q_hard_negatives" -> ((s, d) => EmbeddingOps.hardNegatives(s, d)),
    // r4: canonical normalization (lower/strip/collapse) with md5-pinned
    // normal form — the contract upstream of hash dedup
    "q_normalize_text" -> ((s, d) => TextOps.normalizeText(s, d)),
    // r4: asymmetric containment pairs (|A∩B|/min|A|,|B| — catches
    // quoted-whole inclusion that symmetric Jaccard structurally misses)
    "q_containment" -> ((s, d) => TextOps.containmentPairs(s, d)),
    // r4: per-doc novelty — fraction of shingles first seen in this doc
    "q_ngram_novelty" -> ((s, d) => TextOps.ngramNovelty(s, d)),
    // r4: source×source shingle-set Jaccard (catalog contamination matrix;
    // fan-out bounded by source-count², a catalog constant)
    "q_source_sim" -> ((s, d) => TextOps.sourceSim(s, d)),
    // r4: packing fill audit — oracle's closed form re-proves gap-freeness
    "q_pack_efficiency" -> ((s, d) => CorpusOps.packEfficiency(s, d)),
    // r4: cohort retention matrix over events (first-week cohorts)
    "q_cohort_retention" -> ((s, d) => EventOps.cohortRetention(s, d)),
    // r4: hot-key skew audit — the fan-out numbers the salting stage eats
    "q_skew_audit" -> ((s, d) => EventOps.skewAudit(s, d)),
    // r4: model-free feature-hash text embedding (md5-bucket signed counts,
    // integer-exact) + brute cosine top-k over it: text→vector→search
    // end-to-end with a bit-exact oracle
    "q_hash_embed" -> ((s, d) => TextOps.hashEmbed(s, d)),
    "q_hash_embed_topk" -> ((s, d) => TextOps.hashEmbedTopK(s, d)),
    // r4: tokenizer end-to-end — train BPE merges on the corpus, encode
    // every doc, expand back; n_ok must equal count(*) (the oracle pins it)
    "q_bpe_roundtrip" -> ((s, d) => BpeTrainer.roundTripAudit(s, d)),
    "q_source_sample" -> ((s, d) => CorpusOps.stratifiedSample(s, d)),
    // GPT-3-style temperature mix planner (w_s ∝ tokens^alpha)
    "q_source_weights" -> ((s, d) => CorpusOps.temperatureMix(s, d)),
    // DSIR-style importance resampling toward the benchmark slice's LM,
    // drawn by deterministic A-Res keys (reproducible weighted sampling)
    "q_importance_sample" -> ((s, d) => CorpusOps.importanceSample(s, d)),
    "q_vocab_topk" -> ((s, d) => CorpusOps.vocabTopK(s, d)),
    "q_semantic_dedup" -> ((s, d) => CorpusOps.semanticDedupPairs(s, d)),
    "q_quality_quantiles" -> ((s, d) => CorpusOps.qualityQuantiles(s, d)),
    "q_unigram_logprob" -> ((s, d) => CorpusOps.unigramLogProb(s, d)),
    "q_dup_clusters" -> ((s, d) => CorpusOps.dupClusters(s, d)),
    // r4: the STREAMING incremental maintenance path replayed over the
    // same table in 3 microbatches — must converge to the identical labels
    // (same recursive-CTE oracle as q_dup_clusters)
    "q_dup_clusters_incremental" ->
      ((s, d) => graft.streaming.IncrementalDedup.replayClusters(s, d)),
    // r6: the RESTART-DURABLE twin — the same 3-microbatch replay with every
    // state table flowing through LakeSink manifests (the path a 100-TB
    // deployment actually runs; VERDICT r5 Next #1). Fresh lake per
    // invocation so bench rounds measure full maintenance, never a
    // completed-marker no-op replay; the labels are materialized off the
    // lake (eager localCheckpoint) and the temp lake reclaimed before
    // returning — repeated verify/bench invocations must not accumulate
    // corpus-scale shingle/band state under /tmp.
    "q_dup_clusters_durable" -> ((s, d) => {
      // scratch lake on tmpfs when available (LayoutOps.scratchDir): the
      // commit I/O being measured is the manifest/segment protocol, not the
      // sandbox disk's fsync artifact — same policy as the bench's
      // streaming checkpoints
      val lake = graft.operators.LayoutOps.scratchDir("graft-durdedup")
      try graft.streaming.IncrementalDedup
        .replayClustersDurable(s, d, lake.toString).localCheckpoint(true)
      finally graft.operators.LayoutOps.deleteTree(lake) // also on failure — a bad input dir must not leak the scratch lake
    }),
    "q_dup_survivors" -> ((s, d) => CorpusOps.dupSurvivors(s, d)),
    // capstone: quality filter → near-dup survivor dedup → stratified
    // sample → packed training chunks, one composed pipeline
    "q_training_mix" -> ((s, d) => CorpusOps.trainingMix(s, d)),
    "q_label_centroids" -> ((s, d) => CorpusOps.labelCentroids(s, d)),
    // cross-document exact-substring (span) duplication, windows md5-hashed
    // pre-shuffle; deterministic sharded per-epoch training order
    "q_span_dedup" -> ((s, d) => CorpusOps.spanDedup(s, d)),
    "q_epoch_shuffle" -> ((s, d) => CorpusOps.epochShuffle(s, d)),
    // interpolated bigram LM score (CCNet-style perplexity filter)
    "q_bigram_logprob" -> ((s, d) => CorpusOps.bigramLogProb(s, d)),
    // fused model-based quality filter (deterministic classifier stand-in)
    "q_quality_score" -> ((s, d) => CorpusOps.qualityScore(s, d)),
    // ---- similarity search ------------------------------------------------
    "q_cos_topk" -> ((s, d) => EmbeddingOps.bruteTopK(s, d)),
    // SemDeDup-style cell-bucketed near-dup: quadratic work confined to
    // 2^planes angular cells, met via an equi-join (never a cartesian — the
    // all-pairs mode survives only as the spec-side ground truth); the
    // oracle recomputes the deterministic cells from the plane constants
    "q_cos_neardup" -> ((s, d) => EmbeddingOps.nearDupPairsBucketed(s, d)),
    // ANN configured for verifiable exactness at test sf: 48 tables × 4
    // planes holds recall 1.0 on sf0.001/0.01/0.1 (EmbeddingSpec), so the
    // brute-force top-k oracle applies; production tunes tables/planes down
    "q_ann_lsh" -> ((s, d) => EmbeddingOps.lshTopK(s, d, nTables = 48, planesPer = 4)),
    // nProbe = nCells probes every cell → exact by construction; production
    // uses nProbe << nCells (the equi-join plumbing is identical)
    "q_ann_ivf" -> ((s, d) => EmbeddingOps.ivfTopK(s, d, nProbe = 16, nCells = 16)),
    // r4: STREAMING index maintenance — the index is trained on the first
    // third of the corpus only, the rest arrives as two appended batches
    // assigned to the frozen centroids (no retraining, no rewrites); the
    // full-probe config is exact regardless of cell assignment, so the
    // brute-force oracle verifies every appended vector is present exactly
    // once and the probe machinery reads the appended files correctly
    "q_ann_ivf_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val idx = graft.operators.LayoutOps.scratchDirUntilExit("graft-ivfinc-").toString
      val emb = EmbeddingOps.embeddings(s, d)
      // a fresh dir per call, ALWAYS built (the q_ann_ivfpq rationale)
      EmbeddingOps.buildIvfIndexOn(s, emb.filter(col("vec_id") % 3 === 0),
        idx, nCells = 16)
      EmbeddingOps.appendToIvfIndex(s, idx, emb.filter(col("vec_id") % 3 === 1))
      EmbeddingOps.appendToIvfIndex(s, idx, emb.filter(col("vec_id") % 3 === 2))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      EmbeddingOps.ivfTopKIndexed(s, idx, queries, k = 5, nProbe = 16)
    }),
    // PQ compressed candidate scan (trained bounded codebooks, ADC lookup
    // scoring) + exact re-rank of the top 64 per query: equals brute force
    // whenever the true top-k survives the candidate stage — verified
    // recall 1.0 at all test sf (no full-table driver collect anywhere)
    "q_ann_pq" -> ((s, d) => EmbeddingOps.pqTopKRerank(s, d)),
    // IVF-PQ composed index (FAISS-IVFPQ layout) at the exact configuration:
    // every cell probed + every candidate exactly re-ranked ≡ brute force
    // (the q_ann_ivf pattern); production narrows nProbe/rerank over the
    // same partition-pruned compressed plumbing (EmbeddingSpec)
    "q_ann_ivfpq" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      // a fresh dir per call, read by the returned frame and deleted at
      // JVM exit, so the index is ALWAYS built: reusing a leftover index
      // made the timed query's work depend on host /tmp state
      // (irreproducible bench times) and could silently serve an index
      // built under old parameters, and a fixed path let two processes
      // delete each other's files. The build is part of what this query
      // measures.
      val idx = graft.operators.LayoutOps.scratchDirUntilExit("graft-ivfpq-").toString
      EmbeddingOps.buildIvfPqIndex(s, d, idx, nCells = 16, m = 8, kCodes = 256)
      val queries = EmbeddingOps.embeddings(s, d).filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      EmbeddingOps.ivfPqTopK(s, idx, d, queries, k = 5, nProbe = 16,
        rerank = Int.MaxValue)
    }),
    // SQ8 (int8-binary) compressed scan + exact re-rank — same
    // fresh-dir always-build rationale as q_ann_ivfpq; the rerank window
    // is 64 (measured exact ≥ top-5 at every test sf with wide margin,
    // EmbeddingSpec)
    "q_ann_sq8" -> ((s, d) => {
      val idx = graft.operators.LayoutOps.scratchDirUntilExit("graft-sq8-").toString
      EmbeddingOps.buildSq8Index(s, d, idx)
      EmbeddingOps.sq8TopK(s, d, idx, nQueries = 10, k = 5, rerank = 64)
    }),
    // multi-table SemDeDup cells (the recall dial): pairs sharing a cell in
    // ANY of 4 plane tables — the oracle recomputes all 16 plane dot signs
    "q_cos_neardup_multi" -> ((s, d) =>
      EmbeddingOps.nearDupPairsBucketedMulti(s, d, nTables = 4)),
    // ---- xAPI pipeline ----------------------------------------------------
    // Deterministic end-to-end digest of the batch pipeline on the seeded
    // 2000-row synthetic input: per-(verb, source) row counts + distinct
    // statement ids. The oracle is a frozen golden (a VALUES literal — the
    // pipeline input is generated, not a parquet table DuckDB can see);
    // PipelineSpec independently derives the same numbers from the
    // generator's index classification, so the golden is anchored, not
    // circular.
    "q_pipeline_store" -> ((s, _) => {
      import org.apache.spark.sql.functions._
      Sessions.tune(s)
      Pipeline.run(Synth.inputTable(s, 2000))
        .groupBy("verb_id", "source")
        .agg(count(lit(1)).as("n"), countDistinct(col("event_id")).as("n_ids"))
    }))

  private val tsFmtSql = "strftime(ts, '%Y-%m-%d %H:%M:%S.%f')"

  def oracleSql: Map[String, String] = Map(
    "q_lrs_get_window" ->
      s"""SELECT event_id, $tsFmtSql AS ts_str, user_id, event_type FROM events
          WHERE event_type = 'click' AND ts > TIMESTAMP '2024-01-10 00:00:00'
            AND ts <= TIMESTAMP '2024-01-20 00:00:00'
          ORDER BY ts DESC, event_id DESC LIMIT 100""",
    "q_lrs_get_asc" ->
      s"""SELECT event_id, $tsFmtSql AS ts_str, user_id, event_type FROM events
          WHERE event_type = 'click' AND ts > TIMESTAMP '2024-01-10 00:00:00'
            AND ts <= TIMESTAMP '2024-01-20 00:00:00'
          ORDER BY ts ASC, event_id ASC LIMIT 100""",
    "q_lrs_by_id" ->
      s"""SELECT event_id, $tsFmtSql AS ts_str, user_id, event_type, value
          FROM events WHERE event_id = 4242""",
    "q_lrs_by_agent" ->
      s"""SELECT event_id, $tsFmtSql AS ts_str, event_type FROM events
          WHERE user_id = 13 ORDER BY ts DESC, event_id DESC LIMIT 100""",
    "q_lrs_keyset_page2" ->
      s"""SELECT event_id, ts_str FROM (
            SELECT event_id, $tsFmtSql AS ts_str,
                   row_number() OVER (ORDER BY ts DESC, event_id DESC) AS rn
            FROM events) WHERE rn > 100 AND rn <= 200""",
    "q_lrs_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) < 10""",
    "q_distinct_users" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
         FROM events GROUP BY event_type""",
    "q_tumbling_counts" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S.%f') AS win_start,
                event_type, count(*) AS n
         FROM events GROUP BY 1, 2""",
    "q_sliding_counts" ->
      """SELECT strftime(date_trunc('hour', ts) - k * INTERVAL 1 HOUR,
                         '%Y-%m-%d %H:%M:%S.%f') AS win_start,
                event_type, count(*) AS n
         FROM events CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS k) g
         GROUP BY 1, 2""",
    "q_sessionize" ->
      """WITH d AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 21600
                       THEN 1 ELSE 0 END AS brk
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id, ts,
                  sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
           FROM d)
         SELECT user_id,
                strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
                strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
                count(*) AS n_events
         FROM s GROUP BY user_id, sid""",
    // the same windowed state machine, expressed in DuckDB's window dialect;
    // strictly-preceding frames (1 PRECEDING) keep the pattern ordered
    "q_cep_funnel" ->
      """WITH o AS (
           SELECT user_id, ts, event_id, event_type,
             max(CASE WHEN event_type='view' THEN ts END) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view
           FROM events),
         o2 AS (
           SELECT *, event_type='click' AND last_view IS NOT NULL
                     AND ts - last_view <= INTERVAL 12 HOUR AS qclick FROM o),
         o3 AS (
           SELECT *, max(CASE WHEN qclick THEN ts END) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_qclick
           FROM o2),
         o4 AS (
           SELECT *, event_type='purchase' AND last_qclick IS NOT NULL
                     AND ts - last_qclick <= INTERVAL 12 HOUR AS conv FROM o3)
         SELECT user_id,
                CAST(sum(CASE WHEN qclick THEN 1 ELSE 0 END) AS BIGINT) AS n_qclicks,
                CAST(sum(CASE WHEN conv THEN 1 ELSE 0 END) AS BIGINT) AS n_conversions,
                strftime(min(CASE WHEN conv THEN ts END),
                         '%Y-%m-%d %H:%M:%S.%f') AS first_conv
         FROM o4 GROUP BY 1
         HAVING sum(CASE WHEN qclick THEN 1 ELSE 0 END) > 0""",
    // DuckDB's NATIVE ASOF JOIN is the oracle — an independent algorithm
    // (sorted probe) checking the union+window implementation. Tied views
    // (same user, same ts) are collapsed to max(event_id) BEFORE the ASOF
    // join, mirroring the engine's deterministic (ts, kind, event_id)
    // tie-break — otherwise which tied view either engine picks is
    // unspecified and the hash compare is a coin flip
    "q_asof_join" ->
      """WITH clicks AS (SELECT event_id, user_id, ts FROM events
                         WHERE event_type='click'),
            views  AS (SELECT max(event_id) AS event_id, user_id, ts
                       FROM events WHERE event_type='view'
                       GROUP BY user_id, ts)
         SELECT c.event_id AS click_id, c.user_id, v.event_id AS view_id,
                round(CAST(epoch(c.ts) - epoch(v.ts) AS DOUBLE), 6) AS lag_sec
         FROM clicks c ASOF LEFT JOIN views v
           ON c.user_id = v.user_id AND v.ts <= c.ts""",
    // same window discipline as the engine: (us, event_id) order, change
    // flag, running-sum island id, then one grouped interval per island
    "q_scd2_islands" ->
      """WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS us
                    FROM events),
         c AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         i AS (SELECT *, sum(chg) OVER (PARTITION BY user_id
                 ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
               FROM c)
         SELECT user_id, CAST(seq AS BIGINT) AS seq, event_type,
                min(us) AS valid_from_us, max(us) AS valid_to_us,
                CAST(count(*) AS BIGINT) AS n_events
         FROM i GROUP BY 1, 2, 3""",
    // the oracle uses the PLAIN theta join — the grid bucketing is the
    // engine's plan trick, invisible in the result; µs integers both sides
    "q_range_join" ->
      """WITH iv AS (SELECT event_id AS interval_id, epoch_us(ts) AS lo,
                epoch_us(ts) + (event_id % 7 + 1) * 1800000000 AS hi
              FROM events WHERE event_id % 37 = 0)
         SELECT e.event_id, i.interval_id,
                CAST(epoch_us(e.ts) - i.lo AS BIGINT) AS off_us
         FROM events e
         JOIN iv i ON epoch_us(e.ts) >= i.lo AND epoch_us(e.ts) <= i.hi""",
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY text""",
    "q_token_count" ->
      """SELECT doc_id,
                len(string_split(text, ' ')) AS n_words,
                CAST(length(text) AS BIGINT) AS n_chars,
                CAST(list_aggregate(list_transform(string_split(text, ' '),
                  w -> (length(w) + 3) // 4), 'sum') AS BIGINT) AS n_subwords
         FROM documents""",
    "q_text_quality" ->
      """SELECT doc_id,
                len(string_split(text, ' ')) AS n_words,
                len(list_filter(string_split(text, ' '),
                    x -> x IN ('the', 'a'))) AS n_stop,
                len(list_filter(string_split(text, ' '),
                    x -> x IN ('the', 'a')))::DOUBLE
                  / len(string_split(text, ' ')) AS stop_ratio,
                CAST(list_aggregate(list_transform(string_split(text, ' '),
                    w -> length(w)), 'sum') AS DOUBLE)
                  / len(string_split(text, ' ')) AS mean_wlen
         FROM documents""",
    "q_lang_id" ->
      """WITH h AS (
           SELECT doc_id,
                  len(list_filter(string_split(text, ' '),
                      x -> x IN ('the', 'a', 'join', 'scan'))) AS h_p1,
                  len(list_filter(string_split(text, ' '),
                      x -> x IN ('spark', 'stream', 'window', 'batch'))) AS h_p2,
                  len(list_filter(string_split(text, ' '),
                      x -> x IN ('sort', 'merge', 'hash', 'group'))) AS h_p3
           FROM documents)
         SELECT doc_id, h_p1, h_p2, h_p3,
                CASE WHEN h_p1 >= h_p2 AND h_p1 >= h_p3 THEN 'p1'
                     WHEN h_p2 >= h_p3 THEN 'p2' ELSE 'p3' END AS lang_pred
         FROM h""",
    "q_ngram_jaccard" -> jaccardOracle,
    "q_minhash_lsh" -> jaccardOracle, // LSH + exact verify ≡ ground truth here
    "q_mm_meta" ->
      """SELECT doc_id,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                64 + CAST(octet_length(encode(text)) AS BIGINT) % 256 AS width,
                64 + (CAST(octet_length(encode(text)) AS BIGINT) // 7) % 256 AS height,
                CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind
         FROM documents""",
    // frames = the video track's SYNC samples per the planted stss (period
    // doc_id%4+2; every 11th doc omits the box → all samples sync); the md5
    // is recomputed from the closed-form payload string, so the hash
    // compare proves the engine sliced the REAL bytes at the keyframes the
    // stss table designates
    "q_frame_sample" ->
      """WITH d AS (SELECT doc_id, doc_id % 97 AS g, doc_id % 50 + 9 AS maxidx,
                           CASE WHEN doc_id % 11 = 0 THEN 1
                                ELSE doc_id % 4 + 2 END AS p
                    FROM documents WHERE doc_id % 17 <> 0),
         f AS (SELECT doc_id, g, p,
                      unnest(generate_series(0, maxidx // p)) * p AS sample_idx
               FROM d),
         pay AS (SELECT doc_id, sample_idx, p,
                        g::VARCHAR || '-1-' || sample_idx::VARCHAR AS payload
                 FROM f)
         SELECT doc_id, sample_idx // p AS frame_idx, sample_idx,
                CAST(length(payload) AS BIGINT) AS "size",
                md5(payload) AS frame_md5
         FROM pay""",
    // duplicate frame payloads across documents: same residue class mod 97
    // shares frame bytes (up to differing sample counts) — the oracle
    // reproduces every (md5, n_copies, keeper) group from the closed form
    "q_frame_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id % 97 AS g, doc_id % 50 + 9 AS maxidx
                    FROM documents WHERE doc_id % 17 <> 0),
         s AS (SELECT doc_id, g, unnest(generate_series(0, maxidx)) AS i
               FROM d)
         SELECT md5(g::VARCHAR || '-1-' || i::VARCHAR) AS payload_md5,
                COUNT(*) AS n_copies, min(doc_id) AS keep_doc
         FROM s GROUP BY 1 HAVING COUNT(*) > 1""",
    "q_cos_topk" -> cosTopkOracle,
    // exact-recall ANN configurations reuse the brute-force oracle: LSH
    // 48×4 has verified recall 1.0 at test sf; IVF nProbe=nCells is exact
    // by construction (every cell probed through the same equi-join)
    "q_ann_lsh" -> cosTopkOracle,
    "q_ann_ivf" -> cosTopkOracle,
    // full-probe config ≡ brute force even with frozen chunk-0 centroids —
    // the oracle proves the appends landed exactly once
    "q_ann_ivf_incremental" -> cosTopkOracle,
    "q_ann_pq" -> cosTopkOracle,
    "q_ann_ivfpq" -> cosTopkOracle,
    "q_ann_sq8" -> cosTopkOracle,
    "q_cos_neardup_multi" -> nearDupBucketedMultiOracle,
    "q_fingerprint" ->
      """SELECT count(DISTINCT text) AS n_texts,
                CAST(count(*) AS BIGINT) AS n_docs,
                count(DISTINCT text) AS n_distinct_fp
         FROM documents""",
    // BM25 recomputed end to end: exact-integer tf/len/df, avgdl as one
    // division, idf's ln() rounded to 6 BEFORE the product (the only libm
    // call), same literal constants, same parenthesization, final round(6)
    "q_bm25_topk" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                    FROM documents),
         d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len,
                      sum(CASE WHEN w = 'join' THEN 1 ELSE 0 END) AS tf0,
                      sum(CASE WHEN w = 'vector' THEN 1 ELSE 0 END) AS tf1,
                      sum(CASE WHEN w = 'scan' THEN 1 ELSE 0 END) AS tf2,
                      sum(CASE WHEN w = 'window' THEN 1 ELSE 0 END) AS tf3
               FROM w GROUP BY 1),
         s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                      sum(len)::DOUBLE / CAST(count(*) AS BIGINT)::DOUBLE AS avgdl,
                      sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                      sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                      sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
                      sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
               FROM d),
         sc AS (SELECT doc_id, round(
                  round(ln((n_docs - df0 + 0.5) / (df0 + 0.5) + 1.0), 6)
                    * ((tf0::DOUBLE * 2.2) / (tf0::DOUBLE + 1.2 * (0.25 + 0.75 * len::DOUBLE / avgdl)))
                + round(ln((n_docs - df1 + 0.5) / (df1 + 0.5) + 1.0), 6)
                    * ((tf1::DOUBLE * 2.2) / (tf1::DOUBLE + 1.2 * (0.25 + 0.75 * len::DOUBLE / avgdl)))
                + round(ln((n_docs - df2 + 0.5) / (df2 + 0.5) + 1.0), 6)
                    * ((tf2::DOUBLE * 2.2) / (tf2::DOUBLE + 1.2 * (0.25 + 0.75 * len::DOUBLE / avgdl)))
                + round(ln((n_docs - df3 + 0.5) / (df3 + 0.5) + 1.0), 6)
                    * ((tf3::DOUBLE * 2.2) / (tf3::DOUBLE + 1.2 * (0.25 + 0.75 * len::DOUBLE / avgdl)))
                , 6) AS bm25
                FROM d, s)
         SELECT doc_id, bm25 FROM sc WHERE bm25 > 0
         ORDER BY bm25 DESC, doc_id LIMIT 20""",
    // winnowing: the argmin-with-rightmost-tiebreak is one integer min on
    // key = h32·2^24 + (2^24−1−pos) — md5-prefix hash + integer ops only,
    // recomputed bit-for-bit; full k-gram + full w-window domains match the
    // engine's filters by construction
    "q_winnow" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id, k - 1 AS pos,
                      array_to_string(ws[k:k+2], ' ') AS gram
               FROM w, unnest(generate_series(1, len(ws) - 2)) t(k)),
         h AS (SELECT doc_id, pos,
                      ('0x' || substr(md5(gram), 1, 8))::UBIGINT * 16777216
                        + (16777215 - pos) AS key,
                      CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_grams
               FROM g),
         s AS (SELECT doc_id, pos, n_grams,
                      min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel_key
               FROM h)
         SELECT DISTINCT doc_id,
                CAST(16777215 - (sel_key % 16777216) AS BIGINT) AS pos,
                CAST(sel_key // 16777216 AS BIGINT) AS fp
         FROM s WHERE pos <= n_grams - 4""",
    // the q_winnow chain as a CTE, then the capped fp self-join + span
    // aggregate — DuckDB independently re-derives every reported overlap
    "q_winnow_pairs" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         g AS (SELECT doc_id, k - 1 AS pos,
                      array_to_string(ws[k:k+2], ' ') AS gram
               FROM w, unnest(generate_series(1, len(ws) - 2)) t(k)),
         h AS (SELECT doc_id, pos,
                      ('0x' || substr(md5(gram), 1, 8))::UBIGINT * 16777216
                        + (16777215 - pos) AS key,
                      CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_grams
               FROM g),
         s AS (SELECT doc_id, pos, n_grams,
                      min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel_key
               FROM h),
         fps AS (SELECT DISTINCT doc_id,
                CAST(16777215 - (sel_key % 16777216) AS BIGINT) AS pos,
                CAST(sel_key // 16777216 AS BIGINT) AS fp
         FROM s WHERE pos <= n_grams - 4),
         hot AS (SELECT fp FROM fps GROUP BY fp HAVING count(DISTINCT doc_id) <= 64),
         kept AS (SELECT f.* FROM fps f JOIN hot USING (fp))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(count(DISTINCT a.fp) AS BIGINT) AS n_shared,
                min(a.pos) AS a_lo, max(a.pos) AS a_hi,
                min(b.pos) AS b_lo, max(b.pos) AS b_hi
         FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(DISTINCT a.fp) >= 2""",
    "q_k_anon" ->
      """SELECT source, lang, n_chars // 200 AS len_bucket,
                CAST(count(*) AS BIGINT) AS n
         FROM documents GROUP BY 1, 2, 3 HAVING count(*) < 4""",
    // DuckDB recomputes the Morton keys with the same unrolled shift-or-mask
    // ladder and truncating integer scaling (operands non-negative, so
    // DuckDB's floor `//` ≡ Spark's trunc `div`) — bit-for-bit kernel proof
    "q_zorder_key" ->
      """WITH b AS (SELECT min(user_id) AS ulo, max(user_id) AS uhi,
                           min(epoch_us(ts)) AS tlo, max(epoch_us(ts)) AS thi
                    FROM events),
         s AS (SELECT event_id,
                      CASE WHEN uhi = ulo THEN 0
                           ELSE ((user_id - ulo) * 65535) // (uhi - ulo) END AS za,
                      CASE WHEN thi = tlo THEN 0
                           ELSE ((epoch_us(ts) - tlo) * 65535) // (thi - tlo) END AS zb
               FROM events, b WHERE event_id % 101 = 0),
         t1 AS (SELECT event_id, za, zb,
                       ((za | (za << 8)) & 16711935) AS xa,
                       ((zb | (zb << 8)) & 16711935) AS xb FROM s),
         t2 AS (SELECT event_id, za, zb,
                       ((xa | (xa << 4)) & 252645135) AS xa,
                       ((xb | (xb << 4)) & 252645135) AS xb FROM t1),
         t3 AS (SELECT event_id, za, zb,
                       ((xa | (xa << 2)) & 858993459) AS xa,
                       ((xb | (xb << 2)) & 858993459) AS xb FROM t2),
         t4 AS (SELECT event_id, za, zb,
                       ((xa | (xa << 1)) & 1431655765) AS xa,
                       ((xb | (xb << 1)) & 1431655765) AS xb FROM t3)
         SELECT event_id, za, zb, (xa | (xb << 1)) AS zkey FROM t4""",
    // the oracle filters the RAW events table with the same box (edges from
    // the same truncating arithmetic over global min/max) — hash equality
    // proves the zone-map pruned read lost no rows; integer aggregates only
    // (no double sums → no association-order drift)
    "q_zorder_prune" ->
      """WITH b AS (SELECT min(user_id) AS ulo, max(user_id) AS uhi,
                           min(epoch_us(ts)) AS tlo, max(epoch_us(ts)) AS thi
                    FROM events),
         box AS (SELECT ulo + (uhi - ulo) // 4 AS u_lo,
                        ulo + ((uhi - ulo) * 2) // 5 AS u_hi,
                        tlo + (thi - tlo) // 3 AS t_lo,
                        tlo + ((thi - tlo) * 3) // 5 AS t_hi FROM b)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(event_id) AS BIGINT) AS sum_eid,
                min(event_id) AS min_eid, max(event_id) AS max_eid
         FROM events, box
         WHERE user_id BETWEEN u_lo AND u_hi
           AND epoch_us(ts) BETWEEN t_lo AND t_hi
         GROUP BY event_type""",
    // DuckDB recomputes the full 63-bit md5 SimHash signature and the exact
    // hamming pairs — an end-to-end independent check of the banded path
    // (banding is complete for hamming ≤ 3 by pigeonhole over 4 bands)
    "q_simhash_pairs" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         sh AS (SELECT DISTINCT doc_id, array_to_string(ws[k:k+2], ' ') AS s
                FROM w, unnest(generate_series(1, len(ws) - 2)) t(k)),
         h AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 16))::UBIGINT AS h64 FROM sh),
         bits AS (SELECT doc_id, b, sum(CASE WHEN (h64 >> b) & 1 = 1 THEN 1 ELSE -1 END) AS c
                  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 62)) AS b) bb
                  GROUP BY 1, 2),
         sig AS (SELECT doc_id,
                        sum(CASE WHEN c > 0 THEN (1::UBIGINT << b::INT)
                                 ELSE 0::UBIGINT END) AS sig
                 FROM bits GROUP BY 1)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sig, b.sig)) <= 3""",
    "q_pipeline_store" -> pipelineStoreGolden,
    "q_rep_signals" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         bg AS (SELECT doc_id,
                       count(DISTINCT array_to_string(ws[k:k+1], ' ')) AS n_bg
                FROM w, unnest(generate_series(1, len(ws) - 1)) t(k) GROUP BY 1),
         wc AS (SELECT doc_id, word, count(*) AS n
                FROM (SELECT doc_id, unnest(ws) AS word FROM w) GROUP BY 1, 2),
         top AS (SELECT doc_id, max(n) AS top_n FROM wc GROUP BY 1)
         SELECT w.doc_id, len(ws) AS n_words,
                round(1.0 - len(list_distinct(ws))::DOUBLE / len(ws), 6)
                  AS dup_word_ratio,
                round(1.0 - bg.n_bg::DOUBLE / (len(ws) - 1), 6)
                  AS dup_bigram_ratio,
                round(top.top_n::DOUBLE / len(ws), 6) AS top_word_frac
         FROM w LEFT JOIN bg USING (doc_id) LEFT JOIN top USING (doc_id)""",
    "q_seq_pack" ->
      """WITH t AS (SELECT doc_id, doc_id % 32 AS bucket,
                           len(string_split(text, ' ')) AS n_tok FROM documents),
         c AS (SELECT doc_id, bucket, n_tok,
                      sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) AS cum
               FROM t)
         SELECT doc_id, bucket, n_tok,
                CAST(cum - n_tok AS BIGINT) AS start_off,
                CAST((cum - n_tok) // 256 AS BIGINT) AS start_chunk,
                CAST((cum - 1) // 256 AS BIGINT) AS end_chunk
         FROM c""",
    "q_pseudonymize" ->
      """SELECT event_id,
                substr(md5('pepper1:' || user_id::VARCHAR), 1, 16) AS user_pseudo,
                event_type
         FROM events WHERE event_id < 2000""",
    "q_decontam" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         sh AS (SELECT DISTINCT doc_id, array_to_string(ws[k:k+3], ' ') AS s
                FROM w, unnest(generate_series(1, len(ws) - 3)) t(k)),
         bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0)
         SELECT sh.doc_id, count(DISTINCT sh.s) AS n_hits
         FROM sh JOIN bench USING (s) WHERE sh.doc_id % 50 <> 0 GROUP BY 1""",
    // overlap fraction: LEFT join the broadcastable bench shingle set, the
    // keep boundary integer-exact (5·hits ≥ shingles ⇔ frac ≥ 0.2)
    "q_contam_overlap" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         sh AS (SELECT DISTINCT doc_id, array_to_string(ws[k:k+3], ' ') AS s
                FROM w, unnest(generate_series(1, len(ws) - 3)) t(k)),
         bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0)
         SELECT sh.doc_id, count(*) AS n_shingles,
                CAST(sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hits,
                round(sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                        / count(*), 6) AS overlap_frac,
                sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) * 5 >= count(*)
                  AS contaminated
         FROM sh LEFT JOIN bench b ON sh.s = b.s
         WHERE sh.doc_id % 50 <> 0 GROUP BY 1""",
    // chunk grid is closed-form in the token count: starts every 48 tokens
    // while inside the document, windows truncate at the end
    "q_chunk_overlap" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n
                    FROM documents)
         SELECT doc_id, CAST(k // 48 AS BIGINT) AS chunk_idx,
                CAST(k AS BIGINT) AS start_tok,
                CAST(least(k + 64, n) AS BIGINT) AS end_tok
         FROM t, unnest(generate_series(0, n - 1, 48)) s(k)""",
    // the engine must earn n_ok = count(*): one dropped/duplicated token in
    // BPE train/apply/unmerge anywhere in the corpus breaks the equality;
    // orig_tokens additionally pins the code-point tokenization to DuckDB's
    // character count
    "q_bpe_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(*) AS BIGINT) AS n_ok,
                CAST(sum(length(text)) AS BIGINT) AS orig_tokens
         FROM documents""",
    // global ordered cumsum under a 40%-of-total token budget; the engine's
    // banded two-phase cumsum must reproduce it row-for-row
    "q_token_budget" ->
      """WITH t AS (
           SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
                  round(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                        / len(string_split(text,' ')), 6) AS score
           FROM documents),
         b AS (SELECT CAST(floor(sum(n_tok) * 0.4) AS BIGINT) AS budget FROM t),
         c AS (SELECT doc_id, score, n_tok,
                      CAST(sum(n_tok) OVER (ORDER BY score DESC, doc_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
               FROM t)
         SELECT c.doc_id, c.score, c.n_tok, c.cum_tok
         FROM c, b WHERE c.cum_tok <= b.budget""",
    // global row_number the engine must reproduce via its banded rank
    "q_curriculum" ->
      """WITH t AS (
           SELECT doc_id,
                  round(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
                        / len(string_split(text,' ')), 6) AS score
           FROM documents),
         r AS (SELECT doc_id, score,
                      row_number() OVER (ORDER BY score DESC, doc_id) AS rank,
                      count(*) OVER () AS total
               FROM t)
         SELECT doc_id, score, CAST(rank AS BIGINT) AS rank,
                CAST(floor((rank - 1) * 4.0 / total) AS BIGINT) AS epoch
         FROM r""",
    // same recursive-CTE cluster graph as q_dup_clusters; split hashes the
    // cluster representative so near-dups never straddle train/eval
    "q_cluster_split" ->
      s"""WITH RECURSIVE $dupPairsCte,
         edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
           UNION
           SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
         lab AS (SELECT u AS doc_id, min(r) AS rep FROM reach GROUP BY 1)
         SELECT d.doc_id, coalesce(l.rep, d.doc_id) AS rep,
                CASE WHEN ('0x'||substr(md5(CAST(coalesce(l.rep, d.doc_id)
                             AS VARCHAR)),1,8))::UINTEGER % 100 < 10
                     THEN 'eval' ELSE 'train' END AS split
         FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id""",
    // waterfilling closed form: sort sources ascending, caps are a prefix,
    // theta spends the remainder evenly over the uncapped tail
    "q_unimax_budget" ->
      """WITH t AS (SELECT source,
                    CAST(sum(len(string_split(text,' '))) AS BIGINT) AS avail
             FROM documents GROUP BY 1),
         r AS (SELECT source, avail,
                 row_number() OVER (ORDER BY avail, source) AS i,
                 CAST(coalesce(sum(avail) OVER (ORDER BY avail, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),0)
                   AS BIGINT) AS prefix,
                 count(*) OVER () AS k,
                 CAST(floor(sum(avail) OVER () * 0.5) AS BIGINT) AS budget
               FROM t),
         r2 AS (SELECT *, (avail*(k-i+1)+prefix <= budget) AS capped FROM r),
         r3 AS (SELECT *, coalesce(max(CASE WHEN capped THEN i END)
                            OVER (),0) AS m FROM r2),
         r4 AS (SELECT *, CAST(coalesce(sum(CASE WHEN i<=m THEN avail END)
                            OVER (),0) AS BIGINT) AS prefix_m FROM r3),
         r5 AS (SELECT *, CASE WHEN i<=m THEN CAST(avail AS DOUBLE)
                            ELSE CAST(budget-prefix_m AS DOUBLE)/(k-m)
                          END AS alloc_raw FROM r4)
         SELECT source, avail, round(alloc_raw,6) AS alloc,
                round(alloc_raw/avail,6) AS frac FROM r5""",
    // fixed-point PCA: quantize → Gram (HUGEINT) → 12 unrolled power
    // iterations with ∞-norm integer rescaling (// truncates toward zero,
    // same as BigInt division) → integer projection. Same arithmetic as
    // the engine at every step — bit-exact.
    "q_embed_pca" -> pcaOracle,
    // int8 quantization audit: floor(x+0.5) rounding and left-to-right
    // cosine accumulation mirror the engine's fused pass bit-for-bit
    "q_quant_embed" ->
      """WITH s AS (SELECT vec_id,
               CAST(embedding AS DOUBLE[]) AS embedding,
               CAST(list_max(list_transform(embedding, x -> abs(x)))
                 AS DOUBLE) / 127.0 AS scale
             FROM embeddings),
         d AS (SELECT vec_id, scale,
               CASE WHEN scale = 0 THEN 0.0 ELSE
                 list_max(list_transform(embedding, x ->
                   abs(x - least(greatest(floor(x/scale+0.5),-127),127)
                         * scale))) END AS max_err,
               CASE WHEN scale = 0 THEN 0.0 ELSE
                 list_cosine_similarity(embedding,
                   list_transform(embedding, x ->
                     least(greatest(floor(x/scale+0.5),-127),127) * scale))
               END AS cos
             FROM s)
         SELECT vec_id, round(scale,6) AS scale, round(max_err,6) AS max_err,
                round(cos,6) AS cos FROM d""",
    // KL terms mirror the engine's division/ln composition exactly
    "q_kl_source_drift" ->
      """WITH sw AS (SELECT source, w, count(*) AS c_sw
             FROM (SELECT source, unnest(string_split(text, ' ')) AS w
                   FROM documents) GROUP BY 1, 2),
         st AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s
                FROM sw GROUP BY 1),
         wt AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w
                FROM sw GROUP BY 1),
         tot AS (SELECT CAST(sum(n_s) AS DOUBLE) AS n_tot FROM st)
         SELECT sw.source,
                round(sum((CAST(c_sw AS DOUBLE) / n_s) *
                  ln((CAST(c_sw AS DOUBLE) / n_s) /
                     (CAST(c_w AS DOUBLE) / n_tot))), 6) + 0.0 AS kl,
                count(*) AS n_terms
         FROM sw
         JOIN st ON st.source = sw.source
         JOIN wt ON wt.w = sw.w
         CROSS JOIN tot
         GROUP BY 1""",
    // -sum(p ln p) over per-doc word frequencies
    "q_text_entropy" ->
      """WITH c AS (SELECT doc_id, w, count(*) AS c
             FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                   FROM documents) GROUP BY 1, 2),
         n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n
               FROM c GROUP BY 1)
         SELECT c.doc_id,
                round(-sum((CAST(c.c AS DOUBLE) / n.n) *
                  ln(CAST(c.c AS DOUBLE) / n.n)), 6) + 0.0 AS entropy,
                count(*) AS n_distinct
         FROM c JOIN n ON n.doc_id = c.doc_id
         GROUP BY 1""",
    // PMI with the engine's exact left-assoc double arithmetic
    "q_pmi_bigrams" ->
      """WITH uni AS (SELECT w, count(*) AS n
             FROM (SELECT unnest(string_split(text, ' ')) AS w
                   FROM documents) GROUP BY 1),
         t1 AS (SELECT CAST(sum(n) AS DOUBLE) AS t1 FROM uni),
         bi AS (SELECT b, count(*) AS n_ab
                FROM (SELECT array_to_string(w[k:k+1], ' ') AS b
                      FROM (SELECT string_split(text, ' ') AS w
                            FROM documents),
                      unnest(generate_series(1, len(w) - 1)) t(k))
                GROUP BY 1),
         t2 AS (SELECT CAST(sum(n_ab) AS DOUBLE) AS t2 FROM bi),
         j AS (SELECT bi.b AS bigram, bi.n_ab,
                 round(ln(CAST(bi.n_ab AS DOUBLE) * t1.t1 * t1.t1 /
                   (t2.t2 * ua.n * ub.n)), 6) AS pmi
               FROM bi
               JOIN uni ua ON ua.w = string_split(bi.b, ' ')[1]
               JOIN uni ub ON ub.w = string_split(bi.b, ' ')[2]
               CROSS JOIN t1 CROSS JOIN t2
               WHERE bi.n_ab >= 5)
         SELECT bigram, n_ab, pmi + 0.0 AS pmi FROM j
         ORDER BY pmi DESC, bigram LIMIT 20""",
    // exact-config sketch: capacity 2^16 ≥ any group, so the sketch holds
    // every value and its discrete-quantile rule IS quantile_disc's
    // (idx = max(0, ceil(q·n)−1), verified over 2442 (n,q) cases)
    "q_quantile_sketch" ->
      """WITH qd AS (SELECT event_type,
                quantile_disc(value, [0.1,0.25,0.5,0.75,0.9,0.99]) AS qs
              FROM events WHERE value IS NOT NULL GROUP BY 1)
         SELECT event_type,
                CAST(unnest([0.1,0.25,0.5,0.75,0.9,0.99]) AS DOUBLE) AS q,
                round(CAST(unnest(qs) AS DOUBLE), 6) AS est
         FROM qd""",
    // fixed-point int64 power iteration — integer sums are associative, so
    // the recursive CTE and the Spark join+agg loop agree bit-for-bit;
    // triangles re-derived from the exact pair graph: p1=(a,b), p2=(b,c),
    // p3=(a,c) with a<b<c (pairs are canonical) finds each triangle once;
    // every vertex of every triangle contributes one membership row
    "q_triangles" ->
      s"""WITH $dupPairsCte,
         tri AS (SELECT p1.id_a AS a, p1.id_b AS b, p2.id_b AS c
                 FROM pairs p1
                 JOIN pairs p2 ON p2.id_a = p1.id_b
                 JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b),
         m AS (SELECT a AS doc_id FROM tri UNION ALL SELECT b FROM tri
               UNION ALL SELECT c FROM tri)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri FROM m GROUP BY 1""",
    // cycle edge (id+1 mod n) keeps min in-degree ≥ 1 so no vertex leaves
    // the recursion, the two non-bijective maps skew in-degree
    "q_pagerank" ->
      """WITH RECURSIVE
         n AS (SELECT count(*) AS n FROM documents),
         nodes AS (SELECT doc_id FROM documents),
         edges AS (
           SELECT doc_id AS src, (doc_id+1) % n.n AS dst FROM nodes, n
           UNION ALL SELECT doc_id, (doc_id*doc_id+1) % n.n FROM nodes, n
           UNION ALL SELECT doc_id, (doc_id//3+7) % n.n FROM nodes, n),
         pr(iter, doc_id, score) AS (
           SELECT 0, doc_id, 1000000::BIGINT FROM nodes
           UNION ALL
           SELECT iter+1, e.dst, 150000 + (85 * sum(pr.score // 3)) // 100
           FROM pr JOIN edges e ON e.src = pr.doc_id
           WHERE iter < 10
           GROUP BY iter+1, e.dst)
         SELECT doc_id, score AS pagerank_fp FROM pr WHERE iter = 10
         ORDER BY pagerank_fp DESC, doc_id LIMIT 50""",
    // identical regex patterns both engines (RE2∩Java dialect: classes,
    // bounded repetition, non-capturing groups — no lookaround); planted
    // positives are closed-form, redacted text md5-gated bit-for-bit
    "q_pii_redact" ->
      """WITH d AS (SELECT doc_id,
           text || ' contact u' || doc_id || '@ex' || (doc_id%7) || '.com' ||
           CASE WHEN doc_id%3=0 THEN ' cc u' || doc_id || '.alt@ex.org'
                ELSE '' END ||
           ' call +1-555-' || lpad((doc_id%10000)::VARCHAR, 4, '0') ||
           ' from 10.' || (doc_id%200) || '.0.' || (doc_id%250) AS t
           FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(t, '\+1-555-[0-9]{4}')) AS n_phone,
           len(regexp_extract_all(t,
             '(?:[0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_ip,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+1-555-[0-9]{4}', '<PHONE>', 'g'),
             '(?:[0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g')) AS redacted_md5
         FROM d""",
    // exact per-source top-3 — the sketch at capacity >> distinct IS exact
    "q_heavy_hitters" ->
      """WITH c AS (SELECT source, w AS word, count(*) AS n
             FROM (SELECT source, unnest(string_split(text, ' ')) AS w
                   FROM documents) GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER
                 (PARTITION BY source ORDER BY n DESC, word) AS rk
               FROM c)
         SELECT source, word, n, CAST(rk AS BIGINT) AS rk
         FROM r WHERE rk <= 3""",
    // ordered string_agg ≡ sort_array(collect_list(struct)) composition
    "q_session_paths" ->
      """WITH r AS (SELECT user_id, event_type,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS rn
               FROM events),
         p AS (SELECT user_id,
                 string_agg(event_type, '>' ORDER BY rn) AS path
               FROM r WHERE rn <= 5 GROUP BY 1)
         SELECT path, count(*) AS n FROM p GROUP BY 1
         ORDER BY n DESC, path LIMIT 10""",
    // the dense source × language grid from first principles
    "q_unpivot_langs" ->
      """WITH s AS (SELECT DISTINCT source FROM documents),
         l AS (SELECT unnest(['de','en','es','fr','zh']) AS lang),
         c AS (SELECT source, lang, count(*) AS n
               FROM documents GROUP BY 1, 2)
         SELECT s.source, l.lang, coalesce(c.n, 0) AS n
         FROM s CROSS JOIN l
         LEFT JOIN c ON c.source = s.source AND c.lang = l.lang""",
    // ROLLUP with grouping() flags distinguishing subtotal NULLs
    "q_rollup_counts" ->
      """SELECT source, lang, count(*) AS n_docs,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok,
                CAST(grouping(source) AS BIGINT) AS g_source,
                CAST(grouping(lang) AS BIGINT) AS g_lang
         FROM documents GROUP BY ROLLUP (source, lang)""",
    // pivot = conditional counts over the fixed language list
    "q_pivot_langs" ->
      """SELECT source,
                count(*) FILTER (lang = 'de') AS de,
                count(*) FILTER (lang = 'en') AS en,
                count(*) FILTER (lang = 'es') AS es,
                count(*) FILTER (lang = 'fr') AS fr,
                count(*) FILTER (lang = 'zh') AS zh
         FROM documents GROUP BY 1""",
    // µs-integer gaps; avg(BIGINT) is exact-sum-then-divide on both engines
    "q_user_gaps" ->
      """WITH g AS (SELECT user_id,
                 epoch_us(ts) - lag(epoch_us(ts), 1) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
               FROM events)
         SELECT user_id, count(*) AS n_events,
                round(avg(gap_us), 6) AS avg_gap_us,
                CAST(max(gap_us) AS BIGINT) AS max_gap_us
         FROM g GROUP BY 1""",
    // closed-form least squares over ln(rank), ln(count) of the top 100
    "q_zipf_audit" ->
      """WITH c AS (SELECT w AS word, count(*) AS n
             FROM (SELECT unnest(string_split(text, ' ')) AS w
                   FROM documents) GROUP BY 1),
         top AS (SELECT word, n FROM c ORDER BY n DESC, word LIMIT 100),
         v AS (SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, word)
                   AS DOUBLE)) AS x,
                 ln(CAST(n AS DOUBLE)) AS y FROM top),
         a AS (SELECT CAST(count(*) AS DOUBLE) AS k,
                 sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
                 sum(x*x) AS sxx, sum(y*y) AS syy FROM v)
         SELECT round((k*sxy - sx*sy)/(k*sxx - sx*sx), 6) AS slope,
                round((sy - (k*sxy - sx*sy)/(k*sxx - sx*sx)*sx)/k, 6)
                  AS intercept,
                round(pow(k*sxy - sx*sy, 2) /
                  ((k*sxx - sx*sx)*(k*syy - sy*sy)), 6) AS r2
         FROM a""",
    // idf rounded to 6 before the tf multiply (libm ulp parity; see the
    // engine-side comment in CorpusOps.tfidfTerms)
    "q_tfidf_terms" ->
      """WITH tf AS (SELECT source, w AS word, count(*) AS tf
             FROM (SELECT source, unnest(string_split(text, ' ')) AS w
                   FROM documents) GROUP BY 1, 2),
         df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         ns AS (SELECT count(DISTINCT source) AS ns FROM tf),
         s AS (SELECT tf.source, tf.word, tf.tf, df.df,
                 round(tf.tf * round(ln(CAST(ns.ns AS DOUBLE)/df.df), 6), 6)
                   AS score
               FROM tf JOIN df USING (word), ns),
         r AS (SELECT *, row_number() OVER
                 (PARTITION BY source ORDER BY score DESC, word) AS rk
               FROM s)
         SELECT source, word, CAST(tf AS BIGINT) AS tf,
                CAST(df AS BIGINT) AS df, score, CAST(rk AS BIGINT) AS rk
         FROM r WHERE rk <= 5""",
    // exact grouped percentiles: quantile_cont ≡ Spark percentile
    "q_length_outliers" ->
      """WITH med AS (SELECT source, quantile_cont(n_chars, 0.5) AS med
             FROM documents GROUP BY 1),
         mad AS (SELECT d.source,
                   quantile_cont(abs(d.n_chars - m.med), 0.5) AS mad
                 FROM documents d JOIN med m USING (source) GROUP BY 1)
         SELECT d.source, d.doc_id, d.n_chars,
                round(m.med, 6) AS med, round(a.mad, 6) AS mad
         FROM documents d
         JOIN med m USING (source) JOIN mad a USING (source)
         WHERE abs(d.n_chars - m.med) > 2.0 * a.mad""",
    // degree histogram over the same verified pair graph
    "q_dup_degree" ->
      s"""WITH $dupPairsCte,
         ed AS (SELECT id_a AS doc_id FROM pairs
                UNION ALL SELECT id_b FROM pairs),
         deg AS (SELECT doc_id, count(*) AS degree FROM ed GROUP BY 1)
         SELECT CAST(degree AS BIGINT) AS degree, count(*) AS n_nodes
         FROM deg GROUP BY 1""",
    // dataset card: base aggregates + distinct pair-graph nodes
    "q_corpus_stats" ->
      s"""WITH $dupPairsCte,
         nodes AS (SELECT id_a AS doc_id FROM pairs
                   UNION SELECT id_b FROM pairs),
         dupn AS (SELECT count(*) AS dup_docs FROM nodes),
         base AS (SELECT count(*) AS n_docs,
                    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                      AS n_tokens,
                    count(DISTINCT source) AS n_sources,
                    count(DISTINCT lang) AS n_langs,
                    round(avg(n_chars), 6) AS mean_chars
                  FROM documents)
         SELECT b.n_docs, b.n_tokens, b.n_sources, b.n_langs, b.mean_chars,
                d.dup_docs,
                round(CAST(d.dup_docs AS DOUBLE) / b.n_docs, 6) AS dup_frac
         FROM base b, dupn d""",
    // brute top-k constrained to a different label (hard negatives)
    "q_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
             FROM embeddings),
         q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv
               FROM e WHERE vec_id < 10),
         s AS (SELECT qid, e.vec_id AS nid,
                      round(list_cosine_similarity(qv, v), 6) AS sim
               FROM q, e WHERE e.label <> qlabel)
         SELECT qid, nid, sim, rank FROM (
           SELECT *, CAST(row_number() OVER
             (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rank
           FROM s)
         WHERE rank <= 5""",
    // md5 of the exact normal form — regex divergence = hash mismatch
    "q_normalize_text" ->
      """SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) <> text AS changed,
           md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_md5,
           CAST(len(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS BIGINT)
             AS norm_len
         FROM documents""",
    // containment = shared distinct shingles over the smaller set
    "q_containment" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
         sh AS (SELECT DISTINCT doc_id, array_to_string(w[k:k+2], ' ') AS s
                FROM w, unnest(generate_series(1, len(w) - 2)) t(k)),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          count(*) AS i
                   FROM sh a JOIN sh b
                     ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT id_a, id_b,
                round(CAST(i AS DOUBLE) / least(ca.n, cb.n), 6)
                  AS containment
         FROM inter
         JOIN cnt ca ON ca.doc_id = id_a
         JOIN cnt cb ON cb.doc_id = id_b
         WHERE round(CAST(i AS DOUBLE) / least(ca.n, cb.n), 6) >= 0.9""",
    // novelty: first-owner of each distinct shingle is the min doc_id
    "q_ngram_novelty" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
         sh AS (SELECT DISTINCT doc_id, array_to_string(w[k:k+2], ' ') AS s
                FROM w, unnest(generate_series(1, len(w) - 2)) t(k)),
         f AS (SELECT s, min(doc_id) AS fd FROM sh GROUP BY 1)
         SELECT sh.doc_id, count(*) AS n_sh,
                CAST(sum(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new,
                round(CAST(sum(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS novelty
         FROM sh JOIN f ON sh.s = f.s GROUP BY 1""",
    // source-level distinct-shingle-set Jaccard, pairs sharing ≥1 shingle
    "q_source_sim" ->
      """WITH w AS (SELECT source, doc_id, string_split(text, ' ') AS w
             FROM documents),
         sh AS (SELECT DISTINCT source, array_to_string(w[k:k+2], ' ') AS s
                FROM w, unnest(generate_series(1, len(w) - 2)) t(k)),
         cnt AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.source AS src_a, b.source AS src_b,
                          count(*) AS i
                   FROM sh a JOIN sh b
                     ON a.s = b.s AND a.source < b.source
                   GROUP BY 1, 2)
         SELECT src_a, src_b, CAST(i AS BIGINT) AS i,
                round(CAST(i AS DOUBLE) / (ca.n + cb.n - i), 6) AS jaccard
         FROM inter
         JOIN cnt ca ON ca.source = src_a
         JOIN cnt cb ON cb.source = src_b""",
    // epoch-day by µs-integer division; (ts, event_id) tiebreak keeps the
    // rank deterministic under same-timestamp events on both engines
    "q_rate_quota" ->
      """WITH e AS (SELECT user_id, event_id, ts,
                    epoch_us(ts) // 86400000000 AS day FROM events),
         r AS (SELECT user_id, day, event_id,
                      row_number() OVER (PARTITION BY user_id, day
                                         ORDER BY ts, event_id) AS rk
               FROM e)
         SELECT user_id, CAST(day AS BIGINT) AS day, event_id,
                CAST(rk AS BIGINT) AS rk
         FROM r WHERE rk <= 5""",
    // KMV at k ≥ every per-source set and pairwise union holds the whole
    // hashed set → all four cardinalities are exact (up to 64-bit hash
    // collisions, p≈n²/2⁶⁵, deterministic) and match exact distinct counts
    "q_kmv_overlap" ->
      """WITH w AS (SELECT source, doc_id, string_split(text, ' ') AS w
             FROM documents),
         sh AS (SELECT DISTINCT source, array_to_string(w[k:k+2], ' ') AS s
                FROM w, unnest(generate_series(1, len(w) - 2)) t(k)),
         cnt AS (SELECT source, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.source AS src_a, b.source AS src_b,
                          count(*) AS i
                   FROM sh a JOIN sh b
                     ON a.s = b.s AND a.source < b.source
                   GROUP BY 1, 2)
         SELECT src_a, src_b,
                CAST(ca.n AS BIGINT) AS d_a, CAST(cb.n AS BIGINT) AS d_b,
                CAST(ca.n + cb.n - i AS BIGINT) AS d_union,
                CAST(i AS BIGINT) AS d_intersect
         FROM inter
         JOIN cnt ca ON ca.source = src_a
         JOIN cnt cb ON cb.source = src_b""",
    // closed form floor((Σtok−1)/cap)+1 == the packing's max(end_chunk)+1
    // iff the layout is gap-free — the match re-proves the invariant
    "q_pack_efficiency" ->
      """WITH t AS (SELECT doc_id, doc_id % 32 AS bucket,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             FROM documents)
         SELECT bucket, count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS n_tok,
                CAST(floor((sum(n_tok) - 1) / 256.0) + 1 AS BIGINT)
                  AS n_chunks,
                round(CAST(sum(n_tok) AS DOUBLE) /
                  ((floor((sum(n_tok) - 1) / 256.0) + 1) * 256), 6) AS fill
         FROM t GROUP BY 1""",
    // Monday-truncated first-activity cohorts × week offset
    "q_cohort_retention" ->
      """WITH e AS (SELECT user_id, date_trunc('week', ts) AS wk
             FROM events),
         f AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY 1)
         SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort,
                CAST(datediff('day', f.cohort, e.wk) / 7 AS BIGINT)
                  AS week_off,
                count(DISTINCT e.user_id) AS n_users
         FROM e JOIN f USING (user_id)
         GROUP BY 1, 2""",
    "q_skew_audit" ->
      """WITH k AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS total, count(*) AS n_keys
                 FROM k)
         SELECT user_id, CAST(n AS BIGINT) AS n,
                round(n / CAST(total AS DOUBLE), 6) AS share,
                round((CAST(n AS DOUBLE) * n_keys) / total, 6) AS skew,
                CAST(ceil((CAST(n AS DOUBLE) * n_keys) / total) AS BIGINT) AS salt
         FROM k, tot ORDER BY n DESC, user_id LIMIT 20""",
    // DuckDB recomputes the signed feature-hash embedding from scratch:
    // md5 bucket + sign per token, integer counts, exact-int L2 norm
    "q_hash_embed" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w
                      FROM documents),
         h AS (SELECT doc_id,
                      CAST(('0x'||substr(md5(w),1,8))::UINTEGER % 16 AS INT) AS dim,
                      CASE WHEN ('0x'||substr(md5(w),9,1))::UINTEGER % 2 = 0
                           THEN 1 ELSE -1 END AS sgn
               FROM tok),
         v AS (SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS val
               FROM h GROUP BY 1,2 HAVING sum(sgn) <> 0),
         n AS (SELECT doc_id, sqrt(CAST(sum(val*val) AS DOUBLE)) AS nrm
               FROM v GROUP BY 1)
         SELECT v.doc_id, v.dim, round(v.val / n.nrm, 6) AS v
         FROM v JOIN n USING (doc_id)""",
    // every (query, candidate) pair is ranked — pairs with no shared
    // nonzero dimension score 0 via the coalesce, and a zero-norm vector's
    // null division collapses to the engine's 0.0 sentinel, so the oracle's
    // candidate universe is exactly the engine's broadcast cross product
    "q_hash_embed_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w
                      FROM documents),
         h AS (SELECT doc_id,
                      CAST(('0x'||substr(md5(w),1,8))::UINTEGER % 16 AS INT) AS dim,
                      CASE WHEN ('0x'||substr(md5(w),9,1))::UINTEGER % 2 = 0
                           THEN 1 ELSE -1 END AS sgn
               FROM tok),
         v AS (SELECT doc_id, dim, sum(sgn) AS val
               FROM h GROUP BY 1,2 HAVING sum(sgn) <> 0),
         nrm AS (SELECT doc_id, sqrt(CAST(sum(val*val) AS DOUBLE)) AS nrm
                 FROM v GROUP BY 1),
         qd AS (SELECT doc_id FROM documents
                WHERE doc_id % 101 = 0 AND doc_id < 101 * 64),
         cd AS (SELECT doc_id FROM documents WHERE doc_id % 101 <> 0),
         dots AS (SELECT q.doc_id AS query_id, c.doc_id,
                         CAST(sum(q.val * c.val) AS BIGINT) AS dot
                  FROM v q JOIN v c ON q.dim = c.dim
                  WHERE q.doc_id % 101 = 0 AND q.doc_id < 101 * 64
                    AND c.doc_id % 101 <> 0
                  GROUP BY 1,2),
         sc AS (SELECT qd.doc_id AS query_id, cd.doc_id,
                       round(coalesce(d.dot / (nq.nrm * nc.nrm), 0.0), 6) AS cos
                FROM qd CROSS JOIN cd
                LEFT JOIN dots d ON d.query_id = qd.doc_id AND d.doc_id = cd.doc_id
                LEFT JOIN nrm nq ON nq.doc_id = qd.doc_id
                LEFT JOIN nrm nc ON nc.doc_id = cd.doc_id),
         rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, doc_id) AS rank FROM sc)
         SELECT query_id, doc_id, cos, CAST(rank AS BIGINT) AS rank
         FROM rk WHERE rank <= 10""",
    "q_source_sample" ->
      """SELECT source, count(*) AS n_total,
                CAST(sum(CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UINTEGER % 20
                               < 5 + (substr(source, 4)::INT % 10)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM documents GROUP BY 1""",
    "q_source_weights" ->
      """WITH a AS (SELECT source, count(*) AS n_docs,
                           CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                             AS n_tokens
                    FROM documents GROUP BY 1),
         t AS (SELECT sum(n_tokens)::DOUBLE AS tt,
                      sum(pow(n_tokens::DOUBLE, 0.5)) AS tp FROM a)
         SELECT source, n_docs, n_tokens,
                round(n_tokens::DOUBLE / tt, 6) AS nat_share,
                round(pow(n_tokens::DOUBLE, 0.5) / tp, 6) AS temp_weight
         FROM a CROSS JOIN t""",
    "q_vocab_topk" ->
      """SELECT word, count(*) AS n, count(DISTINCT doc_id) AS n_docs
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
               FROM documents)
         GROUP BY 1 ORDER BY n DESC, word LIMIT 20""",
    "q_importance_sample" ->
      """WITH wd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                     FROM documents),
         src AS (SELECT word, count(*) AS cs FROM wd GROUP BY 1),
         tot AS (SELECT sum(cs)::DOUBLE AS src_total, count(*)::DOUBLE AS v
                 FROM src),
         tgt AS (SELECT word, count(*) AS ct FROM wd
                 WHERE doc_id % 50 = 0 GROUP BY 1),
         tt AS (SELECT coalesce(sum(ct), 0)::DOUBLE AS tgt_total FROM tgt),
         d AS (SELECT wd.doc_id,
                      round(avg(ln((coalesce(ct, 0) + 1) / (tgt_total + v))
                                - ln(cs / src_total)), 6) AS lpd
               FROM wd JOIN src USING (word) LEFT JOIN tgt USING (word)
               CROSS JOIN tot CROSS JOIN tt
               GROUP BY 1),
         wt AS (SELECT doc_id, round(exp(lpd), 6) AS w FROM d)
         SELECT doc_id, w,
                round(ln((('0x' || substr(md5('ws1:' || doc_id::VARCHAR), 1, 8))::UINTEGER
                          + 1) / 4294967296.0) / w, 6) AS key
         FROM wt ORDER BY key DESC, doc_id LIMIT 20""",
    "q_semantic_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT DISTINCT doc_id, array_to_string(w[k:k+2], ' ') AS s
                FROM w, unnest(generate_series(1, len(w) - 2)) t(k)),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jac AS (SELECT id_a, id_b,
                        round(i::DOUBLE / (ca.n + cb.n - i), 6) AS jaccard
                 FROM inter
                 JOIN cnt ca ON ca.doc_id = id_a
                 JOIN cnt cb ON cb.doc_id = id_b
                 WHERE round(i::DOUBLE / (ca.n + cb.n - i), 6) >= 0.5),
         e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         SELECT id_a, id_b, jaccard,
                round(list_cosine_similarity(a.v, b.v), 6) AS cos
         FROM jac
         JOIN e a ON a.vec_id = id_a
         JOIN e b ON b.vec_id = id_b
         WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.0""",
    "q_quality_quantiles" ->
      """SELECT source,
                round(quantile_cont(n_chars, 0.5), 6) AS p50,
                round(quantile_cont(n_chars, 0.9), 6) AS p90,
                max(n_chars) AS mx
         FROM documents GROUP BY 1""",
    // the synthesized container's metadata is closed-form in doc_id, so the
    // oracle recomputes what the box walk must decode — incl. the
    // quarantined every-17th truncated container
    "q_mp4_meta" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 17 = 0 THEN -1
                     ELSE (doc_id % 120 + 1) * 500 END AS duration_ms,
                CASE WHEN doc_id % 17 = 0 THEN -1 ELSE 1000 END AS timescale,
                CASE WHEN doc_id % 17 = 0 THEN -1
                     ELSE 1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
                END AS n_tracks,
                CASE WHEN doc_id % 17 = 0 THEN -1
                     ELSE (doc_id % 50 + 10) +
                          CASE WHEN doc_id % 3 = 0 THEN doc_id % 7 + 2 ELSE 0 END
                END AS n_samples,
                CASE WHEN doc_id % 17 = 0 THEN -1
                     ELSE 160 + (doc_id % 8) * 40 END AS width,
                CASE WHEN doc_id % 17 = 0 THEN -1
                     ELSE 90 + (doc_id % 8) * 30 END AS height,
                doc_id % 17 <> 0 AS valid
         FROM documents""",
    // per-sample byte extraction: track 1 has doc_id%50+10 samples, track 2
    // (present when doc_id%3=0) has doc_id%7+2; sample i of track t carries
    // the ASCII payload "(id%97)-t-i" — DuckDB recomputes every md5, so the
    // whole stsz+stsc+stco/co64 offset reconstruction is hash-gated
    "q_mp4_samples" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0),
         t1 AS (SELECT doc_id, 1 AS track_id,
                       unnest(generate_series(0, doc_id % 50 + 9)) AS sample_idx
                FROM d),
         t2 AS (SELECT doc_id, 2 AS track_id,
                       unnest(generate_series(0, doc_id % 7 + 1)) AS sample_idx
                FROM d WHERE doc_id % 3 = 0),
         s AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2),
         p AS (SELECT doc_id, track_id, sample_idx,
                      (doc_id % 97)::VARCHAR || '-' || track_id::VARCHAR || '-' ||
                        sample_idx::VARCHAR AS payload
               FROM s)
         SELECT doc_id, track_id, sample_idx,
                CAST(length(payload) AS BIGINT) AS "size",
                md5(payload) AS payload_md5,
                CASE WHEN track_id = 2 OR doc_id % 11 = 0 THEN TRUE
                     ELSE sample_idx % (doc_id % 4 + 2) = 0
                END AS is_sync,
                CASE WHEN track_id = 1
                     THEN sample_idx * (doc_id % 5 + 1) * 100
                     ELSE CASE WHEN sample_idx < (doc_id % 7 + 2) // 2
                               THEN sample_idx * (doc_id % 5 + 1) * 100
                               ELSE ((doc_id % 7 + 2) // 2) * (doc_id % 5 + 1) * 100
                                    + (sample_idx - (doc_id % 7 + 2) // 2)
                                      * 2 * (doc_id % 5 + 1) * 100 END
                END AS dts,
                CASE WHEN track_id = 1
                     THEN sample_idx * (doc_id % 5 + 1) * 100
                          + ((sample_idx // 4) % 3) * 10
                     ELSE CASE WHEN sample_idx < (doc_id % 7 + 2) // 2
                               THEN sample_idx * (doc_id % 5 + 1) * 100
                               ELSE ((doc_id % 7 + 2) // 2) * (doc_id % 5 + 1) * 100
                                    + (sample_idx - (doc_id % 7 + 2) // 2)
                                      * 2 * (doc_id % 5 + 1) * 100 END
                END AS cts
         FROM p""",
    "q_dup_clusters" ->
      s"""WITH RECURSIVE $dupPairsCte,
         edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
           UNION
           SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u)
         SELECT u AS doc_id, min(r) AS rep FROM reach GROUP BY 1""",
    // incremental replay must converge to the identical batch answer
    "q_dup_clusters_incremental" ->
      s"""WITH RECURSIVE $dupPairsCte,
         edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
           UNION
           SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u)
         SELECT u AS doc_id, min(r) AS rep FROM reach GROUP BY 1""",
    // the lake-backed durable path must also converge to the batch answer
    "q_dup_clusters_durable" ->
      s"""WITH RECURSIVE $dupPairsCte,
         edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
           UNION
           SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u)
         SELECT u AS doc_id, min(r) AS rep FROM reach GROUP BY 1""",
    "q_dup_survivors" ->
      s"""WITH RECURSIVE $dupPairsCte,
         edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
           UNION
           SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
         comp AS (SELECT u AS doc_id, min(r) AS rep FROM reach GROUP BY 1)
         SELECT rep, doc_id AS keep_id, n_chars FROM (
           SELECT comp.rep, comp.doc_id, d.n_chars,
                  row_number() OVER (PARTITION BY comp.rep
                    ORDER BY d.n_chars DESC, comp.doc_id) AS rn
           FROM comp JOIN documents d ON d.doc_id = comp.doc_id)
         WHERE rn = 1""",
    "q_unigram_logprob" ->
      """WITH wd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                     FROM documents),
         vocab AS (SELECT word, count(*) AS cnt FROM wd GROUP BY 1),
         tot AS (SELECT count(*)::DOUBLE AS total FROM wd)
         SELECT doc_id, count(*) AS n_words,
                round(avg(ln(cnt::DOUBLE / total)), 6) AS avg_logp
         FROM wd JOIN vocab USING (word) CROSS JOIN tot
         GROUP BY 1""",
    "q_training_mix" ->
      """WITH RECURSIVE
         q AS (SELECT doc_id, text, source, n_chars,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                      len(list_filter(string_split(text, ' '),
                          x -> x IN ('the', 'a')))::DOUBLE
                        / len(string_split(text, ' ')) AS stop_ratio
               FROM documents),
         qf AS (SELECT * FROM q WHERE n_tok >= 30 AND stop_ratio <= 0.25),
         w AS (SELECT doc_id, string_split(text, ' ') AS w FROM qf),
         sh AS (SELECT DISTINCT doc_id, array_to_string(w[k:k+2], ' ') AS s
                FROM w, unnest(generate_series(1, len(w) - 2)) t(k)),
         cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pairs AS (SELECT id_a, id_b FROM inter
                   JOIN cnt ca ON ca.doc_id = id_a
                   JOIN cnt cb ON cb.doc_id = id_b
                   WHERE round(i::DOUBLE / (ca.n + cb.n - i), 6) >= 0.5),
         edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         reach AS (SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
                   UNION
                   SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
         comp AS (SELECT u AS doc_id, min(r) AS rep FROM reach GROUP BY 1),
         surv AS (SELECT doc_id FROM (
                    SELECT comp.doc_id, row_number() OVER (PARTITION BY rep
                      ORDER BY q2.n_chars DESC, comp.doc_id) AS rn
                    FROM comp JOIN qf q2 USING (doc_id)) WHERE rn = 1),
         losers AS (SELECT doc_id FROM comp
                    WHERE doc_id NOT IN (SELECT doc_id FROM surv)),
         kept AS (SELECT qf.* FROM qf
                  WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
         sm AS (SELECT * FROM kept
                WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UINTEGER % 20
                      < 5 + (substr(source, 4)::INT % 10)),
         c AS (SELECT doc_id, doc_id % 32 AS bucket, n_tok,
                      sum(n_tok) OVER (PARTITION BY doc_id % 32 ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) AS cum
               FROM sm)
         SELECT doc_id, bucket, n_tok,
                CAST(cum - n_tok AS BIGINT) AS start_off,
                CAST((cum - n_tok) // 256 AS BIGINT) AS start_chunk,
                CAST((cum - 1) // 256 AS BIGINT) AS end_chunk
         FROM c""",
    "q_span_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         sh0 AS (SELECT DISTINCT doc_id, array_to_string(ws[k:k+7], ' ') AS s
                 FROM w, unnest(generate_series(1, len(ws) - 7)) t(k)),
         sh AS (SELECT doc_id, substr(md5(s), 1, 16) AS h FROM sh0),
         shared AS (SELECT h FROM sh GROUP BY h
                    HAVING count(DISTINCT doc_id) >= 2),
         per AS (SELECT doc_id, count(*) AS n_windows FROM sh GROUP BY 1),
         dup AS (SELECT doc_id, count(*) AS n_shared
                 FROM sh JOIN shared USING (h) GROUP BY 1)
         SELECT per.doc_id, per.n_windows,
                coalesce(dup.n_shared, 0) AS n_shared,
                round(coalesce(dup.n_shared, 0)::DOUBLE / per.n_windows, 6)
                  AS dup_frac
         FROM per LEFT JOIN dup USING (doc_id)""",
    "q_epoch_shuffle" ->
      """WITH x AS (
           SELECT doc_id, epoch,
                  substr(md5(epoch::VARCHAR || ':' || doc_id::VARCHAR),
                         1, 16) AS okey,
                  ('0x' || substr(md5(epoch::VARCHAR || ':' || doc_id::VARCHAR),
                                  17, 8))::UBIGINT % 8 AS shard
           FROM documents, (SELECT unnest(generate_series(0, 1)) AS epoch) e)
         SELECT epoch::BIGINT AS epoch, shard::BIGINT AS shard, doc_id,
                CAST(row_number() OVER (PARTITION BY epoch, shard
                                        ORDER BY okey, doc_id) AS BIGINT) AS pos
         FROM x""",
    "q_bigram_logprob" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         wd AS (SELECT doc_id, unnest(ws) AS word FROM w),
         uni AS (SELECT word, count(*) AS cu FROM wd GROUP BY 1),
         tot AS (SELECT count(*)::DOUBLE AS total FROM wd),
         bg AS (SELECT doc_id, ws[k] AS w1, ws[k+1] AS w2
                FROM w, unnest(generate_series(1, len(ws) - 1)) t(k)),
         cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2)
         SELECT bg.doc_id, count(*) AS n_bigrams,
                round(avg(ln(0.75 * (cb.cb::DOUBLE / u1.cu)
                             + 0.25 * (u2.cu::DOUBLE / tot.total))), 6)
                  AS avg_logp
         FROM bg
         JOIN cb USING (w1, w2)
         JOIN uni u1 ON u1.word = bg.w1
         JOIN uni u2 ON u2.word = bg.w2
         CROSS JOIN tot
         GROUP BY 1""",
    "q_quality_score" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         q AS (SELECT doc_id, len(ws) AS n_words,
                      len(list_filter(ws, x -> x IN ('the', 'a')))::DOUBLE
                        / len(ws) AS stop_ratio,
                      CAST(list_aggregate(list_transform(ws, x -> length(x)),
                        'sum') AS DOUBLE) / len(ws) AS mean_wlen,
                      round(1.0 - len(list_distinct(ws))::DOUBLE / len(ws), 6)
                        AS dup_word_ratio
               FROM w),
         wc AS (SELECT doc_id, word, count(*) AS n
                FROM (SELECT doc_id, unnest(ws) AS word FROM w) GROUP BY 1, 2),
         top AS (SELECT doc_id, max(n) AS top_n FROM wc GROUP BY 1),
         wd AS (SELECT doc_id, unnest(ws) AS word FROM w),
         vocab AS (SELECT word, count(*) AS cnt FROM wd GROUP BY 1),
         tot AS (SELECT count(*)::DOUBLE AS total FROM wd),
         lp AS (SELECT doc_id, round(avg(ln(cnt::DOUBLE / total)), 6) AS avg_logp
                FROM wd JOIN vocab USING (word) CROSS JOIN tot GROUP BY 1),
         f AS (SELECT q.doc_id,
                      1.5 + 2.0 * round(stop_ratio, 6)
                          + 0.3 * round(mean_wlen, 6)
                          - 3.0 * dup_word_ratio
                          - 5.0 * round(top.top_n::DOUBLE / q.n_words, 6)
                          + 0.5 * lp.avg_logp
                          + 0.2 * round(ln(q.n_words), 6) AS z
               FROM q JOIN top ON top.doc_id = q.doc_id
                      JOIN lp ON lp.doc_id = q.doc_id)
         SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS score,
                CAST(z >= 0 AS BIGINT) AS keep
         FROM f""",
    "q_label_centroids" ->
      """SELECT label::BIGINT AS label, dim::BIGINT AS dim,
                round(avg(x), 6) AS c
         FROM (SELECT label, unnest(embedding::DOUBLE[]) AS x,
                      generate_subscripts(embedding, 1) AS dim
               FROM embeddings)
         GROUP BY 1, 2""",
    "q_cos_neardup" -> nearDupBucketedOracle)

  /** Bucketed (SemDeDup-style) near-dup oracle: DuckDB recomputes the
    * angular cell of every vector from the SAME deterministic hyperplanes
    * the engine uses (the constants are embedded below — Double.toString
    * round-trips exactly, and both engines sum the 64-term dot
    * left-to-right; sign agreement verified at every sf with min |dot|
    * ≈ 1.1e-4, nine decades above double noise), then joins within cells.
    * An independent end-to-end check of cell assignment AND scoring. */
  private def nearDupBucketedOracle: String = {
    val pl = EmbeddingOps.planes(64, nTables = 1,
      planesPer = EmbeddingOps.NearDupPlanes)(0)
    val cellExpr = pl.zipWithIndex.map { case (plane, i) =>
      val lits = plane.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(v, $lits::DOUBLE[]) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       b AS (SELECT vec_id, v, ($cellExpr) AS cell FROM e)
       SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              round(list_cosine_similarity(a.v, b.v), 6) AS sim
       FROM b a JOIN b b ON a.cell = b.cell AND a.vec_id < b.vec_id
       WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4"""
  }

  /** Multi-table variant of [[nearDupBucketedOracle]]: DuckDB recomputes
    * all 4 tables' 4-bit cells (16 embedded plane-constant dot signs) and
    * joins pairs sharing ANY table's cell — an OR-join is fine oracle-side
    * (exactness, not scale, is its job; the engine side stays an
    * explode + equi-join). */
  private def nearDupBucketedMultiOracle: String = {
    val tables = EmbeddingOps.planes(64, nTables = 4,
      planesPer = EmbeddingOps.NearDupPlanes)
    val cellCols = tables.zipWithIndex.map { case (pl, t) =>
      val expr = pl.zipWithIndex.map { case (plane, i) =>
        val lits = plane.mkString("[", ", ", "]")
        s"(CASE WHEN list_dot_product(v, $lits::DOUBLE[]) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString(" + ")
      s"($expr) AS c$t"
    }.mkString(", ")
    val joinCond = tables.indices.map(t => s"a.c$t = b.c$t").mkString(" OR ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       b AS (SELECT vec_id, v, $cellCols FROM e)
       SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              round(list_cosine_similarity(a.v, b.v), 6) AS sim
       FROM b a JOIN b b ON a.vec_id < b.vec_id AND ($joinCond)
       WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4"""
  }

  private val cosTopkOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
       s AS (SELECT qid, e.vec_id AS nid,
                    round(list_cosine_similarity(qv, v), 6) AS sim
             FROM q, e WHERE e.vec_id <> qid)
       SELECT qid, nid, sim, rank FROM (
         SELECT *, CAST(row_number() OVER
           (PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rank FROM s)
       WHERE rank <= 5"""

  /** Frozen golden for the synthetic-input pipeline digest (see the
    * q_pipeline_store comment in [[queries]]); values derived from the
    * generator's deterministic index classification and re-derived
    * independently in PipelineSpec. */
  private val pipelineStoreGolden: String =
    "SELECT * FROM (VALUES " + PipelineGolden.rows.map { case (v, s, n, ids) =>
      s"('$v', '$s', CAST($n AS BIGINT), CAST($ids AS BIGINT))"
    }.mkString(", ") + ") AS t(verb_id, source, n, n_ids)"

  /** `q_embed_pca` oracle: the 12 power iterations unrolled as chained
    * CTEs (this DuckDB build lacks window functions inside recursive CTEs,
    * and unrolling is exact anyway — fixed iteration count is part of the
    * query's contract). HUGEINT everywhere the engine uses BigInt. */
  private def pcaOracle: String = {
    // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    // stage references its predecessor twice (the scalar max subquery), so
    // the un-materialized chain re-evaluates 2^12 subtrees and never
    // finishes; materialized, the whole ladder runs in under a second
    val head =
      """q AS MATERIALIZED (SELECT vec_id, i-1 AS i,
            CAST(floor(CAST(embedding[i] AS DOUBLE)*1000) AS BIGINT) AS x
            FROM embeddings, generate_series(1,64) t(i)),
         g AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
               CAST(sum(a.x*b.x) AS HUGEINT) AS g
               FROM q a JOIN q b ON a.vec_id=b.vec_id GROUP BY 1,2),
         v0 AS MATERIALIZED (SELECT i, CAST(1000000 AS HUGEINT) AS v
               FROM range(64) r(i))"""
    // NULLIF + COALESCE mirrors the engine's m == 0 branch (all-zero w ⇒
    // keep the previous v): the divisor goes NULL instead of raising
    // division-by-zero, and the row falls back to v_{k-1}
    val steps = (1 to 12).map { k =>
      s"""w$k AS MATERIALIZED (SELECT g.i AS i, sum(g.g*v${k - 1}.v) AS w
             FROM g JOIN v${k - 1} ON g.j=v${k - 1}.i GROUP BY 1),
         v$k AS MATERIALIZED (SELECT w$k.i,
                 COALESCE((w*1000000)//NULLIF(
                   (SELECT max(abs(w)) FROM w$k), 0), p.v) AS v
                 FROM w$k JOIN v${k - 1} p ON p.i = w$k.i)"""
    }
    (Seq("WITH " + head) ++ steps).mkString(",\n ") +
      """
         SELECT q.vec_id, CAST(sum(q.x*v12.v) AS BIGINT) AS pc1_fp
         FROM q JOIN v12 ON q.i=v12.i GROUP BY 1"""
  }

  /** Shared CTE prefix: the exact-jaccard near-dup pair graph (same
    * construction as [[jaccardOracle]], pairs only). */
  private val dupPairsCte: String =
    """w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       sh AS (SELECT DISTINCT doc_id, array_to_string(w[k:k+2], ' ') AS s
              FROM w, unnest(generate_series(1, len(w) - 2)) t(k)),
       cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                 FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2),
       pairs AS (SELECT id_a, id_b FROM inter
                 JOIN cnt ca ON ca.doc_id = id_a
                 JOIN cnt cb ON cb.doc_id = id_b
                 WHERE round(i::DOUBLE / (ca.n + cb.n - i), 6) >= 0.5)"""

  private def jaccardOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       sh AS (SELECT DISTINCT doc_id, array_to_string(w[k:k+2], ' ') AS s
              FROM w, unnest(generate_series(1, len(w) - 2)) t(k)),
       cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
                 FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
       SELECT id_a, id_b,
              round(i::DOUBLE / (ca.n + cb.n - i), 6) AS jaccard
       FROM inter
       JOIN cnt ca ON ca.doc_id = id_a
       JOIN cnt cb ON cb.doc_id = id_b
       WHERE round(i::DOUBLE / (ca.n + cb.n - i), 6) >= 0.5"""
}
