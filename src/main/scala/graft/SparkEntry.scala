package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2 (or §2.2 /
  * the training-data-pipeline set), expressed as a declarative Spark plan
  * over the driver's read-only parquet tables; [[oracleSql]] carries the
  * equivalent DuckDB SQL for the correctness gate. Column names and types
  * match pairwise (the driver hash-compares by sorted column name).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the znap snapshot — latest state per key (SURVEY.md §2 row A1).
    */
  def entry(spark: SparkSession): DataFrame =
    SnapshotQueries.a1SnapshotLatest(spark, "/root/testdata/sf0.001")

  /** The dedup pipeline's OUTPUT keys: each duplicate class's
    * representative (cluster_id == doc_id) plus all unclustered docs —
    * candidates → verified pairs → connected components → filter.
    * Shared by dedup_filtered and corpus_build.
    */
  // ONE set of corpus-property parameters for the whole dedup pipeline —
  // they must stay in lockstep with the oracle SQLs, so they live here
  // and nowhere else (three hand-copies had already crept in).
  private val DedupMaxDocId = 300
  private val DedupNumHashes = 64
  private val DedupRowsPerBand = 2

  // bounded LRU (evicted entries unpersist their pinned block) — the
  // round-3 unbounded map leaked cached DataFrames in long-lived servers
  private val dedupCache =
    new graft.queries.FixtureCache[DataFrame](onEvict = df => { df.unpersist(); () })

  private def dedupDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") < DedupMaxDocId)

  /** LSH candidates verified by exact Jaccard — the pair set every dedup
    * exhibit builds on (dedup_minhash, dedup_clusters, dedup_filtered,
    * corpus_build), computed and cached ONCE per (session, dir).
    */
  private def verifiedNearDupPairs(s: SparkSession, d: String): DataFrame =
    dedupCache.getOrElseUpdate((s, d)) {
      val cands = graft.dedup.Dedup.minhashCandidates(
        dedupDocs(s, d), "doc_id", "text",
        numHashes = DedupNumHashes, rowsPerBand = DedupRowsPerBand)
      TextQueries.ngramJaccard(s, d)
        .join(cands, Seq("doc_a", "doc_b"), "left_semi")
        .cache()
    }

  private def dedupClusters(s: SparkSession, d: String): DataFrame =
    graft.dedup.ConnectedComponents.clusters(
      dedupDocs(s, d).select("doc_id"), "doc_id",
      verifiedNearDupPairs(s, d), "doc_a", "doc_b")

  private def dedupFilteredDocs(s: SparkSession, d: String): DataFrame =
    dedupClusters(s, d)
      .filter(col("doc_id") === col("cluster_id"))
      .select(col("doc_id"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // znap core operators (SURVEY.md §2.1)
    "a1_snapshot_latest" -> (SnapshotQueries.a1SnapshotLatest _),
    "a1_snapshot_fold" -> (SnapshotQueries.a1SnapshotFold _),
    "f1_filter" -> (SnapshotQueries.f1Filter _),
    "p1_key_extract" -> (SnapshotQueries.p1KeyExtract _),
    "q1_point_lookup" -> (SnapshotQueries.q1PointLookup _),
    "d1_dump_keys" -> (SnapshotQueries.d1DumpKeys _),
    "replay_to_ts" -> (SnapshotQueries.replayToTs _),
    // the same replay over the STORE: manifest per-file ts bounds skip
    // out-of-range commits before any scan (readRange file pruning)
    "replay_store_ts" -> (StreamQueries.replayStoreTs _),
    // the same range read over an OPTIMIZE'd (clustered-rewrite) layout
    "replay_store_opt" -> (StreamQueries.replayStoreOpt _),
    // the time-window read as SQL through GraftBucketPrune's range rewrite
    "q_sql_range" -> (StreamQueries.qSqlRange _),
    "g1_fanout" -> (SnapshotQueries.g1Fanout _),
    "g2_signals" -> (SnapshotQueries.g2Signals _),
    "a2_encode" -> (RelationalQueries.a2Encode _),
    // event-time windows (north rule; SURVEY.md §2.2 streaming rows)
    "w1_tumbling" -> (WindowQueries.w1Tumbling _),
    "w2_sliding" -> (WindowQueries.w2Sliding _),
    "w3_session" -> (WindowQueries.w3Session _),
    // streaming session windows through an append-mode sink (state-store session merge)
    "w3_stream_session" -> (StreamQueries.w3StreamSession _),
    "w4_tool_usage" -> (WindowQueries.w4ToolUsage _),
    // the windowed analog of s1_stream_snapshot: append-mode streaming
    // tumbling agg, watermark-closed into a parquet sink, then read back
    "w1_stream_tumbling" -> (StreamQueries.w1StreamTumbling _),
    // the real streaming pipeline, end-to-end (S1/S4/A1/O1/G2, H1)
    "s1_stream_snapshot" -> (StreamQueries.s1StreamSnapshot _),
    // the same pipeline on Spark 4's transformWithState (RocksDB state)
    "s1_tws_snapshot" -> (StreamQueries.s1TwsSnapshot _),
    // point lookup routed through SQL + the GraftBucketPrune optimizer rule
    "q1_sql_lookup" -> (StreamQueries.q1SqlLookup _),
    // latest-k turns per conversation: bounded-buffer Aggregator, ≤k rows/key/partition shuffled
    "topk_per_key" -> (StreamQueries.topkPerKey _),
    // incremental/CDC read: changed keys at current state, post-v files only
    "cdc_read" -> (StreamQueries.cdcRead _),
    "store_delete" -> (StreamQueries.storeDelete _),
    // add/drop-column schema evolution: v1 files served null-filled, no rewrite
    "store_schema_evolve" -> (StreamQueries.storeSchemaEvolve _),
    // CMS sketch as streaming state (merge across micro-batches) + exact verify
    "cms_stream_hh" -> (StreamQueries.cmsStreamHh _),
    // streaming vector-index maintenance: per-batch IVF assignment, exactly-once MERGE
    "ann_stream_ingest" -> (StreamQueries.annStreamIngest _),
    // deterministic epoch shuffle: md5-keyed global permutation as (shard, pos)
    "epoch_shuffle" -> (CurationQueries.epochShuffle _),
    // temperature source mixing (τ=0.5): md5-bucketed deterministic sampling
    "mixture_sample" -> (CurationQueries.mixtureSample _),
    // replica built ONLY from the change feed == full snapshot (s1 oracle)
    "cdc_follow" -> (StreamQueries.cdcFollow _),
    // one change feed fanned out to 2 sharded replicas (key-routed MERGEs)
    "cdc_fanout" -> (StreamQueries.cdcFanout _),
    // stream-stream inner join: purchases × preceding signup/click, 24h interval
    "j3_stream_interval" -> (StreamQueries.j3StreamInterval _),
    // stream-static broadcast enrichment (stateless dim join per micro-batch)
    "j4_stream_static" -> (StreamQueries.j4StreamStatic _),
    // stream-stream LEFT OUTER interval join: null rows flushed by a real
    // advancing watermark (state-eviction semantics, sentinel-closed)
    "j5_stream_outer" -> (StreamQueries.j5StreamOuter _),
    // stream-stream LEFT SEMI interval join (existence, state-deduped)
    "j6_stream_semi" -> (StreamQueries.j6StreamSemi _),
    "j7_stream_anti" -> (StreamQueries.j7StreamAnti _),
    // stream-stream FULL OUTER interval join: both sides' unmatched rows
    // flushed by watermark eviction (dual-clock sentinel harness)
    "j8_stream_full" -> (StreamQueries.j8StreamFull _),
    // sliding-window streaming agg (overlapping-window state), sentinel-closed
    "w2_stream_sliding" -> (StreamQueries.w2StreamSliding _),
    // dropDuplicatesWithinWatermark over a 3x-duplicated stream == DISTINCT
    "dedup_stream_watermark" -> (StreamQueries.dedupStreamWatermark _),
    // aggregate view maintained from the change feed (delta view
    // maintenance: -old/+new group deltas, base never rescanned)
    "mv_maintain" -> (StreamQueries.mvMaintain _),
    // the same replica caught up with Trigger.AvailableNow (commit-offset
    // change source, exactly-once MERGE sink)
    "cdc_stream" -> (StreamQueries.cdcStream _),
    // streaming exact dedup: digest-keyed store == DISTINCT md5(text)
    "corpus_ingest" -> (StreamQueries.corpusIngest _),
    // CEP: strict-contiguity sequence match (window form), followed-by
    // funnel, and the SAME strict pattern through the streaming
    // flatMapGroupsWithState NFA (watermark-finalized, append-mode)
    "cep_pattern" -> (CepQueries.cepPattern _),
    "cep_funnel" -> (CepQueries.cepFunnel _),
    "cep_stream" -> (CepQueries.cepStream _),
    // quantified pattern (A B+ C, maximal middle run)
    "cep_quant" -> (CepQueries.cepQuant _),
    // the same NFA on transformWithState (RocksDB ListState + timers)
    "cep_tws" -> (CepQueries.cepTws _),
    // streaming funnel: Update-mode O(k)-state TWS + exactly-once MERGE
    "cep_funnel_stream" -> (CepQueries.cepFunnelStream _),
    // lexical retrieval: sharded inverted index + BM25 ranked top-k
    "inverted_index" -> (RetrievalQueries.invertedIndex _),
    "bm25_topk" -> (RetrievalQueries.bm25TopK _),
    // unigram-LM quality (CCNet-style perplexity filter)
    "lm_quality" -> (RetrievalQueries.lmQuality _),
    // training-sample construction over transcripts
    "assemble_convs" -> (TranscriptQueries.assembleConvs _),
    "pair_extract" -> (TranscriptQueries.pairExtract _),
    "sessionize" -> (TranscriptQueries.sessionize _),
    "context_windows" -> ((s, d) => TranscriptQueries.contextWindows(s, d)),
    "pack_chunks" -> ((s, d) => TranscriptQueries.packChunks(s, d)),
    "dataset_split" -> (TranscriptQueries.datasetSplit _),
    "topk_per_key_native" -> (StreamQueries.topkPerKeyNative _),
    "o1_lineage" -> (StreamQueries.o1Lineage _),
    "h1_lag" -> (StreamQueries.h1Lag _),
    // G1 streaming form: one source, two filtered targets, independent
    // tables + checkpoints (reference PipelineBuilder.scala:154-184)
    "g1_stream_fanout" -> (StreamQueries.g1StreamFanout _),
    // bounded-state fold: TTL eviction + additive generations must equal
    // the unbounded pipeline (same oracle as s1)
    "s1_ttl_snapshot" -> (StreamQueries.s1TtlSnapshot _),
    "s2_json_decode" -> (SnapshotQueries.s2JsonDecode _),
    "agg_typed_fold" -> (StreamQueries.aggTypedFold _),
    "rollup_agg" -> (RelationalQueries.rollupAgg _),
    "approx_distinct" -> (RelationalQueries.approxDistinct _),
    "approx_quantiles" -> (RelationalQueries.approxQuantiles _),
    "cms_counts" -> (RelationalQueries.cmsCounts _),
    "ann_expr" -> ((s, d) => graft.ann.Ann.bruteForceTopKExpr(
      Tables.embeddings(s, d), queryId = 0L, k = 10)),
    // relational surface (SURVEY.md §2.2)
    "wf_running_state" -> (RelationalQueries.wfRunningState _),
    "wf_rank_funcs" -> (RelationalQueries.wfRankFuncs _),
    "wf_dist_funcs" -> (RelationalQueries.wfDistFuncs _),
    "pivot_counts" -> (RelationalQueries.pivotCounts _),
    "unpivot_counts" -> (RelationalQueries.unpivotCounts _),
    "heavy_hitters" -> (RelationalQueries.heavyHitters _),
    "hof_fns" -> (TextQueries.hofFns _),
    // IVF ANN (deterministic coarse centroids → probed inverted lists)
    "ann_ivf" -> ((s, d) => graft.ann.Ann.ivfTopK(
      Tables.embeddings(s, d), queryId = 0L, k = 10,
      numCentroids = 16, nProbe = 4)),
    // IVF over Lloyd-TRAINED centroids, probed in full: exercises the
    // whole k-means training + assignment + inverted-list pipeline in the
    // oracle harness. Full probe makes the result exactly brute force (the
    // IVF exactness guarantee), so the oracle is exact SQL; the
    // nProbe < C pruning path is oracled by ann_ivf (literal centroids)
    // and the partial-probe recall by KMeansSpec — DuckDB cannot re-run
    // Lloyd's, so the trained row pins the training side instead.
    "ann_ivf_trained" -> ((s, d) => graft.ann.KMeans.trainedIvfTopK(
      Tables.embeddings(s, d), queryId = 0L, k = 10,
      numCentroids = 8, iters = 2, nProbe = 8)(s)),
    // Point-in-time join: attribute each click to the user's most recent
    // view at-or-before it (null when none). One keyed shuffle + window —
    // oracled against DuckDB's NATIVE ASOF LEFT JOIN, so the oracle is an
    // independent as-of implementation, not a SQL transliteration of ours.
    "asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_event_id"))
      graft.join.AsOfJoin.asOf(clicks, views, Seq("user_id"),
        leftTs = "ts", rightTs = "ts", rightCols = Seq("view_event_id"),
        matchedTsAs = "view_ts")
    }),
    "j1_join_broadcast" -> (RelationalQueries.j1JoinBroadcast _),
    "j2_join_shuffle" -> (RelationalQueries.j2JoinShuffle _),
    // Manual skew remedy on the join side (north rule): deterministic
    // salted join — hot probe keys spread over 8 salt slices, dim side
    // replicated — must be row-identical to the plain join, so the
    // oracle IS the plain join.
    "skew_join_salted" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val dim = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_user_events"))
      graft.skew.Salting.saltedJoin(
        ev.select(col("event_id"), col("user_id")), dim,
        keys = Seq("user_id"), saltCols = Seq("event_id"), salts = 8)
        .select(col("event_id"), col("user_id"), col("n_user_events"))
    }),
    // Interval-containment join via binning (equi-join on time bin +
    // residual filter — no BroadcastNestedLoop): for each error event,
    // how many 30-min-gap sessions (any user) were active at its ts.
    "range_join" -> ((s, d) => {
      val sessions = WindowQueries.w3Session(s, d)
        .select(col("session_start_us"), col("session_end_us"))
      val errors = Tables.events(s, d).filter(col("event_type") === "error")
        .select(col("event_id"), unix_micros(col("ts")).as("pt"))
      val pairs = graft.join.RangeJoin.pointInInterval(errors, "pt",
        sessions, "session_start_us", "session_end_us",
        binWidth = 3600L * 1000000L)
      errors.select(col("event_id")).join(
        pairs.groupBy(col("event_id")).agg(count(lit(1)).as("n_active")),
        Seq("event_id"), "left")
        .select(col("event_id"),
          coalesce(col("n_active"), lit(0L)).as("n_active_sessions"))
    }),
    "q1_agg" -> (RelationalQueries.q1Agg _),
    "topk_hot_keys" -> (RelationalQueries.topkHotKeys _),
    "set_except" -> (RelationalQueries.setExcept _),
    "set_intersect" -> (RelationalQueries.setIntersect _),
    "cube_agg" -> (RelationalQueries.cubeAgg _),
    // Q2 — snapshot list (znap RestApi.scala:42-48): engine registry of
    // available tables in the dataset directory (rows-only).
    "q2_snapshot_list" -> ((s, d) => {
      import org.apache.spark.sql.functions.lit
      val entries = Option(new java.io.File(d).listFiles()).getOrElse(
        throw new IllegalArgumentException(s"no such dataset directory: $d"))
      val names = entries
        .filter(_.getName.endsWith(".parquet")).map(_.getName.stripSuffix(".parquet"))
        .sorted.toSeq
      import s.implicits._
      names.toDF("snapshot_target")
    }),
    "scalar_fns" -> (RelationalQueries.scalarFns _),
    // training-data pipeline: text analysis + dedup
    "dedup_exact" -> (TextQueries.dedupExact _),
    "text_quality" -> (TextQueries.textQuality _),
    "lang_id" -> (TextQueries.langId _),
    "fingerprint" -> (TextQueries.fingerprint _),
    "token_counts" -> (TextQueries.tokenCounts _),
    "stratified_sample" -> ((s, d) => TextQueries.stratifiedSample(s, d)),
    "source_cap" -> ((s, d) => TextQueries.sourceCap(s, d)),
    "redact_pii" -> (TextQueries.redactPii _),
    "top_terms" -> (TextQueries.topTerms _),
    "repetition_ratio" -> (TextQueries.repetitionRatio _),
    "dup_spans" -> ((s, d) => TextQueries.dupSpans(s, d)),
    "strip_spans" -> (TextQueries.stripSpans _),
    // eval-leakage gate: shared-8-shingle flags vs a held-out benchmark
    // set (broadcast probe — the training side never shuffles)
    "decontam" -> (TextQueries.decontaminate _),
    // RAG/embedding prep: overlapping token windows, narrow posexplode
    "chunk_overlap" -> ((s, d) => TextQueries.chunkOverlap(s, d)),
    // two-phase tokenize: global top-V vocab + broadcast id encoding
    "vocab_encode" -> ((s, d) => TextQueries.vocabEncode(s, d)),
    // The dedup pipeline's actual OUTPUT: keep each duplicate class's
    // representative (cluster_id == doc_id) plus all unclustered docs —
    // candidates → verified pairs → connected components → filter,
    // end-to-end.
    "dedup_filtered" -> ((s, d) => dedupFilteredDocs(s, d)),
    // The complete corpus-build flow in ONE plan: dedup (LSH candidates →
    // exact-Jaccard verify → connected components → representative
    // filter) → quality gate (length) → sequence packing into per-shard
    // training chunks. Oracled by composing the stage SQLs.
    "corpus_build" -> ((s, d) => {
      val survivors = Tables.documents(s, d)
        .join(dedupFilteredDocs(s, d), "doc_id")
        .filter(col("n_chars") >= 200)
      graft.queries.TranscriptQueries.packOver(survivors)
    }),
    "ngram_jaccard" -> (TextQueries.ngramJaccard _),
    "ngram_jaccard_lsh" -> (TextQueries.ngramJaccardLsh _),
    // MinHash LSH candidates verified by exact Jaccard: the LSH bands
    // generate candidate pairs, the exact shingle-Jaccard filter keeps
    // true near-dups — the standard two-stage dedup pipeline. Oracled
    // against pure exact-Jaccard SQL: green ⟺ the LSH stage found EVERY
    // true pair on this corpus (machine-checked recall=1.0), since a
    // missed candidate can never reach the output.
    // FIXTURE-DEPENDENT oracle (like approx_distinct below): recall=1.0
    // is a corpus property, validated on the driver's sf0.001-0.1
    // fixtures. A red row on a NEW fixture means the data's similarity
    // structure moved past the banding parameters (b=32, r=2 ⇒ ~50%
    // threshold), not that the engine regressed — triage accordingly.
    "dedup_minhash" -> ((s, d) =>
      verifiedNearDupPairs(s, d).select(col("doc_a"), col("doc_b"))),
    // Duplicate CLASSES from the candidate pairs: distributed connected
    // components (large-star/small-star) over the verified near-dup pair
    // graph, one (doc_id, cluster_id=min of class) row per document —
    // the clustering stage the hot-bucket guard's star emission relies
    // on. Oracled against a DuckDB recursive-CTE transitive closure of
    // the same exact-Jaccard pair set.
    "dedup_clusters" -> (dedupClusters _),
    // SimHash near-dup candidates over the oracle-reproducible (md5-based)
    // token hash: chunk-LSH join + exact hamming filter. The oracle is the
    // brute-force all-pairs hamming≤3 SQL — equality machine-checks BOTH
    // the signature computation and the pigeonhole completeness of the
    // 4-chunk candidate generation.
    "dedup_simhash" -> ((s, d) => graft.dedup.Dedup.simhashCandidatesOracle(
      Tables.documents(s, d), "doc_id", "text")),
    // similarity search
    "ann_bruteforce" -> ((s, d) => graft.ann.Ann.bruteForceTopK(
      Tables.embeddings(s, d), queryId = 0L, k = 10)),
    "ann_lsh" -> ((s, d) => graft.ann.Ann.lshTopK(
      Tables.embeddings(s, d), queryId = 0L, k = 10, bands = 4, planesPerBand = 4)),
    "emb_neardup" -> ((s, d) => graft.ann.Ann.nearDupPairs(
      Tables.embeddings(s, d), maxId = 300L, minCos = 0.4)),
    // SemDeDup-style semantic dedup: coarse clusters bound the pairwise
    // term to N²/C; within-cluster cosine near-dups marked, min-id kept
    "semantic_dedup" -> ((s, d) => graft.ann.Ann.semanticDedup(
      Tables.embeddings(s, d), numCentroids = 16, minCos = 0.4)),
    // int8 embedding quantization: narrow per-row, bit-exact double oracle
    "emb_quantize" -> ((s, d) => graft.ann.Ann.quantizeInt8(
      Tables.embeddings(s, d))),
    // multimodal plumbing (stubbed codec, real schema/partitioning)
    "mm_decode" -> ((s, d) => graft.multimodal.Multimodal.decodeDocuments(s, d)
      .select(col("doc_id"), col("media_type"),
      col("n_bytes").cast("long").as("n_bytes"), col("feat0").cast("long").as("feat0"))),
    // 1→N frame sampling: each payload explodes to ≤8 256-byte frames;
    // boundaries/lengths/first-bytes are byte-exact against the oracle
    "mm_frames" -> ((s, d) => graft.multimodal.Multimodal.frameDocuments(s, d)
      .select(col("doc_id"), col("frame_idx"),
        col("frame_bytes"), col("frame_feat0"))),
    // resize (stride decimation to ≤1024 bytes) composed with decode —
    // transform chaining with SQL-checkable output lengths
    "mm_resize" -> ((s, d) => graft.multimodal.Multimodal.resizeDocuments(s, d)))

  def oracleSql: Map[String, String] = Map(
    "a1_snapshot_latest" -> SnapshotQueries.a1SnapshotLatestSql,
    "a1_snapshot_fold" -> SnapshotQueries.a1SnapshotFoldSql,
    "f1_filter" -> SnapshotQueries.f1FilterSql,
    "p1_key_extract" -> SnapshotQueries.p1KeyExtractSql,
    "q1_point_lookup" -> SnapshotQueries.q1PointLookupSql,
    "d1_dump_keys" -> SnapshotQueries.d1DumpKeysSql,
    "replay_to_ts" -> SnapshotQueries.replayToTsSql,
    "replay_store_ts" -> SnapshotQueries.replayToTsSql, // same cutoff + contract
    "replay_store_opt" -> SnapshotQueries.replayToTsSql, // post-OPTIMIZE layout
    "q_sql_range" -> StreamQueries.qSqlRangeSql,

    "g1_fanout" -> SnapshotQueries.g1FanoutSql,
    "g2_signals" -> SnapshotQueries.g2SignalsSql,
    "a2_encode" -> RelationalQueries.a2EncodeSql,
    "w1_tumbling" -> WindowQueries.w1TumblingSql,
    "w2_sliding" -> WindowQueries.w2SlidingSql,
    "w3_session" -> WindowQueries.w3SessionSql,
    "w3_stream_session" -> WindowQueries.w3SessionSql,
    "w4_tool_usage" -> WindowQueries.w4ToolUsageSql,
    "w1_stream_tumbling" -> StreamQueries.w1StreamTumblingSql,
    "s1_stream_snapshot" -> StreamQueries.s1StreamSnapshotSql,
    "s1_tws_snapshot" -> StreamQueries.s1StreamSnapshotSql,
    "q1_sql_lookup" -> StreamQueries.q1SqlLookupSql,
    "topk_per_key" -> StreamQueries.topkPerKeySql,
    "cdc_read" -> StreamQueries.cdcReadSql,
    "store_delete" -> StreamQueries.storeDeleteSql,
    "store_schema_evolve" -> StreamQueries.storeSchemaEvolveSql,
    "cms_stream_hh" -> RelationalQueries.heavyHittersSql, // sketch side streaming, same exact output
    "ann_stream_ingest" -> StreamQueries.annStreamIngestSql,

    "epoch_shuffle" -> CurationQueries.epochShuffleSql,
    "mixture_sample" -> CurationQueries.mixtureSampleSql,
    "cdc_follow" -> StreamQueries.s1StreamSnapshotSql,
    "cdc_stream" -> StreamQueries.s1StreamSnapshotSql, // replica == full snapshot
    "cdc_fanout" -> StreamQueries.cdcFanoutSql,
    "j3_stream_interval" -> StreamQueries.j3StreamIntervalSql,
    "j4_stream_static" -> StreamQueries.j4StreamStaticSql,
    "j5_stream_outer" -> StreamQueries.j5StreamOuterSql,
    "j6_stream_semi" -> StreamQueries.j6StreamSemiSql,
    "j7_stream_anti" -> StreamQueries.j7StreamAntiSql,
    "j8_stream_full" -> StreamQueries.j8StreamFullSql,
    "w2_stream_sliding" -> StreamQueries.w2StreamSlidingSql,
    "dedup_stream_watermark" -> StreamQueries.dedupStreamWatermarkSql,
    "mv_maintain" -> StreamQueries.mvMaintainSql,
    "corpus_ingest" -> StreamQueries.corpusIngestSql,
    "cep_pattern" -> CepQueries.cepPatternSql,
    "cep_funnel" -> CepQueries.cepFunnelSql,
    "cep_stream" -> CepQueries.cepStreamSql, // streaming NFA == batch window form
    "cep_quant" -> CepQueries.cepQuantSql,
    "cep_tws" -> CepQueries.cepTwsSql, // TWS NFA == fMGWS NFA == batch
    "cep_funnel_stream" -> CepQueries.cepFunnelStreamSql, // live funnel == batch
    "inverted_index" -> RetrievalQueries.invertedIndexSql,
    "bm25_topk" -> RetrievalQueries.bm25TopKSql,
    "lm_quality" -> RetrievalQueries.lmQualitySql,
    "assemble_convs" -> TranscriptQueries.assembleConvsSql,
    "pair_extract" -> TranscriptQueries.pairExtractSql,
    "sessionize" -> TranscriptQueries.sessionizeSql,
    "context_windows" -> TranscriptQueries.contextWindowsSql,
    "pack_chunks" -> TranscriptQueries.packChunksSql(),
    "dataset_split" -> TranscriptQueries.datasetSplitSql,
    "topk_per_key_native" -> StreamQueries.topkPerKeySql,
    "g1_stream_fanout" -> StreamQueries.g1StreamFanoutSql,
    "s1_ttl_snapshot" -> StreamQueries.s1StreamSnapshotSql, // same semantics, same oracle
    "s2_json_decode" -> SnapshotQueries.s2JsonDecodeSql,
    "agg_typed_fold" -> StreamQueries.s1StreamSnapshotSql, // same semantics, same oracle
    "rollup_agg" -> RelationalQueries.rollupAggSql,
    "ann_expr" -> annBruteforceSql,
    "wf_running_state" -> RelationalQueries.wfRunningStateSql,
    "wf_rank_funcs" -> RelationalQueries.wfRankFuncsSql,
    "wf_dist_funcs" -> RelationalQueries.wfDistFuncsSql,
    "pivot_counts" -> RelationalQueries.pivotCountsSql,
    "unpivot_counts" -> RelationalQueries.unpivotCountsSql,
    "heavy_hitters" -> RelationalQueries.heavyHittersSql,
    "hof_fns" -> TextQueries.hofFnsSql,
    "ann_ivf" -> graft.ann.Ann.ivfTopKSql(queryId = 0L, k = 10,
      numCentroids = 16, nProbe = 4),
    "ann_ivf_trained" -> annBruteforceSql, // full probe ≡ brute force (exact)
    "asof_join" -> asofJoinSql,
    "range_join" -> rangeJoinSql,
    "skew_join_salted" -> """
       SELECT e.event_id, e.user_id, t.n_user_events
       FROM events e JOIN (
         SELECT user_id, count(*) AS n_user_events
         FROM events GROUP BY 1) t USING (user_id)""",
    "j1_join_broadcast" -> RelationalQueries.j1JoinBroadcastSql,
    "j2_join_shuffle" -> RelationalQueries.j2JoinShuffleSql,
    "q1_agg" -> RelationalQueries.q1AggSql,
    "topk_hot_keys" -> RelationalQueries.topkHotKeysSql,
    "set_except" -> RelationalQueries.setExceptSql,
    "set_intersect" -> RelationalQueries.setIntersectSql,
    "cube_agg" -> RelationalQueries.cubeAggSql,
    "scalar_fns" -> RelationalQueries.scalarFnsSql,
    "dedup_exact" -> TextQueries.dedupExactSql,
    "text_quality" -> TextQueries.textQualitySql,
    "lang_id" -> TextQueries.langIdSql,
    "fingerprint" -> TextQueries.fingerprintSql,
    "token_counts" -> TextQueries.tokenCountsSql,
    "stratified_sample" -> TextQueries.stratifiedSampleSql,
    "source_cap" -> TextQueries.sourceCapSql,
    "redact_pii" -> TextQueries.redactPiiSql,
    "top_terms" -> TextQueries.topTermsSql,
    "dup_spans" -> TextQueries.dupSpansSql,
    "strip_spans" -> TextQueries.stripSpansSql,
    "decontam" -> TextQueries.decontaminateSql,
    "chunk_overlap" -> TextQueries.chunkOverlapSql,
    "vocab_encode" -> TextQueries.vocabEncodeSql,
    "repetition_ratio" -> TextQueries.repetitionRatioSql,
    "dedup_filtered" ->
      s"""SELECT doc_id FROM ($dedupClustersSql) WHERE doc_id = cluster_id""",
    "corpus_build" ->
      s"""WITH kept AS (
            SELECT doc_id FROM ($dedupClustersSql) WHERE doc_id = cluster_id),
          surv AS (
            SELECT d.doc_id, d.n_chars,
                   CAST(((d.doc_id % 8) + 8) % 8 AS INT) AS shard
            FROM documents d JOIN kept USING (doc_id)
            WHERE d.n_chars >= 200)
          SELECT doc_id, shard,
            CAST(COALESCE(sum(n_chars) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
              AS stream_off,
            CAST(floor(COALESCE(sum(n_chars) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4096) AS BIGINT)
              AS chunk_id
          FROM surv""",
    "ngram_jaccard" -> TextQueries.ngramJaccardSql,
    "ngram_jaccard_lsh" -> TextQueries.ngramJaccardLshSql,
    "ann_bruteforce" -> annBruteforceSql,
    "ann_lsh" -> graft.ann.Ann.lshTopKSql(queryId = 0L, k = 10, dim = 64,
      bands = 4, planesPerBand = 4),
    // The 5% HLL error bound is the oracled column. The sketch runs at
    // rsd=0.01, so the asserted 5% is a ~5-sigma contract — robust to
    // fixture cardinality (the earlier rsd=0.05 variant failed every
    // group at sf0.1 on systematic mid-range bias; round-3 fix).
    "approx_distinct" -> RelationalQueries.approxDistinctSql,
    "approx_quantiles" -> RelationalQueries.approxQuantilesSql,
    "cms_counts" -> RelationalQueries.cmsCountsSql,
    "dedup_minhash" -> dedupMinhashVerifiedSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_simhash" -> graft.dedup.Dedup.simhashCandidatesOracleSql,
    "emb_neardup" -> embNearDupSql,
    "semantic_dedup" -> graft.ann.Ann.semanticDedupSql(
      numCentroids = 16, minCos = 0.4),
    "emb_quantize" -> graft.ann.Ann.quantizeInt8Sql,
    "mm_decode" -> mmDecodeSql,
    "mm_frames" -> mmFramesSql,
    "mm_resize" -> mmResizeSql,
    // Q2 lists the dataset dir's catalog; the fixture's table set is fixed
    // by TESTDATA.md, so the oracle pins it as literals — the engine side
    // still genuinely enumerates the directory.
    "q2_snapshot_list" -> ("""SELECT snapshot_target FROM (VALUES
       ('customer'),('documents'),('embeddings'),('events'),('lineitem'),
       ('nation'),('orders'),('part'),('region'),('supplier'))
       AS t(snapshot_target)"""),
    // O1/H1: lineage is tracked on a LOGICAL 8-way key shard (stable
    // across core counts — see MergeSink.lineageOf), folded across
    // batches to the columns that are pure functions of the data
    // (StreamQueries.o1Lineage doc), so both rows are fully oracled
    // since round 5 (they were justified rows-only in r2-r4).
    "o1_lineage" ->
      """SELECT CAST(user_id AS BIGINT) % 8 AS partition_id,
         min(CAST(user_id AS VARCHAR)) AS min_conv_id,
         max(CAST(user_id AS VARCHAR)) AS max_conv_id,
         max(epoch_us(ts)) AS last_ts_us
         FROM events GROUP BY 1""",
    "h1_lag" ->
      """WITH s AS (SELECT CAST(user_id AS BIGINT) % 8 AS partition_id,
                           max(epoch_us(ts)) AS committed_ts_us
                    FROM events GROUP BY 1)
         SELECT partition_id, committed_ts_us,
                ((SELECT max(committed_ts_us) FROM s) - committed_ts_us)
                  // 1000 AS lag_ms
         FROM s""")

  /** Exact-Jaccard near-dup pairs (the dedup_minhash oracle): identical to
    * ngramJaccardSql's pair set, projected to ids — the Spark side must
    * reproduce it THROUGH the LSH candidate stage.
    */
  private val dedupMinhashVerifiedSql: String =
    """WITH docs AS (
         SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
         FROM documents WHERE doc_id < 300),
       shl AS (
         SELECT doc_id,
           [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
            for i in generate_series(1, len(w) - 2)] AS shs
         FROM docs WHERE len(w) >= 3),
       sh AS (SELECT DISTINCT doc_id, unnest(shs) AS sh FROM shl),
       sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       pairs AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT doc_a, doc_b
       FROM pairs
       JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE inter * 2 >= sa.n_sh + sb.n_sh - inter"""

  /** Plain inequality join as ground truth for the binned range join:
    * same session definition as w3SessionSql, then per error event the
    * count of sessions containing its timestamp (0 kept via LEFT JOIN).
    */
  private val rangeJoinSql: String =
    """WITH flagged AS (
         SELECT user_id, ts,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     >= INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                THEN 1 ELSE 0 END AS new_session
         FROM events),
       numbered AS (
         SELECT user_id, ts,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         FROM flagged),
       sess AS (
         SELECT epoch_us(min(ts)) AS lo,
                epoch_us(max(ts) + INTERVAL '30 minutes') AS hi
         FROM numbered GROUP BY user_id, session_id),
       errors AS (
         SELECT event_id, epoch_us(ts) AS pt
         FROM events WHERE event_type = 'error')
       SELECT e.event_id, CAST(count(s.lo) AS BIGINT) AS n_active_sessions
       FROM errors e LEFT JOIN sess s ON e.pt >= s.lo AND e.pt < s.hi
       GROUP BY 1"""

  /** DuckDB's native ASOF LEFT JOIN — an independent point-in-time-join
    * implementation as ground truth for the union+window formulation.
    * Views are pre-deduped to one row per (user_id, ts) so the match is
    * deterministic on both engines.
    */
  private val asofJoinSql: String =
    """WITH clicks AS (
         SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
       views AS (
         SELECT user_id, ts, max(event_id) AS view_event_id
         FROM events WHERE event_type = 'view' GROUP BY 1, 2)
       SELECT c.event_id, c.user_id, c.ts,
              v.view_event_id, v.ts AS view_ts
       FROM clicks c ASOF LEFT JOIN views v
         ON c.user_id = v.user_id AND c.ts >= v.ts"""

  /** Transitive closure of the exact-Jaccard near-dup pair graph via a
    * recursive CTE: for every doc < 300, the min doc id reachable through
    * pair edges (self included) — exactly the cluster assignment the
    * large-star/small-star pass must produce.
    */
  private val dedupClustersSql: String =
    """WITH RECURSIVE docs AS (
         SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
         FROM documents WHERE doc_id < 300),
       shl AS (
         SELECT doc_id,
           [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
            for i in generate_series(1, len(w) - 2)] AS shs
         FROM docs WHERE len(w) >= 3),
       sh AS (SELECT DISTINCT doc_id, unnest(shs) AS sh FROM shl),
       sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       cnts AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       tp AS (
         SELECT doc_a, doc_b
         FROM cnts
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE inter * 2 >= sa.n_sh + sb.n_sh - inter),
       edges AS (SELECT doc_a AS s, doc_b AS t FROM tp
                 UNION SELECT doc_b, doc_a FROM tp),
       reach(node, r) AS (
         SELECT doc_id, doc_id FROM documents WHERE doc_id < 300
         UNION
         SELECT e.t, r.r FROM reach r JOIN edges e ON e.s = r.node)
       SELECT CAST(node AS BIGINT) AS doc_id,
              CAST(min(r) AS BIGINT) AS cluster_id
       FROM reach GROUP BY node"""

  private val annBruteforceSql: String =
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
                  FROM embeddings WHERE vec_id = 0),
       scored AS (
         SELECT vec_id,
           list_dot_product(CAST(embedding AS DOUBLE[]), qe) /
             (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                    CAST(embedding AS DOUBLE[]))) *
              sqrt(list_dot_product(qe, qe))) AS cos
         FROM embeddings, q WHERE vec_id <> 0)
       SELECT vec_id, rk, cos FROM (
         SELECT vec_id, cos,
           row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS rk
         FROM scored)
       WHERE rk <= 10"""

  private val embNearDupSql: String =
    """WITH e AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[]))) AS nrm
         FROM embeddings WHERE vec_id < 300)
       SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       FROM e a JOIN e b ON a.vec_id < b.vec_id
       WHERE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) >= 0.4"""

  private val mmDecodeSql: String =
    """SELECT doc_id, 'text/plain' AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(CASE WHEN length(text) = 0 THEN -1
            ELSE ascii(substr(text, 1, 1)) END AS BIGINT) AS feat0
       FROM documents"""

  /** Byte-exact frame oracle: DuckDB 1.0 has no blob substring, so the
    * payload is hexed once and frames are slices of the hex string —
    * byte i lives at hex chars [2i+1, 2i+2], independent of text
    * encoding.
    */
  private val mmFramesSql: String =
    """WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                         octet_length(encode(text)) AS n
                  FROM documents),
       f AS (SELECT doc_id, n, hx,
               unnest(range(least(CAST(ceil(n/256.0) AS INT), 8))) AS frame_idx
             FROM m WHERE n > 0)
       SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
         CAST(least(256, n - frame_idx*256) AS INT) AS frame_bytes,
         CAST(16*(strpos('0123456789ABCDEF', substr(hx, frame_idx*512+1, 1))-1)
          + strpos('0123456789ABCDEF', substr(hx, frame_idx*512+2, 1))-1 AS INT)
           AS frame_feat0
       FROM f"""

  private val mmResizeSql: String =
    """WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
                         octet_length(encode(text)) AS n
                  FROM documents)
       SELECT doc_id,
         CAST(CASE WHEN n <= 1024 THEN n
              ELSE (n - 1) // ((n + 1023) // 1024) + 1 END AS BIGINT)
           AS resized_bytes,
         CAST(CASE WHEN n = 0 THEN -1
              ELSE 16*(strpos('0123456789ABCDEF', substr(hx, 1, 1))-1)
                   + strpos('0123456789ABCDEF', substr(hx, 2, 1))-1 END AS BIGINT)
           AS feat0
       FROM m"""
}
