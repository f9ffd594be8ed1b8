package graft.queries

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.model.{Schemas, Turn}
import graft.ops.LagReport
import graft.pipeline.Fanout
import graft.queries.StreamDrain.{drain, drainAll, drainToParquet, fileStream}
import graft.replay.Replay
import graft.store.IcebergLikeTable

/** The real streaming pipeline run end-to-end inside a query: events →
  * file-stream (multi-batch) → watermark → flatMapGroupsWithState fold →
  * foreachBatch MERGE into the Iceberg-like table → batch read-back.
  * Because the DuckDB oracle checks the RESULT, this is machine-checked
  * proof that the streaming path equals the batch SQL semantics
  * (SURVEY.md §2 rows S1/S4/A1/O1/G2 in one plan).
  *
  * The pipeline run is cached per (session, dir): s1/o1/h1 are three
  * views of ONE run (re-running the whole stream per query tripled the
  * bench cost for no information).
  */
object StreamQueries {

  /** Map the driver's events table onto the turns schema: user_id is the
    * conversation key, event_id the per-key order (events are generated in
    * ts order, so max event_id == latest ts — same tie-break as the fold).
    * The int cast is the Turn model's contract (input_hint:
    * `turn_idx:int32` — a conversation-LOCAL index, which fits int32 even
    * at 10^12 total turns); it assumes the fixture's event_id stays below
    * 2^31 — a global-int64 id source must be re-indexed per conversation
    * before this mapping, or the cast truncates.
    */
  private[graft] def eventsAsTurns(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("user_id").cast("string").as("conv_id"),
      col("event_id").cast("int").as("turn_idx"),
      col("event_type").as("role"),
      col("props").as("text"),
      lit("").as("tool"),
      col("ts"))

  /** The s1 oracle's 6-column contract — every query that hash-compares a
    * snapshot against the s1 SQL projects through HERE, so the contract
    * lives in one place.
    */
  private def snapshotOracleView(df: DataFrame): DataFrame = df.select(
    col("conv_id"),
    col("last_turn_idx").cast("long").as("last_turn_idx"),
    col("last_role"),
    col("turn_count"),
    unix_micros(col("first_ts")).as("first_ts_us"),
    unix_micros(col("last_ts")).as("last_ts_us"))

  private val pipelineCache = new FixtureCache[IcebergLikeTable]()
  private val fanoutCache =
    new FixtureCache[Seq[(String, IcebergLikeTable)]]()
  private val turnsByTsCache = new FixtureCache[String]()

  /** ONE time-ordered staged copy of the turns, shared by every drain
    * that streams `eventsAsTurns` range-partitioned by ts with no
    * appended sentinel rows (the s1 fMGWS/TWS/TTL pipelines, the j3/j6
    * interval joins, the g1 fan-out): r5 wrote the identical 4-file
    * staging SIX times per session+dir — pure duplicated parquet writes
    * (guide §1.2: don't compute things you throw away). Files are
    * mtime-stamped ascending so arrival order = time order — REQUIRED by
    * the TTL pipeline, and result-invariant for the wide-watermark
    * consumers (their folds/joins are arrival-order-independent, which
    * is exactly what their oracles prove). Staging is immutable once
    * built; every consumer still runs its own streaming query,
    * checkpoint, and sink — the part under test.
    */
  private def stagedTurnsByTs(s: SparkSession, d: String): String =
    turnsByTsCache.getOrElseUpdate((s, d)) {
      val inDir = Files.createTempDirectory("graft-turns-ts").toString + "/in"
      eventsAsTurns(s, d).repartitionByRange(4, col("ts")).write.parquet(inDir)
      stampAscending(inDir)
      inDir
    }

  /** Runs (once per session+dir) the pipeline into a fresh temp table. */
  private def runPipeline(s: SparkSession, d: String): IcebergLikeTable =
    pipelineCache.getOrElseUpdate((s, d)) {
      locally({
        import s.implicits._
        implicit val sp: SparkSession = s
        val tmp = Files.createTempDirectory("graft-stream-q").toString
        val inDir = stagedTurnsByTs(s, d)
        // key blooms on: the oracled q1_sql_lookup / s1 snapshot reads
        // exercise bloom-bearing files end to end
        val table = new IcebergLikeTable(s"$tmp/table", 8,
          keyBloomNdv = Some(4096L))
        // wide watermark: file arrival order is not ts order, nothing is late
        // lineage on a LOGICAL 8-way key shard (not spark_partition_id):
        // stable across core counts/replans, so o1/h1 are oracle-able
        drain(s, inDir)(ckpt => Replay.fromCheckpoint(
          fileStream(s, inDir, Schemas.turn).as[Turn], table, ckpt,
          watermark = "3650 days",
          lineageShard = Some(pmod(col("conv_id").cast("long"), lit(8)))))
        table
      })
    }

  /** S1+A1+O1: streaming snapshot, DuckDB-oracled. */
  def s1StreamSnapshot(s: SparkSession, d: String): DataFrame =
    snapshotOracleView(runPipeline(s, d).read())

  private val twsCache = new FixtureCache[IcebergLikeTable]()

  /** The s1 pipeline re-run on Spark 4's `transformWithState`
    * ([[graft.snapshot.SnapshotTws]]): same multi-batch file-stream
    * input, same exactly-once MERGE sink, RocksDB state store (TWS
    * requires it — and it is the 10^8-key production config anyway).
    * Shares the s1 oracle: machine-checked proof that the TWS fold, the
    * fMGWS fold, and the batch SQL agree.
    */
  private def runTwsPipeline(s: SparkSession, d: String): IcebergLikeTable =
    twsCache.getOrElseUpdate((s, d)) {
      locally({
        import s.implicits._
        implicit val sp: SparkSession = s
        graft.snapshot.SnapshotTws.withRocksDb(s) {
          val tmp = Files.createTempDirectory("graft-tws-q").toString
          val inDir = stagedTurnsByTs(s, d)
          val table = new IcebergLikeTable(s"$tmp/table", 8)
          drain(s, inDir)(ckpt => graft.snapshot.SnapshotTws
            .updates(fileStream(s, inDir, Schemas.turn).as[Turn],
              watermark = "3650 days")
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(graft.sink.MergeSink(table) _)
            .start())
          table
        }
      })
    }

  /** S1+A1 on transformWithState — the modern stateful API, same oracle. */
  def s1TwsSnapshot(s: SparkSession, d: String): DataFrame =
    snapshotOracleView(runTwsPipeline(s, d).read())

  val s1StreamSnapshotSql: String =
    """WITH t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id,
                         event_id AS turn_idx, event_type AS role, ts
                  FROM events),
       r AS (SELECT conv_id, turn_idx, role, row_number() OVER
               (PARTITION BY conv_id ORDER BY turn_idx DESC) AS rn FROM t),
       a AS (SELECT conv_id, count(*) AS turn_count,
                    min(epoch_us(ts)) AS first_ts_us,
                    max(epoch_us(ts)) AS last_ts_us
             FROM t GROUP BY conv_id)
       SELECT a.conv_id, r.turn_idx AS last_turn_idx, r.role AS last_role,
              a.turn_count, a.first_ts_us, a.last_ts_us
       FROM a JOIN r ON a.conv_id = r.conv_id AND r.rn = 1"""

  /** Q1 through the OPTIMIZER (plans/GraftScan.scala): the snapshot table
    * registered as a SQL view via the symbolic GraftScan leaf; the
    * GraftBucketPrune rule rewrites the `WHERE conv_id = '7'` predicate
    * into the single-bucket manifest read at plan time. Shares the s1
    * pipeline run; the oracle is the s1 SQL restricted to the same key —
    * machine-checked proof the Catalyst route equals the imperative
    * `lookup()` semantics.
    */
  def q1SqlLookup(s: SparkSession, d: String): DataFrame = {
    val table = runPipeline(s, d)
    graft.plans.GraftScan.install(s)
    graft.plans.GraftScan.relation(s, table).createOrReplaceTempView("graft_snapshot")
    s.sql(
      """SELECT conv_id, CAST(last_turn_idx AS BIGINT) AS last_turn_idx,
         last_role, turn_count,
         unix_micros(first_ts) AS first_ts_us,
         unix_micros(last_ts) AS last_ts_us
         FROM graft_snapshot WHERE conv_id = '7'""")
  }

  val q1SqlLookupSql: String =
    """WITH t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id,
                         event_id AS turn_idx, event_type AS role, ts
                  FROM events WHERE user_id = 7),
       r AS (SELECT conv_id, turn_idx, role, row_number() OVER
               (PARTITION BY conv_id ORDER BY turn_idx DESC) AS rn FROM t),
       a AS (SELECT conv_id, count(*) AS turn_count,
                    min(epoch_us(ts)) AS first_ts_us,
                    max(epoch_us(ts)) AS last_ts_us
             FROM t GROUP BY conv_id)
       SELECT a.conv_id, r.turn_idx AS last_turn_idx, r.role AS last_role,
              a.turn_count, a.first_ts_us, a.last_ts_us
       FROM a JOIN r ON a.conv_id = r.conv_id AND r.rn = 1"""

  /** Typed-Aggregator surface (SURVEY.md §2.2 UDAF row): the same fold as
    * the streaming pipeline, run as a batch `Aggregator[Turn,Buf,Snap]` —
    * shares the s1 oracle, so Aggregator == streaming == SQL.
    */
  def aggTypedFold(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    snapshotOracleView(
      graft.snapshot.SnapshotFold.typedSnapshots(eventsAsTurns(s, d).as[Turn])
        .toDF())
  }

  /** Incremental (CDC) read exhibit: two commits — the fold of the first
    * half of the event log (split at floor(max(event_id)/2)), then the
    * cumulative fold of every conversation touched by the second half —
    * and `readChangesSince(0)` returns exactly the second commit's keys
    * at their CURRENT state, reading only post-v0 files
    * (store/IcebergLikeTable.readChangesSince). Oracle: the s1 snapshot
    * SQL restricted to conversations with late events.
    */
  private val cdcCache = new FixtureCache[(IcebergLikeTable, String)]()

  /** Builds (once per session+dir) the two-commit CDC source table: batch
    * 0 = fold of the first half of the event log (split at
    * floor(max(turn_idx)/2)), batch 1 = cumulative fold of every
    * conversation the second half touches. Shared by cdc_read and
    * cdc_follow.
    */
  private def cdcSource(s: SparkSession, d: String): (IcebergLikeTable, String) =
    cdcCache.getOrElseUpdate((s, d)) {
      locally({
        implicit val sp: SparkSession = s
        val turns = eventsAsTurns(s, d)
        val split = turns.agg(floor(max(col("turn_idx")) / 2).cast("long")).head().getLong(0)
        val tmp = Files.createTempDirectory("graft-cdc-q").toString
        val table = new IcebergLikeTable(s"$tmp/table", 8)
        table.merge(
          graft.snapshot.SnapshotFold.batchSnapshots(turns.filter(col("turn_idx") <= split)),
          "conv_id", 0L)
        val lateKeys = turns.filter(col("turn_idx") > split).select("conv_id").distinct()
        table.merge(
          graft.snapshot.SnapshotFold.batchSnapshots(
            turns.join(broadcast(lateKeys), "conv_id")),
          "conv_id", 1L)
        (table, tmp)
      })
    }

  def cdcRead(s: SparkSession, d: String): DataFrame = {
    val table = cdcSource(s, d)._1
    snapshotOracleView(table.readChangesSince(0L))
  }

  val cdcReadSql: String =
    """WITH t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id,
                         event_id AS turn_idx, event_type AS role, ts
                  FROM events),
       sp AS (SELECT CAST(floor(max(turn_idx) / 2) AS BIGINT) AS s FROM t),
       changed AS (SELECT DISTINCT conv_id FROM t, sp WHERE turn_idx > sp.s),
       c AS (SELECT t.* FROM t JOIN changed USING (conv_id)),
       r AS (SELECT conv_id, turn_idx, role, row_number() OVER
               (PARTITION BY conv_id ORDER BY turn_idx DESC) AS rn FROM c),
       a AS (SELECT conv_id, count(*) AS turn_count,
                    min(epoch_us(ts)) AS first_ts_us,
                    max(epoch_us(ts)) AS last_ts_us
             FROM c GROUP BY conv_id)
       SELECT a.conv_id, r.turn_idx AS last_turn_idx, r.role AS last_role,
              a.turn_count, a.first_ts_us, a.last_ts_us
       FROM a JOIN r ON a.conv_id = r.conv_id AND r.rn = 1"""

  /** End-to-end ChangeFeed exhibit: a REPLICA table synced purely from
    * the change feed of the cdc_read source table (two commits, coalesced
    * by the checkpointed follower) must equal the full snapshot — so its
    * read-back shares the s1 oracle. Machine-checked proof the follower
    * runtime (replay/ChangeFeed: data-before-offset, keyed-merge
    * idempotency) reconstructs exact state from changes alone.
    */
  def cdcFollow(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    val (src, tmp) = cdcSource(s, d)
    val dst = new IcebergLikeTable(s"$tmp/dst", 8)
    graft.replay.ChangeFeed.syncTo(src, dst, s"$tmp/ckpt/pos")
    snapshotOracleView(dst.read())
  }

  /** The CONTINUOUS form of cdc_follow: a replica built through the
    * readStream-able change-feed source (replay/ChangeStream — a real
    * Structured Streaming file source over the store's delta directories,
    * checkpointed + exactly-once MERGE sink). Drained with
    * Trigger.AvailableNow here; the replica must equal the full snapshot,
    * so it shares the s1 oracle.
    */
  def cdcStream(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    val src = cdcSource(s, d)._1
    val dst = new IcebergLikeTable(
      Files.createTempDirectory("graft-cdc-stream").toString + "/table", 8)
    drain(s, src.root)(ckpt => graft.replay.ChangeStream.replicate(src, dst, ckpt))
    snapshotOracleView(dst.read())
  }

  /** Row-level deletes through the store, end to end: batch 0 folds the
    * full event log into snapshots; batch 1 DELETEs every conversation
    * with conv_id ≡ 0 (mod 7) — merge-on-read markers, O(deleted keys)
    * written, no rewrite; batch 2 re-merges (resurrects) the subset with
    * conv_id ≡ 0 (mod 14), proving last-writer-wins across a delete.
    * The final read must equal the batch snapshot restricted to
    * surviving conversations — the DuckDB oracle (the one semantics a
    * store without deletes cannot express: GDPR-style erasure with
    * exactly-once replay still intact).
    */
  private val deleteCache = new FixtureCache[IcebergLikeTable]()

  private def deleteSource(s: SparkSession, d: String): IcebergLikeTable =
    deleteCache.getOrElseUpdate((s, d)) {
      locally({
        implicit val sp: SparkSession = s
        val turns = eventsAsTurns(s, d)
        val tmp = Files.createTempDirectory("graft-del-q").toString
        val table = new IcebergLikeTable(s"$tmp/table", 8)
        val snaps = graft.snapshot.SnapshotFold.batchSnapshots(turns)
        table.merge(snaps, "conv_id", 0L)
        table.delete(turns.select("conv_id").distinct()
          .filter(col("conv_id").cast("long") % 7 === 0), 1L)
        table.merge(snaps.filter(col("conv_id").cast("long") % 14 === 0),
          "conv_id", 2L)
        table
      })
    }

  def storeDelete(s: SparkSession, d: String): DataFrame =
    snapshotOracleView(deleteSource(s, d).read())

  val storeDeleteSql: String =
    """WITH t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id,
                         event_id AS turn_idx, event_type AS role, ts
                  FROM events
                  WHERE NOT (user_id % 7 = 0 AND user_id % 14 <> 0)),
       r AS (SELECT conv_id, turn_idx, role, row_number() OVER
               (PARTITION BY conv_id ORDER BY turn_idx DESC) AS rn FROM t),
       a AS (SELECT conv_id, count(*) AS turn_count,
                    min(epoch_us(ts)) AS first_ts_us,
                    max(epoch_us(ts)) AS last_ts_us
             FROM t GROUP BY conv_id)
       SELECT a.conv_id, r.turn_idx AS last_turn_idx, r.role AS last_role,
              a.turn_count, a.first_ts_us, a.last_ts_us
       FROM a JOIN r ON a.conv_id = r.conv_id AND r.rn = 1"""

  /** Table-schema evolution end-to-end (Iceberg add/drop-column
    * semantics, the lakehouse feature every long-lived 100 TB table
    * needs): commit v1 rows with a scaffolding column, DROP it (tombstone
    * — physical bytes stay until rewrite, reads project it away), then
    * commit v2 rows carrying a NEW column the v1 files don't have. The
    * snapshot read must serve the union: evolved column null-filled for
    * pre-evolution files, dropped column absent, no file rewritten.
    */
  private val evolveCache = new FixtureCache[IcebergLikeTable]()

  private def evolveSource(s: SparkSession, d: String): IcebergLikeTable =
    evolveCache.getOrElseUpdate((s, d)) {
      locally({
        implicit val sp: SparkSession = s
        val ev = Tables.events(s, d).select(
          col("event_id").cast("string").as("evt_key"),
          col("event_id"), col("user_id"))
        val v1 = ev.filter(col("event_id") % 2 === 0)
          .withColumn("tmp_flag", lit(1))
        val tmp = Files.createTempDirectory("graft-evolve-q").toString
        val t = new IcebergLikeTable(s"$tmp/table", 8, keyCol = "evt_key",
          emptySchema = v1.schema)
        t.merge(v1, "evt_key", 0L)
        t.dropColumn("tmp_flag")
        t.merge(ev.filter(col("event_id") % 2 === 1)
          .withColumn("score", col("event_id") % 100), "evt_key", 1L)
        t
      })
    }

  def storeSchemaEvolve(s: SparkSession, d: String): DataFrame =
    evolveSource(s, d).read().select("evt_key", "user_id", "score")

  val storeSchemaEvolveSql: String =
    """SELECT CAST(event_id AS VARCHAR) AS evt_key, user_id,
              CASE WHEN event_id % 2 = 1 THEN event_id % 100 END AS score
       FROM events"""

  // ---- streaming Count-Min sketch (global agg state, complete mode) ---
  private val cmsStreamCache =
    new FixtureCache[DataFrame](onEvict = df => { df.unpersist(); () })

  /** The Count-Min sketch maintained AS STREAMING STATE: a global
    * streaming aggregate over the event stream whose state is the one
    * 80 KB d×w matrix — per micro-batch Spark folds new rows into
    * partial sketches map-side and MERGES them into the stored sketch
    * (the Aggregator's merge is elementwise +, so only sketch matrices
    * ever cross a batch boundary). Because the merge is associative and
    * commutative, the drained sketch is ELEMENTWISE IDENTICAL to the
    * batch-built one (CountMinSpec pins this), so the streaming pipeline
    * inherits the batch estimator's guarantees — this is the shape a
    * 10^12-turn deployment uses: bounded O(sketch) state forever, no
    * per-key state growth.
    */
  private def cmsStreamSketch(s: SparkSession, d: String): DataFrame =
    cmsStreamCache.getOrElseUpdate((s, d)) {
      locally({
        val tmp = Files.createTempDirectory("graft-cms-stream").toString
        val inDir = s"$tmp/in"
        Tables.events(s, d)
          .select(concat_ws("#", col("user_id"), col("event_type")).as("k"))
          .repartition(4).write.parquet(inDir)
        val name = s"cms_stream_${math.abs(tmp.hashCode)}"
        drain(s, inDir)(ckpt => fileStream(s, inDir, StructType.fromDDL("k string"))
          .agg(graft.functions.CountMin.sketch(col("k")).as("sk"))
          .writeStream.outputMode("complete")
          .option("checkpointLocation", ckpt)
          .format("memory").queryName(name)
          .start())
        val sk = s.table(name).cache()
        sk.count()
        sk
      })
    }

  /** Heavy hitters with the sketch built by the STREAMING pipeline
    * ([[cmsStreamSketch]]) instead of a batch aggregate: the drained
    * sketch broadcast-probes the corpus (native `cms_estimate`
    * expression) and survivors are exactly verified — identical two-pass
    * no-false-negative contract as the batch `heavy_hitters` row, same
    * oracle, but the sketch side is incremental and resumable.
    */
  def cmsStreamHh(s: SparkSession, d: String): DataFrame = {
    import graft.functions.CountMin
    val T = 15L
    val ev = Tables.events(s, d)
      .select(concat_ws("#", col("user_id"), col("event_type")).as("k"))
    ev.crossJoin(broadcast(cmsStreamSketch(s, d)))
      .filter(CountMin.estimate(col("sk"), col("k")) >= T)
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= T)
  }

  /** Append-only event-log STORE with per-file ts_us bounds in the
    * manifest (statsCol): 4 commits split by ts quartile, so each delta
    * file carries a tight disjoint time range — the fixture for
    * stats-pruned range reads. Cached per (session, dir).
    */
  private val tsLogCache = new FixtureCache[IcebergLikeTable]()

  private def tsLogSource(s: SparkSession, d: String): IcebergLikeTable =
    tsLogCache.getOrElseUpdate((s, d)) {
      locally({
        implicit val sp: SparkSession = s
        import s.implicits._
        val ev = Tables.events(s, d).select(
          col("event_id").cast("string").as("evt_key"),
          col("event_id"), col("user_id"), col("ts"),
          unix_micros(col("ts")).as("ts_us"))
        val (lo, hi) = ev.agg(min(col("ts_us")), max(col("ts_us")))
          .as[(Long, Long)].head()
        val tmp = Files.createTempDirectory("graft-tslog-q").toString
        val t = new IcebergLikeTable(s"$tmp/table", 8, keyCol = "evt_key",
          emptySchema = ev.schema, inlineCompaction = false,
          maxDeltasPerBucket = 1000, statsCol = Some("ts_us"),
          appendOnly = true) // event log: every evt_key written once
        val step = math.max((hi - lo) / 4 + 1, 1L)
        (0 until 4).foreach { b =>
          val from = lo + b * step
          t.merge(ev.filter(col("ts_us") >= from && col("ts_us") < from + step),
            "evt_key", b.toLong)
        }
        t
      })
    }

  /** Replay-to-timestamp over the STORE (not raw parquet): the manifest's
    * per-file ts_us bounds prune commits entirely outside the cutoff
    * before any scan (store/IcebergLikeTable.readRange — the Iceberg
    * min/max-skipping analog), then the usual latest_by fold. Shares
    * replay_to_ts's oracle: same cutoff, same result contract.
    */
  def replayStoreTs(s: SparkSession, d: String): DataFrame = {
    val cutoffUs = java.time.Instant.parse("2024-01-15T00:00:00Z")
      .toEpochMilli * 1000L
    tsLogSource(s, d).readRange(Long.MinValue, cutoffUs)
      .groupBy(col("user_id")).agg(
        graft.functions.GraftFunctions.latest_by(struct(col("event_id")),
          col("ts"), col("event_id")).getField("event_id").as("last_event_id"),
        count(lit(1)).as("event_count"))
  }

  /** The same time-window read issued as SQL through the GraftScan view:
    * `WHERE ts_us <= cutoff` over the append-only event-log table routes
    * through GraftBucketPrune's range rewrite — only the commits whose
    * per-file stats intersect the cutoff are scanned (GraftScanSpec
    * asserts the file skipping; this row proves SQL answers stay exact).
    */
  def qSqlRange(s: SparkSession, d: String): DataFrame = {
    val t = tsLogSource(s, d)
    graft.plans.GraftScan.install(s)
    graft.plans.GraftScan.relation(s, t)
      .createOrReplaceTempView("graft_tslog")
    val cutoffUs = java.time.Instant.parse("2024-01-15T00:00:00Z")
      .toEpochMilli * 1000L
    s.sql(s"""SELECT user_id, count(*) AS n, min(event_id) AS e_min,
                     max(event_id) AS e_max
              FROM graft_tslog WHERE ts_us <= $cutoffUs
              GROUP BY user_id""")
  }

  val qSqlRangeSql: String =
    """SELECT user_id, count(*) AS n, min(event_id) AS e_min,
              max(event_id) AS e_max
       FROM events WHERE epoch_us(ts) <= 1705276800000000
       GROUP BY user_id"""

  // ---- OPTIMIZE'd store ------------------------------------------------
  private val optLogCache = new FixtureCache[IcebergLikeTable]()

  /** The same 4-commit ts-quartile event log, then `optimize(ts_us)` —
    * the clustered full rewrite (store/IcebergLikeTable.optimize). The
    * per-file stats the rewrite refreshes must keep readRange exact, and
    * the logical content must survive the rewrite byte-for-byte: SAME
    * oracle as replay_to_ts, running over the post-OPTIMIZE layout (one
    * clustered base file per bucket, row groups time-tight).
    */
  private def optLogSource(s: SparkSession, d: String): IcebergLikeTable =
    optLogCache.getOrElseUpdate((s, d)) {
      locally({
        implicit val sp: SparkSession = s
        import s.implicits._
        val ev = Tables.events(s, d).select(
          col("event_id").cast("string").as("evt_key"),
          col("event_id"), col("user_id"), col("ts"),
          unix_micros(col("ts")).as("ts_us"))
        val (lo, hi) = ev.agg(min(col("ts_us")), max(col("ts_us")))
          .as[(Long, Long)].head()
        val tmp = Files.createTempDirectory("graft-optlog-q").toString
        val t = new IcebergLikeTable(s"$tmp/table", 8, keyCol = "evt_key",
          emptySchema = ev.schema, inlineCompaction = false,
          maxDeltasPerBucket = 1000, statsCol = Some("ts_us"))
        val step = math.max((hi - lo) / 4 + 1, 1L)
        (0 until 4).foreach { b =>
          val from = lo + b * step
          t.merge(ev.filter(col("ts_us") >= from && col("ts_us") < from + step),
            "evt_key", b.toLong)
        }
        t.optimize(Seq("ts_us"))
        t
      })
    }

  /** replay_store_ts over the OPTIMIZE'd layout (same cutoff, same
    * oracle): proves the clustered rewrite changes plans, not answers.
    */
  def replayStoreOpt(s: SparkSession, d: String): DataFrame = {
    val cutoffUs = java.time.Instant.parse("2024-01-15T00:00:00Z")
      .toEpochMilli * 1000L
    optLogSource(s, d).readRange(Long.MinValue, cutoffUs)
      .groupBy(col("user_id")).agg(
        graft.functions.GraftFunctions.latest_by(struct(col("event_id")),
          col("ts"), col("event_id")).getField("event_id").as("last_event_id"),
        count(lit(1)).as("event_count"))
  }

  /** Per-conversation latest-k turns via the bounded-buffer Aggregator
    * (functions/TopKPerKey.scala): ObjectHashAggregate with map-side
    * partial combine — ≤ k rows per key per partition cross the one
    * shuffle, vs the window formulation shuffling and sorting every row.
    * Oracle: the row_number window SQL, proving the bounded buffer loses
    * nothing.
    */
  def topkPerKey(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    eventsAsTurns(s, d).as[Turn]
      .groupByKey(_.conv_id)
      .agg(new graft.functions.TopKPerKey.LatestK(3).toColumn.name("topk"))
      .toDF("conv_id", "topk")
      .select(col("conv_id"), explode(col("topk.items")).as("t"))
      .select(col("conv_id"), col("t.turn_idx").as("turn_idx"),
        col("t.role").as("role"))
  }

  /** Same query through the NATIVE bounded_topk TypedImperativeAggregate
    * (functions/BoundedTopK.scala): no Dataset-encoder round trip on the
    * update path — the form that beats the window formulation at scale
    * (BENCH.md per-key top-k table). Shares topk_per_key's oracle.
    */
  def topkPerKeyNative(s: SparkSession, d: String): DataFrame =
    eventsAsTurns(s, d)
      .groupBy(col("conv_id"))
      .agg(graft.functions.GraftFunctions.bounded_topk(3, col("turn_idx"),
        struct(col("turn_idx"), col("role"))).as("topk"))
      .select(col("conv_id"), explode(col("topk")).as("t"))
      .select(col("conv_id"), col("t.turn_idx").as("turn_idx"),
        col("t.role").as("role"))

  val topkPerKeySql: String =
    """SELECT conv_id, turn_idx, role FROM (
         SELECT CAST(user_id AS VARCHAR) AS conv_id, event_id AS turn_idx,
                event_type AS role,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY event_id DESC) AS rn
         FROM events) WHERE rn <= 3"""

  /** O1 exhibit, DuckDB-oracled: the run's committed lineage folded to
    * per-LOGICAL-shard invariants. Per-batch lineage rows depend on
    * micro-batch planning (how many batches touch a shard, each batch's
    * min_turn_idx); the fold below keeps exactly the columns whose
    * across-batch aggregate is a pure function of the DATA — min/max key
    * per shard (every key is updated in ≥1 batch, so batch-mins cover the
    * shard) and the shard's newest committed event time (monotone, so max
    * = final). The raw per-batch frame stays exposed via
    * [[graft.store.IcebergLikeTable.lineage]] and is spec-covered
    * (PipelineOpsSpec), mirroring znap's per-partition offset rows.
    */
  def o1Lineage(s: SparkSession, d: String): DataFrame =
    runPipeline(s, d).lineage()
      .groupBy(col("partition_id"))
      .agg(min(col("min_conv_id")).as("min_conv_id"),
        max(col("max_conv_id")).as("max_conv_id"),
        unix_micros(max(col("committed_ts"))).as("last_ts_us"))

  /** H1 exhibit, DuckDB-oracled: per-logical-shard lag of the committed
    * fold behind the newest available turn ([[LagReport]] restated on the
    * stable shard). rows_committed (batch-count-dependent) stays in
    * LagReport's full output for the spec; the oracled projection keeps
    * the runner-independent lag itself. lag_ms is floored integer ms —
    * double→long truncation == floor here since lag ≥ 0.
    */
  def h1Lag(s: SparkSession, d: String): DataFrame =
    LagReport(runPipeline(s, d).lineage(), eventsAsTurns(s, d))
      .select(col("partition_id"),
        unix_micros(col("committed_ts")).as("committed_ts_us"),
        col("lag_ms").cast("long").as("lag_ms"))

  // ---- bounded-state (TTL) pipeline ----------------------------------
  private val ttlCache = new FixtureCache[IcebergLikeTable]()

  /** Runs the TTL-evicting pipeline with a real event-time watermark
    * (input files are RANGE-partitioned by ts, so arrival order is time
    * order and the watermark advances batch by batch — users idle past
    * the 24h TTL are genuinely evicted mid-stream and re-enter as new
    * generations).
    */
  private def runTtlPipeline(s: SparkSession, d: String): IcebergLikeTable =
    ttlCache.getOrElseUpdate((s, d)) {
      locally({
        import s.implicits._
        implicit val sp: SparkSession = s
        val tmp = Files.createTempDirectory("graft-ttl-q").toString
        // shared staging is already mtime-stamped: arrival order = time order
        val inDir = stagedTurnsByTs(s, d)
        val table = new IcebergLikeTable(s"$tmp/table", 8,
          keyCol = "row_key", emptySchema = Schemas.snapshotGen)
        // batches stay time-ordered ([f1,f2] then [f3,f4]): the watermark
        // still advances mid-stream (file ranges are ts quartiles, TTL is
        // 24 h), so eviction + re-entry stay exercised
        drain(s, inDir)(ckpt => graft.snapshot.SnapshotTtl
          .updates(fileStream(s, inDir, Schemas.turn).as[Turn],
            watermark = "1 hour", ttlMs = 24L * 3600 * 1000)
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch(graft.snapshot.SnapshotTtl.sink(table) _)
          .start())
        table
      })
    }

  /** Bounded-state pipeline, DuckDB-oracled with the SAME s1 oracle: the
    * additive-generation read must equal the unbounded snapshot exactly,
    * evictions and re-arrivals included.
    */
  def s1TtlSnapshot(s: SparkSession, d: String): DataFrame =
    snapshotOracleView(graft.snapshot.SnapshotTtl.readAdditive(runTtlPipeline(s, d)))

  /** Stamp ascending mod-times onto `inDir`'s parquet files in name order
    * (FileStreamSource orders new files by (modification time, path); all
    * parts of one write share a write-second, so a late-range file could
    * otherwise arrive first, jump the watermark, and late-drop earlier
    * ranges). Returns the stamped file set. `from` continues a previous
    * stamping so later writes into the same dir arrive strictly after.
    */
  private val StampBaseMs = 1000000000000L
  private def stampAt(p: java.nio.file.Path, idx: Int): Unit =
    Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(StampBaseMs + idx * 60000L))

  private[queries] def stampAscending(inDir: String, from: Int = 0): Set[java.nio.file.Path] = {
    val parts = Files.list(java.nio.file.Paths.get(inDir))
    try {
      val ps = parts.iterator().asScala.toSeq
        .filter(_.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)
      ps.zipWithIndex.foreach { case (p, i) => stampAt(p, from + i) }
      ps.toSet
    } finally parts.close()
  }

  /** Append `sentinel` to a stamped stream-input dir so it ARRIVES last
    * (FileStreamSource orders new files by (mtime, path)): the sentinel's
    * far-future event time then drives the watermark past every real
    * window/session, flushing them to the append-mode sink, while its own
    * group never closes. Shared by the tumbling and session pipelines.
    */
  private[queries] def appendSentinelLast(inDir: String,
      stamped: Set[java.nio.file.Path],
      sentinel: DataFrame): Unit = {
    sentinel.coalesce(1).write.mode("append").parquet(inDir)
    val ls = Files.list(java.nio.file.Paths.get(inDir))
    val fresh = try ls.iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".parquet") && !stamped.contains(p))
    finally ls.close()
    // continue the SAME index scheme (stamped files used 0..n-1): the
    // sentinel lands strictly after them whatever their count
    fresh.zipWithIndex.foreach { case (p, i) => stampAt(p, stamped.size + i) }
  }

  // ---- streaming windowed aggregation (append mode, watermark-closed) --
  private val windowCache = new FixtureCache[DataFrame]()
  private val windowStageCache = new FixtureCache[String]()

  /** ONE staged (user_id, ts, value) event stream shared by the three
    * windowed drains (tumbling / sliding / session): r5 staged three
    * per-projection copies of the same table plus three max(ts) scans
    * and three sentinel appends. Each drain projects the columns it
    * needs via its readStream schema (parquet column pruning); the ONE
    * far-future sentinel row (user_id −1, value 0.0) advances every
    * drain's watermark past all real windows while its own
    * window/session never closes — exactly the per-drain sentinels it
    * replaces.
    */
  private def stagedEventsForWindows(s: SparkSession, d: String): String =
    windowStageCache.getOrElseUpdate((s, d)) {
      locally({
        import s.implicits._
        val inDir = Files.createTempDirectory("graft-window-in").toString + "/in"
        val src = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("value").cast("double").as("value"))
        src.repartitionByRange(4, col("ts")).write.parquet(inDir)
        val stamped = stampAscending(inDir)
        val maxTs = src.agg(max(col("ts"))).head().getTimestamp(0)
        appendSentinelLast(inDir, stamped,
          Seq((-1L, new java.sql.Timestamp(maxTs.getTime + 7L * 24 * 3600 * 1000), 0.0))
            .toDF("user_id", "ts", "value"))
        inDir
      })
    }

  /** Runs a REAL streaming tumbling-window aggregation: file stream (5
    * micro-batches, time-ordered) → 1-minute watermark → 5-minute window
    * agg → append-mode parquet sink. Append mode only emits a window once
    * the watermark passes its end, so a far-future SENTINEL row is
    * appended to the stream input (arriving last): it drives the
    * watermark beyond every real window — flushing them to the sink —
    * while its own window never closes and never reaches the sink. The
    * read-back therefore equals the batch aggregation over the events
    * table exactly, which is what the DuckDB oracle checks.
    */
  private def runWindowPipeline(s: SparkSession, d: String): DataFrame =
    windowCache.getOrElseUpdate((s, d)) {
      val inDir = stagedEventsForWindows(s, d)
      drainToParquet(s, inDir,
        fileStream(s, inDir, StructType.fromDDL("ts timestamp, value double"))
          .withWatermark("ts", "1 minute")
          .groupBy(window(col("ts"), "5 minutes"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,2)")).as("value_sum_dec"))
          .select(unix_seconds(col("window.start")).as("window_start_s"),
            col("n_events"),
            col("value_sum_dec").cast("double").as("value_sum")))
    }

  /** Streaming tumbling window, DuckDB-oracled against the batch SQL —
    * the windowed analog of what s1_stream_snapshot proves for the fold.
    */
  def w1StreamTumbling(s: SparkSession, d: String): DataFrame =
    runWindowPipeline(s, d)

  val w1StreamTumblingSql: String =
    """SELECT CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS window_start_s,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
       FROM events GROUP BY 1"""

  // ---- streaming SLIDING windows (append mode, watermark-closed) ------
  private val slidingCache = new FixtureCache[DataFrame]()

  /** The sliding analog of [[runWindowPipeline]]: 10-minute windows
    * sliding every 5 — each event feeds TWO overlapping windows' state,
    * the state-store shape tumbling windows never exercise. Same
    * machinery otherwise: time-ordered micro-batches, 1-minute
    * watermark, far-future sentinel flushing every real window (the
    * sentinel's own two windows never close and never reach the sink).
    */
  private def runSlidingPipeline(s: SparkSession, d: String): DataFrame =
    slidingCache.getOrElseUpdate((s, d)) {
      val inDir = stagedEventsForWindows(s, d)
      drainToParquet(s, inDir,
        fileStream(s, inDir, StructType.fromDDL("ts timestamp"))
          .withWatermark("ts", "1 minute")
          .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
          .agg(count(lit(1)).as("n_events"))
          .select(unix_seconds(col("window.start")).as("window_start_s"),
            col("n_events")))
    }

  /** Streaming sliding window ≡ the batch w2 (same DuckDB unnest oracle). */
  def w2StreamSliding(s: SparkSession, d: String): DataFrame =
    runSlidingPipeline(s, d)

  val w2StreamSlidingSql: String = WindowQueries.w2SlidingSql

  // ---- streaming SESSION windows (append mode, watermark-closed) ------
  private val sessionCache = new FixtureCache[DataFrame]()

  /** The session analog of [[runWindowPipeline]]: file stream (time-
    * ordered micro-batches) → 1-minute watermark → 30-minute-gap
    * `session_window` per user → append-mode parquet sink. Sessions merge
    * across micro-batches in the state store and emit only once the
    * watermark passes session end + gap; the same far-future sentinel
    * (user_id −1) closes every real session while its own never emits.
    * Proves the stateful session-merge path end-to-end against the batch
    * gap-and-sum SQL oracle.
    */
  private def runSessionPipeline(s: SparkSession, d: String): DataFrame =
    sessionCache.getOrElseUpdate((s, d)) {
      val inDir = stagedEventsForWindows(s, d)
      drainToParquet(s, inDir,
        fileStream(s, inDir, StructType.fromDDL("user_id bigint, ts timestamp"))
          .withWatermark("ts", "1 minute")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("session_start_us"),
            unix_micros(col("session_window.end")).as("session_end_us"),
            col("n_events")))
    }

  /** Streaming session windows, DuckDB-oracled with w3's batch SQL. */
  def w3StreamSession(s: SparkSession, d: String): DataFrame =
    runSessionPipeline(s, d)

  // ---- streaming corpus ingestion (content-keyed dedup store) ---------
  private val corpusCache = new FixtureCache[IcebergLikeTable]()

  /** Streaming corpus ingestion with CROSS-BATCH exact dedup: documents
    * arrive as a 4-micro-batch file stream; each batch keys its docs by
    * content digest, collapses within-batch duplicates, and MERGEs into
    * a digest-keyed store — so duplicates across batches (and checkpoint
    * re-deliveries) land on the same key and the table holds exactly one
    * row per distinct content. This is the streaming form of exact dedup
    * (`dedup_exact` is its batch analog): the store IS the dedup state,
    * bounded by distinct content, not by stream length.
    */
  private def runCorpusIngest(s: SparkSession, d: String): IcebergLikeTable =
    corpusCache.getOrElseUpdate((s, d)) {
      locally({
        implicit val sp: SparkSession = s
        val tmp = Files.createTempDirectory("graft-corpus-q").toString
        val inDir = s"$tmp/in"
        Tables.documents(s, d).select(col("doc_id"), col("text"))
          .repartitionByRange(4, col("doc_id")).write.parquet(inDir)
        val table = new IcebergLikeTable(s"$tmp/table", 8, keyCol = "digest",
          emptySchema = StructType.fromDDL("digest string, doc_id bigint"))
        drain(s, inDir)(ckpt =>
          fileStream(s, inDir, StructType.fromDDL("doc_id bigint, text string"))
            .writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (batch: DataFrame, id: Long) =>
              val deduped = batch.withColumn("digest", md5(col("text")))
                .groupBy(col("digest")).agg(min(col("doc_id")).as("doc_id"))
              table.merge(deduped, "digest", id)
              ()
            }
            .start())
        table
      })
    }

  /** The ingested store's distinct-content key set, DuckDB-oracled:
    * streaming ingestion ≡ DISTINCT md5(text) over the whole corpus.
    */
  def corpusIngest(s: SparkSession, d: String): DataFrame =
    runCorpusIngest(s, d).read().select(col("digest"))

  val corpusIngestSql: String =
    "SELECT DISTINCT md5(text) AS digest FROM documents"

  // ---- streaming vector-index ingest (IVF assignment, exactly-once) ---
  private val annIngestCache = new FixtureCache[IcebergLikeTable]()

  /** Streaming ANN index MAINTENANCE: embeddings arrive as a stream and
    * each micro-batch is assigned to its IVF cell against the broadcast
    * centroid set (argmax cosine — [[graft.ann.Ann.assignToCentroids]],
    * the same narrow map-side reduction the batch index build uses),
    * then MERGEd exactly-once into the bucketed store with the vector
    * payload. The index is queryable at every commit and — because
    * assignment is per-row and the MERGE is idempotent — IDENTICAL to
    * the batch-built inverted lists, which is what the oracle checks.
    * At 100 TB this is how a vector index keeps up with a growing
    * corpus: no rebuild, per-batch cost O(new vectors × C centroids),
    * store bucketing untouched (a production layout would bucket by
    * cluster so probes scan nProbe/C of the files).
    */
  private def runAnnIngest(s: SparkSession, d: String): IcebergLikeTable =
    annIngestCache.getOrElseUpdate((s, d)) {
      locally({
        implicit val sp: SparkSession = s
        val tmp = Files.createTempDirectory("graft-annidx-q").toString
        val inDir = s"$tmp/in"
        val emb = Tables.embeddings(s, d)
        emb.repartitionByRange(4, col("vec_id")).write.parquet(inDir)
        // static coarse centroids (deterministic first-16, the oracle-
        // reproducible index Ann.ivfTopK uses); a production pipeline
        // broadcasts KMeans.fit output the same way
        val cents = emb.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cluster"), col("embedding").as("c_emb"))
        val table = new IcebergLikeTable(s"$tmp/table", 8, keyCol = "vec_key",
          emptySchema = StructType.fromDDL(
            "vec_key string, vec_id bigint, cluster bigint"))
        drain(s, inDir)(ckpt => fileStream(s, inDir, emb.schema).writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, id: Long) =>
            val assigned = graft.ann.Ann.assignToCentroids(batch, cents)
              .select(col("vec_id").cast("string").as("vec_key"),
                col("vec_id"), col("cluster"), col("embedding"))
            table.merge(assigned, "vec_key", id)
            ()
          }
          .start())
        table
      })
    }

  /** The streamed index's inverted-list assignment, DuckDB-oracled:
    * streaming ingest ≡ the batch argmax-cosine assignment CTE (same
    * formulation `ann_ivf`'s oracle uses).
    */
  def annStreamIngest(s: SparkSession, d: String): DataFrame =
    runAnnIngest(s, d).read().select(col("vec_id"), col("cluster"))

  val annStreamIngestSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       c AS (SELECT vec_id AS cluster, emb AS cemb FROM e WHERE vec_id < 16)
       SELECT vec_id, cluster FROM (
         SELECT e.vec_id, c.cluster,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_dot_product(e.emb, c.cemb) /
               (sqrt(list_dot_product(e.emb, e.emb)) *
                sqrt(list_dot_product(c.cemb, c.cemb))) DESC,
             c.cluster ASC) AS rn
         FROM e, c) WHERE rn = 1"""

  // ---- J3: stream-stream interval join --------------------------------
  /** Purchase attribution — a real STREAM-STREAM inner join: two
    * independent file-stream sources over the event log, equality on
    * conv_id plus an event-time interval (each purchase matched to the
    * same user's signup/click events in the preceding 24 h). Spark keeps
    * both sides' state keyed by conv_id and the interval condition +
    * watermark bound state eviction — at scale the watermark is tight
    * (hours) and state holds only the join window; the 3650-day value
    * here is the fixture's "nothing is late" setting. Inner-join matches
    * emit as found (append mode), so the drained result equals the batch
    * join — which is exactly what the DuckDB oracle checks.
    */
  def j3StreamInterval(s: SparkSession, d: String): DataFrame = {
    val inDir = stagedTurnsByTs(s, d)
    def side() = fileStream(s, inDir, Schemas.turn)
    val buys = side().filter(col("role") === "purchase")
      .select(col("conv_id"), col("turn_idx").as("buy_idx"),
        col("ts").as("buy_ts"))
      .withWatermark("buy_ts", "3650 days")
    val srcs = side().filter(col("role").isin("signup", "click"))
      .select(col("conv_id").as("src_conv_id"), col("turn_idx").as("src_idx"),
        col("role").as("src_role"), col("ts").as("src_ts"))
      .withWatermark("src_ts", "3650 days")
    val joined = buys.join(srcs,
      col("conv_id") === col("src_conv_id") &&
        col("buy_ts") >= col("src_ts") &&
        col("buy_ts") <= col("src_ts") + expr("interval 24 hours"))
      .select(col("conv_id"), col("buy_idx").cast("long").as("buy_idx"),
        col("src_idx").cast("long").as("src_idx"), col("src_role"),
        unix_micros(col("buy_ts")).as("buy_ts_us"),
        unix_micros(col("src_ts")).as("src_ts_us"))
    drainToParquet(s, inDir, joined)
  }

  val j3StreamIntervalSql: String =
    """WITH t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id,
                         event_id AS turn_idx, event_type AS role, ts
                  FROM events)
       SELECT b.conv_id, b.turn_idx AS buy_idx, a.turn_idx AS src_idx,
              a.role AS src_role, epoch_us(b.ts) AS buy_ts_us,
              epoch_us(a.ts) AS src_ts_us
       FROM t b JOIN t a ON b.conv_id = a.conv_id
       WHERE b.role = 'purchase' AND a.role IN ('signup','click')
         AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 24 HOUR"""

  // ---- CDC fan-out: sharded replicas from the change feed -------------
  private val cdcFanoutCache = new FixtureCache[Seq[(Int, IcebergLikeTable)]]()

  /** Scale-out replica topology: ONE change-feed stream fanned out to two
    * shard tables by a stable key route (conv_id mod 2) — each downstream
    * MERGE touches only its shard's keys, so replicas partition the write
    * load instead of each absorbing the full feed (znap's signalling
    * consumers, upgraded to direct sharded shipping). Union of shards ==
    * full snapshot; the oracle recomputes the shard label in SQL, so key
    * routing is hash-checked too, and no key may appear in both shards.
    */
  private def runCdcFanout(s: SparkSession, d: String): Seq[(Int, IcebergLikeTable)] =
    cdcFanoutCache.getOrElseUpdate((s, d)) {
      locally({
        implicit val sp: SparkSession = s
        val (src, tmp) = cdcSource(s, d)
        val shards = Seq(0, 1).map(i =>
          i -> new IcebergLikeTable(s"$tmp/shard$i/table", 8))
        drain(s, src.root)(ckpt => graft.replay.ChangeStream.changes(src).writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: DataFrame, batchId: Long) =>
            // resolve once per batch, route each key to exactly one shard
            val up = graft.replay.ChangeStream.resolved(df, src.keyCol)
            up.persist()
            try mergeShards(shards, up, batchId)
            finally { up.unpersist(); () }
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start())
        shards
      })
    }

  /** Merge each shard's keys (`key mod 2`) of `up` into its table. The
    * shard merges touch disjoint tables/dirs, so they run from separate
    * threads and the second shard's jobs back-fill the first's scheduling
    * gaps (guide §2.6 overlap independent jobs; FIFO scheduling keeps them
    * fair). Returns only once EVERY merge has ended, then rethrows the
    * first failure: a fail-fast await would return while a sibling merge
    * still writes, and the batch's retry would race that merge on the same
    * table.
    */
  private[graft] def mergeShards(shards: Seq[(Int, IcebergLikeTable)],
      up: DataFrame, batchId: Long): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val outcomes = Await.result(Future.sequence(shards.map { case (i, t) =>
      Future {
        val part = up.filter(col(t.keyCol).cast("long") % 2 === i)
        if (!part.isEmpty) { t.merge(part, t.keyCol, batchId); () }
      }.transform(scala.util.Success(_))
    }), scala.concurrent.duration.Duration.Inf)
    outcomes.collectFirst { case scala.util.Failure(e) => throw e }
    ()
  }

  def cdcFanout(s: SparkSession, d: String): DataFrame =
    runCdcFanout(s, d).map { case (i, table) =>
      snapshotOracleView(table.read()).select(lit(i).as("shard"), col("*"))
    }.reduce(_ unionByName _)

  val cdcFanoutSql: String =
    """WITH t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id,
                         event_id AS turn_idx, event_type AS role, ts
                  FROM events),
       r AS (SELECT conv_id, turn_idx, role, row_number() OVER
               (PARTITION BY conv_id ORDER BY turn_idx DESC) AS rn FROM t),
       a AS (SELECT conv_id, count(*) AS turn_count,
                    min(epoch_us(ts)) AS first_ts_us,
                    max(epoch_us(ts)) AS last_ts_us
             FROM t GROUP BY conv_id)
       SELECT CAST(a.conv_id AS BIGINT) % 2 AS shard, a.conv_id,
              r.turn_idx AS last_turn_idx, r.role AS last_role,
              a.turn_count, a.first_ts_us, a.last_ts_us
       FROM a JOIN r ON a.conv_id = r.conv_id AND r.rn = 1"""

  // ---- J4: stream-static broadcast enrichment -------------------------
  /** Dimension enrichment — the most common production streaming join:
    * an event stream decorated with a SMALL static dimension table. The
    * dim side is broadcast once per micro-batch (no stream state, no
    * watermark — stream-static inner joins are stateless by
    * construction), so at 100 TB of stream the join costs zero shuffle
    * on the stream side. The drained sink equals the batch join, which
    * is what the DuckDB oracle checks.
    */
  def j4StreamStatic(s: SparkSession, d: String): DataFrame = {
    val inDir = Files.createTempDirectory("graft-ssdim-q").toString + "/in"
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartitionByRange(4, col("event_id")).write.parquet(inDir)
    val stream = fileStream(s, inDir, StructType.fromDDL(
      "event_id bigint, user_id bigint, event_type string, value double"))
    val dim = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    drainToParquet(s, inDir,
      stream.join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("c_name"),
          col("c_mktsegment"), col("value")))
  }

  val j4StreamStaticSql: String =
    """SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.value
       FROM events e JOIN customer c ON e.user_id = c.c_custkey"""

  // ---- J5: stream-stream LEFT OUTER interval join ---------------------
  /** The outer form of j3 under a REAL (1-minute) watermark: purchases
    * left-joined to the same user's signup/click events in the preceding
    * 24 h. Matches emit as found; an unmatched purchase emits its
    * null-padded row only when the advancing watermark proves no match
    * can still arrive and evicts its state — the part of outer-join
    * semantics only the watermark machinery can provide. Input files are
    * time-ordered (stampAscending) so the watermark genuinely advances
    * batch by batch, and a far-future sentinel (filtered out AFTER the
    * watermark node, so it moves the clock without joining) flushes the
    * final unmatched rows. Drained result == batch LEFT JOIN, DuckDB-
    * oracled.
    */
  def j5StreamOuter(s: SparkSession, d: String): DataFrame =
    runOuterInterval(s, d, mode = "outer")

  /** Stream-stream LEFT ANTI interval join — an operator Spark's
    * streaming engine does not offer natively (inner/outer/semi only):
    * purchases with NO signup/click from the same user in the preceding
    * 24 h. Composed from what it does offer, per the engine's
    * composition rule: the watermark-evicting LEFT OUTER join of j5
    * followed by an IS NULL filter on the right side's join key INSIDE
    * the streaming query — so the sink only ever receives a row when
    * the advancing watermark has PROVEN no match can still arrive and
    * evicted the purchase unmatched. Nothing emits eagerly; the anti
    * semantics are entirely the state machinery's eviction proof.
    * Drained result == batch NOT EXISTS, DuckDB-oracled.
    */
  def j7StreamAnti(s: SparkSession, d: String): DataFrame =
    runOuterInterval(s, d, mode = "anti")

  /** Stream-stream FULL OUTER interval join: every purchase with its
    * 24-h-preceding signup/click matches PLUS null-padded rows for
    * unmatched purchases AND unmatched sources — both emitted only when
    * the advancing watermark evicts that side's state unmatched (right-
    * side eviction needs the LEFT clock too, which the dual-role
    * sentinels of the shared harness already advance). The join key in
    * the output is `coalesce` of the two sides — null-padded right rows
    * carry no left conv_id. Drained result == batch FULL JOIN,
    * DuckDB-oracled.
    */
  def j8StreamFull(s: SparkSession, d: String): DataFrame =
    runOuterInterval(s, d, mode = "full")

  /** One time-ordered + sentinel-stamped input staging SHARED by the
    * j5/j7/j8 drains (r4 re-staged the identical input three times —
    * ~1/3 of the trio's bench wall was parquet writes, not join work).
    * Staging is immutable once built; each mode still runs its own
    * streaming query with its own checkpoint, which is the part under
    * test.
    */
  private val outerStageCache = new FixtureCache[String]()

  private def stagedOuterInput(s: SparkSession, d: String): String =
    outerStageCache.getOrElseUpdate((s, d)) {
    import s.implicits._
    val inDir = Files.createTempDirectory("graft-ssouter-in").toString + "/in"
    val turns = eventsAsTurns(s, d)
    turns.repartitionByRange(4, col("ts")).write.parquet(inDir)
    val stamped = stampAscending(inDir)
    val maxTs = turns.agg(max(col("ts"))).head().getTimestamp(0)
    // Sentinels must SURVIVE the role filters: Catalyst pushes a
    // deterministic filter below EventTimeWatermark, so each side's
    // watermark tracks only the rows its filter keeps — a
    // role='sentinel' row would never advance either clock, and the
    // buys watermark would top out at (latest purchase − delay),
    // leaving the latest unmatched purchase inevictable. So each
    // sentinel batch carries one 'purchase' and one 'click' on the
    // impossible conv_id "-1" (joins nothing; dropped on result read).
    // TWO batches, a week apart: eviction runs against the watermark
    // as of batch START, one batch behind the data that advanced it.
    (1 to 2).foldLeft(stamped) { (seen, wk) =>
      appendSentinelLast(inDir, seen,
        Seq("purchase", "click").map(r => ("-1", -wk, r, "", "",
          new java.sql.Timestamp(maxTs.getTime + wk * 7L * 24 * 3600 * 1000)))
          .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts"))
      val ls = Files.list(java.nio.file.Paths.get(inDir))
      try ls.iterator().asScala.toSeq
        .filter(_.toString.endsWith(".parquet")).toSet
      finally ls.close()
    }
    inDir
  }

  private def runOuterInterval(s: SparkSession, d: String,
      mode: String): DataFrame = {
    val inDir = stagedOuterInput(s, d)
    // 2 data batches + the sentinel batch + the no-data finalization
    // batch exercise cross-batch join state AND watermark eviction
    def side() = fileStream(s, inDir, Schemas.turn)
    val buys = side()
      .select(col("conv_id"), col("turn_idx").as("buy_idx"), col("role"),
        col("ts").as("buy_ts"))
      .withWatermark("buy_ts", "1 minute")
      .filter(col("role") === "purchase").drop("role")
    val srcs = side()
      .select(col("conv_id").as("src_conv_id"), col("turn_idx").as("src_idx"),
        col("role").as("src_role"), col("ts").as("src_ts"))
      .withWatermark("src_ts", "1 minute")
      .filter(col("src_role").isin("signup", "click"))
    val outer = buys.join(srcs,
      col("conv_id") === col("src_conv_id") &&
        col("buy_ts") >= col("src_ts") &&
        col("buy_ts") <= col("src_ts") + expr("interval 24 hours"),
      if (mode == "full") "fullOuter" else "leftOuter")
    val joined = mode match {
      case "anti" => outer.filter(col("src_conv_id").isNull)
        .select(col("conv_id"), col("buy_idx").cast("long").as("buy_idx"),
          unix_micros(col("buy_ts")).as("buy_ts_us"))
      case "full" => outer
        .select(coalesce(col("conv_id"), col("src_conv_id")).as("conv_id"),
          col("buy_idx").cast("long").as("buy_idx"),
          col("src_idx").cast("long").as("src_idx"), col("src_role"),
          unix_micros(col("buy_ts")).as("buy_ts_us"),
          unix_micros(col("src_ts")).as("src_ts_us"))
      case _ => outer
        .select(col("conv_id"), col("buy_idx").cast("long").as("buy_idx"),
          col("src_idx").cast("long").as("src_idx"), col("src_role"),
          unix_micros(col("buy_ts")).as("buy_ts_us"),
          unix_micros(col("src_ts")).as("src_ts_us"))
    }
    drainToParquet(s, inDir, joined)
      .filter(col("conv_id") =!= "-1") // sentinel rows (either side)
  }

  val j7StreamAntiSql: String =
    """WITH t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id,
                         event_id AS turn_idx, event_type AS role, ts
                  FROM events)
       SELECT b.conv_id, b.turn_idx AS buy_idx, epoch_us(b.ts) AS buy_ts_us
       FROM t b WHERE b.role = 'purchase' AND NOT EXISTS (
         SELECT 1 FROM t a
         WHERE a.conv_id = b.conv_id AND a.role IN ('signup','click')
           AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 24 HOUR)"""

  val j8StreamFullSql: String =
    """WITH t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id,
                         event_id AS turn_idx, event_type AS role, ts
                  FROM events),
       b AS (SELECT conv_id, turn_idx AS buy_idx, ts AS buy_ts FROM t
             WHERE role = 'purchase'),
       a AS (SELECT conv_id AS src_conv_id, turn_idx AS src_idx,
                    role AS src_role, ts AS src_ts FROM t
             WHERE role IN ('signup','click'))
       SELECT coalesce(b.conv_id, a.src_conv_id) AS conv_id,
              b.buy_idx, a.src_idx, a.src_role,
              epoch_us(b.buy_ts) AS buy_ts_us, epoch_us(a.src_ts) AS src_ts_us
       FROM b FULL JOIN a ON b.conv_id = a.src_conv_id
         AND b.buy_ts >= a.src_ts
         AND b.buy_ts <= a.src_ts + INTERVAL 24 HOUR"""

  val j5StreamOuterSql: String =
    """WITH t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id,
                         event_id AS turn_idx, event_type AS role, ts
                  FROM events),
       b AS (SELECT conv_id, turn_idx AS buy_idx, ts AS buy_ts FROM t
             WHERE role = 'purchase'),
       a AS (SELECT conv_id AS src_conv_id, turn_idx AS src_idx,
                    role AS src_role, ts AS src_ts FROM t
             WHERE role IN ('signup','click'))
       SELECT b.conv_id, b.buy_idx, a.src_idx, a.src_role,
              epoch_us(b.buy_ts) AS buy_ts_us, epoch_us(a.src_ts) AS src_ts_us
       FROM b LEFT JOIN a ON b.conv_id = a.src_conv_id
         AND b.buy_ts >= a.src_ts
         AND b.buy_ts <= a.src_ts + INTERVAL 24 HOUR"""

  // ---- J6: stream-stream LEFT SEMI interval join ----------------------
  /** The existence form of j3: purchases that HAD a signup/click from
    * the same user in the preceding 24 h — emitted once however many
    * sources match (semi-join dedup is the streaming state's job, not a
    * downstream DISTINCT). A matched left row emits as found, an
    * unmatched one never emits, so no sentinel machinery is needed and
    * the drained sink equals the batch EXISTS — the DuckDB oracle.
    */
  def j6StreamSemi(s: SparkSession, d: String): DataFrame = {
    val inDir = stagedTurnsByTs(s, d)
    def side() = fileStream(s, inDir, Schemas.turn)
    val buys = side().filter(col("role") === "purchase")
      .select(col("conv_id"), col("turn_idx").as("buy_idx"),
        col("ts").as("buy_ts"))
      .withWatermark("buy_ts", "3650 days")
    val srcs = side().filter(col("role").isin("signup", "click"))
      .select(col("conv_id").as("src_conv_id"), col("ts").as("src_ts"))
      .withWatermark("src_ts", "3650 days")
    val joined = buys.join(srcs,
      col("conv_id") === col("src_conv_id") &&
        col("buy_ts") >= col("src_ts") &&
        col("buy_ts") <= col("src_ts") + expr("interval 24 hours"),
      "left_semi")
      .select(col("conv_id"), col("buy_idx").cast("long").as("buy_idx"),
        unix_micros(col("buy_ts")).as("buy_ts_us"))
    drainToParquet(s, inDir, joined)
  }

  val j6StreamSemiSql: String =
    """WITH t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id,
                         event_id AS turn_idx, event_type AS role, ts
                  FROM events)
       SELECT b.conv_id, b.turn_idx AS buy_idx, epoch_us(b.ts) AS buy_ts_us
       FROM t b WHERE b.role = 'purchase' AND EXISTS (
         SELECT 1 FROM t a
         WHERE a.conv_id = b.conv_id AND a.role IN ('signup','click')
           AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 24 HOUR)"""

  // ---- streaming dedup within watermark -------------------------------
  /** `dropDuplicatesWithinWatermark` over a deliberately duplicated
    * stream (every third event arrives three times): first occurrence
    * passes, replays are absorbed by keyed state, and the watermark
    * bounds that state — at production scale the delay is tight (hours)
    * and dedup state holds only the replay horizon, not stream history;
    * the fixture's wide watermark is its usual "nothing is late"
    * setting, making the drained result exactly DISTINCT, which the
    * DuckDB oracle checks against the clean events table.
    */
  def dedupStreamWatermark(s: SparkSession, d: String): DataFrame = {
    val inDir = Files.createTempDirectory("graft-sdedup-q").toString + "/in"
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val dups = ev.filter(col("event_id") % 3 === 0)
    ev.unionByName(dups).unionByName(dups)
      .repartitionByRange(4, col("ts")).write.parquet(inDir)
    drainToParquet(s, inDir, fileStream(s, inDir, StructType.fromDDL(
        "event_id bigint, user_id bigint, event_type string, ts timestamp"))
      .withWatermark("ts", "3650 days")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"), col("event_type").as("role"),
        unix_micros(col("ts")).as("ts_us")))
  }

  val dedupStreamWatermarkSql: String =
    """SELECT event_id, user_id, event_type AS role, epoch_us(ts) AS ts_us
       FROM events"""

  // ---- incremental materialized-aggregate maintenance -----------------
  private val mvCache = new FixtureCache[IcebergLikeTable]()

  /** Aggregate view maintained purely from the change feed
    * ([[graft.pipeline.MaterializedAgg]]): per-batch (−old, +new) group
    * deltas MERGEd into a view keyed by the group — the base table is
    * never rescanned. The cdc fixture's final state equals the full s1
    * snapshot, so the maintained view must hash-equal a from-scratch
    * GROUP BY over it (the DuckDB oracle).
    */
  private def runMvMaintain(s: SparkSession, d: String): IcebergLikeTable =
    mvCache.getOrElseUpdate((s, d)) {
      locally({
        implicit val sp: SparkSession = s
        val (src, tmp) = cdcSource(s, d)
        val sums = Seq("turn_count" -> "turns_sum")
        val replica = new IcebergLikeTable(s"$tmp/mv_replica", 8)
        val mv = new IcebergLikeTable(s"$tmp/mv", 4, keyCol = "last_role",
          emptySchema = graft.pipeline.MaterializedAgg.viewSchema("last_role", sums))
        drain(s, src.root)(ckpt => graft.pipeline.MaterializedAgg.maintain(
          src, replica, mv, "last_role", sums, ckpt))
        mv
      })
    }

  def mvMaintain(s: SparkSession, d: String): DataFrame =
    graft.pipeline.MaterializedAgg.read(runMvMaintain(s, d))
      .select(col("last_role"), col("n").as("conv_count"), col("turns_sum"))

  val mvMaintainSql: String =
    """WITH t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id,
                         event_id AS turn_idx, event_type AS role, ts
                  FROM events),
       r AS (SELECT conv_id, role, row_number() OVER
               (PARTITION BY conv_id ORDER BY turn_idx DESC) AS rn FROM t),
       a AS (SELECT conv_id, count(*) AS turn_count FROM t GROUP BY conv_id)
       SELECT r.role AS last_role, count(*) AS conv_count,
              CAST(sum(a.turn_count) AS BIGINT) AS turns_sum
       FROM a JOIN r ON a.conv_id = r.conv_id AND r.rn = 1
       GROUP BY r.role"""

  // ---- G1: streaming multi-target fan-out -----------------------------
  /** The two per-target filters mirror the batch g1_fanout exhibit. */
  private val fanoutTargets: Seq[(String, Seq[String])] = Seq(
    "commerce" -> Seq("purchase", "refund"),
    "auth" -> Seq("signup", "login"))

  private def runFanout(s: SparkSession, d: String): Seq[(String, IcebergLikeTable)] =
    fanoutCache.getOrElseUpdate((s, d)) {
      locally({
        import s.implicits._
        implicit val sp: SparkSession = s
        val tmp = Files.createTempDirectory("graft-fanout-q").toString
        val inDir = stagedTurnsByTs(s, d)
        val tables = fanoutTargets.map { case (name, _) =>
          name -> new IcebergLikeTable(s"$tmp/$name/table", 8)
        }
        drainAll(s, inDir)(ckpt => Fanout.start(
          fileStream(s, inDir, Schemas.turn).as[Turn],
          fanoutTargets.zip(tables).map { case ((name, roles), (_, table)) =>
            Fanout.Target(name, col("role").isin(roles: _*), table, s"$ckpt/$name")
          }, watermark = "3650 days"))
        tables
      })
    }

  /** G1 — one source stream, two filtered targets with independent tables
    * and checkpoints; result = union of both read-backs, DuckDB-oracled
    * (reference: PipelineBuilder.scala:154-184).
    */
  def g1StreamFanout(s: SparkSession, d: String): DataFrame =
    runFanout(s, d).map { case (name, table) =>
      table.read().select(
        lit(name).as("target"),
        col("conv_id"),
        col("last_turn_idx").cast("long").as("last_turn_idx"),
        col("last_role"),
        col("turn_count"))
    }.reduce(_ unionByName _)

  val g1StreamFanoutSql: String =
    """WITH t AS (SELECT CAST(user_id AS VARCHAR) AS conv_id,
                         event_id AS turn_idx, event_type AS role
                  FROM events),
       c AS (SELECT * FROM t WHERE role IN ('purchase','refund')),
       cr AS (SELECT conv_id, turn_idx, role, row_number() OVER
                (PARTITION BY conv_id ORDER BY turn_idx DESC) AS rn FROM c),
       cn AS (SELECT conv_id, count(*) AS turn_count FROM c GROUP BY conv_id),
       a AS (SELECT * FROM t WHERE role IN ('signup','login')),
       ar AS (SELECT conv_id, turn_idx, role, row_number() OVER
                (PARTITION BY conv_id ORDER BY turn_idx DESC) AS rn FROM a),
       an AS (SELECT conv_id, count(*) AS turn_count FROM a GROUP BY conv_id)
       SELECT 'commerce' AS target, cn.conv_id, cr.turn_idx AS last_turn_idx,
              cr.role AS last_role, cn.turn_count
       FROM cn JOIN cr ON cn.conv_id = cr.conv_id AND cr.rn = 1
       UNION ALL
       SELECT 'auth' AS target, an.conv_id, ar.turn_idx AS last_turn_idx,
              ar.role AS last_role, an.turn_count
       FROM an JOIN ar ON an.conv_id = ar.conv_id AND ar.rn = 1"""
}
