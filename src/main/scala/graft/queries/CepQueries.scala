package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cep.{Cep, CepEvent, CepMatch, CepStream}
import graft.queries.StreamDrain.{drain, drainToParquet, fileStream}
import graft.store.IcebergLikeTable

/** CEP query surface over the events fixture (events-as-user-streams:
  * the same mapping every streaming query here uses). Three rows:
  *
  *  - cep_pattern: strict-contiguity sequence match (batch, window form)
  *  - cep_funnel:  relaxed followed-by conversion funnel
  *  - cep_stream:  the SAME strict pattern through the streaming NFA
  *    (flatMapGroupsWithState + watermark finalization) — shares
  *    cep_pattern's oracle, proving streaming ≡ batch ≡ DuckDB.
  */
object CepQueries {

  private val PatternSteps = Seq(
    Cep.Step("view", col("event_type") === "view"),
    Cep.Step("click", col("event_type") === "click"),
    Cep.Step("purchase", col("event_type") === "purchase"))
  private val WithinUs = 72L * 3600 * 1000000 // 72 hours

  /** Strict view→click→purchase within 72h, per user, ordered by
    * (ts, event_id) — one keyed window pass, k−1 leads, no joins.
    */
  def cepPattern(s: SparkSession, d: String): DataFrame =
    Cep.matchStrict(Tables.events(s, d),
        key = col("user_id").cast("string"),
        ts = col("ts"), idx = col("event_id"),
        steps = PatternSteps, withinUs = WithinUs)
      .select(col("key").as("conv_id"),
        element_at(col("ids"), 1).as("e1"),
        element_at(col("ids"), 2).as("e2"),
        element_at(col("ids"), 3).as("e3"),
        col("start_ts_us").as("t1_us"), col("end_ts_us").as("t3_us"))

  val cepPatternSql: String =
    """SELECT CAST(user_id AS VARCHAR) AS conv_id,
              event_id AS e1, e2, e3,
              epoch_us(ts) AS t1_us, epoch_us(t3) AS t3_us
       FROM (
         SELECT user_id, event_id, event_type, ts,
                lead(event_type, 1) OVER w AS y2,
                lead(event_type, 2) OVER w AS y3,
                lead(event_id, 1)  OVER w AS e2,
                lead(event_id, 2)  OVER w AS e3,
                lead(ts, 2)        OVER w AS t3
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       WHERE event_type = 'view' AND y2 = 'click' AND y3 = 'purchase'
         AND t3 <= ts + INTERVAL 72 HOUR"""

  /** Quantified pattern view (click)+ purchase within 72h: the maximal
    * click-run form ([[Cep.matchOneOrMore]] — one window pair + one
    * position self-join, no variable-length explode).
    */
  def cepQuant(s: SparkSession, d: String): DataFrame =
    Cep.matchOneOrMore(Tables.events(s, d),
        key = col("user_id").cast("string"), ts = col("ts"),
        idx = col("event_id"),
        first = Cep.Step("view", col("event_type") === "view"),
        middle = Cep.Step("click", col("event_type") === "click"),
        last = Cep.Step("purchase", col("event_type") === "purchase"),
        withinUs = WithinUs)
      .select(col("key").as("conv_id"), col("e1"), col("e_end"),
        col("n_mid"), col("start_ts_us").as("t1_us"),
        col("end_ts_us").as("t_end_us"))

  val cepQuantSql: String =
    """WITH base AS (
         SELECT user_id, event_id, event_type, ts,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS pos
         FROM events),
       p AS (
         SELECT *,
                min(CASE WHEN event_type <> 'click' THEN pos END)
                  OVER (PARTITION BY user_id ORDER BY pos
                        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                  AS nxt
         FROM base)
       SELECT CAST(p.user_id AS VARCHAR) AS conv_id, p.event_id AS e1,
              q.event_id AS e_end, CAST(q.pos - p.pos - 1 AS BIGINT) AS n_mid,
              epoch_us(p.ts) AS t1_us, epoch_us(q.ts) AS t_end_us
       FROM p JOIN p q ON q.user_id = p.user_id AND q.pos = p.nxt
       WHERE p.event_type = 'view' AND q.event_type = 'purchase'
         AND q.pos > p.pos + 1 AND q.ts <= p.ts + INTERVAL 72 HOUR"""

  /** signup → click → purchase funnel, each step within 3 days of the
    * first signup — chained conditional window mins, one Exchange.
    */
  def cepFunnel(s: SparkSession, d: String): DataFrame =
    Cep.funnel(Tables.events(s, d),
        key = col("user_id").cast("string"), ts = col("ts"),
        steps = Seq(
          Cep.Step("signup", col("event_type") === "signup"),
          Cep.Step("click", col("event_type") === "click"),
          Cep.Step("purchase", col("event_type") === "purchase")),
        within = "3 days")
      .select(col("key").as("conv_id"), col("t1_us"), col("t2_us"),
        col("t3_us"), col("depth"))

  val cepFunnelSql: String =
    """SELECT DISTINCT CAST(user_id AS VARCHAR) AS conv_id,
              epoch_us(t1) AS t1_us, epoch_us(t2) AS t2_us,
              epoch_us(t3) AS t3_us,
              CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
                   WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS depth
       FROM (
         SELECT user_id, t1, t2,
                min(CASE WHEN event_type = 'purchase' AND ts > t2
                          AND ts <= t1 + INTERVAL 3 DAY THEN ts END)
                  OVER (PARTITION BY user_id) AS t3
         FROM (
           SELECT user_id, event_type, ts, t1,
                  min(CASE WHEN event_type = 'click' AND ts > t1
                            AND ts <= t1 + INTERVAL 3 DAY THEN ts END)
                    OVER (PARTITION BY user_id) AS t2
           FROM (
             SELECT user_id, event_type, ts,
                    min(CASE WHEN event_type = 'signup' THEN ts END)
                      OVER (PARTITION BY user_id) AS t1
             FROM events)))"""

  // ---- streaming NFA ---------------------------------------------------
  private val cepCache = new FixtureCache[DataFrame]()
  private val cepStageCache = new FixtureCache[String]()

  /** ONE staged, time-ordered event stream + far-future sentinel shared
    * by the NFA and funnel drains (was two identical stagings + two
    * max(ts) scans per session+dir). The sentinel's event_type 'x'
    * matches NO pattern step in either consumer (mask 0) — it exists
    * purely to advance the watermark past every real anchor's horizon;
    * its dummy group (-1) is dropped on result read.
    */
  private def stagedCepEvents(s: SparkSession, d: String): String =
    cepStageCache.getOrElseUpdate((s, d)) {
      locally({
        import s.implicits._
        val inDir = Files.createTempDirectory("graft-cep-in").toString + "/in"
        val src = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        src.repartitionByRange(4, col("ts")).write.parquet(inDir)
        val stamped = StreamQueries.stampAscending(inDir)
        val maxTs = src.agg(max(col("ts"))).head().getTimestamp(0)
        StreamQueries.appendSentinelLast(inDir, stamped,
          Seq((-1L, -1L, "x",
            new java.sql.Timestamp(maxTs.getTime + 30L * 24 * 3600 * 1000)))
            .toDF("user_id", "event_id", "event_type", "ts"))
        inDir
      })
    }

  /** The strict pattern through the streaming NFA: time-ordered
    * micro-batches (range-partitioned files, ascending mtimes), 1-minute
    * watermark, far-future sentinel advancing the final watermark past
    * every real anchor's horizon (the sentinel is a lone event in a
    * dummy group — it can't match a 3-step pattern and its own anchor
    * never finalizes). Append-mode parquet sink, checkpointed.
    */
  private def runCepPipeline(s: SparkSession, d: String): DataFrame =
    runNfaPipeline(s, d, cepCache) { (events, sp) =>
      CepStream.matches(events, PatternSteps.size, WithinUs)(sp)
    }

  /** The staged CEP events as a masked, watermarked [[CepEvent]]
    * stream: bit j of `mask` is set when step j's predicate holds.
    */
  private def cepEvents(s: SparkSession, inDir: String,
      steps: Seq[Cep.Step]): org.apache.spark.sql.Dataset[CepEvent] = {
    import s.implicits._
    val mask = steps.zipWithIndex.map { case (st, j) =>
      when(st.pred, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
    fileStream(s, inDir, org.apache.spark.sql.types.StructType.fromDDL(
        "user_id bigint, event_id bigint, event_type string, ts timestamp"))
      .select(col("user_id").cast("string").as("convId"),
        col("event_id").as("idx"), unix_micros(col("ts")).as("tsUs"),
        mask.as("mask"), col("ts"))
      .withWatermark("ts", "1 minute")
      .as[CepEvent]
  }

  private def runNfaPipeline(s: SparkSession, d: String, cache: FixtureCache[DataFrame])(
      nfa: (org.apache.spark.sql.Dataset[CepEvent], SparkSession) =>
        org.apache.spark.sql.Dataset[CepMatch]): DataFrame =
    cache.getOrElseUpdate((s, d)) {
      val inDir = stagedCepEvents(s, d)
      // 2 data batches + sentinel + no-data batch: cross-batch NFA state
      // and watermark finalization stay exercised
      drainToParquet(s, inDir, nfa(cepEvents(s, inDir, PatternSteps), s).toDF())
    }

  private def matchesView(matches: DataFrame): DataFrame =
    matches
      .filter(col("convId") =!= "-1")
      .select(col("convId").as("conv_id"),
        element_at(col("ids"), 1).as("e1"),
        element_at(col("ids"), 2).as("e2"),
        element_at(col("ids"), 3).as("e3"),
        col("startTsUs").as("t1_us"), col("endTsUs").as("t3_us"))

  /** Streaming strict-pattern matches ≡ the batch window form (same
    * DuckDB oracle as cep_pattern).
    */
  def cepStream(s: SparkSession, d: String): DataFrame =
    matchesView(runCepPipeline(s, d))

  val cepStreamSql: String = cepPatternSql

  // ---- the same NFA on transformWithState ------------------------------
  private val cepTwsCache = new FixtureCache[DataFrame]()

  /** The SAME strict pattern through [[graft.cep.CepTws]] — Spark 4's
    * transformWithState (ListState buffer in RocksDB, registered
    * event-time timers for idle-key flushes). Sharing cep_pattern's
    * oracle proves batch ≡ fMGWS ≡ TWS on the same input + watermark.
    */
  def cepTws(s: SparkSession, d: String): DataFrame =
    matchesView(graft.snapshot.SnapshotTws.withRocksDb(s) {
      runNfaPipeline(s, d, cepTwsCache) { (events, sp) =>
        graft.cep.CepTws.matches(events, PatternSteps.size, WithinUs)(sp)
      }
    })

  val cepTwsSql: String = cepPatternSql

  // ---- streaming funnel (Update mode, exactly-once MERGE sink) ---------
  private val funnelCache = new FixtureCache[IcebergLikeTable]()

  private val FunnelSteps = Seq(
    Cep.Step("signup", col("event_type") === "signup"),
    Cep.Step("click", col("event_type") === "click"),
    Cep.Step("purchase", col("event_type") === "purchase"))
  private val FunnelWithinUs = 3L * 24 * 3600 * 1000000 // 3 days

  /** The conversion funnel made CONTINUOUS ([[graft.cep.FunnelTws]]):
    * per-key O(pattern) state on transformWithState, Update-mode rows
    * merged exactly-once into a keyed store — the real-time "where is
    * every user in the funnel right now" table. Drained over the fixture
    * it must equal the batch funnel, depth-0 users included (every user
    * emits a first-seen row).
    */
  private def runFunnelPipeline(s: SparkSession, d: String): IcebergLikeTable =
    funnelCache.getOrElseUpdate((s, d)) {
      implicit val sp: SparkSession = s
      val tmp = Files.createTempDirectory("graft-funnel-q").toString
      val inDir = stagedCepEvents(s, d)
      val table = new IcebergLikeTable(s"$tmp/table", 8,
        emptySchema = org.apache.spark.sql.types.StructType.fromDDL(
          "conv_id string, t1_us bigint, t2_us bigint, t3_us bigint, depth int"))
      graft.snapshot.SnapshotTws.withRocksDb(s) {
        drain(s, inDir)(ckpt => graft.cep.FunnelTws
          .updates(cepEvents(s, inDir, FunnelSteps), FunnelSteps.size, FunnelWithinUs)
          .select(col("convId").as("conv_id") +:
            (1 to FunnelSteps.size).map(j =>
              when(size(col("ts")) >= j, element_at(col("ts"), j))
                .as(s"t${j}_us")) :+ col("depth"): _*)
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: DataFrame, id: Long) =>
            table.merge(df, "conv_id", id); ()
          }
          .start())
      }
      table
    }

  /** Final streaming-funnel table ≡ the batch funnel SQL (same oracle as
    * cep_funnel — depth-0 users included).
    */
  def cepFunnelStream(s: SparkSession, d: String): DataFrame =
    runFunnelPipeline(s, d).read()
      .filter(col("conv_id") =!= "-1")
      .select(col("conv_id"), col("t1_us"), col("t2_us"), col("t3_us"),
        col("depth"))

  val cepFunnelStreamSql: String = cepFunnelSql
}
