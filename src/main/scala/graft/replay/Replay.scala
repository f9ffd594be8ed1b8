package graft.replay

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.model.{ConvSnapshot, Turn}
import graft.snapshot.{SnapshotFold, SnapshotStream}
import graft.sink.MergeSink
import graft.store.IcebergLikeTable

/** Replay — znap's raison d'être ("replay the complete data set as it
  * travels through the data stream", reference README.md:3-5,11) in three
  * forms:
  *
  *  1. [[fromCheckpoint]] — resume the streaming fold from the Structured
  *     Streaming checkpoint (znap S4 offset resume,
  *     NakadiPublisher.scala:63-100). The offset log replaces the DynamoDB
  *     offset table; validity checking is the checkpoint protocol's.
  *  2. [[toTimestamp]] — batch reconstruction of the snapshot as of event
  *     time T (znap's dump is offset-bounded; ours is event-time-bounded).
  *  3. [[dump]] — full key-set scan of the snapshot table with projection
  *     pushdown (znap D1, SnapshotService.scala:90-99).
  */
/** Requested replay point lies outside the available/committed window —
  * the fail-fast the reference throws when a stored offset falls outside
  * a partition's retention range
  * (reference: source/nakadi/NakadiPublisher.scala:89-100,188-205).
  */
final class InvalidOffsetException(msg: String) extends RuntimeException(msg)

object Replay {

  /** S4 validity check #1 — replay-from-offset: the requested batch must
    * lie inside the committed lineage window (znap validates the stored
    * offset against [oldestAvailable, newestAvailable] and fails fast
    * with InvalidOffsetException, NakadiPublisher.scala:89-100). Resuming
    * from an unknown batch would silently rebuild from the wrong state.
    *
    * The window is metadata, answered like znap's ProgressChecker reads
    * its offset table (healthcheck/ProgressChecker.scala:95-146): the
    * manifest names each batch that wrote lineage in its `lineage/v<b>/`
    * paths ([[IcebergLikeTable.lineageWindow]]), so no Spark job runs.
    * That equals min/max `batch_id` over the lineage rows because a
    * merge's lineage rows carry that merge's batchId (the
    * [[IcebergLikeTable.merge]] contract [[MergeSink.lineageOf]] keeps).
    */
  def validateReplayBatch(table: IcebergLikeTable, requestedBatchId: Long): Unit =
    table.lineageWindow() match {
      case None =>
        throw new InvalidOffsetException(
          s"replay from batch $requestedBatchId: lineage is empty (nothing committed)")
      case Some((lo, hi)) if requestedBatchId < lo || requestedBatchId > hi =>
        throw new InvalidOffsetException(
          s"replay from batch $requestedBatchId outside committed window [$lo, $hi]")
      case _ => ()
    }

  /** S4 validity check #2 — resume gap detection: before resuming a fold
    * against a retention-limited source, the oldest still-available turn
    * must not postdate the newest committed state by more than the
    * watermark — otherwise events expired unconsumed and the snapshot
    * would silently miss them (znap: ProgressChecker.scala:134-135 errors
    * when the stored offset leaves the retention window).
    */
  def validateResume(table: IcebergLikeTable, source: DataFrame,
      maxGapMs: Long = 0L): Unit = {
    val committed = table.lineage().agg(max(col("committed_ts"))).head()
    if (committed.isNullAt(0)) return // fresh table: BEGIN is always valid
    val oldestAvailable = source.agg(min(col("ts"))).head().getTimestamp(0)
    val committedTs = committed.getTimestamp(0)
    if (oldestAvailable.getTime - committedTs.getTime > maxGapMs)
      throw new InvalidOffsetException(
        s"resume gap: committed through $committedTs but oldest available " +
          s"turn is $oldestAvailable — events expired unconsumed")
  }

  /** S5 — restart-with-budget around a live streaming query (znap's
    * PipelineManager restart policy, reference
    * pipeline/PipelineManager.scala:63-103: restart on failure, rereading
    * offsets from the store, crash when the error budget is exceeded).
    * `start` must build a NEW query against the SAME checkpoint each
    * attempt — recovery re-reads the offset log, exactly like znap
    * rereads the offset table on restart.
    */
  def runSupervised(budget: graft.ops.ErrorBudget, clock: () => Long)(
      start: () => StreamingQuery): Either[Throwable, Unit] =
    graft.ops.Supervised.run(budget, clock) { () =>
      val q = start()
      try {
        q.processAllAvailable()
        q.stop()
      } catch {
        case e: Throwable =>
          try q.stop() catch { case _: Throwable => () }
          throw e
      }
    }

  /** Start (or resume) the snapshot pipeline against `checkpointDir`.
    * Re-running after a stop/crash resumes from the last committed batch;
    * the MergeSink batchId guard makes the overlap batch a no-op —
    * replay-from-offset reproduces byte-identical snapshots.
    */
  /** `lineageShard`: the partitioning lineage/progress is tracked against
    * (see [[MergeSink.lineageOf]]) — None = physical spark partition;
    * production passes a logical key shard so lag dashboards survive a
    * cluster resize.
    */
  def fromCheckpoint(turns: Dataset[Turn], table: IcebergLikeTable,
      checkpointDir: String, watermark: String = "10 minutes",
      lineageShard: Option[org.apache.spark.sql.Column] = None): StreamingQuery =
    SnapshotStream.updates(turns, watermark).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(MergeSink(table, lineageShard = lineageShard) _)
      .start()

  /** Snapshot state as of event time `t` (inclusive) — pure batch fold
    * over the turn log; one shuffle on conv_id.
    */
  def toTimestamp(turns: Dataset[Turn], t: Timestamp): DataFrame =
    SnapshotFold.batchSnapshots(turns.filter(col("ts") <= lit(t)).toDF())

  /** Dump: the snapshot's key set (column-pruned scan — only conv_id is
    * read from parquet), partition-parallel like znap's 4-segment scan.
    */
  def dump(table: IcebergLikeTable): DataFrame =
    table.read().select(col("conv_id"))

  /** Incremental dump: keys whose snapshot changed after committed batch
    * `sinceBatch` — the scale-friendly form of [[dump]] (a 10^12-turn
    * table republishes a micro-batch's worth of keys, not the world).
    * The since-batch is checked against the committed lineage window
    * exactly like a replay-from-offset (S4, [[validateReplayBatch]]): an
    * unknown since-batch fails fast, never silently dumping everything
    * or nothing. That check reads the manifest only, so the dump is one
    * column-pruned scan like [[dump]]: the change read filters
    * `__seq > sinceBatch` before resolving and reads only the key and
    * `__seq` — one job on a compacted table, a key-only group-by on a
    * delta chain ([[IcebergLikeTable.readChangesSince]]).
    */
  def incrementalDump(table: IcebergLikeTable, sinceBatch: Long): DataFrame = {
    validateReplayBatch(table, sinceBatch)
    table.readChangesSince(sinceBatch).select(col("conv_id"))
  }
}
