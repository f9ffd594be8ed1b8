package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.replay.ChangeStream
import graft.store.IcebergLikeTable

/** Incremental materialized-aggregate maintenance over a table's change
  * feed: keep `SELECT groupCol, count(*), sum(v1), … GROUP BY groupCol`
  * of a keyed snapshot table continuously up to date WITHOUT ever
  * rescanning the base table.
  *
  * This is classic delta view maintenance specialised to an upsert feed:
  * each change-feed batch carries the NEW row per touched key, the
  * replica (maintained alongside) still holds the OLD row — so each
  * touched key contributes `(−old, +new)` to its group(s), the per-batch
  * group deltas aggregate to one row per TOUCHED group, and a keyed MERGE
  * folds them into the view. Both the pre-image read and the view read are
  * bucket-pruned ([[IcebergLikeTable.readForKeys]]): per-batch I/O is the
  * files of the buckets the touched keys/groups hash to, never a
  * base-table or view scan, and untouched groups are never rewritten.
  * Count and sums are long-exact, so
  * the maintained view is hash-identical to a from-scratch aggregation
  * (the DuckDB oracle on `mv_maintain` checks exactly that).
  *
  * Crash safety is the MERGE batch-id idempotency, with one ORDERING
  * contract: the view merges BEFORE the replica. On redelivery after a
  * crash between the two, deltas are recomputed against the replica
  * state they were originally computed against (the replica has not yet
  * applied the batch), and the view's merge no-ops on its committed
  * batch id — either way every batch folds into the view exactly once.
  * (Replica-first would recompute old == new → zero deltas, then apply
  * the zero batch to a view that never saw the real one.) This needs the
  * redelivered batch to equal the original, which the change source
  * gives while the batch's end log entry is retained. Re-run after that
  * entry expired, the batch is read from the head and may carry keys
  * changed since at their newer state, which the view never saw: that
  * redelivery fails the query, and the view and replica must be rebuilt.
  *
  * znap has no analog — its consumers refetch full entities on signal
  * (reference restapi/DynamoDBEntityReader.scala:38-73); this ships the
  * change and maintains downstream aggregates with no refetch at all.
  */
object MaterializedAgg {

  /** View schema: `groupCol string, n long, <sum alias> long …`. */
  def viewSchema(groupCol: String, sums: Seq[(String, String)]): StructType =
    StructType(
      StructField(groupCol, StringType) +: StructField("n", LongType) +:
        sums.map { case (_, as) => StructField(as, LongType) })

  /** Start the maintenance stream: follow `src`'s change feed, maintain
    * `replica` (exact copy, supplies pre-image rows) and `mv` (the
    * aggregate view keyed by `groupCol`). `sums` maps source column →
    * view column; counts are implicit (`n`). AvailableNow drains and
    * stops (catch-up form); pass `availableNow = false` to keep
    * following.
    */
  def maintain(src: IcebergLikeTable, replica: IcebergLikeTable,
      mv: IcebergLikeTable, groupCol: String, sums: Seq[(String, String)],
      ckpt: String, availableNow: Boolean = true)(
      implicit spark: SparkSession): StreamingQuery = {
    require(mv.keyCol == groupCol, s"mv must be keyed by '$groupCol'")
    val writer = ChangeStream.changes(src).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        applyBatch(src, replica, mv, groupCol, sums, df, batchId)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** One batch of delta maintenance, `up` holding one row per touched
    * key as [[ChangeStream.changes]] delivers it (factored out so tests
    * can drive redelivery explicitly).
    */
  def applyBatch(src: IcebergLikeTable, replica: IcebergLikeTable,
      mv: IcebergLikeTable, groupCol: String, sums: Seq[(String, String)],
      up: DataFrame, batchId: Long): Unit = {
    // persist before the emptiness probe (MergeSink.apply): the probe
    // otherwise re-runs the batch's plan, which the merges then recompute
    up.persist()
    if (up.isEmpty) { up.unpersist(); return }
    if (mv.readManifest().lastBatchId >= batchId &&
        replica.readManifest().lastBatchId < batchId && ChangeStream.readFromHead(up)) {
      up.unpersist() // the re-read may differ from what the view applied
      throw new IllegalStateException(s"batch $batchId of ${src.root} re-ran from the " +
        "head after a crash between the merges: rebuild the view and its replica")
    }
    val deltas = {
      // pre-image rows of the touched keys, read from the not-yet-merged
      // replica with bucket pruning: only the files of the buckets the
      // touched keys hash to are scanned/resolved, so the pre-image read
      // is O(files in touched buckets), not O(replica)
      val old = replica.readForKeys(up.select(src.keyCol))
        .join(up.select(src.keyCol), Seq(src.keyCol), "left_semi")
      // deleted keys contribute only their (−old) side: the pre-image
      // vanishes from its group, nothing is added (a delete marker row
      // carries no payload to add — and its group column is null anyway)
      val dc = IcebergLikeTable.DeleteCol
      val ups =
        if (up.columns.contains(dc))
          up.filter(!coalesce(col(dc), lit(false))).drop(dc)
        else up
      def contrib(d: DataFrame, sign: Long): DataFrame = d.select(
        col(groupCol) +: lit(sign).as("n") +:
          sums.map { case (c, as) => (col(c).cast("long") * sign).as(as) }: _*)
      contrib(old, -1L).unionByName(contrib(ups, 1L))
        .groupBy(col(groupCol))
        .agg(sum(col("n")).as("n"),
          sums.map { case (_, as) => sum(col(as)).as(as) }: _*)
        .persist()
    }
    try {
      // touched groups only, same pruning on the view side: fold deltas
      // into current values and MERGE — untouched groups are neither
      // read nor rewritten
      val cur = mv.readForKeys(deltas.select(groupCol))
      val next = deltas.as("d").join(cur.as("c"), Seq(groupCol), "left")
        .select(
          col(groupCol) +:
            (coalesce(col("c.n"), lit(0L)) + col("d.n")).as("n") +:
            sums.map { case (_, as) =>
              (coalesce(col(s"c.$as"), lit(0L)) + col(s"d.$as")).as(as) }: _*)
      mv.merge(next, groupCol, batchId) // view FIRST (see ordering contract)
      replica.merge(up, src.keyCol, batchId)
      ()
    } finally { deltas.unpersist(); up.unpersist(); () }
  }

  /** The view as a query result: groups whose membership dropped to zero
    * carry `n = 0` tombstone rows — excluded here. (The store does have
    * row-level deletes now; the view keeps zero-rows instead because a
    * group at n = 0 is likely to refill, and an upsert is cheaper than a
    * delete-marker + resurrect cycle on a hot group.)
    */
  def read(mv: IcebergLikeTable): DataFrame =
    mv.read().filter(col("n") > 0)
}
