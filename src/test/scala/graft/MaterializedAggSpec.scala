package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.types.StructType
import graft.pipeline.MaterializedAgg
import graft.replay.ChangeStream
import graft.store.IcebergLikeTable

/** Incremental aggregate view maintenance (pipeline/MaterializedAgg):
  * delta folding equals a from-scratch GROUP BY after every commit,
  * group migration subtracts from the old group, redelivery after a
  * crash between the view merge and the replica merge converges (the
  * view-before-replica ordering contract) unless the redelivery was read
  * from the head after its log entry expired, which fails instead of
  * diverging, and zero-membership groups
  * are tombstoned out of the read view.
  */
class MaterializedAggSpec extends SparkSpec {
  import spark.implicits._
  implicit val s: org.apache.spark.sql.SparkSession = spark

  private val sums = Seq("turn_count" -> "turns_sum")
  private def snap(rows: (String, String, Long)*) =
    rows.toDF("conv_id", "last_role", "turn_count")
  private def mkSrc(tag: String) = new IcebergLikeTable(tmpDir(tag) + "/t", 4,
    emptySchema = StructType.fromDDL(
      "conv_id string, last_role string, turn_count bigint"))
  private def mkMv(tag: String) = new IcebergLikeTable(tmpDir(tag) + "/mv", 2,
    keyCol = "last_role",
    emptySchema = MaterializedAgg.viewSchema("last_role", sums))

  private def viewOf(mv: IcebergLikeTable): Map[String, (Long, Long)] =
    MaterializedAgg.read(mv).select("last_role", "n", "turns_sum")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

  private def direct(src: IcebergLikeTable): Map[String, (Long, Long)] =
    src.read().groupBy(col("last_role"))
      .agg(count(lit(1)).as("n"), sum(col("turn_count")).as("ts"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

  private def drain(src: IcebergLikeTable, replica: IcebergLikeTable,
      mv: IcebergLikeTable, ckpt: String): Unit = {
    awaitDone(MaterializedAgg.maintain(src, replica, mv, "last_role", sums, ckpt))
  }

  test("maintained view == from-scratch GROUP BY across inserts, updates, migration") {
    val src = mkSrc("mvasrc"); val replica = mkSrc("mvarep"); val mv = mkMv("mva")
    val ckpt = tmpDir("mvackpt") + "/c"
    src.merge(snap(("a", "user", 3L), ("b", "tool", 5L), ("c", "user", 2L)),
      "conv_id", 0L)
    // b grows in place; c MIGRATES user -> tool; d is a fresh insert
    src.merge(snap(("b", "tool", 9L), ("c", "tool", 4L), ("d", "user", 1L)),
      "conv_id", 1L)
    drain(src, replica, mv, ckpt)
    assert(viewOf(mv) == direct(src))
    assert(viewOf(mv) == Map("user" -> ((2L, 4L)), "tool" -> ((2L, 13L))))
  }

  test("crash between view merge and replica merge: redelivery converges") {
    val src = mkSrc("mvbsrc"); val replica = mkSrc("mvbrep"); val mv = mkMv("mvb")
    // batch shape as ChangeStream.changes delivers it: one row per key
    // with its __del flag
    val up0 = snap(("a", "user", 3L), ("b", "tool", 5L))
    val up1 = snap(("a", "tool", 7L))
    src.merge(up0, "conv_id", 0L)
    val b0 = up0.withColumn(IcebergLikeTable.DeleteCol, lit(false))
    MaterializedAgg.applyBatch(src, replica, mv, "last_role", sums, b0, 0L)
    src.merge(up1, "conv_id", 1L)
    val b1 = up1.withColumn(IcebergLikeTable.DeleteCol, lit(false))
    // crash simulation: view merged, replica merge lost — rerun the batch
    mvMergeOnly(src, replica, mv, b1, 1L)
    MaterializedAgg.applyBatch(src, replica, mv, "last_role", sums, b1, 1L)
    assert(viewOf(mv) == direct(src))
    assert(viewOf(mv) == Map("tool" -> ((2L, 12L))))
  }

  test("a crash between the merges, then the batch's log entry expires: the re-run fails") {
    val src = mkSrc("mvdsrc"); val replica = mkSrc("mvdrep"); val mv = mkMv("mvd")
    val ckpt = tmpDir("mvdckpt") + "/c"
    src.merge(snap(("a", "user", 3L), ("b", "tool", 5L)), "conv_id", 0L)
    drain(src, replica, mv, ckpt)
    src.merge(snap(("a", "tool", 7L)), "conv_id", 1L)
    // the view merges batch 1, then the query dies before the replica merge
    val crashed = ChangeStream.changes(src).writeStream
      .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        mvMergeOnly(src, replica, mv, df, id)
        throw new IllegalStateException("crash between the merges")
      }.start()
    try intercept[StreamingQueryException](crashed.awaitTermination(120000))
    finally crashed.stop()
    // while the query is down, `a` changes again and batch 1's end entry
    // expires: its re-run would read `a` at a state the view never saw
    src.merge(snap(("a", "user", 1L)), "conv_id", 2L)
    src.merge(snap(("c", "user", 2L)), "conv_id", 3L)
    assert(!src.manifestVersions().contains(1L))
    val rerun = MaterializedAgg.maintain(src, replica, mv, "last_role", sums, ckpt)
    val e = try intercept[StreamingQueryException](rerun.awaitTermination(120000))
      finally rerun.stop()
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("rebuild the view")), e)
    assert(replica.readManifest().lastBatchId === 0L) // nothing diverged
    // the rebuild: a fresh view, replica and checkpoint
    val replica2 = mkSrc("mvdrep2"); val mv2 = mkMv("mvd2")
    drain(src, replica2, mv2, tmpDir("mvdckpt2") + "/c")
    assert(viewOf(mv2) == direct(src))
  }

  /** First half of applyBatch only: deltas computed against the
    * pre-batch replica, view MERGEd, replica left unmerged — exactly the
    * state a crash between the two merges leaves behind.
    */
  private def mvMergeOnly(src: IcebergLikeTable, replica: IcebergLikeTable,
      mv: IcebergLikeTable, batch: org.apache.spark.sql.DataFrame,
      batchId: Long): Unit = {
    val up = batch.drop(IcebergLikeTable.DeleteCol)
    val old = replica.read()
      .join(up.select(src.keyCol), Seq(src.keyCol), "left_semi")
    def contrib(d: org.apache.spark.sql.DataFrame, sign: Long) = d.select(
      col("last_role"), lit(sign).as("n"),
      (col("turn_count").cast("long") * sign).as("turns_sum"))
    val deltas = contrib(old, -1L).unionByName(contrib(up, 1L))
      .groupBy(col("last_role"))
      .agg(sum(col("n")).as("n"), sum(col("turns_sum")).as("turns_sum"))
    val next = deltas.as("d").join(mv.read().as("c"), Seq("last_role"), "left")
      .select(col("last_role"),
        (coalesce(col("c.n"), lit(0L)) + col("d.n")).as("n"),
        (coalesce(col("c.turns_sum"), lit(0L)) + col("d.turns_sum")).as("turns_sum"))
    mv.merge(next, "last_role", batchId)
    () // replica deliberately NOT merged
  }

  test("groups emptied by migration are tombstoned out of the read view") {
    val src = mkSrc("mvcsrc"); val replica = mkSrc("mvcrep"); val mv = mkMv("mvc")
    // two SEPARATE batches (a coalesced drain would collapse the
    // migration and never touch 'user' — also correct, but not the
    // tombstone path under test)
    val up0 = snap(("a", "user", 3L)); val up1 = snap(("a", "tool", 4L))
    src.merge(up0, "conv_id", 0L)
    MaterializedAgg.applyBatch(src, replica, mv, "last_role", sums, up0, 0L)
    src.merge(up1, "conv_id", 1L) // 'user' drops to 0
    MaterializedAgg.applyBatch(src, replica, mv, "last_role", sums, up1, 1L)
    assert(viewOf(mv) == Map("tool" -> ((1L, 4L))))
    // tombstone row exists in the table but not in the read view
    assert(mv.read().count() == 2)
    assert(MaterializedAgg.read(mv).count() == 1)
  }
}
