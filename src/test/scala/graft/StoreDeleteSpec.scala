package graft

import org.apache.spark.sql.functions._
import graft.pipeline.MaterializedAgg
import graft.replay.ChangeStream
import graft.store.IcebergLikeTable

/** Row-level deletes (merge-on-read equality-delete markers): snapshot
  * hiding, resurrection, marker retention through compaction, CDC
  * delivery, replica/view application, purge retention op.
  */
class StoreDeleteSpec extends SparkSpec {
  import spark.implicits._

  private implicit val s: org.apache.spark.sql.SparkSession = spark

  private def snap(pairs: (String, Int)*) =
    pairs.toDF("conv_id", "turn_count")

  private def mk(maxDeltas: Int = 8): IcebergLikeTable =
    new IcebergLikeTable(tmpDir("graft-del"), numBuckets = 4,
      maxDeltasPerBucket = maxDeltas,
      emptySchema = org.apache.spark.sql.types.StructType.fromDDL(
        "conv_id string, turn_count int"))

  private def state(t: IcebergLikeTable): Map[String, Int] =
    t.read().as[(String, Int)].collect().toMap

  test("delete hides the key from every snapshot read path") {
    val t = mk()
    t.merge(snap("a" -> 1, "b" -> 2, "c" -> 3), "conv_id", 0L)
    assert(t.delete(Seq("b").toDF("conv_id"), 1L))
    assert(state(t) == Map("a" -> 1, "c" -> 3))
    assert(t.lookup("conv_id", "b").isEmpty)
    assert(t.lookupMany("conv_id", Seq("a", "b", "c"))
      .as[(String, Int)].collect().toMap == Map("a" -> 1, "c" -> 3))
    assert(t.readForKeys(Seq("b").toDF("conv_id"))
      .filter(col("conv_id") === "b").isEmpty)
    // schema unchanged: no marker column leaks into the public shape
    assert(!t.read().columns.contains(IcebergLikeTable.DeleteCol))
  }

  test("a later merge resurrects a deleted key (last-writer-wins)") {
    val t = mk()
    t.merge(snap("a" -> 1), "conv_id", 0L)
    t.delete(Seq("a").toDF("conv_id"), 1L)
    t.merge(snap("a" -> 9), "conv_id", 2L)
    assert(state(t) == Map("a" -> 9))
  }

  test("delete is idempotent under batch-id redelivery") {
    val t = mk()
    t.merge(snap("a" -> 1, "b" -> 2), "conv_id", 0L)
    assert(t.delete(Seq("a").toDF("conv_id"), 1L))
    assert(!t.delete(Seq("b").toDF("conv_id"), 1L)) // redelivered id: skipped
    assert(state(t) == Map("b" -> 2))
  }

  test("markers survive compaction; CDC from before the delete still ships it") {
    val t = mk(maxDeltas = 2)
    t.merge(snap((0 until 20).map(i => s"k$i" -> 1): _*), "conv_id", 0L)
    t.delete(Seq("k3").toDF("conv_id"), 1L)
    // force compaction everywhere: every key's bucket folds its deltas
    (2 to 6).foreach(b => t.merge(snap("k1" -> b.toInt), "conv_id", b.toLong))
    assert(!state(t).contains("k3"))
    val cdc = t.readChangesSince(0L, includeDeletes = true)
    val row = cdc.filter(col("conv_id") === "k3").collect()
    assert(row.length == 1 &&
      row(0).getAs[Boolean](IcebergLikeTable.DeleteCol),
      "compacted-away marker lost: a lagging consumer would miss the delete")
    // upsert-only feed: deleted key omitted, shape = table schema
    val up = t.readChangesSince(0L)
    assert(up.filter(col("conv_id") === "k3").isEmpty)
    assert(!up.columns.contains(IcebergLikeTable.DeleteCol))
  }

  test("ChangeStream.replicate applies deletes through the file stream") {
    val t = mk(); val r = mk()
    val ckpt = tmpDir("graft-del-cs")
    t.merge(snap("a" -> 1, "b" -> 2), "conv_id", 0L)
    t.delete(Seq("b").toDF("conv_id"), 1L)
    awaitDone(ChangeStream.replicate(t, r, ckpt))
    assert(state(r) == Map("a" -> 1))
  }

  test("ChangeStream.replicate applies a delete made after the replica caught up") {
    val t = mk(); val r = mk()
    val ckpt = tmpDir("graft-del-cs2")
    t.merge(snap("a" -> 1, "b" -> 2), "conv_id", 0L)
    awaitDone(ChangeStream.replicate(t, r, ckpt))
    assert(state(r) == Map("a" -> 1, "b" -> 2))
    // a delete and a merge after the replica caught up: the restarted
    // replica applies both
    t.delete(Seq("a").toDF("conv_id"), 1L)
    t.merge(snap("c" -> 3), "conv_id", 2L)
    awaitDone(ChangeStream.replicate(t, r, ckpt))
    assert(state(r) == Map("b" -> 2, "c" -> 3))
  }

  test("maintained aggregate view applies deletes as (−old) only") {
    val src = mk()
    val rep = new IcebergLikeTable(tmpDir("graft-del-rep"), numBuckets = 4,
      emptySchema = org.apache.spark.sql.types.StructType.fromDDL(
        "conv_id string, turn_count int, grp string"))
    val mv = new IcebergLikeTable(tmpDir("graft-del-mv"), numBuckets = 4,
      keyCol = "grp", emptySchema = MaterializedAgg.viewSchema("grp",
        Seq("turn_count" -> "turns")))
    def mvState = MaterializedAgg.read(mv)
      .select("grp", "n", "turns").as[(String, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val g = udf((k: String) => if (k < "m") "lo" else "hi")
    def withGrp(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("grp", g(col("conv_id")))
    val t0 = withGrp(snap("a" -> 1, "b" -> 2, "z" -> 5))
    src.merge(t0, "conv_id", 0L)
    val ckpt = tmpDir("graft-del-mvck")
    awaitDone(MaterializedAgg.maintain(src, rep, mv, "grp",
      Seq("turn_count" -> "turns"), ckpt))
    assert(mvState == Map("lo" -> ((2L, 3L)), "hi" -> ((1L, 5L))))
    src.delete(Seq("b").toDF("conv_id"), 1L)
    awaitDone(MaterializedAgg.maintain(src, rep, mv, "grp",
      Seq("turn_count" -> "turns"), ckpt))
    assert(mvState == Map("lo" -> ((1L, 1L)), "hi" -> ((1L, 5L))))
  }

  test("hasDeletes flag: upsert-only tables and their replicas keep the narrow read mode") {
    val t = mk(); val r = mk()
    t.merge(snap("a" -> 1, "b" -> 2), "conv_id", 0L)
    assert(!t.readManifest().hasDeletes)
    // a change-stream replica's batches always CARRY the marker column
    // (static stream schema) — an all-false column must not flip the flag
    awaitDone(ChangeStream.replicate(t, r, tmpDir("graft-del-flag")))
    assert(state(r) == Map("a" -> 1, "b" -> 2))
    assert(!r.readManifest().hasDeletes)
    t.delete(Seq("a").toDF("conv_id"), 1L)
    assert(t.readManifest().hasDeletes)
    t.purgeDeletes(1L)
    assert(!t.readManifest().hasDeletes)
    assert(state(t) == Map("b" -> 2))
  }

  test("purgeDeletes drops aged markers without changing the snapshot") {
    val t = mk()
    t.merge(snap("a" -> 1, "b" -> 2, "c" -> 3), "conv_id", 0L)
    t.delete(Seq("b").toDF("conv_id"), 1L)
    t.merge(snap("d" -> 4), "conv_id", 2L)
    val before = state(t)
    t.purgeDeletes(beforeBatch = 1L)
    assert(state(t) == before)
    // the marker is gone: a full-history CDC read no longer carries b
    val cdc = t.readChangesSince(-1L, includeDeletes = true)
    assert(cdc.filter(col("conv_id") === "b").isEmpty)
    // markers newer than the purge floor survive
    t.delete(Seq("c").toDF("conv_id"), 3L)
    t.purgeDeletes(beforeBatch = 1L)
    assert(t.readChangesSince(-1L, includeDeletes = true)
      .filter(col("conv_id") === "c").count() == 1)
    assert(state(t) == Map("a" -> 1, "d" -> 4))
  }
}
