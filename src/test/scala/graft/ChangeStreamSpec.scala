package graft

import graft.replay.ChangeStream
import graft.store.IcebergLikeTable

/** The readStream-able change feed (replay/ChangeStream.scala): a real
  * Structured Streaming source over the store's delta directories —
  * replication equality, continuous pickup of commits landing after the
  * stream starts, and crash-resume exactly-once through the streaming
  * checkpoint (the continuous analog of ChangeFeedSpec).
  */
class ChangeStreamSpec extends SparkSpec {
  import spark.implicits._
  implicit val s: org.apache.spark.sql.SparkSession = spark

  // deferred compaction + no auto-GC: deltas are the stream's source and
  // must outlive consumer lag (the documented retention contract)
  private def mk(tag: String) = new IcebergLikeTable(tmpDir(tag) + "/t", 4,
    inlineCompaction = false, maxDeltasPerBucket = 1000,
    emptySchema = org.apache.spark.sql.types.StructType.fromDDL(
      "conv_id string, n int"))
  private def snap(pairs: (String, Int)*) = pairs.toDF("conv_id", "n")
  private def content(t: IcebergLikeTable) =
    t.read().as[(String, Int)].collect().toMap

  test("AvailableNow replication: replica equals source across multi-commit history") {
    val src = mk("cssrc"); val dst = mk("csdst")
    src.merge(snap("a" -> 1, "b" -> 1), "conv_id", 0L)
    src.merge(snap("b" -> 2, "c" -> 1), "conv_id", 1L)
    src.merge(snap("a" -> 3), "conv_id", 2L)
    val q = ChangeStream.replicate(src, dst, tmpDir("csckpt") + "/ckpt")
    q.awaitTermination(120000)
    assert(content(dst) === Map("a" -> 3, "b" -> 2, "c" -> 1))
    assert(content(dst) === content(src))
  }

  test("continuous mode picks up commits that land while the stream runs") {
    val src = mk("cssrc2"); val dst = mk("csdst2")
    src.merge(snap("a" -> 1), "conv_id", 0L)
    val q = ChangeStream.replicate(src, dst, tmpDir("csckpt2") + "/ckpt",
      availableNow = false)
    try {
      q.processAllAvailable()
      assert(content(dst) === Map("a" -> 1))
      // a commit lands AFTER the stream started — the source must
      // discover the new delta directory on its next poll
      src.merge(snap("a" -> 2, "b" -> 1), "conv_id", 1L)
      q.processAllAvailable()
      assert(content(dst) === Map("a" -> 2, "b" -> 1))
    } finally q.stop()
  }

  test("crash-resume: restart from checkpoint replays no processed file, final state exact") {
    val src = mk("cssrc3"); val dst = mk("csdst3")
    val ckpt = tmpDir("csckpt3") + "/ckpt"
    src.merge(snap("a" -> 1, "b" -> 1), "conv_id", 0L)
    src.merge(snap("b" -> 2), "conv_id", 1L)
    // first incarnation: one file per trigger, killed after the first drain
    val q1 = ChangeStream.replicate(src, dst, ckpt, availableNow = false,
      maxFilesPerTrigger = 1)
    try q1.processAllAvailable() finally q1.stop()
    val mid = content(dst)
    assert(mid === Map("a" -> 1, "b" -> 2))
    // commits land while the consumer is down
    src.merge(snap("c" -> 1), "conv_id", 2L)
    src.merge(snap("a" -> 9, "c" -> 2), "conv_id", 3L)
    // restart against the SAME checkpoint: only unprocessed files replay;
    // dst's merge-by-batch-id absorbs any boundary re-delivery
    val q2 = ChangeStream.replicate(src, dst, ckpt, maxFilesPerTrigger = 1)
    q2.awaitTermination(120000)
    assert(content(dst) === Map("a" -> 9, "b" -> 2, "c" -> 2))
    assert(content(dst) === content(src))
  }

  test("raw change stream carries per-commit __seq upserts (the change-log contract)") {
    val src = mk("cssrc4")
    src.merge(snap("a" -> 1), "conv_id", 0L)
    src.merge(snap("a" -> 2, "b" -> 1), "conv_id", 1L)
    val got = scala.collection.mutable.ArrayBuffer[(String, Int, Long)]()
    val q = ChangeStream.changes(src).writeStream
      .option("checkpointLocation", tmpDir("csckpt4") + "/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= df.select("conv_id", "n", "__seq")
          .as[(String, Int, Long)].collect(); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // every (key, commit) upsert appears exactly once, seq-stamped
    assert(got.sorted.toSeq ===
      Seq(("a", 1, 0L), ("a", 2, 1L), ("b", 1, 1L)))
  }

  test("cdc fan-out: a failing shard merge surfaces only after every sibling merge has ended") {
    // shard 0 committed `n` as a string, so merging the int batch into it
    // fails fast on the type check; shard 1's merge is a real write
    val bad = new IcebergLikeTable(tmpDir("fanbad") + "/t", 4)
    bad.merge(Seq(("0", "x")).toDF("conv_id", "n"), "conv_id", 0L)
    val good = mk("fangood")
    val up = snap("1" -> 1, "2" -> 2, "3" -> 3, "4" -> 4)
    val e = intercept[IllegalArgumentException] {
      graft.queries.StreamQueries.mergeShards(Seq(0 -> bad, 1 -> good), up, 1L)
    }
    assert(e.getMessage.contains("type change"))
    // nothing of the batch is still in flight once the call has returned:
    // the sibling's merge has committed, and no commit lock is held
    assert(good.readManifest().lastBatchId === 1L)
    assert(content(good) === Map("1" -> 1, "3" -> 3))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(good.root, "commit.lock")))
    assert(bad.readManifest().lastBatchId === 0L)
  }
}
