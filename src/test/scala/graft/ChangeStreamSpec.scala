package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}
import graft.replay.ChangeStream
import graft.store.IcebergLikeTable

/** The change feed as a streaming source (replay/ChangeStream.scala):
  * offsets are commits, so a replica converges however far it lags —
  * across compaction, vacuum and expired log entries — exactly once
  * through the streaming checkpoint; orphan files are never delivered;
  * purged deletes fail an offset below the floor, never a restart whose
  * last applied batch spans it; a restart re-reads nothing; lag shows in
  * the progress.
  */
class ChangeStreamSpec extends SparkSpec {
  import spark.implicits._
  implicit val s: org.apache.spark.sql.SparkSession = spark

  private val schema = org.apache.spark.sql.types.StructType.fromDDL("conv_id string, n int")
  // deferred compaction: each commit keeps its own delta files until a
  // compact() folds every chain of `maxDeltas` or more
  private def mk(tag: String, maxDeltas: Int = 1000) = new IcebergLikeTable(
    tmpDir(tag) + "/t", 4, inlineCompaction = false,
    maxDeltasPerBucket = maxDeltas, emptySchema = schema)
  private def snap(pairs: (String, Int)*) = pairs.toDF("conv_id", "n")
  private def content(t: IcebergLikeTable) =
    t.read().as[(String, Int)].collect().toMap

  /** A query whose every batch runs `f` on the sink side. */
  private def follow(src: IcebergLikeTable, ckpt: String, availableNow: Boolean = true)(
      f: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = ChangeStream.changes(src).writeStream
      .option("checkpointLocation", ckpt).foreachBatch(f)
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** Run a query that must fail; returns its failure. */
  private def failure(q: StreamingQuery): StreamingQueryException =
    try intercept[StreamingQueryException](q.awaitTermination(120000)) finally q.stop()

  test("AvailableNow replication: replica equals source across multi-commit history") {
    val src = mk("cssrc"); val dst = mk("csdst")
    src.merge(snap("a" -> 1, "b" -> 1), "conv_id", 0L)
    src.merge(snap("b" -> 2, "c" -> 1), "conv_id", 1L)
    src.merge(snap("a" -> 3), "conv_id", 2L)
    awaitDone(ChangeStream.replicate(src, dst, tmpDir("csckpt") + "/ckpt"))
    assert(content(dst) === Map("a" -> 3, "b" -> 2, "c" -> 1))
    assert(content(dst) === content(src))
  }

  test("a lagging replica catches up in one coalesced batch") {
    val src = mk("cfsrc"); val dst = mk("cfdst")
    val ckpt = tmpDir("cfckpt") + "/ckpt"
    src.merge(snap("a" -> 1, "b" -> 1), "conv_id", 0L)
    awaitDone(ChangeStream.replicate(src, dst, ckpt))
    src.merge(snap("b" -> 2), "conv_id", 1L)
    src.merge(snap("c" -> 1), "conv_id", 2L)
    val q = ChangeStream.replicate(src, dst, ckpt)
    awaitDone(q)
    assert(q.lastProgress.sources(0).endOffset === "2")
    awaitDone(ChangeStream.replicate(src, dst, ckpt)) // caught up: no batch
    // sink batches 0 and 1 only: commits 1 and 2 arrived as one batch
    assert(dst.readManifest().lastBatchId === 1L)
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
      // a commit lands AFTER the stream started — the source must see
      // the new head on its next poll
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
    // first incarnation, killed after the first drain
    val q1 = ChangeStream.replicate(src, dst, ckpt, availableNow = false)
    try q1.processAllAvailable() finally q1.stop()
    val mid = content(dst)
    assert(mid === Map("a" -> 1, "b" -> 2))
    // commits land while the consumer is down
    src.merge(snap("c" -> 1), "conv_id", 2L)
    src.merge(snap("a" -> 9, "c" -> 2), "conv_id", 3L)
    // restart against the SAME checkpoint: only commits after its offset
    // are read
    awaitDone(ChangeStream.replicate(src, dst, ckpt))
    assert(content(dst) === Map("a" -> 9, "b" -> 2, "c" -> 2))
    assert(content(dst) === content(src))
  }

  test("crash after the merge, before the offset commit: re-delivery absorbed") {
    val src = mk("cfsrc2"); val dst = mk("cfdst2")
    val ckpt = tmpDir("cfckpt2") + "/ckpt"
    src.merge(snap("a" -> 1), "conv_id", 0L)
    awaitDone(ChangeStream.replicate(src, dst, ckpt))
    src.merge(snap("a" -> 2, "b" -> 1), "conv_id", 1L)
    // the sink merges, then "crashes" before Spark commits the batch:
    // data landed, the offset did not (data-before-offset)
    failure(follow(src, ckpt) { (df, id) =>
      dst.merge(df, "conv_id", id)
      throw new IllegalStateException("crash before the offset commit")
    })
    assert(content(dst) === Map("a" -> 2, "b" -> 1))
    // while the consumer is down, two commits expire the crashed batch's
    // log entry: the re-run reads the changes since its start on the head
    src.merge(snap("c" -> 1), "conv_id", 2L)
    src.merge(snap("a" -> 4), "conv_id", 3L)
    assert(!src.manifestVersions().contains(1L))
    // restart: batch 1 re-runs, and dst's merge skips its batch id
    awaitDone(ChangeStream.replicate(src, dst, ckpt))
    assert(dst.readManifest().lastBatchId === 2L)
    assert(content(dst) === Map("a" -> 4, "b" -> 1, "c" -> 1))
    assert(content(dst) === content(src))
  }

  test("one row per changed key per batch, __del set on deletes") {
    val src = mk("cssrc4")
    src.merge(snap("a" -> 1, "b" -> 1), "conv_id", 0L)
    src.merge(snap("a" -> 2, "b" -> 2), "conv_id", 1L)
    src.delete(Seq("b").toDF("conv_id"), 2L)
    val got = scala.collection.mutable.ArrayBuffer[Seq[(String, Option[Int], Boolean)]]()
    var columns = Seq.empty[String]
    awaitDone(follow(src, tmpDir("csckpt4") + "/ckpt") { (df, _) =>
      columns = df.columns.toSeq
      got += df.as[(String, Option[Int], Boolean)].collect().sorted.toSeq; ()
    })
    assert(columns === Seq("conv_id", "n", IcebergLikeTable.DeleteCol))
    // three commits, one batch: each key once, at its latest state
    assert(got.toSeq === Seq(Seq(("a", Some(2), false), ("b", None, true))))
  }

  test("a replica started after compacting merges equals its source") {
    // inline compaction folds a compacting merge's own delta into the new
    // base and collects it in the same commit
    val src = new IcebergLikeTable(tmpDir("cscomp") + "/t", 4,
      maxDeltasPerBucket = 2, emptySchema = schema)
    val dst = mk("cscompdst")
    (0 until 4).foreach(b =>
      src.merge(snap((0 until 16).map(k => s"k$k" -> b): _*), "conv_id", b.toLong))
    val data = Files.list(Paths.get(src.root, "data"))
    val dirs = try data.iterator().asScala.map(_.getFileName.toString).toSet finally data.close()
    assert(!dirs.contains("delta-v3"))
    awaitDone(ChangeStream.replicate(src, dst, tmpDir("cscompck") + "/ckpt"))
    assert(content(dst) === (0 until 16).map(k => s"k$k" -> 3).toMap)
  }

  test("an orphan delta of an unpublished batch is never delivered") {
    val src = mk("csorph"); val dst = mk("csorphdst")
    src.merge(snap("a" -> 1), "conv_id", 0L)
    // what a crashed writer, or a merge that lost the commit race,
    // leaves behind: delta files no log entry names
    Seq(("zz", 99, 7L)).toDF("conv_id", "n", "__seq")
      .write.parquet(s"${src.root}/data/delta-v7/__bucket=0")
    src.merge(snap("b" -> 1), "conv_id", 1L)
    awaitDone(ChangeStream.replicate(src, dst, tmpDir("csorphck") + "/ckpt"))
    assert(content(dst) === Map("a" -> 1, "b" -> 1))
  }

  test("a consumer stopped across merges, a compact and a vacuum converges on restart") {
    val src = mk("csgc", maxDeltas = 1); val dst = mk("csgcdst")
    val ckpt = tmpDir("csgcck") + "/ckpt"
    src.merge(snap("a" -> 1, "b" -> 1), "conv_id", 0L)
    src.merge(snap("b" -> 2, "c" -> 1), "conv_id", 1L)
    awaitDone(ChangeStream.replicate(src, dst, ckpt))
    src.merge(snap("a" -> 3, "d" -> 1), "conv_id", 2L)
    src.delete(Seq("c").toDF("conv_id"), 3L)
    assert(src.compact())
    src.merge(snap("e" -> 1), "conv_id", 4L)
    src.merge(snap("a" -> 5), "conv_id", 5L)
    src.vacuum()
    awaitDone(ChangeStream.replicate(src, dst, ckpt))
    assert(content(dst) === Map("a" -> 5, "b" -> 2, "d" -> 1, "e" -> 1))
    assert(content(dst) === content(src))
  }

  test("an offset below purgedDeletesTo fails with InvalidOffsetException") {
    val src = mk("cspurge"); val dst = mk("cspurgedst")
    val ckpt = tmpDir("cspurgeck") + "/ckpt"
    src.merge(snap("a" -> 1, "b" -> 1), "conv_id", 0L)
    awaitDone(ChangeStream.replicate(src, dst, ckpt))
    src.delete(Seq("b").toDF("conv_id"), 1L)
    src.merge(snap("c" -> 1), "conv_id", 2L)
    src.purgeDeletes(beforeBatch = 1L)
    val e = failure(ChangeStream.replicate(src, dst, ckpt))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(_.isInstanceOf[ChangeStream.InvalidOffsetException]), e)
    // a consumer rebuilt from scratch needs no purged marker
    val fresh = mk("cspurgefresh")
    awaitDone(ChangeStream.replicate(src, fresh, tmpDir("cspurgeck2") + "/ckpt"))
    assert(content(fresh) === Map("a" -> 1, "c" -> 1))
  }

  test("a purge inside the last applied batch's range does not fail a restart") {
    val src = mk("cspurge3"); val dst = mk("cspurge3dst")
    val ckpt = tmpDir("cspurge3ck") + "/ckpt"
    src.merge(snap("a" -> 1, "b" -> 1), "conv_id", 0L)
    awaitDone(ChangeStream.replicate(src, dst, ckpt))
    src.delete(Seq("b").toDF("conv_id"), 1L)
    src.merge(snap("c" -> 1), "conv_id", 2L)
    awaitDone(ChangeStream.replicate(src, dst, ckpt)) // batch (0, 2]
    src.purgeDeletes(beforeBatch = 2L)
    assert(src.readManifest().purgedDeletesTo === 1L) // inside (0, 2]
    // each restart re-plans (0, 2] to set the source up; the consumer has
    // applied it, so neither restart may fail
    awaitDone(ChangeStream.replicate(src, dst, ckpt))
    src.merge(snap("d" -> 1), "conv_id", 3L)
    awaitDone(ChangeStream.replicate(src, dst, ckpt))
    assert(content(dst) === Map("a" -> 1, "c" -> 1, "d" -> 1))
    assert(content(dst) === content(src))
  }

  test("a restart with nothing new runs no job") {
    val src = mk("csrestart"); val dst = mk("csrestartdst")
    val ckpt = tmpDir("csrestartck") + "/ckpt"
    // a delta chain, so the change read resolves through a shuffle
    src.merge(snap("a" -> 1, "b" -> 1), "conv_id", 0L)
    src.merge(snap("a" -> 2), "conv_id", 1L)
    awaitDone(ChangeStream.replicate(src, dst, ckpt))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.graftshim.Shim.waitListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      awaitDone(ChangeStream.replicate(src, dst, ckpt))
      org.apache.spark.sql.graftshim.Shim.waitListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    // the committed batch Spark re-plans on restart is never read
    assert(jobs.get === 0)
    assert(content(dst) === Map("a" -> 2, "b" -> 1))
  }

  test("batchesBehindLatest reports the lag under either trigger") {
    Seq(true, false).foreach { availableNow =>
      val src = mk(s"cslag$availableNow"); val dst = mk(s"cslagdst$availableNow")
      src.merge(snap("a" -> 1), "conv_id", 0L)
      // a commit lands while the first batch runs: that batch ends one
      // commit behind the head
      val q = follow(src, tmpDir("cslagck") + "/ckpt", availableNow) { (df, id) =>
        dst.merge(df, "conv_id", id)
        if (id == 0L) { src.merge(snap("b" -> 1), "conv_id", 1L); () }
      }
      if (availableNow) awaitDone(q)
      else try q.processAllAvailable() finally q.stop()
      val lag = q.recentProgress.filter(_.numInputRows > 0)
        .map(p => p.batchId -> p.sources(0).metrics.get("batchesBehindLatest")).toSeq
      // AvailableNow ends at the head it started with; the default trigger
      // goes on to the new commit and catches up
      assert(lag === (if (availableNow) Seq(0L -> "1") else Seq(0L -> "1", 1L -> "0")))
    }
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
    // the sibling's merge has committed, and left no temp entry behind
    assert(good.readManifest().lastBatchId === 1L)
    assert(content(good) === Map("1" -> 1, "3" -> 3))
    val log = java.nio.file.Files.list(java.nio.file.Paths.get(good.root, "log"))
    try assert(!log.iterator().asScala.exists(_.getFileName.toString.endsWith(".tmp")))
    finally log.close()
    assert(bad.readManifest().lastBatchId === 0L)
  }
}
