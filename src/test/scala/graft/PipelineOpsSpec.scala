package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.gen.Synthetic
import graft.model.{ConvSnapshot, Turn}
import graft.ops.{ErrorBudget, MetricsListener}
import graft.pipeline.Fanout
import graft.replay.{InvalidOffsetException, Replay}
import graft.sink.MergeSink
import graft.snapshot.{SnapshotFold, SnapshotStream}
import graft.store.IcebergLikeTable

/** Operational pipeline semantics from the reference that aren't SQL
  * queries: S4 replay-validity fail-fast, S5 restart-with-budget around a
  * LIVE failing streaming query, G1 streaming multi-target fan-out, and
  * O2 in-flight metrics — each traced to its znap citation in the
  * implementation.
  */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._
  implicit val s: org.apache.spark.sql.SparkSession = spark

  private val params = Synthetic.Params(numConvs = 20, avgTurns = 6,
    hotConvs = 1, hotSize = 60, seed = 7L)
  private def allTurns: Seq[Turn] =
    (0L until params.numConvs).flatMap(c => Synthetic.genConv(c, params))

  private def expected(turns: Seq[Turn]): Map[String, ConvSnapshot] =
    turns.groupBy(_.conv_id).map { case (k, ts) =>
      k -> SnapshotFold.fold(None, ts.iterator).get
    }

  // ---- S4: replay validity ------------------------------------------
  test("replay from a batch outside the committed lineage window fails fast") {
    val dir = tmpDir("validity")
    val table = new IcebergLikeTable(s"$dir/table", 4)
    intercept[InvalidOffsetException] { Replay.validateReplayBatch(table, 0L) }

    val input = MemoryStream[Turn](spark)
    val q = SnapshotStream.updates(input.toDS(), "1 day").writeStream
      .outputMode("update").option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch(MergeSink(table) _).start()
    allTurns.grouped(40).foreach { b => input.addData(b); q.processAllAvailable() }
    q.stop()

    val hi = table.lineage().agg(max($"batch_id")).as[Long].head()
    Replay.validateReplayBatch(table, 0L) // in window: fine
    Replay.validateReplayBatch(table, hi) // newest: fine
    intercept[InvalidOffsetException] { Replay.validateReplayBatch(table, hi + 1) }
    intercept[InvalidOffsetException] { Replay.validateReplayBatch(table, -1L) }
    assert(table.lineageWindow() === scanWindow(table))
  }

  /** The committed window as the lineage Parquet scan gives it. */
  private def scanWindow(t: IcebergLikeTable): Option[(Long, Long)] = {
    val r = t.lineage().agg(min($"batch_id"), max($"batch_id")).head()
    if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
  }

  /** The window from the manifest equals the scan's, and validation fails
    * fast just outside it (and on an empty lineage).
    */
  private def assertWindow(t: IcebergLikeTable, clue: String): Unit = {
    val w = t.lineageWindow()
    assert(w === scanWindow(t), clue)
    w match {
      case None =>
        val e = intercept[InvalidOffsetException] { Replay.validateReplayBatch(t, 0L) }
        assert(e.getMessage.contains("lineage is empty"), clue)
      case Some((lo, hi)) =>
        Replay.validateReplayBatch(t, lo)
        Replay.validateReplayBatch(t, hi)
        Seq(lo - 1, hi + 1).foreach { b =>
          val e = intercept[InvalidOffsetException] { Replay.validateReplayBatch(t, b) }
          assert(e.getMessage.contains(s"outside committed window [$lo, $hi]"), clue)
        }
    }
  }

  test("the committed window from the manifest equals the lineage scan's") {
    def lineageRow(b: Long) = Seq(graft.model.LineageRecord(b, 0, "a", 0, "z", 9,
      1L, new java.sql.Timestamp(1700000000000L + b))).toDF()
    def rows(b: Long, ks: String*) = ks.map(k => (k, b.toInt)).toDF("conv_id", "n")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("conv_id string, n int")
    val t = new IcebergLikeTable(tmpDir("window") + "/t", 2,
      maxDeltasPerBucket = 3, inlineCompaction = false, emptySchema = schema)
    assertWindow(t, "empty table")
    t.merge(rows(0, "a", "b"), "conv_id", 0L) // no lineage
    assertWindow(t, "merge without lineage")
    t.merge(rows(1, "a", "c"), "conv_id", 1L, lineageDf = Some(lineageRow(1L)))
    t.merge(rows(2, "b"), "conv_id", 2L, lineageDf = Some(lineageRow(2L)))
    assertWindow(t, "merges with lineage")
    t.merge(rows(3, "d"), "conv_id", 3L) // no lineage: the window stays [1, 2]
    assertWindow(t, "merge without lineage after lineage")
    t.delete(Seq("a").toDF("conv_id"), 4L)
    assertWindow(t, "delete")
    assert(t.compact())
    assertWindow(t, "explicit compact")
    t.merge(rows(5, "e"), "conv_id", 5L, lineageDf = Some(lineageRow(5L)))
    t.rebucket(5)
    assertWindow(t, "rebucket")
    t.purgeDeletes(4L)
    assertWindow(t, "purgeDeletes")
    t.vacuum()
    assertWindow(t, "vacuum")
    assert(t.lineageWindow() === Some((1L, 5L)))

    // inline compaction, fed by a MergeSink-shaped lineage per batch
    val inline = new IcebergLikeTable(tmpDir("window-inline") + "/t", 2,
      maxDeltasPerBucket = 1, emptySchema = schema)
    (0L until 3L).foreach { b =>
      inline.merge(rows(b, "a", "b", "c"), "conv_id", b,
        lineageDf = Some(MergeSink.lineageOf(rows(b, "a", "b", "c")
          .withColumn("last_turn_idx", lit(0)).withColumn("last_ts", current_timestamp()), b)))
    }
    assert(inline.readManifest().deltas.values.forall(_.isEmpty))
    assertWindow(inline, "inline compaction")

    // An empty lineage frame: Spark still writes one schema-only file, so
    // the manifest counts the batch as committed while the scan has no
    // row for it — the one place the two answers differ.
    t.merge(rows(6, "f"), "conv_id", 6L, lineageDf = Some(lineageRow(6L).limit(0)))
    assert(t.lineageWindow() === Some((1L, 6L)))
    assert(scanWindow(t) === Some((1L, 5L)))
    Replay.validateReplayBatch(t, 6L)
  }

  test("resume against a source whose retention expired past the committed state fails fast") {
    val dir = tmpDir("resumegap")
    val table = new IcebergLikeTable(s"$dir/table", 4)
    val turns = allTurns.sortBy(t => (t.ts.getTime, t.conv_id))
    val (first, rest) = turns.splitAt(turns.length / 3)

    // commit only the first third
    val input = MemoryStream[Turn](spark)
    val q = SnapshotStream.updates(input.toDS(), "1 day").writeStream
      .outputMode("update").option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch(MergeSink(table) _).start()
    input.addData(first); q.processAllAvailable(); q.stop()

    // contiguous source (oldest retained turn is the next one after the
    // committed point — within the allowed staleness): valid
    Replay.validateResume(table, spark.createDataset(rest).toDF(), maxGapMs = 5000L)
    // source whose oldest surviving turn postdates the committed state by
    // a real gap (middle chunk expired): fail fast, events lost
    val gappy = rest.drop(rest.length / 2)
    intercept[InvalidOffsetException] {
      Replay.validateResume(table, spark.createDataset(gappy).toDF(), maxGapMs = 5000L)
    }
  }

  // ---- S5: restart-with-budget around a LIVE query -------------------
  /** foreachBatch sink that throws on the first `failures` deliveries of
    * batch 1 — a transient fault injected into a real streaming query.
    */
  private class FlakySink(table: IcebergLikeTable, failures: Int) {
    val attempts = new AtomicInteger(0)
    def handler(batch: Dataset[ConvSnapshot], batchId: Long): Unit = {
      if (batchId == 1 && attempts.getAndIncrement() < failures)
        throw new RuntimeException(s"transient fault on batch $batchId")
      MergeSink(table)(batch, batchId)
    }
  }

  test("transient stream failure restarts from checkpoint and completes (within budget)") {
    val dir = tmpDir("restart")
    val table = new IcebergLikeTable(s"$dir/table", 4)
    val turns = allTurns
    // 3 files + maxFilesPerTrigger=1 → 3 micro-batches; the fault hits
    // batch 1 mid-stream, so the restart must BOTH recover the offset log
    // and redeliver batch 1 (exactly-once via the MergeSink batchId guard).
    val inDir = s"$dir/in"
    spark.createDataset(turns).repartitionByRange(3, col("ts")).write.parquet(inDir)
    val flaky = new FlakySink(table, failures = 1)
    var t = 0L
    val result = Replay.runSupervised(new ErrorBudget(3, 60000L), () => { t += 1; t }) { () =>
      val stream = spark.readStream.schema(graft.model.Schemas.turn)
        .option("maxFilesPerTrigger", "1").parquet(inDir).as[Turn]
      SnapshotStream.updates(stream, "3650 days").writeStream
        .outputMode("update").option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch(flaky.handler _).start()
    }
    assert(result.isRight, s"pipeline should survive one transient fault: $result")
    assert(flaky.attempts.get() >= 2, "fault was never hit — test is vacuous")
    val got = table.read().as[ConvSnapshot].collect().map(x => x.conv_id -> x).toMap
    assert(got === expected(turns), "restarted pipeline diverged from batch fold")
  }

  test("persistent stream failure exhausts the error budget and escalates") {
    val dir = tmpDir("budgetout")
    val table = new IcebergLikeTable(s"$dir/table", 4)
    val input = MemoryStream[Turn](spark)
    input.addData(allTurns.take(20))
    var t = 0L
    val result = Replay.runSupervised(new ErrorBudget(3, 60000L), () => { t += 1; t }) { () =>
      SnapshotStream.updates(input.toDS(), "1 day").writeStream
        .outputMode("update").option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (_: Dataset[ConvSnapshot], _: Long) =>
          throw new RuntimeException("permanent fault")
        }.start()
    }
    assert(result.isLeft, "budget must be exceeded, not loop forever")
    assert(t === 4, s"expected 4 attempts (budget 3 + the exceeding one), got $t")
  }

  // ---- G1: streaming multi-target fan-out ----------------------------
  test("one source stream fans out to two targets with independent tables and checkpoints") {
    val dir = tmpDir("fanout")
    val turns = allTurns
    val evenF = pmod(hash(col("conv_id")), lit(2)) === 0
    val userF = col("role") === "user"
    val targets = Seq(
      Fanout.Target("even", evenF, new IcebergLikeTable(s"$dir/even/table", 4), s"$dir/even/ckpt"),
      Fanout.Target("user", userF, new IcebergLikeTable(s"$dir/user/table", 4), s"$dir/user/ckpt"))
    val input = MemoryStream[Turn](spark)
    val qs = Fanout.start(input.toDS(), targets, watermark = "1 day")
    turns.grouped(40).foreach { b => input.addData(b); qs.foreach(_.processAllAvailable()) }
    qs.foreach(_.stop())

    // per-target replay equality: each table equals the batch fold of its
    // own filtered stream (znap: each target applies its filter before the
    // upsert, PipelineBuilder.scala:169,186-198)
    val evenIds = spark.createDataset(turns).toDF().filter(evenF)
      .select("conv_id").distinct().as[String].collect().toSet
    val evenExpected = expected(turns.filter(t => evenIds(t.conv_id)))
    val userExpected = expected(turns.filter(_.role == "user"))
    val evenGot = targets(0).table.read().as[ConvSnapshot].collect()
      .map(x => x.conv_id -> x).toMap
    val userGot = targets(1).table.read().as[ConvSnapshot].collect()
      .map(x => x.conv_id -> x).toMap
    assert(evenGot === evenExpected)
    assert(userGot === userExpected)
    assert(evenGot.keySet !== userGot.keySet, "filters did nothing — test is vacuous")
  }

  // ---- in-flight exact dedup (at-least-once upstream) -----------------
  test("redelivered turns are deduped before the fold: counters stay exact") {
    val dir = tmpDir("streamdedup")
    val table = new IcebergLikeTable(s"$dir/table", 4)
    val turns = allTurns.take(60)
    val redelivered = turns.take(25) // overlap re-sent in a later batch
    val input = MemoryStream[Turn](spark)
    val deduped = graft.streaming.DedupStream.dedupTurns(input.toDS(), "1 day")
    val q = SnapshotStream.foldUpdates(deduped).writeStream
      .outputMode("update").option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch(MergeSink(table) _).start()
    Seq(turns.take(30), redelivered ++ turns.drop(30)).foreach { b =>
      input.addData(b); q.processAllAvailable()
    }
    q.stop()
    val got = table.read().as[ConvSnapshot].collect().map(x => x.conv_id -> x).toMap
    assert(got === expected(turns),
      "redelivery inflated the fold — dedup stage failed")
  }

  // ---- O2: in-flight metrics on a live pipeline ----------------------
  test("MetricsListener observes batches and positive throughput on a live run") {
    val dir = tmpDir("metrics")
    val table = new IcebergLikeTable(s"$dir/table", 4)
    val metrics = new MetricsListener
    spark.streams.addListener(metrics)
    try {
      val input = MemoryStream[Turn](spark)
      val q = SnapshotStream.updates(input.toDS(), "1 day").writeStream
        .outputMode("update").option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch(MergeSink(table) _).start()
      allTurns.grouped(50).foreach { b => input.addData(b); q.processAllAvailable() }
      q.stop()
    } finally spark.streams.removeListener(metrics)
    assert(metrics.batches.nonEmpty, "no progress events observed")
    assert(metrics.batches.map(_.numInputRows).sum === allTurns.size.toLong)
    assert(metrics.throughput > 0.0)
    assert(metrics.batches.exists(_.stateRows > 0), "state rows never reported")
  }
}
