package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.functions.lit
import graft.ops.{DumpManager, DumpService}
import graft.replay.Replay
import graft.store.IcebergLikeTable

/** Full and incremental dumps are one bucket-aligned job: the
  * since-batch window comes from the manifest (no job), and
  * `IcebergLikeTable.liveKeys` reads each bucket's files in one task that
  * resolves last-writer-wins itself, so no dump shuffles, on a compacted
  * table or a delta chain. Pinned by counting the jobs and shuffle bytes
  * a dump launches, reading its plan, and reading the read schema of the
  * FileScanRDD under it.
  */
class IncrementalDumpPlanSpec extends SparkSpec {
  import spark.implicits._
  implicit val s: org.apache.spark.sql.SparkSession = spark

  private def mk(name: String, maxDeltas: Int): IcebergLikeTable =
    new IcebergLikeTable(tmpDir(name), numBuckets = 4,
      maxDeltasPerBucket = maxDeltas,
      emptySchema = org.apache.spark.sql.types.StructType.fromDDL(
        "conv_id string, n int, note string"))

  private def lineageRow(b: Long) = Seq(graft.model.LineageRecord(b, 0, "k0", 0,
    "k9", 9, 1L, new java.sql.Timestamp(1700000000000L + b))).toDF()

  /** Batch b rewrites a shrinking key range, so a since-batch selects a
    * strict subset: changed after 1 = k10..k14.
    */
  private val ranges = Seq(0 until 40, 0 until 20, 10 until 15, 12 until 14)
  private val changedAfter1 = (10 until 15).map(i => s"k$i").toSet
  private val allKeys = (0 until 40).map(i => s"k$i").toSet

  private def fill(t: IcebergLikeTable): Unit =
    ranges.zipWithIndex.foreach { case (r, b) =>
      t.merge(r.map(i => (s"k$i", b, s"note-$b-$i")).toDF("conv_id", "n", "note"),
        "conv_id", b.toLong, lineageDf = Some(lineageRow(b.toLong)))
    }

  /** Jobs and shuffle-write bytes one dump launches, and the keys it
    * published; `since` None runs the full dump.
    */
  private def dumpJobs(t: IcebergLikeTable, since: Option[Long]): (Int, Long, Seq[String]) = {
    val jobs = new AtomicInteger
    val shuffled = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m =>
          shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    val acc = spark.sparkContext.collectionAccumulator[String]("inc-plan")
    org.apache.spark.sql.graftshim.Shim.waitListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      since match {
        case Some(b) => DumpService.runIncrementalDump(new DumpManager, "t", t, b,
          it => it.foreach(acc.add))
        case None => DumpService.runDump(new DumpManager, "t", t, it => it.foreach(acc.add))
      }
      org.apache.spark.sql.graftshim.Shim.waitListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get(), shuffled.get(), acc.value.asScala.toSeq)
  }

  private def plan(t: IcebergLikeTable, since: Long): String =
    Replay.incrementalDump(t, since).queryExecution.executedPlan.toString

  /** Read schemas of the FileScanRDDs under `df`. */
  private def readSchemas(df: DataFrame): Seq[String] = {
    def scans(r: RDD[_]): Seq[FileScanRDD] = r match {
      case f: FileScanRDD => Seq(f)
      case other => other.dependencies.flatMap(d => scans(d.rdd))
    }
    scans(df.queryExecution.toRdd).map(_.readSchema.catalogString)
  }

  private def readSchemas(t: IcebergLikeTable, since: Long): Seq[String] =
    readSchemas(Replay.incrementalDump(t, since))

  test("a compacted table's incremental dump is one job with no exchange") {
    val t = mk("incplan-compacted", maxDeltas = 1) // every merge compacts its buckets
    fill(t)
    assert(t.readManifest().deltas.values.forall(_.isEmpty), "expected bases only")
    val p = plan(t, 1L)
    assert(!p.contains("Exchange") && !p.contains("Aggregate"), p)
    assert(readSchemas(t, 1L) === Seq("struct<conv_id:string,__seq:bigint>"))
    val (jobs, _, keys) = dumpJobs(t, Some(1L))
    assert(jobs === 1, s"incremental dump launched $jobs Spark jobs")
    assert(keys.sorted === changedAfter1.toSeq.sorted)
  }

  test("a delta chain's incremental dump: key and __seq, 1 job, no shuffle") {
    val t = mk("incplan-chain", maxDeltas = 8)
    fill(t)
    assert(t.readManifest().deltas.values.exists(_.nonEmpty), "expected a delta chain")
    assert(readSchemas(t, 1L) === Seq("struct<conv_id:string,__seq:bigint>"))
    val (jobs, shuffled, keys) = dumpJobs(t, Some(1L))
    assert(jobs === 1, s"incremental dump launched $jobs Spark jobs")
    assert(shuffled === 0L, s"incremental dump wrote $shuffled shuffle bytes")
    assert(keys.sorted === changedAfter1.toSeq.sorted)
  }

  test("a full dump of a delta chain: 1 job, no shuffle, one task per bucket") {
    val t = mk("fullplan-chain", maxDeltas = 8)
    fill(t)
    val m = t.readManifest()
    assert(m.deltas.values.exists(_.nonEmpty), "expected a delta chain")
    val p = Replay.dump(t).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Aggregate"), p)
    assert(readSchemas(Replay.dump(t)) === Seq("struct<conv_id:string,__seq:bigint>"))
    assert(Replay.dump(t).rdd.getNumPartitions === (m.buckets.keySet ++ m.deltas.keySet).size)
    val (jobs, shuffled, keys) = dumpJobs(t, None)
    assert(jobs === 1, s"full dump launched $jobs Spark jobs")
    assert(shuffled === 0L, s"full dump wrote $shuffled shuffle bytes")
    assert(keys.sorted === allKeys.toSeq.sorted)
  }

  test("with live delete markers the dump adds only __del to the read") {
    val t = mk("incplan-deletes", maxDeltas = 8)
    fill(t)
    // one batch mixing a delete (k11) with an upsert (k30)
    t.merge(Seq(("k11", null, true), ("k30", "x", false))
      .toDF("conv_id", "note", IcebergLikeTable.DeleteCol)
      .withColumn("n", lit(4)), "conv_id", 4L, lineageDf = Some(lineageRow(4L)))
    assert(readSchemas(t, 1L) === Seq("struct<conv_id:string,__seq:bigint,__del:boolean>"))
    val (jobs, _, keys) = dumpJobs(t, Some(1L))
    assert(jobs === 1, s"incremental dump launched $jobs Spark jobs")
    assert(keys.sorted === (changedAfter1 - "k11" + "k30").toSeq.sorted)
    // the full change rows still resolve payload and marker from one row
    assert(t.readChangesSince(3L, includeDeletes = true)
      .select("conv_id", "note", IcebergLikeTable.DeleteCol).as[(String, String, Boolean)]
      .collect().toSet === Set(("k11", null, true), ("k30", "x", false)))
  }
}
