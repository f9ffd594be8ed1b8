package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.lit
import graft.ops.{DumpManager, DumpService}
import graft.replay.Replay
import graft.store.IcebergLikeTable

/** The incremental dump is one column-pruned scan: the since-batch window
  * comes from the manifest (no job), `__seq > since` filters before
  * resolution, and a bases-only candidate set skips resolution. Pinned
  * by counting the jobs a dump launches and by reading its plan.
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

  private def fill(t: IcebergLikeTable): Unit =
    ranges.zipWithIndex.foreach { case (r, b) =>
      t.merge(r.map(i => (s"k$i", b, s"note-$b-$i")).toDF("conv_id", "n", "note"),
        "conv_id", b.toLong, lineageDf = Some(lineageRow(b.toLong)))
    }

  /** Jobs one `runIncrementalDump` launches, and the keys it published. */
  private def dumpJobs(t: IcebergLikeTable, since: Long): (Int, Seq[String]) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val acc = spark.sparkContext.collectionAccumulator[String]("inc-plan")
    org.apache.spark.sql.graftshim.Shim.waitListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      DumpService.runIncrementalDump(new DumpManager, "t", t, since,
        it => it.foreach(acc.add))
      org.apache.spark.sql.graftshim.Shim.waitListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get(), acc.value.asScala.toSeq)
  }

  private def plan(t: IcebergLikeTable, since: Long): String =
    Replay.incrementalDump(t, since).queryExecution.executedPlan.toString

  private def readSchemas(t: IcebergLikeTable, since: Long): Seq[String] =
    "ReadSchema: (struct<[^>]*>)".r.findAllMatchIn(plan(t, since)).map(_.group(1)).toSeq

  test("a compacted table's incremental dump is one job with no exchange") {
    val t = mk("incplan-compacted", maxDeltas = 1) // every merge compacts its buckets
    fill(t)
    assert(t.readManifest().deltas.values.forall(_.isEmpty), "expected bases only")
    val p = plan(t, 1L)
    assert(!p.contains("Exchange") && !p.contains("Aggregate"), p)
    assert(readSchemas(t, 1L) === Seq("struct<conv_id:string,__seq:bigint>"))
    val (jobs, keys) = dumpJobs(t, 1L)
    assert(jobs === 1, s"incremental dump launched $jobs Spark jobs")
    assert(keys.sorted === changedAfter1.toSeq.sorted)
  }

  test("on a delta chain the dump reads only the key and __seq, in at most 2 jobs") {
    val t = mk("incplan-chain", maxDeltas = 8)
    fill(t)
    assert(t.readManifest().deltas.values.exists(_.nonEmpty), "expected a delta chain")
    assert(readSchemas(t, 1L) === Seq("struct<conv_id:string,__seq:bigint>"))
    val (jobs, keys) = dumpJobs(t, 1L)
    assert(jobs <= 2, s"incremental dump launched $jobs Spark jobs")
    assert(keys.sorted === changedAfter1.toSeq.sorted)
  }

  test("with live delete markers the dump adds only __del to the read") {
    val t = mk("incplan-deletes", maxDeltas = 8)
    fill(t)
    // one batch mixing a delete (k11) with an upsert (k30)
    t.merge(Seq(("k11", null, true), ("k30", "x", false))
      .toDF("conv_id", "note", IcebergLikeTable.DeleteCol)
      .withColumn("n", lit(4)), "conv_id", 4L, lineageDf = Some(lineageRow(4L)))
    assert(readSchemas(t, 1L) === Seq("struct<conv_id:string,__seq:bigint,__del:boolean>"))
    val (jobs, keys) = dumpJobs(t, 1L)
    assert(jobs <= 2, s"incremental dump launched $jobs Spark jobs")
    assert(keys.sorted === (changedAfter1 - "k11" + "k30").toSeq.sorted)
    // the full change rows still resolve payload and marker from one row
    assert(t.readChangesSince(3L, includeDeletes = true)
      .select("conv_id", "note", IcebergLikeTable.DeleteCol).as[(String, String, Boolean)]
      .collect().toSet === Set(("k11", null, true), ("k30", "x", false)))
  }
}
