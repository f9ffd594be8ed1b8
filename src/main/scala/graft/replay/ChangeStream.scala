package graft.replay

import java.util.Optional
import org.apache.spark.{Dependency, OneToOneDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReportsSourceMetrics,
  SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
import graft.store.IcebergLikeTable

/** The change feed of an [[IcebergLikeTable]] as a Structured Streaming
  * source whose offset is the table's committed `lastBatchId` — znap's
  * consumer cursor, one monotone offset into a replayable log, as Delta's
  * `DeltaSource` (table version) and Iceberg's `SparkMicroBatchStream`
  * (snapshot id) have it.
  *
  * Batch (a, b] is [[IcebergLikeTable.readChangesBetween]]`(a, b)` with
  * delete markers: every key changed by a commit in (a, b], at its state
  * as of b, ONE row per key with its `__del` flag. A backlog of commits
  * therefore coalesces into one pass that touches each key once, however
  * far behind the consumer is.
  *
  * Contracts (test-pinned in ChangeStreamSpec):
  *  - Exactly-once end to end: Spark logs (a, b] before the batch runs
  *    and commits it after the sink returns, so a crash in between
  *    re-runs the same range; a sink that MERGEs keyed by the sink batch
  *    id (as [[replicate]] does) absorbs the re-delivery.
  *  - A batch reads only files that a published log entry names: an
  *    orphan delta — a crashed writer's, or a merge's that lost the
  *    commit compare-and-swap — is never delivered.
  *  - No retention window on lag: once entry b has expired, the batch
  *    reads [[IcebergLikeTable.readChangesSince]]`(a)` on the head
  *    instead, which is exact across compaction, rebucket and vacuum
  *    because each row keeps its `__seq` ([[readFromHead]] tells a sink
  *    which read a batch got). The one loss is a delete marker dropped
  *    by [[IcebergLikeTable.purgeDeletes]]: a batch that starts below the
  *    table's `purgedDeletesTo` fails the query with
  *    [[InvalidOffsetException]].
  *  - A batch is read when a job first runs over it, not in `getBatch`:
  *    the committed batch Spark re-plans on restart to set the source up
  *    is neither read nor checked against the purge floor.
  *  - Lag is visible: each progress carries `batchesBehindLatest` (head
  *    `lastBatchId` minus the batch's end offset) in
  *    `StreamingQueryProgress.sources(0).metrics`, under every trigger.
  *  - The table must have committed before a stream over it starts; the
  *    stream's schema is the committed schema then (+ `__del`).
  */
object ChangeStream {

  /** A consumer's offset lies below the table's delete-purge floor: the
    * deletes it has not seen may be gone, so a replica built from here on
    * could keep keys the table deleted. Rebuild the consumer from scratch
    * (a fresh checkpoint and target).
    */
  final class InvalidOffsetException(msg: String) extends IllegalStateException(msg)

  /** The change stream of `table`: the committed schema plus `__del`
    * (non-null; true = the key was deleted), one row per changed key per
    * batch. MERGEing a batch into another table applies its deletes too,
    * since the marker rows merge as markers.
    */
  def changes(table: IcebergLikeTable)(implicit spark: SparkSession): DataFrame = {
    // every column nullable: a marker row carries no payload
    val schema = StructType((table.schema().fields :+
      StructField(IcebergLikeTable.DeleteCol, BooleanType)).map(_.copy(nullable = true)))
    spark.readStream.format(classOf[ChangeSourceProvider].getName)
      .schema(schema).load(table.root)
  }

  /** Whether `batch`, as a sink got it from [[changes]], was read from the
    * head because its end log entry had expired: re-run after a crash, it
    * can differ from its first run. False for any other frame.
    */
  def readFromHead(batch: DataFrame): Boolean = {
    def found(rdd: RDD[_]): Boolean = rdd match {
      case b: ChangeBatch => b.fromHead
      case r => r.dependencies.exists(d => found(d.rdd))
    }
    batch.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }.exists(found)
  }

  /** Continuous replica: stream `src`'s changes into `dst` with an
    * exactly-once MERGE sink keyed by the sink batch id.
    * `availableNow = true` drains what exists and stops (the catch-up
    * form); `false` keeps following.
    */
  def replicate(src: IcebergLikeTable, dst: IcebergLikeTable, ckpt: String,
      availableNow: Boolean = true)(implicit spark: SparkSession): StreamingQuery = {
    val writer = changes(src).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        dst.merge(df, dst.keyCol, batchId); ()
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }
}

/** Instantiated by Spark from its class name (`readStream.format`), so no
  * service registration is needed. `path` is the table root; the schema
  * is the one [[ChangeStream.changes]] fixes when the stream starts.
  */
final class ChangeSourceProvider extends StreamSourceProvider {
  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    ("graft-changes", schema.getOrElse(throw new IllegalArgumentException(
      "the change source is started through ChangeStream.changes")))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    implicit val spark: SparkSession = sqlContext.sparkSession
    new ChangeSource(IcebergLikeTable.open(parameters("path")),
      sourceSchema(sqlContext, schema, providerName, parameters)._2)
  }
}

/** The commit-offset source behind [[ChangeStream.changes]]. It is its
  * own `SupportsTriggerAvailableNow`: Spark's wrapper for plain sources
  * does not pass on `ReportsSourceMetrics`, which would hide the lag
  * under `Trigger.AvailableNow`.
  */
private[replay] final class ChangeSource(table: IcebergLikeTable,
    override val schema: StructType)(implicit spark: SparkSession)
    extends Source with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  /** AvailableNow's end: the head when the query started. */
  @volatile private var bound = Long.MaxValue

  private def head(): Long = table.readManifest().lastBatchId

  /** A LongOffset, or its serialized form read back from the checkpoint. */
  private def batchOf(o: OffsetV2): Long = o.json.toLong

  override def prepareForTriggerAvailableNow(): Unit = bound = head()

  override def getOffset: Option[Offset] =
    Some(math.min(head(), bound)).filter(_ >= 0L).map(LongOffset(_))

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 =
    getOffset.orNull

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val to = batchOf(end)
    Shim.internalDataFrame(spark,
      new ChangeBatch(spark.sparkContext, () => read(start, to)), schema,
      isStreaming = true)
  }

  /** Batch (start, to] and whether it was read from the head. */
  private def read(start: Option[Offset], to: Long): (RDD[InternalRow], Boolean) = {
    val from = start.map(batchOf).getOrElse(-1L)
    val purged = table.readManifest().purgedDeletesTo
    if (start.isDefined && from < purged) throw new ChangeStream.InvalidOffsetException(
      s"offset $from of ${table.root} is below its delete-purge floor $purged: " +
        "deletes up to the floor may be missing — rebuild the consumer")
    val fromHead = !table.manifestVersions().contains(to)
    val changes =
      if (fromHead) table.readChangesSince(from, includeDeletes = true)
      else table.readChangesBetween(from, to, includeDeletes = true)
    val have = changes.columns.toSet
    val projected = changes.select(schema.fields.toSeq.map(f =>
      if (have(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)): _*)
    (projected.queryExecution.toRdd, fromHead)
  }

  override def metrics(latest: Optional[OffsetV2]): java.util.Map[String, String] = {
    val consumed = if (latest.isPresent) batchOf(latest.get) else -1L
    java.util.Map.of("batchesBehindLatest", (head() - consumed).toString)
  }

  override def stop(): Unit = ()
}

/** One change batch, read when a job is first planned over it: built in
  * `getBatch`, AQE would run the read's shuffle even for the committed
  * batch Spark re-plans on restart and drops.
  */
private[replay] final class ChangeBatch(sc: SparkContext,
    @transient private val build: () => (RDD[InternalRow], Boolean))
    extends RDD[InternalRow](sc, Nil) {

  @transient private lazy val built = build()

  /** See [[ChangeStream.readFromHead]]; reads the batch if no job has. */
  def fromHead: Boolean = built._2

  override protected def getDependencies: Seq[Dependency[_]] =
    Seq(new OneToOneDependency(built._1))

  override protected def getPartitions: Array[Partition] = built._1.partitions

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
    dependencies.head.rdd.asInstanceOf[RDD[InternalRow]].iterator(split, context)
}
