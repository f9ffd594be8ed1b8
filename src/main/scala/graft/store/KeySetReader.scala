package graft.store

import java.nio.file.Path
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.{FilePartition, FileScanRDD}
import org.apache.spark.sql.types.StructType

/** Reads a table's live key set bucket by bucket: one Spark
  * `FileScanRDD` with one partition per bucket, each task resolving its
  * bucket's last-writer-wins itself, so the read is one job with no
  * Exchange. Files are read by Spark's own Parquet reader
  * ([[ParquetReaders]], as [[PointReader]] reads them), so tasks record
  * input metrics and die with their job group like any scan.
  *
  * A bucket partitions the key space and holds its base (one row per key,
  * every `__seq` at or below the base's version) and its delta chain
  * (every `__seq` above it). The partition lists the deltas newest first,
  * then the base; the task puts each row above the base version into a
  * map (greatest `__seq` wins, a tie goes to the later-read row as in
  * `latest_by`), and streams each base row through that map. Task memory
  * is therefore one entry per distinct key in the bucket's delta chain,
  * which `maxDeltasPerBucket` bounds.
  */
private[store] final class KeySetReader(implicit spark: SparkSession) {
  private val reader = new ParquetReaders(Nil)

  /** The keys of `buckets` — per bucket its files in read order (deltas
    * newest first, then the base) and its base version — whose winning
    * row has `__seq > since` and is no delete marker, as one-column rows.
    * One FileScanRDD partition per bucket, read under `schema`: the key,
    * `__seq`, and `__del` while markers may be live.
    */
  def keys(schema: StructType, buckets: Seq[(Seq[Path], Long)], since: Long): RDD[InternalRow] = {
    val bases = buckets.map(_._2).toArray
    val keyType = schema.head.dataType
    val withDel = schema.length > 2
    new FileScanRDD(spark, reader(schema),
      buckets.zipWithIndex.map { case ((files, _), i) =>
        FilePartition(i, files.map(ParquetReaders.wholeFile).toArray)
      }, schema)
      .mapPartitionsWithIndex((i, rows) =>
        KeySetReader.resolve(rows, bases(i), since, keyType, withDel))
  }
}

private object KeySetReader {
  /** The winning row so far of a key in the delta chain. */
  private final case class Winner(seq: Long, deleted: Boolean)

  /** Last-writer-wins over one bucket's rows `(key, __seq[, __del])`,
    * deltas first: rows above `base` (the base's version) resolve in a
    * map, base rows stream through it. Rows at or below `since` are
    * skipped, which is exact for the since-read's candidates (see
    * [[IcebergLikeTable.readChangesSince]]).
    */
  def resolve(rows: Iterator[InternalRow], base: Long, since: Long,
      keyType: org.apache.spark.sql.types.DataType, withDel: Boolean): Iterator[InternalRow] = {
    val chain = new java.util.HashMap[Any, Winner]
    def marker(r: InternalRow): Boolean = withDel && !r.isNullAt(2) && r.getBoolean(2)
    val out = new GenericInternalRow(1)
    def emit(k: Any): InternalRow = { out.update(0, k); out }
    rows.filter { r =>
      val seq = r.getLong(1)
      if (seq <= since) false
      else if (seq > base) {
        // the reader reuses its row: copy the key before keeping it
        val k = InternalRow.copyValue(r.get(0, keyType))
        val w = chain.get(k)
        if (w == null || seq >= w.seq) chain.put(k, Winner(seq, marker(r)))
        false
      } else !marker(r) && !chain.containsKey(r.get(0, keyType))
    }.map(r => emit(r.get(0, keyType))) ++
      chain.entrySet.iterator.asScala.filterNot(_.getValue.deleted).map(e => emit(e.getKey))
  }
}
