package graft.store

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.conf.Configuration
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Spark's per-file Parquet reader function
  * (`ParquetFileFormat.buildReaderWithPartitionValues`, what a scan task
  * runs) with `filters` pushed, built once per read schema — building one
  * broadcasts a Hadoop configuration — and kept until the schema changes.
  * Rows come one at a time (no columnar batches), and the reader reuses
  * its row object.
  */
private[store] final class ParquetReaders(filters: Seq[Filter])(implicit spark: SparkSession) {
  private val format = new ParquetFileFormat
  private val built = new AtomicReference[(StructType, PartitionedFile => Iterator[InternalRow])]

  def apply(schema: StructType): PartitionedFile => Iterator[InternalRow] = {
    val b = built.get
    if (b != null && b._1 == schema) b._2
    else {
      val r = format.buildReaderWithPartitionValues(spark, schema, new StructType(),
        schema, filters, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        new Configuration(spark.sparkContext.hadoopConfiguration))
      built.set(schema -> r)
      r
    }
  }
}

private[store] object ParquetReaders {
  /** `f` as one split covering the whole file. */
  def wholeFile(f: Path): PartitionedFile = {
    val len = Files.size(f)
    PartitionedFile(InternalRow.empty,
      SparkPath.fromPath(new org.apache.hadoop.fs.Path(f.toUri)), 0L, len,
      Array.empty[String], 0L, len, Map.empty)
  }
}

/** Reads the rows of ONE key from a handful of parquet files on the
  * calling thread — Spark's own Parquet reader
  * (`ParquetFileFormat.buildReaderWithPartitionValues`, the per-file
  * function a scan task runs), with no job, stage or task. The key's
  * `EqualTo` is pushed into every file read, so parquet's row-group
  * stats and key bloom filter skip the row groups that cannot hold it.
  *
  * The reader function is built once per read schema ([[ParquetReaders]]).
  * Its pushed filters are bound when it is built, so the key travels in a
  * thread-local that the reader's filter list resolves per file: the same
  * reader serves concurrent reads of different keys.
  */
private[store] final class PointReader(keyCol: String)(implicit spark: SparkSession) {
  private val key = new ThreadLocal[Seq[Filter]] {
    override def initialValue(): Seq[Filter] = Nil
  }

  /** The reader's filter list: this thread's key filter, read per file. */
  private object keyFilter extends scala.collection.immutable.AbstractSeq[Filter] {
    def apply(i: Int): Filter = key.get.apply(i)
    def length: Int = key.get.length
    def iterator: Iterator[Filter] = key.get.iterator
  }

  private val reader = new ParquetReaders(keyFilter)

  /** Copies of the rows of `files` whose [[keyCol]] equals `k`, read
    * under `schema` (every field nullable: a file written before a column
    * was added reads it as null).
    */
  def rows(schema: StructType, files: Seq[Path], k: String): Seq[InternalRow] = {
    val ki = schema.fieldIndex(keyCol)
    val kb = UTF8String.fromString(k)
    // the reader reuses its row object: copy a match before advancing
    files.flatMap(f => scan(schema, f, k)(
      _.filter(r => !r.isNullAt(ki) && r.getUTF8String(ki) == kb).map(_.copy()).toList))
  }

  /** `use` over the rows of the row groups of `f` that the pushed key
    * filter kept (not yet matched against the key).
    */
  private[store] def scan[A](schema: StructType, f: Path, k: String)(
      use: Iterator[InternalRow] => A): A = {
    val read = reader(schema)
    val file = ParquetReaders.wholeFile(f)
    key.set(Seq(EqualTo(keyCol, k)))
    val it = try read(file) finally key.remove()
    try use(it) finally it match {
      case c: java.io.Closeable => c.close()
      case _ =>
    }
  }
}
