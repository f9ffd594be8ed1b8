package graft.queries

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The one drain every streaming fixture runs through: file stream over
  * staged input → start against a fresh checkpoint → drain → stop → read
  * back. A drain never outlives its call: its queries are stopped before
  * it returns or rethrows, so a failed or slow drain can neither leave a
  * query retrying for the life of the session nor hand back a
  * half-built result.
  */
private[queries] object StreamDrain {

  /** Files each file-stream trigger admits. Two files still drain every
    * fixture in ≥ 2 data batches, so cross-batch state carry, watermark
    * advance and eviction stay exercised, at half the per-batch
    * state-store commits of one file per trigger. Each fixture's result
    * is batch-slicing-independent, which is exactly what its oracle
    * proves.
    */
  val FilesPerTrigger = 2

  /** A file stream over the staged parquet dir `inDir`. */
  def fileStream(s: SparkSession, inDir: String, schema: StructType): DataFrame =
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", FilesPerTrigger.toString).parquet(inDir)

  /** Start one query on a fresh checkpoint dir (`start`'s argument), run
    * it until all available input is processed (for an `AvailableNow`
    * query too — it may not have terminated yet when that returns), and
    * stop it, also when the drain throws. Shuffle partitions are sized
    * from the bytes under `sizedBy`.
    */
  def drain(s: SparkSession, sizedBy: String)(start: String => StreamingQuery): Unit =
    drainAll(s, sizedBy)(ckpt => Seq(start(ckpt)))

  /** [[drain]] for queries that share one source (a fan-out); each keeps
    * its own checkpoint under `start`'s dir.
    */
  def drainAll(s: SparkSession, sizedBy: String)(
      start: String => Seq[StreamingQuery]): Unit = {
    val ckpt = Files.createTempDirectory("graft-drain").toString + "/ckpt"
    withStreamParallelism(s, sizedBy) {
      val qs = start(ckpt)
      try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
    }
  }

  /** Drain the append-mode `out` into a fresh parquet dir and read it
    * back with `out`'s schema.
    */
  def drainToParquet(s: SparkSession, sizedBy: String, out: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("graft-drain-out").toString + "/out"
    drain(s, sizedBy)(ckpt => out.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", dir)
      .start())
    s.read.schema(out.schema).parquet(dir)
  }

  /** Total regular-file bytes under `dir` (the staged stream input). */
  private def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size(_).longValue).sum
      finally walk.close()
    }
  }

  /** Run `body` with `spark.sql.shuffle.partitions` DERIVED FROM THE
    * STAGED INPUT SIZE (optimization guide §2: make partitioning
    * scale-adaptive — derive it from data volume — rather than a constant
    * tuned for either local mode or the cluster). The shuffle-partition
    * count is what a stateful streaming query locks in as its state-store
    * partition count, and every micro-batch commits (numPartitions ×
    * stores-per-operator) state stores plus that many shuffle/sink tasks
    * — at the fixtures' few-MB scale the session default (= core count)
    * buys no parallelism and multiplies pure per-batch commit overhead;
    * at 100 TB the same bytes-per-partition rule yields thousands of
    * partitions. Target: ~32 MB of input per state partition, floor 4
    * (cross-partition state semantics stay exercised), cap 65536.
    *
    * Results are unaffected: state partitioning changes WHERE keys live,
    * never fold/join/window semantics (lineage is tracked on a logical
    * key shard precisely so o1/h1 stay partitioning-independent).
    * The conf is restored after the drain; StreamExecution clones the
    * session at start(), so the value is pinned per query.
    */
  private def withStreamParallelism[A](s: SparkSession, stagedDir: String)(
      body: => A): A = {
    val targetBytes = 32L << 20
    val n = math.min(65536L,
      math.max(4L, (dirBytes(stagedDir) + targetBytes - 1) / targetBytes))
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, old)
  }
}
