package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import graft.SparkSpec
import graft.replay.ChangeStream
import graft.store.IcebergLikeTable

/** The streaming drain harness every `*_stream` fixture runs through
  * (queries/StreamDrain.scala): a drain ends its queries before it
  * returns or rethrows, restores the session's shuffle partitions, and
  * runs an `AvailableNow` query to completion.
  */
class StreamDrainSpec extends SparkSpec {
  import spark.implicits._
  implicit val s: org.apache.spark.sql.SparkSession = spark

  private val partitionsKey = "spark.sql.shuffle.partitions"

  test("a drain whose batch throws rethrows, stops its query and restores the conf") {
    val in = tmpDir("graft-drain-fail") + "/in"
    spark.range(100).toDF("id").repartition(3).write.parquet(in)
    val before = spark.conf.get(partitionsKey)
    var during = ""
    val e = intercept[Exception] {
      StreamDrain.drain(spark, in) { ckpt =>
        during = spark.conf.get(partitionsKey)
        StreamDrain.fileStream(spark, in, StructType.fromDDL("id bigint"))
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch { (_: DataFrame, _: Long) =>
            throw new IllegalStateException("batch failed") }
          .start()
      }
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage).contains("batch failed")), e)
    assert(spark.streams.active.isEmpty)
    // sized from a few KB of staged input: the floor of 4, not the session's 8
    assert(during === "4" && before === "8")
    assert(spark.conf.get(partitionsKey) === before)
  }

  test("an AvailableNow replica drained through the harness equals its source") {
    def mk(tag: String) = new IcebergLikeTable(tmpDir(tag) + "/t", 4,
      inlineCompaction = false, maxDeltasPerBucket = 1000,
      emptySchema = StructType.fromDDL("conv_id string, n int"))
    def content(t: IcebergLikeTable) = t.read().as[(String, Int)].collect().toMap
    val src = mk("graft-drain-src"); val dst = mk("graft-drain-dst")
    src.merge(Seq("a" -> 1, "b" -> 1).toDF("conv_id", "n"), "conv_id", 0L)
    src.merge(Seq("b" -> 2, "c" -> 1).toDF("conv_id", "n"), "conv_id", 1L)
    src.merge(Seq("a" -> 3, "d" -> 4).toDF("conv_id", "n"), "conv_id", 2L)
    // one file per trigger: the drain must outlast several AvailableNow batches
    StreamDrain.drain(spark, src.root)(ckpt =>
      ChangeStream.replicate(src, dst, ckpt, maxFilesPerTrigger = 1))
    assert(spark.streams.active.isEmpty)
    assert(content(dst) === Map("a" -> 3, "b" -> 2, "c" -> 1, "d" -> 4))
    assert(content(dst) === content(src))
  }

  test("j4_stream_static and cdc_stream leave no active query behind") {
    val dir = "/root/testdata/sf0.001"
    assert(StreamQueries.j4StreamStatic(spark, dir).count() > 0)
    assert(spark.streams.active.isEmpty)
    // the replica equals the full snapshot, on every call
    val full = StreamQueries.aggTypedFold(spark, dir).collect().toSet
    assert(full.nonEmpty)
    (1 to 2).foreach { _ =>
      assert(StreamQueries.cdcStream(spark, dir).collect().toSet === full)
      assert(spark.streams.active.isEmpty)
    }
  }
}
