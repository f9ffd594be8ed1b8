package graft.pipeline

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.model.Turn
import graft.replay.Replay
import graft.sink.MergeSink
import graft.snapshot.SnapshotStream
import graft.store.IcebergLikeTable

/** Streaming multi-target fan-out — znap G1 (reference:
  * pipeline/PipelineBuilder.scala:154-184 drives N targets from one
  * source, each with its own filter, key, destination and signalling;
  * config/SnapshotPipeline.scala:58-69).
  *
  * Spark-first restatement: each target is an independent streaming query
  * over the SAME source Dataset, with its own per-target filter, its own
  * snapshot table and its own checkpoint — so targets resume and fail
  * independently (znap restarts targets independently too, via one Akka
  * graph per pipeline). The source scan is shared at the storage layer
  * (same files; the OS page cache and columnar reader make N readers of
  * one recent file cheap), which is how multi-consumer fan-out works on a
  * real cluster — no cross-query coordination needed.
  */
object Fanout {

  /** One fan-out target: filter → fold → MERGE sink, own checkpoint. */
  final case class Target(
      name: String,
      filter: Column,
      table: IcebergLikeTable,
      checkpointDir: String,
      publishType: String = "keys")

  /** Start one streaming query per target over the shared source. */
  def start(turns: Dataset[Turn], targets: Seq[Target],
      watermark: String = "10 minutes"): Seq[StreamingQuery] =
    targets.map { t =>
      SnapshotStream.updates(turns.filter(t.filter), watermark).writeStream
        .queryName(s"fanout-${t.name}")
        .outputMode("update")
        .option("checkpointLocation", t.checkpointDir)
        .foreachBatch(MergeSink(t.table, t.publishType) _)
        .start()
    }
}
