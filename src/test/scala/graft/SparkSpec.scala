package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Wait for a self-terminating (`AvailableNow`) query, failing on a
    * timeout; the query is stopped either way, so no spec leaves one
    * running.
    */
  def awaitDone(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try assert(q.awaitTermination(120000), s"query ${q.id} did not terminate")
    finally q.stop()
}

object SparkSpec {
  lazy val session: SparkSession = {
    // keep catalog artifacts (bucketed-table warehouse, derby metastore)
    // out of the repo tree
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    System.setProperty("derby.system.home", wh)
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
