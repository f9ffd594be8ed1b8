package graft

import org.apache.spark.sql.functions._
import graft.queries.PlanPin

/** PlanPin (queries/PlanPin.scala) serves a pinned frame only for the
  * plan it was pinned for: the same plan built twice shares one pin, and
  * different plans under one tag never share one.
  */
class PlanPinSpec extends SparkSpec {
  import spark.implicits._

  test("the same plan built twice returns the same pinned frame") {
    val in = tmpDir("graft-pin-same") + "/in"
    spark.range(50).toDF("id").write.parquet(in)
    def build() = spark.read.parquet(in).filter(col("id") % 2 === 0)
    val a = PlanPin.pinned(build(), "pin-spec-same")
    val b = PlanPin.pinned(build(), "pin-spec-same")
    assert(a eq b)
    assert(b.as[Long].collect().sorted.toSeq === (0L until 50L by 2L))
  }

  test("two different plans under one tag each return their own rows") {
    val in = tmpDir("graft-pin-diff") + "/in"
    spark.range(50).toDF("id").write.parquet(in)
    val df = spark.read.parquet(in)
    val even = PlanPin.pinned(df.filter(col("id") % 2 === 0), "pin-spec-diff")
    val odd = PlanPin.pinned(df.filter(col("id") % 2 === 1), "pin-spec-diff")
    assert(!(even eq odd))
    assert(even.as[Long].collect().sorted.toSeq === (0L until 50L by 2L))
    assert(odd.as[Long].collect().sorted.toSeq === (1L until 50L by 2L))
  }
}
