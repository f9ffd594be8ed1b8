package graft

import scala.util.Random
import graft.store.IcebergLikeTable

/** Model-based fuzz of the store: random interleavings of merge /
  * delete / compact / vacuum / rebucket checked after EVERY op against an
  * in-memory model — current state, point lookups (the lazy `lookup` and
  * the driver-side `get`), change feed, and retained time travel all stay
  * exact under any maintenance schedule. Deterministic seeds; both
  * inline- and deferred-compaction tables.
  */
class StoreModelSpec extends SparkSpec {
  import spark.implicits._

  private val keys = (0 until 20).map(i => f"k$i%02d")

  test("random op sequences: store == model at every step") {
    Seq(7, 19, 42).foreach(run)
  }

  private def run(seed: Int): Unit = {
    val rnd = new Random(seed)
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val t = new IcebergLikeTable(tmpDir(s"model$seed"),
      numBuckets = 2 + rnd.nextInt(6),
      maxDeltasPerBucket = 1 + rnd.nextInt(3),
      retainManifests = 2,
      inlineCompaction = rnd.nextBoolean(),
      emptySchema = org.apache.spark.sql.types.StructType.fromDDL(
        "conv_id string, n int"))

    var model = Map.empty[String, Int]
    var changedAt = Map.empty[String, Long]
    var history = Map.empty[Long, Map[String, Int]]
    var version = -1L
    var deleted = Set.empty[String]

    def read(): Map[String, Int] =
      t.read().as[(String, Int)].collect().toMap
    def changes(since: Long): Map[String, Int] =
      t.readChangesSince(since).as[(String, Int)].collect().toMap
    def asOf(v: Long): Map[String, Int] =
      t.readAsOf(v).as[(String, Int)].collect().toMap
    def lookup(k: String): Option[Int] =
      t.lookup("conv_id", k).as[(String, Int)].collect().headOption.map(_._2)
    def get(k: String): Option[Int] = t.get(k).map { e =>
      assert(e.row.getUTF8String(0).toString == k, s"get($k) returned another key")
      e.row.getInt(1)
    }

    (0 until 12).foreach { step =>
      val op = rnd.nextInt(12)
      if (op >= 4 || version < 0) { // merge (maintenance only post-first-merge)
        val ks = rnd.shuffle(keys).take(1 + rnd.nextInt(6))
        val vals = ks.map(k => k -> rnd.nextInt(1000))
        version += 1
        assert(t.merge(vals.toDF("conv_id", "n"), "conv_id", version))
        model = model ++ vals
        deleted = deleted -- ks
        vals.foreach { case (k, _) => changedAt += k -> version }
        history += version -> model
      } else if (op == 3) { // delete, of written and unwritten keys alike
        val ks = rnd.shuffle(keys).take(1 + rnd.nextInt(4))
        version += 1
        assert(t.delete(ks.toDF("conv_id"), version))
        model = model -- ks
        deleted = deleted ++ ks
        history += version -> model
      } else if (op == 0) t.compact()
      else if (op == 1) t.vacuum()
      else t.rebucket(1 + rnd.nextInt(12))

      assert(read() == model, s"seed=$seed step=$step read")
      val since = rnd.nextInt(version.toInt + 2) - 1L
      assert(changes(since) ==
        model.filter { case (k, _) => changedAt.getOrElse(k, -2L) > since },
        s"seed=$seed step=$step changesSince($since)")
      val k = keys(rnd.nextInt(keys.size))
      assert(lookup(k) == model.get(k), s"seed=$seed step=$step lookup($k)")
      // the driver-side read against the model and against `lookup`: a
      // present key, a deleted one and one never written
      val probes = model.keys.toSeq.sorted.take(1) ++ deleted.toSeq.sorted.take(1) :+ "never"
      probes.foreach { p =>
        val got = get(p)
        assert(got == model.get(p), s"seed=$seed step=$step get($p) vs model")
        assert(got == lookup(p), s"seed=$seed step=$step get($p) vs lookup")
      }
      t.manifestVersions().foreach { v =>
        assert(asOf(v) == history(v), s"seed=$seed step=$step asOf($v)")
      }
    }
  }
}
