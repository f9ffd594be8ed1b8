package graft

import scala.util.Random
import graft.replay.Replay
import graft.store.IcebergLikeTable

/** Model-based fuzz of the store: random interleavings of merge /
  * delete / compact / vacuum / rebucket checked after EVERY op against an
  * in-memory model — current state, point lookups (the lazy `lookup` and
  * the driver-side `get`), change feed (upsert-only and with delete
  * markers; compactions and rebuckets reach its bases-only path, delta
  * chains and markers its resolving one), the key sets of the full and
  * incremental dumps (the bucket-aligned key reader, on every table state
  * the schedule reaches), and retained time travel all stay exact under
  * any maintenance schedule. Deterministic seeds; both inline- and
  * deferred-compaction tables.
  */
class StoreModelSpec extends SparkSpec {
  import spark.implicits._

  private val keys = (0 until 20).map(i => f"k$i%02d")

  test("random op sequences: store == model at every step") {
    Seq(7, 19, 42).foreach(run)
  }

  private def run(seed: Int): Unit = {
    val rnd = new Random(seed)
    // picks the incremental dump's since-batch apart from `rnd`, so the
    // op sequence of each seed stays what it was
    val pick = new Random(seed + 1)
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
    var deletedAt = Map.empty[String, Long]
    var history = Map.empty[Long, Map[String, Int]]
    var version = -1L
    var deleted = Set.empty[String]
    var lastMerge = -1L // the lineage window is [0, lastMerge]

    def read(): Map[String, Int] =
      t.read().as[(String, Int)].collect().toMap
    def changes(since: Long): Map[String, Int] =
      t.readChangesSince(since).as[(String, Int)].collect().toMap
    // (value, deleted) per key: a marker row carries no value
    def changesWithDeletes(since: Long): Map[String, (Option[Int], Boolean)] =
      t.readChangesSince(since, includeDeletes = true)
        .select("conv_id", "n", IcebergLikeTable.DeleteCol)
        .as[(String, Option[Int], Boolean)].collect()
        .map { case (k, v, d) => k -> (v, d) }.toMap
    def asOf(v: Long): Map[String, Int] =
      t.readAsOf(v).as[(String, Int)].collect().toMap
    def lookup(k: String): Option[Int] =
      t.lookup("conv_id", k).as[(String, Int)].collect().headOption.map(_._2)
    def keySet(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.as[String].collect().toSeq.sorted
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
        // with lineage, so the incremental dump's window check passes
        val lineage = Seq(graft.model.LineageRecord(version, 0, ks.min, 0, ks.max, 0,
          ks.size.toLong, new java.sql.Timestamp(1700000000000L + version))).toDF()
        assert(t.merge(vals.toDF("conv_id", "n"), "conv_id", version, lineageDf = Some(lineage)))
        lastMerge = version
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
        ks.foreach(k => deletedAt += k -> version)
        history += version -> model
      } else if (op == 0) t.compact()
      else if (op == 1) t.vacuum()
      else t.rebucket(1 + rnd.nextInt(12))

      assert(read() == model, s"seed=$seed step=$step read")
      val since = rnd.nextInt(version.toInt + 2) - 1L
      assert(changes(since) ==
        model.filter { case (k, _) => changedAt.getOrElse(k, -2L) > since },
        s"seed=$seed step=$step changesSince($since)")
      val lastChange = (changedAt.keySet ++ deletedAt.keySet).map(k =>
        k -> math.max(changedAt.getOrElse(k, -2L), deletedAt.getOrElse(k, -2L))).toMap
      assert(changesWithDeletes(since) ==
        lastChange.collect { case (k, v) if v > since =>
          k -> model.get(k).fold[(Option[Int], Boolean)]((None, true))(n => (Some(n), false))
        },
        s"seed=$seed step=$step changesSince($since, includeDeletes)")
      assert(keySet(Replay.dump(t)) == model.keys.toSeq.sorted, s"seed=$seed step=$step dump")
      val from = pick.nextInt(lastMerge.toInt + 1).toLong
      assert(keySet(Replay.incrementalDump(t, from)) ==
        model.keys.filter(changedAt.getOrElse(_, -2L) > from).toSeq.sorted,
        s"seed=$seed step=$step incrementalDump($from)")
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
      // the head is history's newest entry, and time travel to it is the model
      assert(t.manifestVersions().last == t.readManifest().lastBatchId,
        s"seed=$seed step=$step head = history")
      assert(asOf(version) == model, s"seed=$seed step=$step asOf(head)")
      t.manifestVersions().foreach { v =>
        assert(asOf(v) == history(v), s"seed=$seed step=$step asOf($v)")
      }
    }
  }
}
