package graft

import java.util.ConcurrentModificationException
import scala.jdk.CollectionConverters._
import graft.store.{IcebergLikeTable, StoreTestAccess}

/** Multi-writer safety of the store's commit protocol: each commit
  * publishes the next numbered log entry with an exclusive create, so of
  * two commits computed from one head exactly one wins its number. The
  * loser throws on a real conflict — metadata-only commits (dropColumn)
  * included — and rebases past a tombstone trim. A writer that dies after
  * publishing but before refreshing the head hint loses nothing; one that
  * dies before publishing leaves a temp entry no reader sees. vacuum's
  * trim publishes like any commit, so it cannot revert a batch committed
  * mid-walk.
  */
class StoreConcurrencySpec extends SparkSpec {
  import spark.implicits._
  implicit val s: org.apache.spark.sql.SparkSession = spark

  private val schema =
    org.apache.spark.sql.types.StructType.fromDDL("conv_id string, n int")

  test("two-writer stress: interleaved merge vs compact/vacuum loses no update; losers throw CME") {
    val root = tmpDir("stress") + "/t"
    val writerT = new IcebergLikeTable(root, numBuckets = 4,
      maxDeltasPerBucket = 3, inlineCompaction = false, emptySchema = schema)
    val maintT = new IcebergLikeTable(root, numBuckets = 4,
      maxDeltasPerBucket = 2, inlineCompaction = false, emptySchema = schema)
    val nBatches = 12
    val cmeSeen = new java.util.concurrent.atomic.AtomicInteger
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]

    val writer = new Thread(() => {
      try {
        (0 until nBatches).foreach { b =>
          val rows = (0 until 8).map(i => (s"k$i", b * 100 + i))
          var done = false
          while (!done) {
            // merge re-reads the manifest at entry, so a CME loser simply
            // re-runs against the state the winner committed
            try { writerT.merge(rows.toDF("conv_id", "n"), "conv_id", b.toLong); done = true }
            catch { case _: ConcurrentModificationException => cmeSeen.incrementAndGet() }
          }
        }
      } catch { case t: Throwable => failure.compareAndSet(null, t) }
    })
    val maintenance = new Thread(() => {
      try {
        (0 until 8).foreach { _ =>
          try { maintT.compact() }
          catch { case _: ConcurrentModificationException => cmeSeen.incrementAndGet() }
          // generous grace: a deep clean interleaving a live writer must
          // never touch its young in-flight files
          maintT.vacuum(graceMs = 3600L * 1000)
          Thread.sleep(20)
        }
      } catch { case t: Throwable => failure.compareAndSet(null, t) }
    })
    writer.start(); maintenance.start()
    writer.join(300000); maintenance.join(300000)
    assert(failure.get() == null, s"unexpected failure: ${failure.get()}")

    // no lost updates: the final state is exactly batch (nBatches-1)'s rows
    val expect = (0 until 8).map(i => s"k$i" -> ((nBatches - 1) * 100 + i)).toMap
    assert(writerT.read().as[(String, Int)].collect().toMap === expect)
    assert(writerT.readManifest().lastBatchId === (nBatches - 1).toLong)
    // and a later commit succeeds immediately
    assert(writerT.merge(Seq(("k0", 9999)).toDF("conv_id", "n"), "conv_id",
      nBatches.toLong))
    writerT.vacuum()
    assert(writerT.dataFilesOnDisk() ===
      writerT.fileStats()._1 + writerT.fileStats()._2)
  }

  test("driver-side get from many threads: each read sees its own key") {
    // bloom + one delta per batch: a read pushing another thread's key
    // would skip the row groups that hold its own
    val t = new IcebergLikeTable(tmpDir("getmt") + "/t", numBuckets = 4,
      inlineCompaction = false, emptySchema = schema, keyBloomNdv = Some(1000L))
    (0 until 4).foreach { b =>
      t.merge((0 until 50).filter(_ % 4 != b).map(i => (s"k$i", b * 100 + i))
        .toDF("conv_id", "n"), "conv_id", b.toLong)
    }
    val expected = t.read().as[(String, Int)].collect().toMap
    val probes = (0 until 60).map(i => s"k$i") // k50..k59 never written
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      (0 until 8).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until 100).foreach { j =>
            val k = probes((w * 37 + j * 11) % probes.size)
            assert(t.get(k).map(_.row.getInt(1)) === expected.get(k), s"get($k)")
          }
        })
      }.foreach(_.get())
    } finally pool.shutdownNow()
  }

  test("metadata-only conflict: a commit computed before a concurrent dropColumn is rejected") {
    val root = tmpDir("metaconflict") + "/t"
    val t = new IcebergLikeTable(root, numBuckets = 2, emptySchema = schema)
    t.merge(Seq(("a", 1)).toDF("conv_id", "n"), "conv_id", 0L)
    // a maintenance operation captures the manifest...
    val stale = t.readManifest()
    // ...then a concurrent writer drops a column (same lastBatchId, same
    // file set — invisible to the old lastBatchId+files comparison)
    t.dropColumn("n")
    // the stale commit must now lose: committing it would resurrect the
    // dropped column and empty the tombstone list
    intercept[ConcurrentModificationException] {
      StoreTestAccess.commit(t)(stale, stale)
    }
    assert(t.readManifest().droppedColumns === Seq("n"))
    assert(!t.schema().fieldNames.contains("n"))
  }

  private def entry(root: String, commit: Long) =
    java.nio.file.Paths.get(root, "log", s"$commit.manifest")

  test("two commits computed from one head: one publishes the next number, the conflicting loser throws CME") {
    val root = tmpDir("race") + "/t"
    val t = new IcebergLikeTable(root, numBuckets = 2, emptySchema = schema)
    t.merge(Seq(("a", 1)).toDF("conv_id", "n"), "conv_id", 0L)
    val head = t.readManifest()
    val c = head.commit + 1
    // the winner: a merge from that head publishes number c
    assert(t.merge(Seq(("b", 2)).toDF("conv_id", "n"), "conv_id", 1L))
    assert(t.readManifest().commit === c)
    // the loser computed batch 1 from the same head: its create of c
    // fails, and the head it re-reads holds another batch
    intercept[ConcurrentModificationException] {
      StoreTestAccess.commit(t)(head, head.copy(lastBatchId = 1L))
    }
    assert(t.readManifest().commit === c)
    assert(java.nio.file.Files.exists(entry(root, c)))
    assert(!java.nio.file.Files.exists(entry(root, c + 1)), "the loser published nothing")
    assert(t.read().as[(String, Int)].collect().toMap === Map("a" -> 1, "b" -> 2))
  }

  test("a loser whose rival only trimmed tombstones rebases and publishes the number after") {
    val root = tmpDir("rebase") + "/t"
    val t = new IcebergLikeTable(root, numBuckets = 1, maxDeltasPerBucket = 2,
      emptySchema = schema)
    t.merge(Seq(("a", 1)).toDF("conv_id", "n"), "conv_id", 0L)
    // compacts inline: batch 0's delta leaves the live set but stays a
    // tombstone, since batch 0's retained entry still references it
    t.merge(Seq(("a", 2)).toDF("conv_id", "n"), "conv_id", 1L)
    val head = t.readManifest()
    assert(head.removed.nonEmpty)
    // the tombstoned files vanish, so the rival vacuum publishes a trim
    head.removed.foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(root, f)))
    t.vacuum()
    assert(t.readManifest().commit === head.commit + 1)
    assert(t.readManifest().removed.isEmpty)
    // a commit computed from the pre-trim head: same batch, files and
    // schema, so no conflict — it rebases onto the trim
    StoreTestAccess.commit(t)(head, head.copy(lastBatchId = 2L))
    val now = t.readManifest()
    assert(now.commit === head.commit + 2)
    assert(now.lastBatchId === 2L)
    assert(now.removed.isEmpty, "the rebased commit must keep the rival's trim")
    assert(t.read().as[(String, Int)].collect().toMap === Map("a" -> 2))
  }

  test("a writer that dies after publishing, before the hint refresh, loses nothing") {
    val root = tmpDir("nohint") + "/t"
    val t = new IcebergLikeTable(root, numBuckets = 2, emptySchema = schema)
    val hint = java.nio.file.Paths.get(root, "manifest.json")
    t.merge(Seq(("a", 1)).toDF("conv_id", "n"), "conv_id", 0L)
    val first = java.nio.file.Files.readAllBytes(hint)
    t.merge(Seq(("b", 2)).toDF("conv_id", "n"), "conv_id", 1L)
    // the hint as a writer leaves it when it dies right after the link
    java.nio.file.Files.write(hint, first)
    assert(t.readManifest().lastBatchId === 1L)
    assert(t.readAsOf(1L).as[(String, Int)].collect().toMap === Map("a" -> 1, "b" -> 2))
    assert(t.readChangesBetween(0L, 1L).as[(String, Int)].collect().toMap === Map("b" -> 2))
    assert(!t.merge(Seq(("b", 3)).toDF("conv_id", "n"), "conv_id", 1L),
      "the published batch is a duplicate delivery")
    assert(t.merge(Seq(("c", 3)).toDF("conv_id", "n"), "conv_id", 2L))
    (3 until 6).foreach(b =>
      t.merge(Seq(("c", b)).toDF("conv_id", "n"), "conv_id", b.toLong))
    // a hint so stale that GC took its own entry: the log listing answers
    assert(!java.nio.file.Files.exists(entry(root, 0L)))
    java.nio.file.Files.write(hint, first)
    assert(t.readManifest().lastBatchId === 5L)
    assert(IcebergLikeTable.open(root).read().as[(String, Int)].collect().toMap ===
      Map("a" -> 1, "b" -> 2, "c" -> 5))
  }

  test("a temp entry stranded before publishing is invisible, survives the vacuum grace window, then is swept") {
    val root = tmpDir("strand") + "/t"
    val t = new IcebergLikeTable(root, numBuckets = 2, emptySchema = schema)
    t.merge(Seq(("a", 1)).toDF("conv_id", "n"), "conv_id", 0L)
    val head = t.readManifest()
    val tmp = StoreTestAccess.strandTemp(t)(
      head.copy(lastBatchId = 99L, commit = head.commit + 1))
    assert(t.readManifest().commit === head.commit)
    assert(t.manifestVersions() === Seq(0L))
    intercept[IllegalArgumentException] { t.readAsOf(99L) }
    t.vacuum(graceMs = 3600L * 1000)
    assert(java.nio.file.Files.exists(tmp), "young temp swept despite grace")
    t.vacuum()
    assert(!java.nio.file.Files.exists(tmp), "grace-less deep clean keeps temps")
    // the number the temp was staged for is still free
    assert(t.merge(Seq(("b", 2)).toDF("conv_id", "n"), "conv_id", 1L))
    assert(t.readManifest().commit === head.commit + 1)
  }

  test("a table whose first commit lost its hint opens from the log; a root with neither throws") {
    val root = tmpDir("openlog") + "/t"
    val t = new IcebergLikeTable(root, numBuckets = 2, emptySchema = schema)
    t.merge(Seq(("a", 1), ("b", 2)).toDF("conv_id", "n"), "conv_id", 0L)
    val committed = t.read().as[(String, Int)].collect().toMap
    // the hint as a writer leaves it when it dies right after the link
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "manifest.json"))
    val opened = IcebergLikeTable.open(root)
    assert(opened.readManifest().lastBatchId === 0L)
    assert(opened.read().as[(String, Int)].collect().toMap === committed)
    val empty = tmpDir("openlog") + "/never"
    intercept[IllegalArgumentException] { IcebergLikeTable.open(empty) }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(empty)),
      "open constructed a table on a root with no commit")
  }

  test("the hint holds the newest entry's bytes after a merge, a compact and a trim; no temp is left") {
    val root = tmpDir("hintbytes") + "/t"
    val t = new IcebergLikeTable(root, numBuckets = 1, maxDeltasPerBucket = 2,
      inlineCompaction = false, emptySchema = schema)
    def check(after: String): Unit = {
      val hint = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(root, "manifest.json"))
      val newest = java.nio.file.Files.readAllBytes(entry(root, t.readManifest().commit))
      assert(hint.sameElements(newest), s"hint != newest entry after $after")
      val log = java.nio.file.Files.list(java.nio.file.Paths.get(root, "log"))
      try assert(!log.iterator().asScala.exists(_.getFileName.toString.endsWith(".tmp")),
        s"temp left under log/ after $after")
      finally log.close()
    }
    t.merge(Seq(("a", 1)).toDF("conv_id", "n"), "conv_id", 0L)
    check("merge")
    t.merge(Seq(("a", 2)).toDF("conv_id", "n"), "conv_id", 1L)
    assert(t.compact())
    check("compact")
    // the compacted-away deltas vanish, so vacuum publishes a trim
    val before = t.readManifest()
    assert(before.removed.nonEmpty)
    before.removed.foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(root, f)))
    t.vacuum()
    assert(t.readManifest().commit === before.commit + 1, "vacuum published no trim")
    check("vacuum's trim")
  }
}
