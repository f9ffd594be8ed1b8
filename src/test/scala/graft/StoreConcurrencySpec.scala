package graft

import java.util.ConcurrentModificationException
import graft.store.{IcebergLikeTable, StoreTestAccess}

/** Multi-writer safety of the store's commit protocol (round-4 hardening):
  * the exclusive commit lock makes the optimistic-concurrency check a
  * genuine CAS (no check-to-rename window), metadata-only commits
  * (dropColumn) conflict too, and vacuum's tail mutations can no longer
  * revert a batch committed mid-walk.
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
    // and the lock is released: a subsequent commit succeeds immediately
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

  test("vacuum plant sweep honors the grace window (in-flight versioned manifests survive)") {
    val root = tmpDir("plantgrace") + "/t"
    val t = new IcebergLikeTable(root, numBuckets = 2, emptySchema = schema)
    t.merge(Seq(("a", 1)).toDF("conv_id", "n"), "conv_id", 0L)
    // a young "future" versioned manifest — mid-commit from another
    // writer's perspective (the old sweep deleted it against a STALE
    // lastBatchId; grace now shields anything younger than the window)
    val plant = java.nio.file.Paths.get(root, "manifest-v99.json")
    java.nio.file.Files.writeString(plant, "lastBatchId=99\n")
    t.vacuum(graceMs = 3600L * 1000)
    assert(java.nio.file.Files.exists(plant), "young plant swept despite grace")
    t.vacuum()
    assert(!java.nio.file.Files.exists(plant), "grace-less deep clean keeps plants")
  }

  test("a stale (orphaned) commit lock is broken, not waited on forever") {
    val root = tmpDir("stalelock") + "/t"
    val t = new IcebergLikeTable(root, numBuckets = 2, emptySchema = schema)
    val lock = java.nio.file.Paths.get(root, "commit.lock")
    java.nio.file.Files.createFile(lock)
    // age it past LockStaleMs (60s) — a crashed holder's leftover
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 120000L))
    assert(t.merge(Seq(("a", 1)).toDF("conv_id", "n"), "conv_id", 0L),
      "commit should break the stale lock and proceed")
    assert(!java.nio.file.Files.exists(lock), "lock released after commit")
  }

  test("release deletes only its OWN lock: a successor's lock survives a slow holder's exit") {
    val root = tmpDir("ownlock") + "/t"
    val t = new IcebergLikeTable(root, numBuckets = 2, emptySchema = schema)
    val lock = java.nio.file.Paths.get(root, "commit.lock")
    // simulate: while this holder runs, a breaker declares it stale and
    // replaces the lock with its own token
    StoreTestAccess.underCommitLock(t) {
      java.nio.file.Files.write(lock, "successor-token".getBytes)
    }
    assert(java.nio.file.Files.exists(lock),
      "the outgoing holder must not delete a lock it no longer owns")
    assert(new String(java.nio.file.Files.readAllBytes(lock)) == "successor-token")
    java.nio.file.Files.delete(lock)
  }

  test("manifest swap is fenced: a holder whose lock was broken mid-commit aborts") {
    val root = tmpDir("fence") + "/t"
    val t = new IcebergLikeTable(root, numBuckets = 2, emptySchema = schema)
    t.merge(Seq(("a", 1)).toDF("conv_id", "n"), "conv_id", 0L)
    val lock = java.nio.file.Paths.get(root, "commit.lock")
    val m = t.readManifest()
    intercept[java.util.ConcurrentModificationException] {
      StoreTestAccess.underCommitLock(t) {
        // breaker stole the lock between this holder's CAS check and its
        // manifest swap — the swap must abort, not commit a stale view
        java.nio.file.Files.write(lock, "thief".getBytes)
        StoreTestAccess.swapManifest(t)(m.copy(lastBatchId = 99L))
      }
    }
    assert(t.readManifest().lastBatchId == 0L, "no split-brain commit landed")
    java.nio.file.Files.deleteIfExists(lock)
    // the loser is safe to re-run: a fresh attempt against current state wins
    assert(t.merge(Seq(("b", 2)).toDF("conv_id", "n"), "conv_id", 1L))
  }
}
