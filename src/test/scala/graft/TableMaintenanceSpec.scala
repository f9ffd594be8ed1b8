package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.functions.GzipCodec
import graft.model.{ConvSnapshot, Turn}
import graft.sink.MergeSink
import graft.snapshot.SnapshotFold
import graft.store.IcebergLikeTable

/** Merge-on-read mechanics of the IcebergLikeTable: O(batch) delta
  * appends, threshold compaction, vacuum GC, crash-retry overwrite
  * semantics, schema-stable empty reads — the storage half of the
  * exactly-once contract (SURVEY.md §7.3; VERDICT r1 findings #2/#4).
  */
class TableMaintenanceSpec extends SparkSpec {
  import spark.implicits._
  implicit val s: org.apache.spark.sql.SparkSession = spark

  private def snap(id: String, idx: Int): ConvSnapshot =
    ConvSnapshot(id, idx, "user", "", s"text-$idx", idx + 1L, Map.empty,
      new java.sql.Timestamp(0L), new java.sql.Timestamp(idx * 1000L))

  private def mergeBatch(table: IcebergLikeTable, batchId: Long,
      rows: Seq[ConvSnapshot]): Boolean =
    table.merge(spark.createDataset(rows).toDF(), "conv_id", batchId)

  test("merge appends deltas; compaction bounds the delta chain; read resolves last-writer-wins") {
    val table = new IcebergLikeTable(tmpDir("mor") + "/t", numBuckets = 4,
      maxDeltasPerBucket = 3)
    // 10 batches all touching the same keys: rewrite-on-merge would write
    // the full table 10 times; merge-on-read appends 10 deltas and
    // compacts every 3rd.
    val keys = (0 until 16).map(i => s"conv-$i")
    (0 until 10).foreach { b =>
      assert(mergeBatch(table, b.toLong, keys.map(k => snap(k, b))))
    }
    val (_, deltaCount) = table.fileStats()
    assert(deltaCount <= 4 * (table.maxDeltasPerBucket - 1),
      s"delta chains unbounded: $deltaCount live delta files")
    // last writer wins: every key shows batch 9's state
    val got = table.read().as[ConvSnapshot].collect()
    assert(got.length === keys.length)
    assert(got.forall(_.last_turn_idx === 9))
    assert(got.forall(_.turn_count === 10L))
  }

  test("repeated deferred compaction at one version never overwrites its own base files") {
    val root = tmpDir("compactcollide") + "/t"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "conv_id string, n int")
    val t1 = new IcebergLikeTable(root, numBuckets = 4,
      maxDeltasPerBucket = 3, inlineCompaction = false, emptySchema = schema)
    // batch 0 touches every bucket; batches 1-2 touch only k0's bucket,
    // so ONLY that bucket reaches the 3-delta threshold
    t1.merge((0 until 40).map(i => (s"k$i", i)).toDF("conv_id", "n"),
      "conv_id", 0L)
    t1.merge(Seq(("k0", 100)).toDF("conv_id", "n"), "conv_id", 1L)
    t1.merge(Seq(("k0", 200)).toDF("conv_id", "n"), "conv_id", 2L)
    val content = (1 until 40).map(i => (s"k$i", i)) :+ ("k0" -> 200)
    assert(t1.compact()) // k0's bucket only -> base-v2c
    // a differently-configured process compacts AGAIN at the same
    // lastBatchId (lower threshold): the naive dir name collides with the
    // live base files the first compaction just wrote
    val t2 = new IcebergLikeTable(root, numBuckets = 4,
      maxDeltasPerBucket = 1, inlineCompaction = false, emptySchema = schema)
    assert(t2.compact())
    assert(t2.fileStats()._2 == 0, "all delta chains compacted")
    assert(t2.read().as[(String, Int)].collect().toMap == content.toMap)
  }

  test("vacuum grace window shields in-flight (young, uncommitted) files") {
    val t = new IcebergLikeTable(tmpDir("vacgrace") + "/t", numBuckets = 2,
      emptySchema = org.apache.spark.sql.types.StructType.fromDDL(
        "conv_id string, n int"))
    t.merge(Seq(("a", 1)).toDF("conv_id", "n"), "conv_id", 0L)
    // an uncommitted in-flight delta: fresh file no manifest references
    val orphan = java.nio.file.Paths.get(t.root, "data", "delta-v9", "part-inflight.parquet")
    java.nio.file.Files.createDirectories(orphan.getParent)
    java.nio.file.Files.writeString(orphan, "not-yet-committed")
    t.vacuum(graceMs = 3600L * 1000) // young file survives the deep clean
    assert(java.nio.file.Files.exists(orphan))
    t.vacuum() // default: the single-process semantics delete it
    assert(!java.nio.file.Files.exists(orphan))
  }

  test("vacuum deletes superseded files: disk matches the live manifest") {
    val table = new IcebergLikeTable(tmpDir("vac") + "/t", numBuckets = 4,
      maxDeltasPerBucket = 2, retainManifests = 1)
    val keys = (0 until 8).map(i => s"c$i")
    (0 until 8).foreach(b => mergeBatch(table, b.toLong, keys.map(k => snap(k, b))))
    val (base, delta) = table.fileStats()
    assert(table.dataFilesOnDisk() === base + delta,
      "disk holds parquet files the manifest no longer references")
  }

  test("per-commit GC leaves no .crc without its data file and no empty dir under data/") {
    val root = tmpDir("gclitter") + "/t"
    val table = new IcebergLikeTable(root, numBuckets = 4,
      maxDeltasPerBucket = 2, retainManifests = 1)
    val keys = (0 until 8).map(i => s"c$i")
    // batches 1 and 3 compact inline: each supersedes a whole delta chain
    // (batch 1's own fresh deltas included) and batch 3 also the base
    (0 until 4).foreach(b => mergeBatch(table, b.toLong, keys.map(k => snap(k, b))))
    val (base, delta) = table.fileStats()
    assert(base > 0 && delta === 0, s"expected a compacted table (base=$base delta=$delta)")
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "data"))
    val entries = try walk.iterator().asScala.toList finally walk.close()
    val (dirs, files) = entries.partition(java.nio.file.Files.isDirectory(_))
    val names = files.map(_.toString).toSet
    val orphanCrc = files.map(_.toString).filter(_.endsWith(".crc")).filterNot { c =>
      val p = java.nio.file.Paths.get(c)
      names.contains(p.resolveSibling(
        p.getFileName.toString.stripPrefix(".").stripSuffix(".crc")).toString)
    }
    assert(orphanCrc.isEmpty, s".crc sidecars without their data file: $orphanCrc")
    val bare = dirs.filterNot(d => files.exists(f =>
      f.startsWith(d) && f.getFileName.toString.endsWith(".parquet")))
    assert(bare.isEmpty, s"dirs under data/ without a data file: $bare")
    assert(table.dataFilesOnDisk() === base)
  }

  test("time travel: readAsOf reproduces each retained version; expired versions fail cleanly") {
    val table = new IcebergLikeTable(tmpDir("tt") + "/t", numBuckets = 4,
      retainManifests = 2)
    val keys = (0 until 6).map(i => s"c$i")
    val historical = (0 until 4).map { b =>
      mergeBatch(table, b.toLong, keys.map(k => snap(k, b)))
      b.toLong -> table.read().as[ConvSnapshot].collect()
        .map(x => x.conv_id -> x.last_turn_idx).toMap
    }.toMap
    // retention: last 2 versions survive, older are expired by vacuum
    assert(table.manifestVersions() === Seq(2L, 3L))
    (2L to 3L).foreach { b =>
      val got = table.readAsOf(b).as[ConvSnapshot].collect()
        .map(x => x.conv_id -> x.last_turn_idx).toMap
      assert(got === historical(b), s"version $b diverged")
    }
    intercept[IllegalArgumentException] { table.readAsOf(0L) }
    intercept[IllegalArgumentException] { table.readAsOf(99L) }
  }

  test("deferred compaction: merges never rewrite; compact() bounds chains out-of-band, content unchanged") {
    val table = new IcebergLikeTable(tmpDir("defer") + "/t", numBuckets = 4,
      maxDeltasPerBucket = 3, retainManifests = 1, inlineCompaction = false)
    val keys = (0 until 16).map(i => s"conv-$i")
    (0 until 10).foreach(b => assert(mergeBatch(table, b.toLong, keys.map(k => snap(k, b)))))
    val (base0, delta0) = table.fileStats()
    assert(base0 === 0 && delta0 >= 10,
      s"no merge should have compacted (base=$base0 delta=$delta0)")
    val before = table.read().as[ConvSnapshot].collect().sortBy(_.conv_id).toSeq
    assert(table.compact())
    val (base1, delta1) = table.fileStats()
    assert(delta1 === 0, "every over-threshold bucket should be compacted")
    val after = table.read().as[ConvSnapshot].collect().sortBy(_.conv_id).toSeq
    assert(after === before, "compaction must not change logical content")
    assert(!table.compact(), "nothing left over threshold")
    assert(table.readManifest().lastBatchId === 9L, "compaction is not a new batch")
    assert(table.dataFilesOnDisk() === base1 + delta1,
      "incremental GC should have deleted the superseded delta chain")
  }

  test("a stray versioned manifest file is neither history nor readable") {
    val dir = tmpDir("plant") + "/t"
    val table = new IcebergLikeTable(dir, numBuckets = 4, retainManifests = 2)
    (0 until 3).foreach(b => mergeBatch(table, b.toLong, Seq(snap("a", b))))
    assert(table.manifestVersions() === Seq(1L, 2L))
    // history is the log alone: a manifest-shaped file outside it, for a
    // batch that never committed, must not surface as history or state
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "manifest-v99.json"),
      "lastBatchId=99\ncommit=99\nbucket:0=data/ghost.parquet\n")
    assert(table.manifestVersions() === Seq(1L, 2L))
    intercept[IllegalArgumentException] { table.readAsOf(99L) }
    assert(table.readManifest().lastBatchId === 2L)
    table.vacuum()
    assert(table.readAsOf(2L).count() === 1L, "committed history survives the deep clean")
  }

  test("point lookup launches exactly one job (the scan), agrees with the write-side hash, rejects wrong columns") {
    // maxDeltasPerBucket=1 → the merge compacts immediately, so lookups hit
    // the base-only path (a delta'd bucket legitimately pays the resolve
    // shuffle; the point here is that the HASH no longer costs a job).
    val table = new IcebergLikeTable(tmpDir("lk") + "/t", numBuckets = 4,
      maxDeltasPerBucket = 1)
    val keys = (0 until 16).map(i => s"conv-$i")
    assert(mergeBatch(table, 0L, keys.map(k => snap(k, 3))))
    // driver-local murmur3 bucket must agree with bucketOf for every key —
    // a divergence would return 0 rows for keys landing in other buckets
    keys.foreach { k =>
      assert(table.lookup("conv_id", k).count() === 1L, s"lookup missed $k")
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val n = table.lookup("conv_id", "conv-7").collect().length
      assert(n === 1)
      org.apache.spark.sql.graftshim.Shim.waitListenerBus(spark.sparkContext)
      assert(jobs.get() === 1,
        s"lookup should cost exactly one job (the pruned scan), saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
    intercept[IllegalArgumentException] { table.lookup("other_col", "x") }
  }

  test("a batch retry after a partial write succeeds (overwrite, not ErrorIfExists)") {
    val dir = tmpDir("retry") + "/t"
    val table = new IcebergLikeTable(dir, numBuckets = 4)
    assert(mergeBatch(table, 0L, Seq(snap("a", 0), snap("b", 0))))
    // simulate a crash mid-batch-1: partial delta dir exists, no commit
    val stranded = java.nio.file.Paths.get(dir, "data", "delta-v1", "__bucket=0")
    java.nio.file.Files.createDirectories(stranded)
    java.nio.file.Files.writeString(stranded.resolve("part-junk.parquet"), "junk")
    // the checkpoint re-delivers batch 1 — must overwrite, apply, stay correct
    assert(mergeBatch(table, 1L, Seq(snap("a", 1))))
    val got = table.read().as[ConvSnapshot].collect().map(x => x.conv_id -> x.last_turn_idx).toMap
    assert(got === Map("a" -> 1, "b" -> 0))
  }

  test("empty table reads are schema-stable (dump on empty table = zero rows)") {
    val table = new IcebergLikeTable(tmpDir("empty") + "/t", numBuckets = 4)
    assert(graft.replay.Replay.dump(table).count() === 0L)
    assert(table.lookup("conv_id", "nope").count() === 0L)
    assert(table.lineage().count() === 0L)
    assert(table.signals().count() === 0L)
    assert(table.read().schema.fieldNames.contains("last_turn_idx"))
  }

  test("events-compressed signal payload is recoverable; unknown publishType throws") {
    val updates = spark.createDataset(Seq(snap("c-1", 3))).toDF()
    val sig = MergeSink.signalsOf(updates, 0L, "events-compressed").collect().head
    val recovered = GzipCodec.decompress(
      java.util.Base64.getDecoder.decode(sig.getAs[String]("payload")))
    assert(recovered.contains("\"conv_id\":\"c-1\"") && recovered.contains("\"last_turn_idx\":3"))
    intercept[IllegalArgumentException] {
      MergeSink.signalsOf(updates, 0L, "carrier-pigeon")
    }
  }

  test("table contract (keyCol/statsCol/appendOnly/buckets) persists in the manifest; open() restores it; mismatched writers fail fast") {
    val root = tmpDir("contract") + "/t"
    val docs = Seq(("d-1", 10L, "alpha"), ("d-2", 20L, "beta"))
      .toDF("doc_id", "ts_us", "text")
    val owner = new IcebergLikeTable(root, numBuckets = 4,
      keyCol = "doc_id", emptySchema = docs.schema,
      statsCol = Some("ts_us"), appendOnly = true)
    assert(owner.merge(docs, "doc_id", 0L))

    // open() reconstructs the committed contract, not the defaults
    val reopened = IcebergLikeTable.open(root)
    assert(reopened.keyCol === "doc_id")
    assert(reopened.statsCol === Some("ts_us"))
    assert(reopened.appendOnly === true)
    assert(reopened.currentBuckets() === 4)
    // and a rewrite through it keeps resolving by the RIGHT key and
    // keeps enriching per-file stats
    assert(reopened.merge(Seq(("d-3", 30L, "gamma"))
      .toDF("doc_id", "ts_us", "text"), "doc_id", 1L))
    assert(reopened.compact() || true) // may be below the chain threshold
    assert(reopened.read().count() === 3L)
    assert(reopened.readManifest().statsColOpt === Some("ts_us"))
    assert(reopened.readManifest().fileStats.nonEmpty,
      "per-file range stats must survive a reopened-process rewrite")

    // a maintenance writer constructed with contradicting defaults is
    // rejected at commit time (before the swap) — the nasty variant is a
    // DECOY column matching the wrong default key, where resolution
    // silently succeeds last-writer-wins by the wrong column: exercise
    // it through a real compaction rewrite
    val decoy = Seq(("d-4", "c-9", 40L, "delta"), ("d-5", "c-9", 50L, "eps"))
      .toDF("doc_id", "conv_id", "ts_us", "text")
    val root2 = tmpDir("contract-decoy") + "/t"
    val owner2 = new IcebergLikeTable(root2, numBuckets = 2,
      keyCol = "doc_id", emptySchema = decoy.schema,
      statsCol = Some("ts_us"), inlineCompaction = false)
    assert(owner2.merge(decoy, "doc_id", 0L))
    val wrongKey = new IcebergLikeTable(root2, numBuckets = 2,
      emptySchema = decoy.schema, statsCol = Some("ts_us"),
      maxDeltasPerBucket = 1) // keyCol default conv_id — the decoy resolves
    val e1 = intercept[IllegalStateException] { wrongKey.compact() }
    assert(e1.getMessage.contains("key column"))
    val statsBlind = new IcebergLikeTable(root2, numBuckets = 2,
      keyCol = "doc_id", emptySchema = decoy.schema,
      maxDeltasPerBucket = 1) // statsCol=None — rewrite would strip stats
    val e2 = intercept[IllegalStateException] { statsBlind.compact() }
    assert(e2.getMessage.contains("statsCol"))
    // the guarded table is untouched: still readable, stats intact
    assert(IcebergLikeTable.open(root2).read().count() === 2L)

    // open() on a never-committed root is a loud error, not a
    // default-config table
    intercept[IllegalArgumentException] {
      IcebergLikeTable.open(tmpDir("contract-missing") + "/t")
    }
  }

  test("appendOnly is sticky-false: a non-declaring writer demotes the table") {
    val root = tmpDir("sticky") + "/t"
    val docs = Seq(("d-1", 10L)).toDF("doc_id", "ts_us")
    val owner = new IcebergLikeTable(root, numBuckets = 2,
      keyCol = "doc_id", emptySchema = docs.schema, appendOnly = true)
    assert(owner.merge(docs, "doc_id", 0L))
    assert(IcebergLikeTable.open(root).appendOnly === true)
    // an updating (non-append-only) writer may violate the declaration —
    // the commit clears the flag so readers stop taking the exact
    // delta-bearing range path
    val updater = new IcebergLikeTable(root, numBuckets = 2,
      keyCol = "doc_id", emptySchema = docs.schema) // appendOnly = false
    assert(updater.merge(Seq(("d-1", 11L)).toDF("doc_id", "ts_us"),
      "doc_id", 1L))
    assert(IcebergLikeTable.open(root).appendOnly === false)
  }

  test("gzip codec round-trips arbitrary strings, including empty and unicode") {
    val cases = Seq("", "a", "hello world", "züricher straße 😀",
      "x" * 10000, (0 until 256).map(_.toChar).mkString)
    cases.foreach { c =>
      assert(GzipCodec.decompress(GzipCodec.compress(c)) === c)
    }
    // column form round-trips through Spark
    val df = Seq("payload-1", "påyload-2").toDF("v")
      .select(GzipCodec.gunzipB64(GzipCodec.gzipB64(col("v"))).as("rt"), col("v"))
    assert(df.filter(col("rt") =!= col("v")).count() === 0L)
  }
}
