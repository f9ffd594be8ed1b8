package graft.perf

import java.lang.management.ManagementFactory
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.util.LongAccumulator
import graft.model.{ConvSnapshot, Schemas, Turn}
import graft.ops.{DumpManager, DumpService}
import graft.replay.Replay
import graft.serve.ServeApi
import graft.sink.MergeSink
import graft.snapshot.{SnapshotFold, SnapshotStream}
import graft.store.IcebergLikeTable

/** One workload: its input, the table's bucket count, and how its one
  * round runs: a drain of the whole log into a fresh table, then read
  * cycles on that table. A cycle is one replay, one full dump, one
  * incremental dump and `lookupsPerCycle` lookups, interleaved so that a
  * JVM still warming up weighs on every read metric alike; the first cycle
  * is checked but not measured.
  */
final case class Workload(name: String, shape: Shape, buckets: Int,
    lookupsPerCycle: Int, cyclesPer10s: Int) {
  /** Read cycles of a round: fixed by `--seconds`, not by the clock, so
    * every run of a workload does the same operations in the same order.
    */
  def cycles(seconds: Int): Int = math.max(3, math.round(seconds * cyclesPer10s / 10.0).toInt)
  /** Batch an incremental dump starts after: about the last quarter. */
  def since: Int = shape.files - 1 - math.max(1, shape.files / 4)
  /** Replay cut: the end of the middle slice. */
  def cutMs: Long = Gen.cutAfterSlice(shape.files / 2)
}

object Workload {
  val all: Seq[Workload] = Seq(
    Workload("trickle", Shape(convs = 6000, files = 8, maxTurns = 60, zipfS = 1.3,
      hotKeys = 4, hotTurns = 800, maxSpan = 3), buckets = 8, lookupsPerCycle = 3,
      cyclesPer10s = 5),
    Workload("bulk", Shape(convs = 8000, files = 4, maxTurns = 300, zipfS = 1.1,
      hotKeys = 4, hotTurns = 10000, maxSpan = 1), buckets = 8, lookupsPerCycle = 4,
      cyclesPer10s = 4))

  /** Small log for the warm-up drain. */
  val warmUp: Shape = Shape(convs = 60, files = 2, maxTurns = 50, zipfS = 1.2,
    hotKeys = 2, hotTurns = 60, maxSpan = 1)
  /** Read cycles on the warm-up table. */
  val warmUpReads: Int = 4
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`. Prints one JSON result as the last line of stdout.
  */
object Main {
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)
  val ShufflePartitions: Int = Cores

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val w = Workload.all.find(_.name == need("workload")).getOrElse {
      System.err.println(s"unknown workload; one of ${Workload.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val work = Paths.get(need("work")).toAbsolutePath
    Fs.rmrf(work)
    Files.createDirectories(work)
    implicit val spark: SparkSession = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // as graft.Bench: keeps the snapshot fold's aggregate hash-based
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val result =
      try new Run(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1", work).run()
      catch {
        case e: Throwable =>
          e.printStackTrace()
          spark.stop()
          sys.exit(1)
      }
    spark.stop()
    Fs.rmrf(work)
    println(result)
  }
}

/** Per-batch numbers of one drain. The fold/merge/file fields are filled
  * only in a traced run.
  */
final case class BatchStat(batchId: Long, turns: Long, triggerS: Double,
    addBatchS: Double, stateCommitS: Double, stateBytes: Long, keysUpdated: Long,
    foldS: Double = 0, mergeS: Double = 0, compacted: Boolean = false,
    filesWritten: Long = 0, bytesWritten: Long = 0)

final case class Drain(turns: Long, wallS: Double, batches: Seq[BatchStat])

final class Run(w: Workload, seed: Long, seconds: Int, trace: Boolean, work: Path)(
    implicit spark: SparkSession) {
  private val Watermark = "3650 days"
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val sc = spark.sparkContext
  private val tracer = new Tracer(trace)
  private val phases = if (trace) Some(new PhaseListener) else None
  phases.foreach(sc.addSparkListener)

  private val errors = ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  // untraced measurements
  private val replayS = ArrayBuffer.empty[Double]
  private val replayRate = ArrayBuffer.empty[Double]
  private val lookupMs = ArrayBuffer.empty[Double]
  private val dumpS = ArrayBuffer.empty[Double]
  private val dumpRate = ArrayBuffer.empty[Double]
  private val changesS = ArrayBuffer.empty[Double]
  private val changesRate = ArrayBuffer.empty[Double]
  // traced-only measurements
  private val directMs = ArrayBuffer.empty[Double]
  private val storeChangesS = ArrayBuffer.empty[Double]
  private val batchTrace = new ConcurrentHashMap[Long, BatchStat]()
  private var deltaChainMax = 0L
  /** Operations per Spark phase, to report the phase's task metrics per operation. */
  private val opsOf = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)

  private val manager = new DumpManager
  private val published = (sc.longAccumulator("published"), sc.longAccumulator("published-hash"))

  private def phase(p: String): Unit = sc.setLocalProperty(PhaseListener.Key, p)

  private def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Run one operation, counting it attempted, and failed if it throws. */
  private def op(what: String)(body: => Unit): Unit = {
    attempted += 1
    try body catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
    }
  }

  private def mark(step: String): Unit = System.err.println(
    f"[perfbench] $step done at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.3f s")

  def run(): String = {
    phase("setup")
    mark("session")
    val in = Gen.generate(w.shape, seed)
    val inDir = work.resolve("input")
    Gen.write(in, inDir)
    errors ++= Checks.selfTest(in)
    mark(s"input (${in.turns} turns, ${in.keys.length} keys, " +
      s"${in.keysOfFile.map(_.size).mkString("/")} keys per file)")
    warmUp()
    // the warm-up's jobs are charged to no phase
    phases.foreach { l => Shim.waitListenerBus(sc); l.reset() }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    mark("set-up")

    val (steal0, cpu0) = Host.cpu()
    val gc0 = Host.gcMs()
    val cycles = w.cycles(seconds)
    val t0 = System.nanoTime()
    val (table, drain) = tracer.span("timed") {
      val (table, drain) = ingest(in, inDir)
      read(in, inDir, table, cycles)
      (table, drain)
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val (steal1, cpu1) = Host.cpu()
    val gcS = (Host.gcMs() - gc0) / 1e3
    phases.foreach(_ => Shim.waitListenerBus(sc))

    phase("check")
    checkTable("table", in, inDir, table)
    checkReplay(in, inDir)

    val steal = if (cpu1 > cpu0) (steal1 - steal0).toDouble / (cpu1 - cpu0) else 0.0
    System.err.println(f"""[perfbench] diag {"workload":"${w.name}","seed":$seed,""" +
      f""""trace":$trace,"cycles":$cycles,"timed_s":$timedS%.3f,""" +
      f""""steal_share":$steal%.4f,"jvm_gc_s":$gcS%.3f,"cores":${Main.Cores}}""")
    System.err.println("[perfbench] samples: " + Seq("commit_s" -> drain.batches.map(_.triggerS),
      "replay_s" -> replayS, "dump_s" -> dumpS, "changes_s" -> changesS, "lookup_ms" -> lookupMs)
      .map { case (n, xs) => n + "=" + xs.map(x => f"$x%.3f").mkString(",") }.mkString(" "))
    errors.foreach(e => System.err.println(s"[perfbench] check failed: $e"))
    if (trace) {
      tracer.write(work.getParent.resolve(s"trace-${w.name}-$seed.jsonl"))
      printSelfTimes(timedS)
    }
    val metrics = if (trace) perLayer(timedS, table, drain) else endToEnd(setupS, drain)
    metrics.filterNot(_._2.isFinite).foreach(m => errors += s"metric ${m._1} was not measured")
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isFinite) v else -1.0}, "unit": "$u"}""" }
      .mkString(", ")
    s"""{"correct": ${errors.isEmpty}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  // ---- the operations ---------------------------------------------------

  /** A throwaway drain of a small log, then `Workload.warmUpReads` read
    * cycles on its table, so that JIT compilation, query code generation
    * and lazy Spark set-up of the ingest and read paths land before the
    * timed part. Without the read cycles a read took 1.5–2 times as long in
    * the first timed cycles as in the last, and how fast that fell varied
    * between runs.
    */
  private def warmUp(): Unit = {
    val in = Gen.generate(Workload.warmUp, seed + 1)
    val dir = work.resolve("warmup-input")
    Gen.write(in, dir)
    val table = new IcebergLikeTable(work.resolve("warmup-table").toString, w.buckets)
    val q = Replay.fromCheckpoint(turnStream(dir), table,
      work.resolve("warmup-ckpt").toString, Watermark)
    try q.processAllAvailable() finally q.stop()
    val manager = new DumpManager
    val api = new ServeApi(Map("t" -> ServeApi.Target(table)))
    val port = api.start()
    try (0 until Workload.warmUpReads).foreach { c =>
      Replay.toTimestamp(log(dir), new Timestamp(Gen.cutAfterSlice(0)))
        .write.mode("overwrite").format("noop").save()
      publish(DumpService.runDump(manager, "t", table, _))
      publish(DumpService.runIncrementalDump(manager, "t", table, 0L, _))
      (0 until w.lookupsPerCycle).foreach { i =>
        get(port, if (i == 0) Gen.absentId(c) else in.keys((c + i) % in.keys.length))
      }
    } finally api.stop()
  }

  private def turnStream(dir: Path): Dataset[Turn] =
    spark.readStream.schema(Schemas.turn).option("maxFilesPerTrigger", "1")
      .parquet(dir.toString).as[Turn](Encoders.product[Turn])

  private def log(dir: Path): Dataset[Turn] =
    spark.read.schema(Schemas.turn).parquet(dir.toString).as[Turn](Encoders.product[Turn])

  /** Drain the whole log into a fresh table, one file per trigger. */
  private def ingest(in: Input, dir: Path): (IcebergLikeTable, Drain) = {
    phase("ingest")
    val table = new IcebergLikeTable(work.resolve("table").toString, w.buckets)
    val ckpt = work.resolve("ckpt").toString
    val (q, wallS) = tracer.span("replay.drain") {
      val (q, s) = secs {
        val q = if (trace) tracedQuery(dir, table, ckpt, tracer.currentId)
          else Replay.fromCheckpoint(turnStream(dir), table, ckpt, Watermark)
        try q.processAllAvailable() catch { case e: Throwable => q.stop(); throw e }
        q
      }
      q.stop()
      (q, s)
    }
    attempted += in.files.length
    val batches = q.recentProgress.filter(_.numInputRows > 0).map(batchStat).toSeq
    if (batches.size != in.files.length)
      errors += s"drain: progress for ${batches.size} of ${in.files.length} batches"
    opsOf("ingest") += 1
    (table, Drain(in.turns, wallS, batches))
  }

  private def batchStat(p: StreamingQueryProgress): BatchStat = {
    def d(k: String) = Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
    val ops = p.stateOperators.toSeq
    val base = BatchStat(p.batchId, p.numInputRows, d("triggerExecution"), d("addBatch"),
      ops.map(_.commitTimeMs).sum / 1e3, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.numRowsUpdated).sum)
    Option(batchTrace.get(p.batchId)).fold(base)(t => base.copy(foldS = t.foldS,
      mergeS = t.mergeS, compacted = t.compacted, filesWritten = t.filesWritten,
      bytesWritten = t.bytesWritten))
  }

  /** [[Replay.fromCheckpoint]]'s pipeline with spans around the fold and
    * the sink. The fold is forced by persist + count before the sink call,
    * so its time is separable; after the sink, the files the commit wrote
    * are counted.
    */
  private def tracedQuery(dir: Path, table: IcebergLikeTable, ckpt: String,
      parent: Int): StreamingQuery = {
    batchTrace.clear()
    SnapshotStream.updates(turnStream(dir), Watermark).writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (ds: Dataset[ConvSnapshot], id: Long) =>
        phase("ingest")
        val (_, foldS) = secs(tracer.span("snapshot.fold", parent) { ds.persist(); ds.count() })
        val (_, mergeS) = secs(tracer.span("sink.merge", parent) { MergeSink(table)(ds, id) })
        ds.unpersist()
        tracer.span("trace.probe", parent) {
          val root = Paths.get(table.root)
          val written = Seq(s"data/delta-v$id", s"data/base-v$id", s"lineage/v$id", s"signals/v$id")
            .flatMap(d => Fs.below(root.resolve(d)))
            .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
          batchTrace.put(id, BatchStat(id, 0, 0, 0, 0, 0, 0, foldS, mergeS,
            compacted = Files.exists(root.resolve(s"data/base-v$id")),
            filesWritten = written.size, bytesWritten = written.map(Files.size).sum))
        }
        ()
      }
      .start()
  }

  /** Read cycles on `table`. A cycle runs one replay at `cutMs`, one full
    * dump, one incremental dump from batch `since` and `lookups`
    * closed-loop lookups over HTTP (one client; every tenth asks for a key
    * never written and must get 404). Every result is checked. Samples are
    * kept from the second cycle on: the first still pays for code that
    * gets hot only on a table of this size.
    */
  private def read(in: Input, dir: Path, table: IcebergLikeTable, cycles: Int): Unit = {
    val (since, cutMs, lookups) = (w.since, w.cutMs, w.lookupsPerCycle)
    if (trace)
      deltaChainMax = table.readManifest().deltas.values.map(_.size.toLong).maxOption.getOrElse(0L)
    val rnd = new SplittableRandom(seed * 31 + cycles)
    val changed = in.keysChangedAfter(since)
    val api = new ServeApi(Map("t" -> ServeApi.Target(table)))
    val port = api.start()
    var asked = 0
    try (0 until cycles).foreach { c =>
      val keep = c > 0
      phase("replay")
      op("replay") {
        val (_, s) = secs(tracer.span("replay.to_ts") {
          Replay.toTimestamp(log(dir), new Timestamp(cutMs))
            .write.mode("overwrite").format("noop").save()
        })
        opsOf("replay") += 1
        if (keep) {
          replayS += s
          replayRate += in.turns / s
        }
      }

      phase("dump")
      op("dump") {
        val ((n, sum), s) = secs(tracer.span("ops.dump") {
          publish(DumpService.runDump(manager, "t", table, _))
        })
        opsOf("dump") += 1
        if (keep) {
          dumpRate += n / s
          dumpS += s
        }
        errors ++= Checks.keySet("dump", n, sum, in.keys)
      }

      phase("changes")
      op("incremental dump") {
        val ((n, sum), s) = secs(tracer.span("ops.changes") {
          publish(DumpService.runIncrementalDump(manager, "t", table, since.toLong, _))
        })
        opsOf("changes") += 1
        if (keep) {
          changesRate += n / s
          changesS += s
        }
        errors ++= Checks.keySet("incremental dump", n, sum, changed)
      }
      if (trace) {
        phase("store_changes")
        val (_, s) = secs(tracer.span("store.changes") {
          table.readChangesSince(since.toLong).select(col(table.keyCol)).collect()
        })
        if (keep) storeChangesS += s
      }

      phase("serve")
      (0 until lookups).foreach { _ =>
        val key = if (asked % 10 == 9) Gen.absentId(rnd.nextInt(1000000))
          else in.keys(rnd.nextInt(in.keys.length))
        asked += 1
        op("lookup") {
          val ((code, body), s) = secs(tracer.span("serve.get")(get(port, key)))
          opsOf("serve") += 1
          if (keep) lookupMs += s * 1e3
          errors ++= Checks.lookup(key, code, body, in.expected.get(key))
        }
        if (trace) {
          phase("lookup")
          val (_, s) = secs(tracer.span("store.lookup") {
            table.lookup(table.keyCol, key).toJSON.collect()
          })
          if (keep) directMs += s * 1e3
          opsOf("lookup") += 1
        }
      }
    } finally api.stop()
  }

  /** Run a dump with a publisher that counts the keys and sums their
    * hashes; returns (count, hash sum).
    */
  private def publish(dump: (Iterator[String] => Unit) => String): (Long, Long) = {
    val (cnt, sum) = published
    cnt.reset(); sum.reset()
    dump(Publisher(cnt, sum))
    (cnt.sum, sum.sum)
  }

  private def get(port: Int, key: String): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:$port/snapshots/t/entities/$key").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    try {
      val code = c.getResponseCode
      val s = if (code >= 400) c.getErrorStream else c.getInputStream
      try (code, new String(s.readAllBytes(), StandardCharsets.UTF_8)) finally s.close()
    } finally c.disconnect()
  }

  // ---- checks ------------------------------------------------------------

  private def checkTable(what: String, in: Input, dir: Path, t: IcebergLikeTable): Unit = {
    val rows = t.read().collect().map(Checks.snapOf).toSeq
    errors ++= Checks.table(what, rows, in)
    val perBatch = t.signals().groupBy(col("batch_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    errors ++= Checks.signals(what, perBatch, in)
    if (w.name == "bulk") {
      val batch = SnapshotFold.batchSnapshots(log(dir).toDF(), includeToolCounts = true)
        .collect().map(Checks.snapOf).toSet
      if (batch != rows.toSet)
        errors += s"$what: streamed table differs from SnapshotFold.batchSnapshots in " +
          s"${(batch diff rows.toSet).size + (rows.toSet diff batch).size} rows"
    }
  }

  private def checkReplay(in: Input, dir: Path): Unit = {
    val r = Replay.toTimestamp(log(dir), new Timestamp(w.cutMs))
      .agg(count(lit(1)), coalesce(sum(col("turn_count")), lit(0L))).head()
    val want = in.totalsAt(w.cutMs)
    if ((r.getLong(0), r.getLong(1)) != want)
      errors += s"replay at cut: (rows, turns) = (${r.getLong(0)}, ${r.getLong(1)}), expected $want"
  }

  // ---- metrics -----------------------------------------------------------

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  private def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def endToEnd(setupS: Double, drain: Drain): Seq[(String, Double, String)] = {
    val commits = drain.batches
    Seq(
      ("setup_s", setupS, "s"),
      ("ingest_turns_per_s", drain.turns / drain.wallS, "turns/s"),
      ("commit_p50_s", median(commits.map(_.triggerS).toSeq), "s"),
      ("replay_turns_per_s", median(replayRate.toSeq), "turns/s"),
      ("lookup_p50_ms", median(lookupMs.toSeq), "ms"),
      ("dump_keys_per_s", median(dumpRate.toSeq), "keys/s"),
      ("changes_keys_per_s", median(changesRate.toSeq), "keys/s"))
  }

  private def perLayer(timedS: Double, table: IcebergLikeTable,
      drain: Drain): Seq[(String, Double, String)] = {
    val commits = drain.batches
    val root = tracer.all.find(_.name == "timed").map(_.id).getOrElse(-1)
    val self = tracer.selfTimes(root)
    val lastRoot = Paths.get(table.root)
    val onDisk = Fs.below(lastRoot)
    val data = Fs.below(lastRoot.resolve("data"))
    val (plain, compacting) = commits.partition(!_.compacted)
    def ph(p: String): Seq[(String, Double, String)] = {
      val a = phases.get.get(p)
      val per = opsOf(p).toDouble
      Seq((s"spark.$p.task_s", a.taskMs / 1e3 / per, "s"),
        (s"spark.$p.gc_s", a.gcMs / 1e3 / per, "s"),
        (s"spark.$p.shuffle_write_bytes", a.shuffleWrite / per, "bytes"),
        (s"spark.$p.jobs", a.jobs / per, "count"))
    }
    val e2e = endToEnd(0.0, drain).drop(1).map { case (n, v, u) => (s"traced.$n", v, u) }
    Seq(
      ("replay.trigger_overhead_s", median(commits.map(b => b.triggerS - b.addBatchS)), "s"),
      ("replay.to_ts_s", median(replayS.toSeq), "s"),
      ("snapshot.fold_s", commits.map(_.foldS).sum, "s"),
      ("snapshot.state_commit_s", commits.map(_.stateCommitS).sum, "s"),
      ("snapshot.state_bytes", commits.last.stateBytes.toDouble, "bytes"),
      ("snapshot.keys_updated", commits.map(_.keysUpdated).sum.toDouble, "count"),
      ("sink.merge_s", median(plain.map(_.mergeS)), "s"),
      ("sink.compact_merge_s", if (compacting.isEmpty) 0.0 else median(compacting.map(_.mergeS)), "s"),
      ("sink.compacting_batches", compacting.size.toDouble, "count"),
      ("store.files_written_per_commit", commits.map(_.filesWritten).sum.toDouble / commits.size, "count"),
      ("store.bytes_written_per_commit", commits.map(_.bytesWritten).sum.toDouble / commits.size, "bytes"),
      ("store.manifest_bytes", Files.size(lastRoot.resolve("manifest.json")).toDouble, "bytes"),
      ("store.entries_on_disk", onDisk.size.toDouble, "count"),
      ("store.data_parquet_files", data.count(_.toString.endsWith(".parquet")).toDouble, "count"),
      ("store.data_crc_files", data.count(_.toString.endsWith(".crc")).toDouble, "count"),
      ("store.data_dirs", data.count(Files.isDirectory(_)).toDouble, "count"),
      ("store.delta_chain_max", deltaChainMax.toDouble, "count"),
      ("store.lookup_ms", median(directMs.toSeq), "ms"),
      ("store.lookup_jobs", phases.get.get("lookup").jobs.toDouble / opsOf("lookup"), "count"),
      ("store.lookup_bytes_read", phases.get.get("lookup").bytesRead.toDouble / opsOf("lookup"), "bytes"),
      ("store.changes_s", median(storeChangesS.toSeq), "s"),
      ("serve.http_overhead_ms", median(lookupMs.toSeq) - median(directMs.toSeq), "ms"),
      ("ops.dump_s", median(dumpS.toSeq), "s"),
      ("ops.dump_bytes_read", phases.get.get("dump").bytesRead.toDouble / opsOf("dump"), "bytes"),
      ("ops.changes_s", median(changesS.toSeq), "s")) ++
      Seq("ingest", "replay", "serve", "dump", "changes").flatMap(ph) ++
      Seq("replay", "snapshot", "sink", "store", "serve", "ops", "trace", "unattributed")
        .map(l => (s"self.${l}_s", self.getOrElse(l, 0.0), "s")) ++
      Seq(("trace.timed_s", timedS, "s"),
        ("trace.attributed_share", 1.0 - self.getOrElse("unattributed", 0.0) / timedS, "share")) ++
      e2e
  }

  private def printSelfTimes(timedS: Double): Unit = {
    val root = tracer.all.find(_.name == "timed").map(_.id).getOrElse(-1)
    System.err.println(f"[perfbench] self time by layer over $timedS%.3f s timed:")
    tracer.selfTimes(root).toSeq.sortBy(-_._2).foreach { case (l, s) =>
      System.err.println(f"[perfbench]   $l%-14s $s%9.3f s  ${100 * s / timedS}%5.1f %%")
    }
  }
}

/** Dump publisher: counts keys and sums their hashes on the executors. */
final case class Publisher(count: LongAccumulator, hashes: LongAccumulator)
    extends (Iterator[String] => Unit) {
  def apply(keys: Iterator[String]): Unit = keys.foreach { k =>
    count.add(1L)
    hashes.add(Checks.keyHash(k))
  }
}
