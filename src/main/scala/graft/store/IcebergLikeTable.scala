package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.model.Schemas

/** Iceberg-*shaped* snapshot table (SURVEY.md §7.0, §7.3): Parquet data
  * files laid out in hash buckets `bucket = pmod(hash(key), B)` plus an
  * atomic JSON-ish manifest that is the single source of truth for which
  * files are live. Commit = write-temp + atomic rename, exactly the
  * visibility contract `MERGE INTO` gives on a real Iceberg table (no
  * Iceberg runtime jar exists in this image; the interface is drop-in
  * replaceable).
  *
  * znap analog: the DynamoDB KV snapshot table
  * (reference: persistence/dynamo/DynamoDBEventsWriter.scala:32-53) — but
  * MERGE here is transactional per micro-batch rather than convergent
  * per-item, which upgrades znap's at-least-once/idempotent-put argument
  * (SURVEY.md §1.3) to exactly-once.
  *
  * Scale shape — merge-on-read: each MERGE appends O(batch) delta files
  * (bucket-partitioned, tagged with a per-row `__seq` = batchId); readers
  * resolve last-writer-wins per key by max `__seq`. A bucket whose delta
  * count reaches `maxDeltasPerBucket` is compacted (base ∪ deltas resolved
  * and rewritten) inside the same commit, so per-batch write volume is
  * O(batch) amortized — NOT O(table), which a rewrite-on-every-merge
  * design degrades to once micro-batches touch most buckets. Superseded
  * files are vacuumed after each commit (files no longer referenced by the
  * live manifest), so storage is bounded by live data + in-flight deltas.
  *
  * Invariant assumed of `updates`: at most one row per key per batch (the
  * fMGWS fold emits exactly one updated snapshot per touched key), so
  * (key, __seq) is unique and last-writer-wins resolution is total.
  */
/** `statsCol`: optional integral column whose per-file (min, max) bounds
  * are recorded in the manifest at write time (parquet-footer read,
  * driver-side, O(new files) per commit — the Iceberg column-stats
  * analog) and used by [[IcebergLikeTable.readRange]] to SKIP files whose
  * range cannot intersect a time/sequence-bounded read. Must be a
  * top-level int/long column (e.g. `ts_us`); files without readable
  * stats are never skipped, so correctness cannot depend on the footer.
  */
/** `keyBloomNdv`: when set, every data file is written with a parquet
  * BLOOM FILTER on the key column (`parquet.bloom.filter.enabled#key`,
  * sized for this many distinct keys per file). Point lookups then skip
  * row groups that cannot contain the key at the parquet layer — the
  * pruning dimension min/max stats cannot provide here: files are
  * key-SORTED so page stats prune well inside big compacted bases, but a
  * delta file is one batch-sized row group whose key range spans the
  * whole space, so a bucket with d outstanding deltas reads d + 1 row
  * groups per lookup without the bloom and ~1 with it (fpp ≈ 1%). This
  * is the Iceberg/Parquet bloom-filter analog of the round-3 decision
  * note ("min/max useless for keys under hash bucketing — bloom is the
  * viable variant"). Cost: ~1.2 bytes/key per file at the default fpp;
  * pick the expected per-bucket batch size, not the table size.
  */
object IcebergLikeTable {
  /** Internal delete-marker column (merge-on-read row-level deletes, the
    * equality-delete analog): a delta row `(key, __del = true, __seq)`
    * means "key deleted as of __seq". Snapshot reads filter marked keys
    * out; the change feed ships the marker so downstream replicas /
    * views apply the delete; compaction RETAINS markers (purging one
    * would silently un-deliver the delete to lagging CDC consumers) —
    * [[IcebergLikeTable.purgeDeletes]] is the explicit retention op.
    * A merge batch may carry this column to mix upserts and deletes;
    * it never enters the committed table schema.
    */
  val DeleteCol = "__del"

  /** One resolved row of [[IcebergLikeTable.get]], in Catalyst's internal
    * form, with the committed schema it was read under.
    */
  final case class Entity(schema: StructType, row: InternalRow)

  /** Open an EXISTING table from its committed contract: bucket count,
    * key column, stats column, and append-only declaration all come from
    * the manifest (stamped there by every commit), so an out-of-band
    * process — Maintain's compact / optimize / rebucket / purge-deletes
    * rewrites, a replica, an ad-hoc reader — cannot accidentally resolve
    * by the wrong key or strip per-file stats by constructing with
    * mismatched defaults. Writer-side knobs that are NOT table contract
    * (compaction policy, bloom sizing) stay parameters. Throws on a
    * missing/empty manifest: opening a table that was never committed is
    * a deployment error, not a default-config table.
    */
  def open(root: String, inlineCompaction: Boolean = true,
      keyBloomNdv: Option[Long] = None, autoVacuum: Boolean = true,
      maxDeltasPerBucket: Int = 8, retainManifests: Int = 2)(
      implicit spark: SparkSession): IcebergLikeTable = {
    // existence check BEFORE any table construction: the constructor
    // creates root/data, so a probe instance on a typo'd path would
    // side-effect the filesystem and mask the typo on retry
    require(Files.exists(Paths.get(root, "manifest.json")),
      s"IcebergLikeTable.open('$root'): no committed manifest — construct " +
        "the table explicitly to create it")
    val probe = new IcebergLikeTable(root, numBuckets = 8)
    val m = probe.readManifest()
    require(m.lastBatchId >= 0L,
      s"IcebergLikeTable.open('$root'): no committed manifest — construct " +
        "the table explicitly to create it")
    new IcebergLikeTable(root,
      numBuckets = m.bucketCount.getOrElse(8),
      keyCol = m.keyColOpt.getOrElse("conv_id"),
      maxDeltasPerBucket = maxDeltasPerBucket,
      autoVacuum = autoVacuum,
      emptySchema = m.tableSchema.getOrElse(Schemas.snapshot),
      retainManifests = retainManifests,
      inlineCompaction = inlineCompaction,
      statsCol = m.statsColOpt,
      keyBloomNdv = keyBloomNdv,
      appendOnly = m.appendOnlyOpt.getOrElse(false))
  }
}

final class IcebergLikeTable(val root: String, val numBuckets: Int,
    val keyCol: String = "conv_id", val maxDeltasPerBucket: Int = 8,
    val autoVacuum: Boolean = true, val emptySchema: StructType = Schemas.snapshot,
    val retainManifests: Int = 2, val inlineCompaction: Boolean = true,
    val maxDeltaBytesPerBucket: Long = Long.MaxValue,
    val statsCol: Option[String] = None,
    val keyBloomNdv: Option[Long] = None,
    val appendOnly: Boolean = false)(
    implicit spark: SparkSession) {

  private val manifestPath: Path = Paths.get(root, "manifest.json")
  Files.createDirectories(Paths.get(root, "data"))

  // ---- commit lock ---------------------------------------------------
  /** Exclusive commit lock (O_EXCL file create — atomic on POSIX): held
    * around every manifest mutation's read-check-rename. With the
    * pre-swap fence in [[commitManifest]] this narrows the split-brain
    * window to the microseconds between a passed ownership re-check and
    * the rename landing, reachable only after a holder pauses longer
    * than LockStaleMs (GC/IO stall) AND loses the break race — not a
    * byte-for-byte CAS, which a plain filesystem cannot express; a real
    * deployment delegates that final word to its catalog. This is the
    * local analog of the catalog CAS a real deployment delegates to
    * (Iceberg: the catalog's atomic swap; znap: DynamoDB conditional
    * writes, reference persistence/dynamo/DynamoDBEventsWriter.scala:25-53).
    * Data-file writes stay OUTSIDE the lock — only the metadata swap
    * serializes, so lock hold time is O(manifest), never O(batch).
    *
    * A lock older than [[LockStaleMs]] is presumed orphaned by a crashed
    * holder and broken; acquisition gives up loudly after [[LockWaitMs]].
    */
  private val lockPath: Path = Paths.get(root, "commit.lock")
  private val LockWaitMs = 60000L
  private val LockStaleMs = 60000L

  /** Token of the lock THIS thread holds (null outside withCommitLock):
    * lets [[commitManifest]] re-verify ownership immediately before the
    * manifest swap — the fencing check that turns a stale-break race
    * into a loud abort instead of a split-brain commit.
    */
  private val holderToken = new ThreadLocal[String]

  private def ownsLock(token: String): Boolean =
    try new String(Files.readAllBytes(lockPath),
      java.nio.charset.StandardCharsets.UTF_8) == token
    catch { case _: java.io.IOException => false }

  /** The lock file carries its owner's unique token, so (a) release
    * deletes the lock ONLY while it still holds this acquisition's token
    * — a slow-but-alive holder whose lock was broken as stale can no
    * longer destroy its successor's lock on the way out — and (b) a
    * stale break is an atomic RENAME to a unique name (exactly one of N
    * concurrent breakers wins; delete-then-create would admit several).
    */
  private[store] def withCommitLock[A](body: => A): A = {
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + LockWaitMs
    var held = false
    while (!held) {
      try {
        Files.write(lockPath, token.getBytes(
          java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        held = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          try {
            val age = System.currentTimeMillis() -
              Files.getLastModifiedTime(lockPath).toMillis
            if (age > LockStaleMs) {
              // Token-verified break: between the age check and the
              // rename, the stale holder can release and a NEW writer
              // acquire — blind rename-then-delete would destroy the
              // fresh lock (its innocent commit then aborts at the
              // fence). Read the stale token first; if the renamed file
              // carries a DIFFERENT one, we stole a fresh lock — put it
              // back. (If the restore itself loses a race to a third
              // writer's CREATE_NEW, the fence still catches it loudly —
              // the unrepairable case degrades to the old behavior.)
              val staleTok = new String(Files.readAllBytes(lockPath),
                java.nio.charset.StandardCharsets.UTF_8)
              val broken = Paths.get(root, s"commit.lock.broken-$token")
              Files.move(lockPath, broken) // atomic: one breaker wins
              val brokenTok = new String(Files.readAllBytes(broken),
                java.nio.charset.StandardCharsets.UTF_8)
              if (brokenTok == staleTok) Files.deleteIfExists(broken)
              else try Files.move(broken, lockPath)
              catch { case _: java.io.IOException =>
                Files.deleteIfExists(broken) }
            }
          } catch { case _: java.io.IOException => () } // released / lost the break race
          if (System.currentTimeMillis() > deadline)
            throw new java.util.ConcurrentModificationException(
              s"commit lock $lockPath held for > ${LockWaitMs}ms — " +
                "another writer is stuck or the lock is orphaned")
          Thread.sleep(5)
      }
    }
    holderToken.set(token)
    try body finally {
      holderToken.remove()
      // delete only OUR lock: if a breaker renamed it away, lockPath is
      // absent or holds the successor's token and must be left alone
      if (ownsLock(token)) Files.deleteIfExists(lockPath)
    }
  }

  // ---- manifest ------------------------------------------------------
  /** lastBatchId = -1 means "empty table". `buckets` are the compacted
    * base files; `deltas` the per-bucket ordered delta files appended
    * since that bucket's last compaction.
    */
  /** `removed` is the tombstone log: data files superseded by some commit
    * but possibly still referenced by a retained versioned manifest (time
    * travel). Incremental GC deletes a tombstoned file — and drops its log
    * entry — once no retained manifest references it, so per-commit GC
    * cost is O(tombstones + R small manifests), never O(files-on-disk).
    */
  /** `tableSchema` is the committed table schema (Iceberg's schema-in-
    * metadata): reads apply it explicitly, so scans never probe parquet
    * footers for inference, additive column evolution is a manifest
    * update, and time travel restores the schema each version HAD.
    * Absent (legacy manifests) ⇒ the constructor's `emptySchema`.
    */
  /** `bucketCount` is the committed hash-bucket count (Iceberg partition-
    * spec evolution, bucket transform): absent on legacy manifests ⇒ the
    * constructor's `numBuckets`. [[rebucket]] changes it with a rewrite;
    * every write/lookup hashes with the COMMITTED count, so a reader
    * process constructed with a stale `numBuckets` still prunes
    * correctly.
    */
  /** `droppedColumns` are names removed by [[dropColumn]]: columns are
    * matched BY NAME (no Iceberg field ids), so re-adding a dropped name
    * would silently resurrect old file values — the tombstone list makes
    * that a loud rejection instead.
    */
  /** `fileStats` maps a live data file to its (min, max) bounds of
    * [[statsCol]] — absent entries mean "unknown, never skip".
    */
  /** `keyColOpt` / `statsColOpt` / `appendOnlyOpt` persist the table's
    * CONTRACT (like `bucketCount`): the resolution key, the stats column
    * files are range-pruned on, and the append-only declaration. Stamped
    * by [[commitManifest]] from the committing writer's config; read back
    * by [[IcebergLikeTable.open]] so an out-of-band process (Maintain's
    * compact / optimize / rebucket / purge-deletes rewrites) resolves by
    * the RIGHT key and keeps enriching per-file stats — before these were
    * persisted, a Maintain run against a table keyed on another column
    * would resolve last-writer-wins by the wrong key (data loss) and
    * strip every `stat:` entry (silent loss of range pruning). A writer
    * whose config contradicts the manifest is rejected at commit time.
    */
  /** `lastDeleteBatch` / `purgedDeletesTo` track whether any live file can
    * carry a delete marker (`lastDeleteBatch > purgedDeletesTo`): while
    * false, reads use the exact pre-delete scan shape — no marker column
    * in the read schema, no filter, nothing extra in the resolution
    * struct (measured: the unconditionally widened schema cost ~8-19% on
    * the 48M-row store_read microbench; see BENCH.md). A delete commit
    * raises `lastDeleteBatch`; [[purgeDeletes]] raises `purgedDeletesTo`.
    */
  final case class Manifest(lastBatchId: Long, buckets: Map[Int, Seq[String]],
      deltas: Map[Int, Seq[String]], lineageFiles: Seq[String],
      signalFiles: Seq[String], removed: Seq[String] = Nil,
      tableSchema: Option[StructType] = None,
      bucketCount: Option[Int] = None,
      droppedColumns: Seq[String] = Nil,
      fileStats: Map[String, (Long, Long)] = Map.empty,
      lastDeleteBatch: Long = -1L,
      purgedDeletesTo: Long = -1L,
      keyColOpt: Option[String] = None,
      statsColOpt: Option[String] = None,
      appendOnlyOpt: Option[Boolean] = None) {
    def dataFiles: Seq[String] =
      (buckets.values.flatten ++ deltas.values.flatten).toSeq
    def hasDeletes: Boolean = lastDeleteBatch > purgedDeletesTo
  }

  /** The current committed schema (declared schema before any commit). */
  def schema(): StructType = readManifest().tableSchema.getOrElse(emptySchema)

  private def bucketsOf(m: Manifest): Int = m.bucketCount.getOrElse(numBuckets)

  /** The current committed bucket count. */
  def currentBuckets(): Int = bucketsOf(readManifest())

  def readManifest(): Manifest =
    if (!Files.exists(manifestPath)) Manifest(-1L, Map.empty, Map.empty, Nil, Nil)
    else parseManifest(Files.readString(manifestPath))

  /** Parse a (possibly concurrently-expired) versioned manifest: a commit
    * landing between the caller's listing and this read may have GC'd the
    * file — an expired version's uniquely-referenced files are
    * legitimately collectable, so "gone" safely reads as "no references".
    */
  private def parseManifestIfExists(p: Path): Option[Manifest] =
    try { if (Files.exists(p)) Some(parseManifest(Files.readString(p))) else None }
    catch { case _: java.nio.file.NoSuchFileException => None }

  private def parseManifest(s: String): Manifest = {
    // format (one entry per line, written by renderManifest):
    //   lastBatchId=<n>
    //   lineage=<f1>,<f2>
    //   signals=<f1>,<f2>
    //   bucket:<id>=<f1>,<f2>,...      (compacted base)
    //   delta:<id>=<f1>,<f2>,...       (merge-on-read deltas, seq order)
    val lines = s.split("\n").filter(_.nonEmpty)
    var last = -1L
    val buckets = scala.collection.mutable.Map[Int, Seq[String]]()
    val deltas = scala.collection.mutable.Map[Int, Seq[String]]()
    var lineage: Seq[String] = Nil
    var signals: Seq[String] = Nil
    var removed: Seq[String] = Nil
    var dropped: Seq[String] = Nil
    var schemaOpt: Option[StructType] = None
    var bucketsOpt: Option[Int] = None
    var lastDel = -1L
    var purgedTo = -1L
    var keyOpt: Option[String] = None
    var statsColO: Option[String] = None
    var appendO: Option[Boolean] = None
    val stats = scala.collection.mutable.Map[String, (Long, Long)]()
    lines.foreach {
      case l if l.startsWith("lastBatchId=") => last = l.substring(12).toLong
      case l if l.startsWith("schema=") =>
        schemaOpt = Some(org.apache.spark.sql.types.DataType
          .fromJson(l.substring(7)).asInstanceOf[StructType])
      case l if l.startsWith("numBuckets=") =>
        bucketsOpt = Some(l.substring(11).toInt)
      case l if l.startsWith("lineage=") =>
        lineage = l.substring(8).split(",").filter(_.nonEmpty).toSeq
      case l if l.startsWith("signals=") =>
        signals = l.substring(8).split(",").filter(_.nonEmpty).toSeq
      case l if l.startsWith("removed=") =>
        removed = l.substring(8).split(",").filter(_.nonEmpty).toSeq
      case l if l.startsWith("droppedCols=") =>
        dropped = l.substring(12).split(",").filter(_.nonEmpty).toSeq
      case l if l.startsWith("keyCol=") =>
        keyOpt = Some(l.substring(7))
      case l if l.startsWith("statsCol=") =>
        statsColO = Some(l.substring(9))
      case l if l.startsWith("appendOnly=") =>
        appendO = Some(l.substring(11).toBoolean)
      case l if l.startsWith("lastDeleteBatch=") =>
        lastDel = l.substring(16).toLong
      case l if l.startsWith("purgedDeletesTo=") =>
        purgedTo = l.substring(16).toLong
      case l if l.startsWith("bucket:") =>
        val Array(k, v) = l.substring(7).split("=", 2)
        buckets(k.toInt) = v.split(",").filter(_.nonEmpty).toSeq
      case l if l.startsWith("delta:") =>
        val Array(k, v) = l.substring(6).split("=", 2)
        deltas(k.toInt) = v.split(",").filter(_.nonEmpty).toSeq
      case l if l.startsWith("stat:") =>
        // the path itself contains '=' (…/__bucket=N/…) — the value
        // separator is the LAST '=' (min,max carry none)
        val body = l.substring(5)
        val cut = body.lastIndexOf('=')
        val Array(mn, mx) = body.substring(cut + 1).split(",", 2)
        stats(body.substring(0, cut)) = (mn.toLong, mx.toLong)
      case _ =>
    }
    Manifest(last, ListMap(buckets.toSeq.sortBy(_._1): _*),
      ListMap(deltas.toSeq.sortBy(_._1): _*), lineage, signals, removed,
      schemaOpt, bucketsOpt, dropped, stats.toMap, lastDel, purgedTo,
      keyOpt, statsColO, appendO)
  }

  private def renderManifest(m: Manifest): String = {
    val sb = new StringBuilder
    sb.append(s"lastBatchId=${m.lastBatchId}\n")
    m.tableSchema.foreach(s => sb.append(s"schema=${s.json}\n"))
    m.bucketCount.foreach(n => sb.append(s"numBuckets=$n\n"))
    m.keyColOpt.foreach(k => sb.append(s"keyCol=$k\n"))
    m.statsColOpt.foreach(c => sb.append(s"statsCol=$c\n"))
    m.appendOnlyOpt.foreach(a => sb.append(s"appendOnly=$a\n"))
    sb.append(s"lineage=${m.lineageFiles.mkString(",")}\n")
    sb.append(s"signals=${m.signalFiles.mkString(",")}\n")
    sb.append(s"removed=${m.removed.mkString(",")}\n")
    if (m.droppedColumns.nonEmpty)
      sb.append(s"droppedCols=${m.droppedColumns.mkString(",")}\n")
    if (m.lastDeleteBatch >= 0L)
      sb.append(s"lastDeleteBatch=${m.lastDeleteBatch}\n")
    if (m.purgedDeletesTo >= 0L)
      sb.append(s"purgedDeletesTo=${m.purgedDeletesTo}\n")
    m.buckets.toSeq.sortBy(_._1).foreach { case (b, fs) =>
      sb.append(s"bucket:$b=${fs.mkString(",")}\n")
    }
    m.deltas.toSeq.sortBy(_._1).foreach { case (b, fs) =>
      sb.append(s"delta:$b=${fs.mkString(",")}\n")
    }
    // only live files' stats survive a commit — entries for GC'd files
    // age out with the file set instead of accumulating forever
    val live = m.dataFiles.toSet
    m.fileStats.toSeq.filter(kv => live.contains(kv._1)).sortBy(_._1)
      .foreach { case (f, (mn, mx)) => sb.append(s"stat:$f=$mn,$mx\n") }
    sb.toString
  }

  /** Atomic commit: temp file + rename (same-dir rename is atomic on the
    * local FS; on object stores this is the metadata-swap an Iceberg
    * catalog performs).
    */
  /** `writeVersioned = false` is for metadata-only commits at the SAME
    * lastBatchId that must not rewrite that version's history entry —
    * [[dropColumn]]: overwriting manifest-v<id> with the post-drop schema
    * would destroy pre-drop time travel. (Compaction/rebucket overwrite
    * legitimately: same logical content, new layout.)
    */
  private[store] def commitManifest(m: Manifest, writeVersioned: Boolean = true): Unit = {
    // Contract guard + stamp (see Manifest.keyColOpt doc): a writer whose
    // key / stats config contradicts the committed contract must fail
    // BEFORE the swap — a wrong-key rewrite resolves last-writer-wins by
    // the wrong column (data loss); a stats-blind rewrite silently strips
    // every per-file range stat. appendOnly is sticky-FALSE: a writer not
    // declaring it demotes the table, so readers stop taking the exact
    // delta-bearing range path a violating update would have poisoned.
    val disk = parseManifestIfExists(manifestPath)
    disk.flatMap(_.keyColOpt).foreach { k =>
      if (k != keyCol) throw new IllegalStateException(
        s"table contract: manifest key column '$k' != this writer's " +
          s"'$keyCol' — open the table via IcebergLikeTable.open(root)")
    }
    disk.flatMap(_.statsColOpt).foreach { c =>
      if (!statsCol.contains(c)) throw new IllegalStateException(
        s"table contract: manifest statsCol '$c' != this writer's " +
          s"'${statsCol.getOrElse("<none>")}' — a rewrite would strip " +
          "per-file range stats; open the table via IcebergLikeTable.open(root)")
    }
    val stamped = m.copy(
      keyColOpt = Some(keyCol),
      statsColOpt = statsCol.orElse(m.statsColOpt),
      appendOnlyOpt =
        Some(appendOnly && disk.flatMap(_.appendOnlyOpt).getOrElse(true)))
    commitStamped(stamped, writeVersioned)
  }

  private def commitStamped(m: Manifest, writeVersioned: Boolean): Unit = {
    // Atomic main swap FIRST — it alone gates visibility. The versioned
    // copy (time travel / snapshot history, the Iceberg snapshot-log
    // analog) follows, also via temp + ATOMIC_MOVE: a crash between the
    // two writes leaves a committed batch with no history entry (time
    // travel to it fails cleanly) — never a history entry for an
    // uncommitted batch, which the old order could expose via readAsOf.
    val tmp = Paths.get(root, s"manifest.tmp.${m.lastBatchId}")
    Files.writeString(tmp, renderManifest(m))
    // Fencing: if this thread entered under the commit lock but the lock
    // was since broken as stale (the holder outlived LockStaleMs), a
    // successor may already be committing — abort loudly rather than
    // swap a manifest computed from a superseded snapshot.
    val tok = holderToken.get
    if (tok != null && !ownsLock(tok)) {
      Files.deleteIfExists(tmp)
      throw new java.util.ConcurrentModificationException(
        "commit lock lost (broken as stale) before the manifest swap — " +
          "re-run against the current state")
    }
    Files.move(tmp, manifestPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    if (writeVersioned) {
      // Same-version maintenance commits (compact/rebucket/vacuum at an
      // unchanged lastBatchId) legitimately rewrite this version's FILE
      // LAYOUT — but must not rewrite the SCHEMA the version had: after a
      // dropColumn (which deliberately skipped its versioned write), the
      // retained history entry still carries the pre-drop schema, and
      // time travel keeps restoring the column (values until a rewrite
      // ages the bytes out; nulls after — the retention contract).
      val vPath = Paths.get(root, s"manifest-v${m.lastBatchId}.json")
      val vm =
        if (Files.exists(vPath)) {
          val prev = parseManifest(Files.readString(vPath))
          m.copy(tableSchema = prev.tableSchema.orElse(m.tableSchema),
            droppedColumns = prev.droppedColumns)
        } else m
      val vTmp = Paths.get(root, s"manifest.vtmp.${m.lastBatchId}")
      Files.writeString(vTmp, renderManifest(vm))
      Files.move(vTmp, vPath,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Committed batch ids with a retained versioned manifest, ascending.
    * Versioned files beyond the committed lastBatchId (plantable only by
    * external interference — the commit ordering above cannot produce
    * them) are excluded: they are not history.
    */
  def manifestVersions(): Seq[Long] = {
    val last = readManifest().lastBatchId
    val ls = Files.list(Paths.get(root))
    try ls.iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("manifest-v") && n.endsWith(".json"))
      .map(_.stripPrefix("manifest-v").stripSuffix(".json").toLong)
      .filter(_ <= last)
      .toSeq.sorted
    finally ls.close()
  }

  /** Time travel: the table as of committed batch `batchId` (Iceberg
    * `VERSION AS OF`; znap's replay-to-offset made a storage-layer
    * feature). Valid while the version's manifest survives retention —
    * vacuum keeps the last [[retainManifests]] versions' files, exactly
    * like Iceberg's expire_snapshots bounds its history.
    */
  def readAsOf(batchId: Long): DataFrame = scanResolved(retainedManifest(batchId))

  /** The retained versioned manifest of `batchId`, or a loud failure once
    * retention expired it (shared by [[readAsOf]]/[[readChangesBetween]]).
    */
  private def retainedManifest(batchId: Long): Manifest = {
    val vPath = Paths.get(root, s"manifest-v$batchId.json")
    val parsed =
      if (batchId > readManifest().lastBatchId) None
      else parseManifestIfExists(vPath)
    parsed.getOrElse(throw new IllegalArgumentException(
      s"no committed retained manifest for batch $batchId " +
        s"(retained: ${manifestVersions().mkString(",")})"))
  }

  /** Snapshot read of a manifest: schema-stable empty frame, clean-base
    * fast path (no resolution when no deltas exist), last-writer-wins
    * resolution otherwise (shared by [[read]]/[[readAsOf]]).
    */
  private def scanResolved(m: Manifest): DataFrame = {
    val files = m.dataFiles.map(f => s"$root/$f")
    if (files.isEmpty) emptyDf(m.tableSchema.getOrElse(emptySchema))
    else if (m.deltas.values.forall(_.isEmpty))
      dropDeleted(scanWith(m, files).drop("__seq"))
    else resolve(scanWith(m, files))
  }

  // ---- read ----------------------------------------------------------
  private def bucketExpr(c: String, n: Int): Column = pmod(hash(col(c)), lit(n))
  def bucketOf(c: String): Column = bucketExpr(c, currentBuckets())

  private def emptyDf(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  private def plusSeq(s: StructType, withDel: Boolean): StructType = {
    val seq = StructType(s.fields :+
      org.apache.spark.sql.types.StructField("__seq",
        org.apache.spark.sql.types.LongType))
    if (!withDel) seq
    else StructType(seq.fields :+
      org.apache.spark.sql.types.StructField(IcebergLikeTable.DeleteCol,
        org.apache.spark.sql.types.BooleanType))
  }

  /** Snapshot-side delete-marker filter: files written before delete
    * support (or upsert rows generally) read the marker as null = not
    * deleted. A no-op when the scan schema carried no marker column
    * (manifest says no live marker can exist — the common case keeps the
    * exact pre-delete plan).
    */
  private def dropDeleted(df: DataFrame): DataFrame =
    if (!df.columns.contains(IcebergLikeTable.DeleteCol)) df
    else df.filter(!coalesce(col(IcebergLikeTable.DeleteCol), lit(false)))
      .drop(IcebergLikeTable.DeleteCol)

  /** Scan the manifest's files under ITS committed schema (+__seq) —
    * explicit, so no footer-probe inference job, files written before a
    * column was added read it back as null, and `readAsOf` restores the
    * schema that version had.
    */
  private def scanWith(m: Manifest, files: Seq[String]): DataFrame =
    spark.read.schema(plusSeq(m.tableSchema.getOrElse(emptySchema),
        withDel = m.hasDeletes))
      .parquet(files: _*)

  /** Last-writer-wins resolution over base ∪ delta rows: the row with the
    * greatest `__seq` per key survives. Skipped entirely when a bucket has
    * no deltas (base already holds one row per key). Expressed as the
    * native `latest_by(struct(payload), __seq)` — an ObjectHashAggregate
    * with map-side partial combine, so per-key data crossing the
    * resolution shuffle is O(distinct keys) and nothing sorts (the
    * earlier `max_by(struct, __seq)` form planned SortAggregate: a
    * struct-buffer DeclarativeAggregate is shut out of hash aggregation —
    * round-3 finding, 2.1× slower on the same fold).
    */
  private def resolve(df: DataFrame): DataFrame =
    dropDeleted(resolveKeepSeq(df).drop("__seq"))

  /** [[resolve]] keeping each surviving row's ORIGINAL `__seq` — the
    * commit that last changed the key. Compaction/rebucket write this
    * preserved seq back out (never a re-stamp), which is what makes
    * [[readChangesSince]] exact across file rewrites.
    */
  private def resolveKeepSeq(df: DataFrame): DataFrame = {
    val payload = df.columns.filter(c => c != keyCol && c != "__seq") :+ "__seq"
    df.groupBy(col(keyCol))
      .agg(graft.functions.GraftFunctions.latest_by(
        struct(payload.map(col): _*), col("__seq")).as("__r"))
      .select(col(keyCol) +: payload.map(c => col(s"__r.$c").as(c)): _*)
      // restore the INPUT column order (key where the schema puts it):
      // without this, read() returns key-first while deltas exist but
      // schema order once compaction empties them — a silent positional
      // flip for tables whose key is not the first schema column
      .select(df.columns.filter(_ != "__seq").map(col) :+ col("__seq"): _*)
  }

  /** Snapshot-consistent read: only files the manifest lists. Returns a
    * schema-stable empty frame for the empty table (so downstream column
    * selects — e.g. Replay.dump's select(keyCol) — see zero rows, not an
    * AnalysisException from a schemaless emptyDataFrame).
    */
  def read(): DataFrame = scanResolved(readManifest())

  /** Bucket-pruned snapshot read restricted to the buckets that the keys
    * in `keys` (a frame with a [[keyCol]] column) hash to — the
    * distributed batch-get. Only the DISTINCT bucket-id set is
    * materialized on the driver (≤ bucket count rows, never O(keys)), so
    * it composes with arbitrarily large key frames: a change-feed batch
    * touching k keys reads the files of ≤ min(k, B) buckets instead of
    * the whole table. The result still contains every key living in
    * those buckets — callers keep their join/semi-join; what is saved is
    * the scan and resolution work of the untouched buckets (bucketing
    * partitions the key space, so last-writer-wins resolution restricted
    * to whole buckets is exact).
    */
  def readForKeys(keys: DataFrame): DataFrame = {
    val m = readManifest()
    val nb = bucketsOf(m)
    val hit = keys.select(bucketExpr(keyCol, nb).as("__b")).distinct()
      .collect().map(_.getInt(0)).toSet.toSeq.sorted
    val base = hit.flatMap(b => m.buckets.getOrElse(b, Nil))
    val delta = hit.flatMap(b => m.deltas.getOrElse(b, Nil))
    val files = (base ++ delta).map(f => s"$root/$f")
    if (files.isEmpty) emptyDf(m.tableSchema.getOrElse(emptySchema))
    else if (delta.isEmpty) dropDeleted(scanWith(m, files).drop("__seq"))
    else resolve(scanWith(m, files))
  }

  // ---- per-file column stats (Iceberg metadata-skipping analog) --------
  /** (min, max) of [[statsCol]] per file, read driver-side from the
    * parquet footers — no Spark job. Files whose footer lacks usable
    * stats (null page, unexpected physical type) get no entry and are
    * never skipped.
    */
  private def footerStats(relFiles: Seq[String]): Map[String, (Long, Long)] =
    statsCol match {
      case None => Map.empty
      case Some(sc) =>
        val conf = spark.sparkContext.hadoopConfiguration
        relFiles.flatMap { rel =>
          try {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(s"$root/$rel"), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try {
              val stats = r.getFooter.getBlocks.asScala
                .flatMap(_.getColumns.asScala)
                .filter(_.getPath.toDotString == sc)
                .map(_.getStatistics)
              if (stats.isEmpty ||
                  stats.exists(s => s == null || s.isEmpty || !s.hasNonNullValue))
                None
              else {
                val mins = stats.map(_.genericGetMin.asInstanceOf[Number].longValue)
                val maxs = stats.map(_.genericGetMax.asInstanceOf[Number].longValue)
                Some(rel -> (mins.min, maxs.max))
              }
            } finally r.close()
          } catch { case scala.util.control.NonFatal(_) => None }
        }.toMap
    }

  /** Live files whose [[statsCol]] bounds can intersect [lo, hi] — files
    * without stats are always kept (skipping is a pure optimization).
    */
  def filesInRange(lo: Long, hi: Long): Seq[String] =
    filesInRangeOf(readManifest(), lo, hi)

  /** The one pruning predicate both [[filesInRange]] and [[readRange]]
    * apply (shared so the bounds semantics cannot drift apart).
    */
  private def filesInRangeOf(m: Manifest, lo: Long, hi: Long): Seq[String] =
    m.dataFiles.filter(f =>
      m.fileStats.get(f).forall { case (mn, mx) => mx >= lo && mn <= hi })

  /** Range read over [[statsCol]]: scans ONLY the files whose recorded
    * (min, max) intersect [lo, hi] — the file-skipping that makes
    * replay-to-timestamp / CDC-window reads O(files in range) instead of
    * O(table) (Iceberg's min/max metadata filtering; znap's replay reads
    * a Kinesis position instead, reference service/SnapshotService.scala).
    *
    * Exactness contract: row-exact for APPEND-ONLY tables (each key
    * written once — the turn/event-log shape this API serves). For
    * updated keys a superseded version can satisfy the range while the
    * newest lies outside a skipped file — the standard caveat of any
    * metadata-pruned merge-on-read scan — so range reads are the
    * ingest-log API, not the snapshot API ([[read]]).
    */
  def readRange(lo: Long, hi: Long): DataFrame =
    readRangeWith(readManifest(), lo, hi)

  private def readRangeWith(m: Manifest, lo: Long, hi: Long): DataFrame = {
    val sc = statsCol.getOrElse(throw new IllegalStateException(
      "readRange requires a table built with statsCol"))
    val keep = filesInRangeOf(m, lo, hi)
    val rangePred = col(sc) >= lo && col(sc) <= hi
    if (keep.isEmpty) emptyDf(m.tableSchema.getOrElse(emptySchema)).where(rangePred)
    else {
      val scanned = scanWith(m, keep.map(f => s"$root/$f"))
      val resolvedDf =
        if (m.deltas.values.forall(_.isEmpty))
          dropDeleted(scanned.drop("__seq"))
        else resolve(scanned)
      resolvedDf.where(rangePred)
    }
  }

  /** A view pinned to ONE committed manifest: every read/lookup resolves
    * against the same snapshot, however many are issued. This is what
    * makes a multi-leaf query (self-join, two scans of one table) snapshot-
    * consistent — [[graft.plans.GraftBucketPrune]] pins once per table per
    * optimizer invocation and materializes ALL of that table's leaves from
    * the pin, where per-leaf `readManifest()` calls could observe two
    * different commits. Valid while the pinned version stays within the
    * GC retention window (the same contract as time travel).
    */
  final class PinnedView private[store] (m: Manifest) {
    def read(): DataFrame = scanResolved(m)
    def lookup(c: String, key: String): DataFrame = {
      require(c == keyCol, s"lookup key column '$c' != table key '$keyCol'")
      lookupPrunedWith(m, Seq(key), col(c) === key)
    }
    def lookupMany(c: String, keys: Seq[String]): DataFrame = {
      require(c == keyCol, s"lookup key column '$c' != table key '$keyCol'")
      lookupPrunedWith(m, keys, col(c).isin(keys: _*))
    }

    /** Stats-pruned range scan IFF it is provably row-exact under
      * SNAPSHOT semantics: with no outstanding deltas every key exists
      * exactly once (compaction resolved last-writer-wins), so skipping
      * an out-of-range file can only skip rows the range predicate
      * rejects anyway. With live deltas a superseded in-range row could
      * win over a newer out-of-range version in a skipped file — so the
      * SQL route ([[graft.plans.GraftBucketPrune]]) falls back to the
      * full read and None is returned — UNLESS the table was declared
      * [[appendOnly]] (every key written once, the event-/turn-log
      * shape): there no row is ever superseded, pruning is exact with
      * any delta chain, and SQL time-window queries touch only the
      * intersecting commits' files. The declaration is the caller's
      * contract, like keyCol correctness.
      */
    def rangeScanIfExact(lo: Long, hi: Long): Option[DataFrame] =
      if (statsCol.isDefined &&
          (appendOnly || m.deltas.values.forall(_.isEmpty)))
        Some(readRangeWith(m, lo, hi))
      else None
  }

  /** Pin the current committed snapshot (see [[PinnedView]]). */
  def pin(): PinnedView = new PinnedView(readManifest())

  /** Point lookup as a lazy frame — prunes to the key's single bucket
    * before scanning (znap Q1: restapi/DynamoDBEntityReader.scala:38-73
    * consistent getItem). The bucket is computed by evaluating Catalyst's
    * own Murmur3Hash on the driver (see [[driverBucket]]), so no job is
    * spent hashing one string. Collecting it runs one job on a bucket
    * without deltas (the scan) and two on a bucket with a delta chain
    * (scan + partial aggregate, then the resolving final aggregate). It
    * stays a frame so SQL plans ([[graft.plans.GraftScan]]) can rebind it;
    * a caller that wants the row itself uses [[get]], which runs no job.
    */
  def lookup(c: String, key: String): DataFrame = {
    require(c == keyCol, s"lookup key column '$c' != table key '$keyCol'")
    lookupPruned(Seq(key), col(c) === key)
  }

  /** Multi-key point read (the batch-get shape): prunes to the UNION of
    * the keys' buckets — for a k-key get over a B-bucket table, at most
    * min(k, B) buckets are scanned instead of B.
    */
  def lookupMany(c: String, keys: Seq[String]): DataFrame = {
    require(c == keyCol, s"lookup key column '$c' != table key '$keyCol'")
    lookupPruned(keys, col(c).isin(keys: _*))
  }

  /** Bucket of `key` under the COMMITTED bucket count, computed by
    * evaluating Catalyst's own Murmur3Hash on the driver — consistent
    * with [[bucketOf]]'s `hash()` by construction (same expression
    * class, same default seed), and no Spark job is spent hashing.
    */
  private def driverBucket(key: String, nb: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(key),
        org.apache.spark.sql.types.StringType)), 42)
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[Int]
    ((h % nb) + nb) % nb
  }

  private lazy val pointReader = new PointReader(keyCol)

  /** Driver-side point read — znap's consistent `getItem`: one manifest
    * read, then Spark's Parquet reader on the calling thread over the
    * key's bucket files only (base + deltas), the key pushed down so
    * row-group stats and the key bloom prune ([[PointReader]]). No Spark
    * job runs. The row with the greatest `__seq` wins, as in [[lookup]];
    * a winning delete marker reads as absent. Returns the row under the
    * committed schema, or None. Safe to call from many threads.
    */
  def get(key: String): Option[IcebergLikeTable.Entity] = {
    val m = readManifest()
    val schema = m.tableSchema.getOrElse(emptySchema)
    val seqAt = schema.length
    val (read, files) = pointScan(m, key)
    pointReader.rows(read, files, key)
      .maxByOption(_.getLong(seqAt))
      .filterNot(r => m.hasDeletes && !r.isNullAt(seqAt + 1) && r.getBoolean(seqAt + 1))
      .map(r => IcebergLikeTable.Entity(schema,
        InternalRow.fromSeq(schema.fields.indices.map(i => r.get(i, schema(i).dataType)))))
  }

  /** The schema [[get]] reads under `m` (committed schema + `__seq`, +
    * `__del` while markers may be live; all nullable) and the key's
    * bucket files.
    */
  private def pointScan(m: Manifest, key: String): (StructType, Seq[Path]) = {
    val read = plusSeq(m.tableSchema.getOrElse(emptySchema), withDel = m.hasDeletes)
    val b = driverBucket(key, bucketsOf(m))
    (StructType(read.fields.map(_.copy(nullable = true))),
      (m.buckets.getOrElse(b, Nil) ++ m.deltas.getOrElse(b, Nil)).map(f => Paths.get(root, f)))
  }

  /** Rows [[get]] decodes for `key` before matching it — what the pushed
    * key filter let through (tests of the pushdown).
    */
  private[store] def pointRowsScanned(key: String): Int = {
    val (read, files) = pointScan(readManifest(), key)
    files.map(f => pointReader.scan(read, f, key)(_.size)).sum
  }

  private def lookupPruned(keys: Seq[String], pred: Column): DataFrame =
    lookupPrunedWith(readManifest(), keys, pred)

  private def lookupPrunedWith(m: Manifest, keys: Seq[String],
      pred: Column): DataFrame = {
    val nb = bucketsOf(m)
    val hit = keys.map(driverBucket(_, nb)).distinct.sorted
    val base = hit.flatMap(b => m.buckets.getOrElse(b, Nil))
    val delta = hit.flatMap(b => m.deltas.getOrElse(b, Nil))
    val files = (base ++ delta).map(f => s"$root/$f")
    // Explicit committed schema (+__seq): a point read must not pay a
    // footer-probe job for schema inference.
    if (files.isEmpty)
      emptyDf(m.tableSchema.getOrElse(emptySchema)).where(pred)
    else if (delta.isEmpty)
      dropDeleted(scanWith(m, files).drop("__seq")).where(pred)
    else resolve(scanWith(m, files).where(pred))
  }

  /** Version (commit batch id) embedded in a data file's directory name
    * (`data/delta-v<b>/…`, `data/base-v<b>[c]/…`, `data/rebucket-v<b>n<m>/…`):
    * an upper bound on the `__seq` of any row in the file. Unknown names
    * return MaxValue — never skipped, so correctness cannot depend on the
    * parse.
    */
  private def fileVersion(f: String): Long =
    "-v(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toLong).getOrElse(Long.MaxValue)

  /** Incremental (CDC) read: the CURRENT snapshot of every key whose
    * state changed in a commit AFTER `sinceBatch`. With
    * `includeDeletes = false` (default) the feed is upsert-only — keys
    * whose latest change is a delete are omitted and the output shape is
    * exactly the table schema; with `true` the output carries the
    * `__del` marker column (non-null boolean) so replicating consumers
    * can apply deletions — a marker row merges straight back into
    * another table ([[merge]] understands the column). This is the
    * scale-friendly form of znap's dump/republish (reference:
    * service/SnapshotService.scala replays the FULL key set): a
    * downstream consumer refreshes from version v with I/O proportional
    * to the files written since v, never a table scan.
    *
    * Why it is exact: a row's `__seq` is the commit that produced it and
    * is PRESERVED through compaction and rebucket, and every file's
    * directory version upper-bounds the seqs inside it. So (1) any key
    * with latest seq > sinceBatch has that row in a candidate file;
    * (2) no newer row for a candidate key exists outside the candidates
    * (newer rows live in newer files); (3) old rows carried into a
    * post-since base by compaction resolve to their true (≤ sinceBatch)
    * seq and are filtered out.
    */
  def readChangesSince(sinceBatch: Long,
      includeDeletes: Boolean = false): DataFrame =
    changesFrom(readManifest(), sinceBatch, includeDeletes)

  /** The change computation shared by the live and historical forms:
    * candidate files = those whose directory version exceeds `since`;
    * resolve with preserved seqs; keep rows changed after `since`.
    */
  private def changesFrom(m: Manifest, sinceBatch: Long,
      includeDeletes: Boolean): DataFrame = {
    val dc = IcebergLikeTable.DeleteCol
    val cand = m.dataFiles.filter(f => fileVersion(f) > sinceBatch)
    if (cand.isEmpty) {
      val empty = emptyDf(m.tableSchema.getOrElse(emptySchema))
      if (includeDeletes) empty.withColumn(dc, lit(false)) else empty
    } else {
      val r = resolveKeepSeq(scanWith(m, cand.map(f => s"$root/$f")))
        .where(col("__seq") > sinceBatch).drop("__seq")
      if (!includeDeletes) dropDeleted(r)
      else if (r.columns.contains(dc))
        r.withColumn(dc, coalesce(col(dc), lit(false)))
      else r.withColumn(dc, lit(false))
    }
  }

  /** Historical range CDC: keys changed in (sinceBatch, toBatch] at their
    * state AS OF toBatch — computed from the RETAINED toBatch manifest
    * (fails like [[readAsOf]] once retention expires it). The toBatch
    * manifest's files contain only seqs ≤ toBatch by construction, so the
    * single `__seq > sinceBatch` filter bounds the range exactly.
    */
  def readChangesBetween(sinceBatch: Long, toBatch: Long,
      includeDeletes: Boolean = false): DataFrame = {
    require(sinceBatch <= toBatch, s"empty range ($sinceBatch, $toBatch]")
    changesFrom(retainedManifest(toBatch), sinceBatch, includeDeletes)
  }

  def lineage(): DataFrame = {
    val m = readManifest()
    val files = m.lineageFiles.map(f => s"$root/$f")
    if (files.isEmpty) emptyDf(Schemas.lineage)
    else spark.read.parquet(files: _*)
  }

  def signals(): DataFrame = {
    val m = readManifest()
    val files = m.signalFiles.map(f => s"$root/$f")
    if (files.isEmpty) emptyDf(Schemas.signal)
    else spark.read.parquet(files: _*)
  }

  // ---- merge (the exactly-once sink primitive) ------------------------
  /** Idempotent keyed MERGE of `updates` (one row per key) guarded by
    * `batchId` (SURVEY.md §7.3):
    *  1. if manifest.lastBatchId >= batchId → duplicate delivery, skip;
    *  2. append the batch as bucket-partitioned delta files — O(batch)
    *     written, never O(table);
    *  3. compact buckets whose delta count reached maxDeltasPerBucket
    *     (resolve base ∪ deltas → new base for those buckets only);
    *  4. commit the new manifest atomically — data visible iff commit
    *     wrote, matching znap's data-before-offset ordering
    *     (reference: pipeline/PipelineBuilder.scala:106-111);
    *  5. vacuum files the live manifest no longer references.
    * All versioned dirs are written with mode=overwrite: a crash after a
    * partial write but before the manifest commit leaves orphan files that
    * the checkpoint retry (same batchId) simply overwrites — without this
    * the retry dies on ErrorIfExists and breaks crash-resume.
    * Returns true iff the batch was applied.
    */
  def merge(updates: DataFrame, c: String, batchId: Long,
      lineageDf: Option[DataFrame] = None,
      signalsDf: Option[DataFrame] = None): Boolean = {
    require(c == keyCol, s"merge key '$c' != table key '$keyCol'")
    val m = readManifest()
    if (m.lastBatchId >= batchId) return false // idempotent re-delivery

    // Additive schema evolution (Iceberg add-column semantics): new
    // columns join the committed schema as nullable — older files read
    // them back as null; type CHANGES are rejected (a silent cast is a
    // correctness bug, an explicit migration is a rewrite). A batch may
    // also OMIT existing columns: resolution is per-ROW last-writer-wins,
    // so the latest writer's nulls win for its keys, consistently.
    val current = m.tableSchema.getOrElse(emptySchema)
    val incoming = StructType(updates.schema.fields
      .filterNot(f => f.name == "__seq" || f.name == "__bucket" ||
        f.name == IcebergLikeTable.DeleteCol))
    // a batch carrying a TRUE marker makes delete markers live until the
    // next full purge — flips the manifest's hasDeletes read mode. The
    // content check (limit-1 early-exit job) matters for change-stream
    // consumers: their batches always CARRY the marker column (the
    // stream schema must be static), but flipping a replica to the
    // wider marker-aware read mode on an all-null column would tax every
    // later read for nothing. Batches without the column skip the check.
    val delBatch =
      updates.schema.fieldNames.contains(IcebergLikeTable.DeleteCol) &&
        !updates.filter(col(IcebergLikeTable.DeleteCol) === true).isEmpty
    require(incoming.exists(_.name == keyCol),
      s"merge batch lacks key column '$keyCol'")
    incoming.foreach { f =>
      require(!m.droppedColumns.contains(f.name),
        s"schema evolution: column '${f.name}' was dropped; re-adding the " +
          "name would resurrect old file values (no field ids) — use a new name")
    }
    incoming.foreach { f =>
      current.find(_.name == f.name).foreach { cf =>
        // simpleString comparison: nullability-insensitive (a batch of
        // all-non-null values must not read as a type change)
        require(cf.dataType.simpleString == f.dataType.simpleString,
          s"schema evolution: column '${f.name}' type change " +
            s"${cf.dataType.simpleString} -> ${f.dataType.simpleString} rejected")
      }
    }
    val evolved = StructType(current.fields ++
      incoming.filterNot(f => current.exists(_.name == f.name))
        .map(_.copy(nullable = true)))

    val version = s"v$batchId"
    val deltaDir = s"$root/data/delta-$version"
    val nb = bucketsOf(m)
    bucketWrite(updates
      .withColumn("__seq", lit(batchId))
      .withColumn("__bucket", bucketExpr(keyCol, nb))
      // one task per bucket up to the cluster's parallelism (a flat 32 cap
      // serialized 1024-bucket tables' delta writes on real clusters)
      .repartition(math.min(nb,
        math.max(spark.sparkContext.defaultParallelism, 32)), col("__bucket"))
      // __bucket PREFIX: satisfies the partitionBy writer's required
      // ordering, so V1Writes inserts no Sort of its own — without the
      // prefix, the writer's Sort(__bucket) makes Catalyst's
      // EliminateSorts drop this one and the files land UNSORTED by key
      // (observed: ts-order survived two explicit sorts)
      .sortWithinPartitions(col("__bucket"), col(keyCol)), // deterministic file order
      deltaDir)

    val newDeltaFiles: Map[Int, Seq[String]] = listBucketFiles(deltaDir, s"data/delta-$version")
    val deltas: Map[Int, Seq[String]] =
      (m.deltas.keySet ++ newDeltaFiles.keySet).map { b =>
        b -> (m.deltas.getOrElse(b, Nil) ++ newDeltaFiles.getOrElse(b, Nil))
      }.toMap

    // Inline compaction keeps delta chains bounded within the same commit;
    // latency-sensitive pipelines construct with inlineCompaction = false
    // and call [[compact]] out-of-band so no micro-batch pays an O(bucket)
    // rewrite (VERDICT r2: the p99 spike at scale).
    val (buckets2, deltas2) =
      if (inlineCompaction)
        compactBuckets(m.buckets, deltas, version, batchId, evolved, nb,
          withDel = m.hasDeletes || delBatch)
      else (m.buckets, deltas)

    var lineageFiles = m.lineageFiles
    lineageDf.foreach { ldf =>
      val ldir = s"$root/lineage/$version"
      ldf.coalesce(1).write.mode("overwrite").parquet(ldir)
      lineageFiles = lineageFiles ++ listParquet(ldir, s"lineage/$version")
    }
    var signalFiles = m.signalFiles
    signalsDf.foreach { sdf =>
      val sdir = s"$root/signals/$version"
      // NO coalesce: signals carry one row per changed key — at scale this
      // is millions of rows per batch and must write with full task
      // parallelism (a coalesce(1) here was a 35s/run serial bottleneck).
      sdf.write.mode("overwrite").parquet(sdir)
      signalFiles = signalFiles ++ listParquet(sdir, s"signals/$version")
    }

    commitAndGc(m, Manifest(batchId, buckets2, deltas2, lineageFiles,
      signalFiles, tableSchema = Some(evolved), bucketCount = Some(nb),
      droppedColumns = m.droppedColumns, fileStats = m.fileStats,
      lastDeleteBatch = if (delBatch) batchId else m.lastDeleteBatch,
      purgedDeletesTo = m.purgedDeletesTo),
      writtenThisCommit = newDeltaFiles.values.flatten.toSet)
    true
  }

  /** Row-level DELETE by key — merge-on-read equality-delete markers:
    * writes a delta row `(key, __del = true, __seq = batchId)` per key,
    * O(batch) like any merge, no file rewrite. Snapshot reads hide the
    * keys immediately; a later merge of the same key resurrects it
    * (last-writer-wins); the change feed ships the marker
    * (`readChangesSince(v, includeDeletes = true)`) so replicas and
    * maintained views apply it. Compaction RETAINS markers — a lagging
    * CDC consumer must still learn of the delete — and
    * [[purgeDeletes]] is the explicit op that lets them age out.
    * Idempotent under the same batchId like [[merge]] (it IS a merge).
    */
  def delete(keys: DataFrame, batchId: Long): Boolean =
    merge(keys.select(col(keyCol)).distinct()
      .withColumn(IcebergLikeTable.DeleteCol, lit(true)), keyCol, batchId)

  /** Retention maintenance for delete markers: rewrite the table keeping
    * every live row (preserved `__seq`) but dropping markers with
    * `__seq <= beforeBatch`. After this, a CDC read from a version older
    * than `beforeBatch` may MISS those deletions — the caller owns the
    * same window contract the delta-retention/vacuum docs state for
    * lagging consumers. One atomic commit, conflict-checked like any
    * other; logical snapshot content is unchanged.
    */
  def purgeDeletes(beforeBatch: Long): Unit = {
    val dc = IcebergLikeTable.DeleteCol
    val m = readManifest()
    if (m.dataFiles.isEmpty || !m.hasDeletes) return
    val nb = bucketsOf(m)
    val baseName = s"data/purge-v${m.lastBatchId}"
    val dirRel = Iterator.from(0)
      .map(i => if (i == 0) baseName else s"$baseName-r$i")
      .find(n => !Files.exists(Paths.get(root, n)) &&
        !m.dataFiles.exists(_.startsWith(n + "/"))).get
    val dir = s"$root/$dirRel"
    bucketWrite(resolveKeepSeq(scanWith(m, m.dataFiles.map(f => s"$root/$f")))
      .filter(!(coalesce(col(dc), lit(false)) &&
        col("__seq") <= lit(beforeBatch)))
      .withColumn("__bucket", bucketExpr(keyCol, nb))
      .repartition(math.min(nb,
        math.max(spark.sparkContext.defaultParallelism, 32)), col("__bucket"))
      .sortWithinPartitions(col("__bucket"), col(keyCol)), dir) // see merge: __bucket prefix keeps the sort alive
    val newBase = listBucketFiles(dir, dirRel)
    commitAndGc(m, m.copy(buckets = newBase, deltas = Map.empty,
      // markers with seq > beforeBatch survive the rewrite, so the purge
      // floor can only advance to min(beforeBatch, lastDeleteBatch) —
      // once it reaches lastDeleteBatch, hasDeletes turns off and reads
      // regain the pre-delete scan shape
      purgedDeletesTo = math.max(m.purgedDeletesTo,
        math.min(beforeBatch, m.lastDeleteBatch))))
  }

  /** Iceberg-style column drop: METADATA-ONLY — the committed schema
    * loses the field, so every read (current, lookup, changes) stops
    * projecting it instantly with no file rewrite; old files keep the
    * bytes and time travel to pre-drop versions restores the column with
    * its values (schema-in-manifest). The name enters the
    * `droppedColumns` tombstone list: re-adding it is rejected by merge
    * (name-based matching would resurrect old values; Iceberg solves
    * this with field ids — out of scope, so the failure is loud, not
    * silent). Compactions after the drop rewrite without the column,
    * so the bytes age out with retention.
    */
  def dropColumn(name: String): Unit = {
    val m = readManifest()
    require(name != keyCol, s"cannot drop the key column '$keyCol'")
    val cur = m.tableSchema.getOrElse(emptySchema)
    require(cur.exists(_.name == name), s"no such column '$name'")
    commitAndGc(m, m.copy(
      tableSchema = Some(StructType(cur.filterNot(_.name == name))),
      droppedColumns = (m.droppedColumns :+ name).distinct),
      writeVersioned = false) // same lastBatchId: must not rewrite that version's history
  }

  /** Bucket-count evolution (Iceberg partition-spec evolution, bucket
    * transform): rewrite the resolved table into `newBuckets` hash
    * buckets as ONE atomic commit — logical content and lastBatchId
    * unchanged, all deltas folded into the new base. Subsequent merges,
    * lookups, and compactions hash with the committed count, so a
    * process still constructed with the old `numBuckets` stays correct.
    * The operational answer to "the table grew 100× and 8 buckets now
    * bottleneck every compaction and point read".
    */
  def rebucket(newBuckets: Int): Unit = {
    require(newBuckets > 0, "newBuckets must be positive")
    val m = readManifest()
    val sch = m.tableSchema.getOrElse(emptySchema)
    if (m.dataFiles.isEmpty) {
      commitAndGc(m, m.copy(bucketCount = Some(newBuckets)))
      return
    }
    // already at this count with a clean base → nothing to do (and the
    // naive dir name would collide with the LIVE data — see below)
    if (newBuckets == bucketsOf(m) && m.deltas.values.forall(_.isEmpty)) return
    // Pick a target dir that neither exists on disk nor contains any live
    // file: a repeated rebucket at the same (version, count) would
    // otherwise mode("overwrite")-DELETE the very directory the lazy scan
    // is about to read — unrecoverable data loss. Crashed partials (dir
    // exists, unreferenced) are also skipped; vacuum sweeps them.
    val base = s"data/rebucket-v${m.lastBatchId}n$newBuckets"
    val dirRel = Iterator.from(0)
      .map(i => if (i == 0) base else s"$base-r$i")
      .find(n => !Files.exists(Paths.get(root, n)) &&
        !m.dataFiles.exists(_.startsWith(n + "/"))).get
    val dir = s"$root/$dirRel"
    // preserved __seq: a rebucket changes layout, not content, and must
    // not fabricate changes for readChangesSince
    bucketWrite(resolveKeepSeq(scanWith(m, m.dataFiles.map(f => s"$root/$f")))
      .withColumn("__bucket", bucketExpr(keyCol, newBuckets))
      .repartition(math.min(newBuckets,
        math.max(spark.sparkContext.defaultParallelism, 32)), col("__bucket"))
      .sortWithinPartitions(col("__bucket"), col(keyCol)), dir) // see merge: __bucket prefix keeps the sort alive
    val newBase = listBucketFiles(dir, dirRel)
    commitAndGc(m, m.copy(buckets = newBase,
      deltas = Map.empty, bucketCount = Some(newBuckets)))
  }

  /** Compaction trigger: file COUNT (read-amplification bound — a point
    * read opens base + all deltas) OR total delta BYTES (write/merge
    * amplification bound — at scale a few huge deltas cost more to
    * resolve than many empty ones; count alone misses that). Byte sizes
    * come from the filesystem driver-side, O(delta files of the bucket)
    * per check — bounded by the count threshold itself.
    */
  private def needsCompaction(deltaFiles: Seq[String]): Boolean =
    deltaFiles.size >= maxDeltasPerBucket ||
      (maxDeltaBytesPerBucket != Long.MaxValue && deltaFiles.nonEmpty &&
        deltaFiles.map(f => Files.size(Paths.get(root, f))).sum >= maxDeltaBytesPerBucket)

  /** Rewrite buckets whose delta chain reached the compaction trigger:
    * base ∪ deltas resolved → new base for those buckets only.
    */
  private def compactBuckets(base: Map[Int, Seq[String]],
      deltas: Map[Int, Seq[String]], version: String,
      seq: Long, tableSchema: StructType,
      nBuckets: Int, withDel: Boolean): (Map[Int, Seq[String]], Map[Int, Seq[String]]) = {
    val toCompact = deltas.filter(kv => needsCompaction(kv._2)).keySet
    if (toCompact.isEmpty) (base, deltas)
    else {
      val files = toCompact.toSeq.sorted.flatMap(b =>
        (base.getOrElse(b, Nil) ++ deltas.getOrElse(b, Nil)).map(f => s"$root/$f"))
      // Uniquified output dir (same hazard class as rebucket's): a second
      // compaction at the same lastBatchId — e.g. a deferred compact()
      // re-run with a lower threshold — would otherwise mode("overwrite")
      // the dir holding the PREVIOUS compaction's live base files.
      val live = (base.values.flatten ++ deltas.values.flatten).toSeq
      val baseRel = Iterator.from(0)
        .map(i => if (i == 0) s"data/base-$version" else s"data/base-$version-r$i")
        .find(n => !Files.exists(Paths.get(root, n)) &&
          !live.exists(_.startsWith(n + "/"))).get
      val baseDir = s"$root/$baseRel"
      // preserved per-row __seq (the commit that last changed the key) —
      // newer deltas still win resolution by construction, and
      // readChangesSince stays exact across compactions
      bucketWrite(resolveKeepSeq(spark.read.schema(plusSeq(tableSchema, withDel))
          .parquet(files: _*))
        .withColumn("__bucket", bucketExpr(keyCol, nBuckets))
        .repartition(math.max(toCompact.size, 1), col("__bucket"))
        .sortWithinPartitions(col("__bucket"), col(keyCol)), baseDir) // see merge: __bucket prefix keeps the sort alive
      val newBase = listBucketFiles(baseDir, baseRel)
      val b2 = base.filter { case (b, _) => !toCompact.contains(b) } ++ newBase
      val d2 = deltas.map { case (b, fs) =>
        b -> (if (toCompact.contains(b)) Seq.empty[String] else fs)
      }
      (b2, d2)
    }
  }

  /** Deferred compaction (for tables built with inlineCompaction = false):
    * rewrite every over-threshold bucket as its own commit, outside any
    * micro-batch. Logical content and lastBatchId are unchanged — only the
    * file layout. Returns true iff any bucket was compacted.
    */
  def compact(): Boolean = {
    val m = readManifest()
    if (!m.deltas.exists(kv => needsCompaction(kv._2))) return false
    val (b2, d2) =
      compactBuckets(m.buckets, m.deltas, s"v${m.lastBatchId}c",
        m.lastBatchId, m.tableSchema.getOrElse(emptySchema), bucketsOf(m),
        withDel = m.hasDeletes)
    commitAndGc(m, m.copy(buckets = b2, deltas = d2))
    true
  }

  /** OPTIMIZE: full clustered rewrite — every bucket's files (deltas
    * resolved) land re-sorted by `clusterBy` WITHIN each bucket file, so
    * parquet row-group min/max stay tight on the cluster column(s) and
    * range predicates skip row groups inside big compacted bases (the
    * granularity [[readRange]]'s per-FILE stats lose the moment
    * compaction folds a bucket's history into one wide-range file).
    *
    *  - 1 column: linear sort (Iceberg sort-order analog).
    *  - 2 columns: Morton z-order ([[graft.functions.ZOrderBits]]) over
    *    both dims scaled to [0, 2^31) by their global min/max — range
    *    reads on EITHER column skip row groups. The min/max pass is one
    *    extra (tiny-result) job over the resolved frame; an explicit
    *    maintenance op pays it knowingly.
    *
    * Logical content and lastBatchId are unchanged — same contract as
    * [[compact]], same single-writer atomic commit, CDC `__seq` (and any
    * delete markers) preserved. Cluster columns must be integral.
    *
    * CDC-retention hazard (sharper than incremental compaction's): this
    * folds EVERY delta chain into the new clustered base in one commit
    * and tombstones every delta-v* file — once they leave the retained
    * manifests, a [[ChangeStream]]/change-feed consumer checkpointed
    * before this commit finds its undelivered files GONE (stream failure
    * or, worse, silently missed changes). Incremental compaction clears
    * at most one bucket's bounded chain per commit; OPTIMIZE clears the
    * table's whole replay history at once. Run it only when followers
    * are caught up, or shield the window with a vacuum grace /
    * raised `retainManifests` — the same retention contract documented
    * on [[readChangesSince]] and ChangeStream.
    */
  def optimize(clusterBy: Seq[String]): Boolean = {
    require(clusterBy.nonEmpty && clusterBy.size <= 2,
      "optimize clusters by 1 (linear sort) or 2 (z-order) columns")
    val m = readManifest()
    if (m.dataFiles.isEmpty) return false
    val nb = bucketsOf(m)
    val schema = m.tableSchema.getOrElse(emptySchema)
    clusterBy.foreach(c => require(schema.fieldNames.contains(c),
      s"cluster column '$c' is not in the table schema"))
    val live = m.dataFiles
    val resolved = resolveKeepSeq(spark.read
      .schema(plusSeq(schema, m.hasDeletes))
      .parquet(live.map(f => s"$root/$f"): _*))
    val zkey: Column =
      if (clusterBy.size == 1) col(clusterBy.head)
      else {
        val Seq(a, b) = clusterBy.map(col)
        val r = resolved.agg(min(a), max(a), min(b), max(b)).head()
        def scaled(c: Column, i: Int): Column =
          if (r.isNullAt(i) || r.isNullAt(i + 1)) lit(0L)
          else {
            val mn = r.getAs[Number](i).longValue
            val mx = r.getAs[Number](i + 1).longValue
            if (mx == mn) lit(0L)
            else floor((c.cast("double") - mn.toDouble) *
              (2147483647.0 / (mx - mn).toDouble)).cast("long")
          }
        graft.functions.GraftFunctions.zorder_bits(scaled(a, 0), scaled(b, 2))
      }
    val version = s"v${m.lastBatchId}z"
    val baseRel = Iterator.from(0)
      .map(i => if (i == 0) s"data/base-$version" else s"data/base-$version-r$i")
      .find(n => !Files.exists(Paths.get(root, n)) &&
        !live.exists(_.startsWith(n + "/"))).get
    // (__bucket, zkey) sort: the partition column as PREFIX means the
    // file writer's required ordering is already satisfied — it inserts
    // no sort of its own, so the within-file order is exactly the
    // cluster order
    bucketWrite(resolved.withColumn("__bucket", bucketExpr(keyCol, nb))
      .repartition(nb, col("__bucket"))
      .sortWithinPartitions(col("__bucket"), zkey), s"$root/$baseRel")
    val newBase = listBucketFiles(s"$root/$baseRel", baseRel)
    commitAndGc(m, m.copy(buckets = newBase,
      deltas = m.deltas.map { case (b, _) => b -> Seq.empty[String] }))
    true
  }

  /** Commit `next` and run incremental GC: files `prev` referenced but
    * `next` doesn't enter the tombstone log; tombstones no retained
    * versioned manifest references any more are deleted (with their log
    * entry) and versioned manifests beyond the retention window expire.
    * Cost: O(tombstones) + parsing ≤ retainManifests small manifests —
    * never a data/ tree walk ([[vacuum]] remains for deep cleans of
    * crash orphans).
    *
    * `writtenThisCommit` covers files created AND superseded inside one
    * commit — inline compaction can consume the batch's own fresh delta
    * files, which no manifest ever referenced; without this they'd be
    * invisible to the tombstone log and leak.
    */
  private[store] def commitAndGc(prev: Manifest, next0: Manifest,
      writtenThisCommit: Set[String] = Set.empty,
      writeVersioned: Boolean = true): Unit = {
    // Stats enrichment for files this commit introduced (footer reads,
    // driver-side, O(new files)) runs OUTSIDE the lock — it is real I/O
    // proportional to the batch, and the lock-hold contract is
    // O(manifest), never O(batch); callers carry prior stats forward and
    // the renderer drops entries for files leaving the live set.
    val next1 =
      if (statsCol.isEmpty) next0
      else {
        val fresh = (next0.dataFiles.toSet -- next0.fileStats.keySet).toSeq
        if (fresh.isEmpty) next0
        else next0.copy(fileStats = next0.fileStats ++ footerStats(fresh))
      }
    // Optimistic-concurrency CAS: the mutation was computed from `prev`;
    // if another process committed meanwhile (an out-of-band Maintain
    // compact/rebucket racing the streaming writer), blindly renaming over
    // its manifest would silently revert a committed batch. The check runs
    // UNDER the commit lock, so check-to-rename is atomic — a losing
    // operation always throws and is safe to re-run against the new state.
    // Metadata-only commits are conflicts too: a dropColumn changes
    // neither lastBatchId nor the file set, but committing a manifest
    // computed pre-drop would resurrect the dropped name (un-tombstoning
    // the very hazard the tombstone list prevents) — so schema, dropped
    // columns, and bucket count all participate in the comparison.
    val deletable: Seq[String] = withCommitLock {
      val disk = readManifest()
      if (disk.lastBatchId != prev.lastBatchId ||
          disk.dataFiles.toSet != prev.dataFiles.toSet ||
          disk.tableSchema != prev.tableSchema ||
          disk.droppedColumns != prev.droppedColumns ||
          disk.bucketCount != prev.bucketCount)
        throw new java.util.ConcurrentModificationException(
          s"manifest advanced during this operation (was batch ${prev.lastBatchId}, " +
            s"now ${disk.lastBatchId}) — re-run against the current state")
      val newLive = next1.dataFiles.toSet
      val tombstones =
        (prev.removed ++
          ((prev.dataFiles.toSet ++ writtenThisCommit) -- newLive)).distinct
      if (!autoVacuum) {
        commitManifest(next1.copy(removed = tombstones), writeVersioned)
        Nil
      } else {
        val versions = (manifestVersions() :+ next1.lastBatchId).distinct.sorted
        val keep = versions.takeRight(retainManifests).toSet
        val retainedLives: Set[String] = keep
          .filter(v => v != next1.lastBatchId)
          .flatMap { v =>
            parseManifestIfExists(Paths.get(root, s"manifest-v$v.json"))
              .map(_.dataFiles).getOrElse(Nil)
          }
        val del = tombstones
          .filterNot(f => newLive.contains(f) || retainedLives.contains(f))
        commitManifest(next1.copy(removed = tombstones.diff(del)), writeVersioned)
        versions.filterNot(keep)
          .foreach(v => Files.deleteIfExists(Paths.get(root, s"manifest-v$v.json")))
        del
      }
    }
    // Tombstone deletions run AFTER lock release: the files are already
    // invisible from every retained manifest, so no reader or writer can
    // resurrect them, and the lock hold stays free of O(deletable) I/O.
    deletable.foreach(deleteDataFile)
  }

  /** Delete a superseded data file with its `.crc` sidecar, then its
    * `__bucket=<k>` dir once empty, then the write's version dir once
    * only the writer's `_SUCCESS` marker is left in it — per-commit GC
    * leaves no litter for [[vacuum]] to walk.
    */
  private def deleteDataFile(rel: String): Unit = {
    val f = Paths.get(root, rel)
    Files.deleteIfExists(f)
    Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
    val bucketDir = f.getParent
    if (bucketDir.getFileName.toString.startsWith("__bucket=") &&
        bucketDir.getParent.getParent == Paths.get(root, "data") &&
        pruneDir(bucketDir, Set.empty))
      pruneDir(bucketDir.getParent, Set("_SUCCESS", "._SUCCESS.crc"))
  }

  /** Delete `dir` if it holds nothing but `leftovers` (deleted with it);
    * true iff it is gone. A dir that gains a child meanwhile, or that a
    * concurrent GC already removed, is left to its fate.
    */
  private def pruneDir(dir: Path, leftovers: Set[String]): Boolean =
    try {
      val ls = Files.list(dir)
      val names = try ls.iterator().asScala.map(_.getFileName.toString).toList
        finally ls.close()
      names.forall(leftovers.contains) && {
        names.foreach(n => Files.deleteIfExists(dir.resolve(n)))
        Files.deleteIfExists(dir)
        true
      }
    } catch {
      case _: java.nio.file.DirectoryNotEmptyException => false
      case _: java.nio.file.NoSuchFileException => false
    }

  /** Deep clean (NOT on the per-commit path — [[commitAndGc]] handles the
    * steady state incrementally from the tombstone log): full data/ walk
    * deleting files no retained manifest references — including crash
    * orphans no log entry covers — pruning empty dirs, expiring manifest
    * versions beyond retention, deleting stranded manifest.tmp.* /
    * manifest.vtmp.* and uncommitted manifest-v plants, and dropping
    * tombstone-log entries whose files are gone. The live set is the
    * UNION of the files referenced by the last [[retainManifests]]
    * versioned manifests plus the current one — so time travel stays
    * valid over the retention window (Iceberg expire_snapshots
    * semantics). Lineage/signal files are append-only and never
    * superseded, so only `data/` is swept. Safe post-commit: anything
    * removed is invisible from every retained manifest.
    */
  /** `graceMs` shields files YOUNGER than the window from deletion: an
    * out-of-band deep clean racing an in-flight merge would otherwise
    * delete the not-yet-committed delta directory (no manifest references
    * it yet) and the batch would commit empty or broken. 0 (default) is
    * correct for the single-process usage the specs exercise; a separate
    * maintenance process (Maintain CLI) passes a window comfortably above
    * the longest micro-batch.
    */
  def vacuum(graceMs: Long = 0L): Unit = {
    val cutoff = System.currentTimeMillis() - graceMs
    val m = readManifest()
    val versions = manifestVersions()
    val expired = versions.dropRight(retainManifests)
    expired.foreach(v => Files.deleteIfExists(Paths.get(root, s"manifest-v$v.json")))
    val retained = versions.takeRight(retainManifests).flatMap(v =>
      parseManifestIfExists(Paths.get(root, s"manifest-v$v.json")))
    val live: Set[Path] =
      (m.dataFiles ++ retained.flatMap(_.dataFiles))
        .map(f => Paths.get(root, f).toAbsolutePath.normalize).toSet
    val dataRoot = Paths.get(root, "data")
    if (Files.exists(dataRoot)) {
      val walk = Files.walk(dataRoot)
      try {
        walk.iterator().asScala.toSeq.reverse.foreach { p =>
          if (Files.isRegularFile(p)) {
            // a concurrent writer's commitAndGc may delete the same
            // tombstoned file first — a vanished file is a finished job,
            // not a reason to abort the deep clean mid-walk
            try {
              if (!live.contains(p.toAbsolutePath.normalize) &&
                (graceMs <= 0L ||
                  Files.getLastModifiedTime(p).toMillis < cutoff))
                Files.deleteIfExists(p)
            } catch { case _: java.nio.file.NoSuchFileException => () }
          } else if (Files.isDirectory(p) && p != dataRoot) {
            // empty-dir pruning honors the grace window too: an in-flight
            // write's _temporary scaffolding is EMPTY directories — the
            // two-writer stress caught vacuum deleting them mid-commit
            // (the committer then dies on the vanished dir). A dir can
            // also gain a child between check and delete: skip, don't
            // throw (it stopped being garbage).
            try {
              val ls = Files.list(p)
              val empty = try !ls.iterator().hasNext finally ls.close()
              if (empty && (graceMs <= 0L ||
                  Files.getLastModifiedTime(p).toMillis < cutoff))
                Files.deleteIfExists(p)
            } catch {
              case _: java.nio.file.DirectoryNotEmptyException => ()
              case _: java.nio.file.NoSuchFileException => () // racer pruned it
            }
          }
        }
      } finally walk.close()
    }
    // Tail mutations run UNDER the commit lock against a FRESH manifest
    // read — the walk above can take minutes on a big table, and a merge
    // landing mid-vacuum must neither have its versioned manifest swept
    // as an "uncommitted plant" (its id exceeds the STALE lastBatchId
    // read at entry) nor be reverted by re-committing the entry-time
    // manifest snapshot (which bypassed commitAndGc's CAS and silently
    // undid the batch — the round-3 data-loss finding). Stranded tmp /
    // vtmp files additionally respect the grace window: a well-behaved
    // writer's in-flight temp is always younger than it.
    withCommitLock {
      val cur = readManifest()
      val rootLs = Files.list(Paths.get(root))
      try rootLs.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          val stranded =
            n.startsWith("manifest.tmp.") || n.startsWith("manifest.vtmp.") ||
              (n.startsWith("manifest-v") && n.endsWith(".json") &&
                n.stripPrefix("manifest-v").stripSuffix(".json").toLong > cur.lastBatchId)
          stranded && (graceMs <= 0L ||
            Files.getLastModifiedTime(p).toMillis < cutoff)
        }
        .toSeq.foreach(Files.delete)
      finally rootLs.close()
      // Tombstone-log trim of the CURRENT manifest only — never the
      // entry-time snapshot: we only drop entries whose files are gone.
      val keptRemoved = cur.removed.filter(f => Files.exists(Paths.get(root, f)))
      if (keptRemoved != cur.removed) commitManifest(cur.copy(removed = keptRemoved))
    }
  }

  /** Live file count by kind — compaction/vacuum observability for tests. */
  def fileStats(): (Int, Int) = {
    val m = readManifest()
    (m.buckets.values.map(_.size).sum, m.deltas.values.map(_.size).sum)
  }

  /** data/ files on disk (vacuum effectiveness check). */
  def dataFilesOnDisk(): Int = {
    val dataRoot = Paths.get(root, "data")
    if (!Files.exists(dataRoot)) return 0
    val walk = Files.walk(dataRoot)
    try walk.iterator().asScala.count(p =>
      Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
    finally walk.close()
  }

  /** The one bucket-partitioned data writer every write path uses —
    * mode=overwrite (crash-retry contract, see [[merge]]) + the optional
    * key bloom filter, so no write site can silently lose the bloom.
    */
  private def bucketWrite(df: DataFrame, dir: String): Unit = {
    val w = df.write.mode("overwrite").partitionBy("__bucket")
    keyBloomNdv.fold(w) { ndv =>
      w.option(s"parquet.bloom.filter.enabled#$keyCol", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$keyCol", ndv.toString)
    }.parquet(dir)
  }

  /** Files of a partitionBy("__bucket") output dir, keyed by bucket id. */
  private def listBucketFiles(absDir: String, relDir: String): Map[Int, Seq[String]] = {
    val dir = Paths.get(absDir)
    if (!Files.exists(dir)) Map.empty
    else {
      val ls = Files.list(dir)
      val bucketDirs = try ls.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("__bucket="))
        .toSeq
      finally ls.close()
      bucketDirs.map { bd =>
        val b = bd.getFileName.toString.stripPrefix("__bucket=").toInt
        b -> listParquet(bd.toString, s"$relDir/__bucket=$b")
      }.filter(_._2.nonEmpty).toMap
    }
  }

  private def listParquet(absDir: String, relDir: String): Seq[String] = {
    val dir = Paths.get(absDir)
    if (!Files.exists(dir)) Nil
    else {
      val ls = Files.list(dir)
      try ls.iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => s"$relDir/${p.getFileName}").toSeq.sorted
      finally ls.close()
    }
  }
}
