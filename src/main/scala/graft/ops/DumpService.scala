package graft.ops

import org.apache.spark.sql.{Encoders, SparkSession}
import graft.replay.Replay
import graft.store.IcebergLikeTable

/** D2 — the dump pipeline (reference: dumps/SqsDumpRunner.scala:54-74:
  * key scan → grouped publish → Done; abortable via kill switch).
  *
  * Spark restatement: the snapshot table's key set
  * ([[graft.store.IcebergLikeTable.liveKeys]] through [[Replay.dump]] /
  * [[Replay.incrementalDump]]) published per partition — one Spark job,
  * one task and so one `publish` call per bucket, no shuffle (the SQS
  * batcher analog is the caller-supplied `publish`) — lifecycle tracked in
  * [[DumpManager]], cancellation mapped to `cancelJobGroup` (SURVEY.md
  * §3.3): the job runs in the dump's job group, so an abort kills its
  * bucket tasks.
  */
object DumpService {

  /** Run a dump synchronously; returns the dump uid.
    * `publish` runs on executors — it must be serializable (e.g. write to a
    * queue client, or an accumulator in tests).
    */
  def runDump(manager: DumpManager, target: String, table: IcebergLikeTable,
      publish: Iterator[String] => Unit, forceRestart: Boolean = false)(
      implicit spark: SparkSession): String = {
    val uid = manager.start(target, forceRestart)
    try {
      spark.sparkContext.setJobGroup(uid, s"dump $target", interruptOnCancel = true)
      Replay.dump(table).as(Encoders.STRING).foreachPartition(publish)
      manager.finish(uid)
      uid
    } catch {
      case e: Throwable =>
        // cancellation surfaces as a SparkException; map to Aborted if the
        // manager already flipped the state, else Failed
        if (manager.status(uid) == DumpStatus.Running) manager.fail(uid)
        throw e
    } finally {
      spark.sparkContext.clearJobGroup()
    }
  }

  /** Incremental dump (same lifecycle/cancellation contract as
    * [[runDump]]): publishes only keys changed after `sinceBatch`,
    * validated against the committed lineage window (Replay S4).
    */
  def runIncrementalDump(manager: DumpManager, target: String,
      table: IcebergLikeTable, sinceBatch: Long,
      publish: Iterator[String] => Unit, forceRestart: Boolean = false)(
      implicit spark: SparkSession): String = {
    val uid = manager.start(target, forceRestart)
    try {
      spark.sparkContext.setJobGroup(uid, s"incremental dump $target since $sinceBatch",
        interruptOnCancel = true)
      Replay.incrementalDump(table, sinceBatch)
        .as(Encoders.STRING).foreachPartition(publish)
      manager.finish(uid)
      uid
    } catch {
      case e: Throwable =>
        if (manager.status(uid) == DumpStatus.Running) manager.fail(uid)
        throw e
    } finally {
      spark.sparkContext.clearJobGroup()
    }
  }

  /** Start a dump and return its uid immediately, running the scan on a
    * daemon thread (the serving facade's POST /snapshots/{t}/dump shape:
    * 202 Accepted + uid, reference restapi/RestApi.scala:150-186). The
    * uid/lifecycle allocation is synchronous — conflicts (another dump
    * running for the target) throw HERE, before any thread starts — and
    * the job group is set on the runner thread (setJobGroup is
    * thread-local), so [[abort]] cancels exactly this dump's jobs.
    */
  def runAsync(manager: DumpManager, target: String, table: IcebergLikeTable,
      publish: Iterator[String] => Unit, forceRestart: Boolean = false)(
      implicit spark: SparkSession): String = {
    // force-restart must cancel the SUPERSEDED dump's Spark jobs, not just
    // flip its registry state (manager.start's internal abort is
    // registry-only — the old scan would keep publishing)
    if (forceRestart) manager.runningFor(target).foreach { old =>
      try abort(manager, old) catch { case _: IllegalDumpTransition => }
    }
    val uid = manager.start(target, forceRestart)
    val t = new Thread(() => {
      try {
        spark.sparkContext.setJobGroup(uid, s"dump $target", interruptOnCancel = true)
        // an abort can land before this thread is scheduled —
        // cancelJobGroup only reaches ACTIVE jobs, so re-check the
        // registry before submitting the scan
        if (manager.status(uid) == DumpStatus.Running) {
          Replay.dump(table).as(Encoders.STRING).foreachPartition(publish)
          // an abort landing between the Running re-check and the scan
          // cancels the job group, but a scan that finished before the
          // cancel reached it must not report success over an abort —
          // finish() only from the still-Running state (finish itself
          // guards the transition; checking first shrinks the race)
          if (manager.status(uid) == DumpStatus.Running) manager.finish(uid)
        }
      } catch {
        case e: Throwable =>
          // a failed dump must be DIAGNOSABLE: the operator otherwise sees
          // only status=Failed with zero trace
          System.err.println(s"[dump $uid] failed: $e")
          if (manager.status(uid) == DumpStatus.Running) manager.fail(uid)
          e match { // never swallow fatal JVM errors (OOM, stack overflow)
            case _: InterruptedException => Thread.currentThread().interrupt()
            case fatal: Error => throw fatal
            case _ => ()
          }
      } finally {
        spark.sparkContext.clearJobGroup()
      }
    }, s"graft-dump-$uid")
    t.setDaemon(true)
    t.start()
    uid
  }

  /** Abort a running dump: cancel its Spark jobs and flip the state. */
  def abort(manager: DumpManager, uid: String)(implicit spark: SparkSession): Unit = {
    manager.abort(uid)
    spark.sparkContext.cancelJobGroup(uid)
  }
}
