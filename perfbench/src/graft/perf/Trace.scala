package graft.perf

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

object Fs {
  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally w.close()
    }

  /** Every file and directory below `p`. */
  def below(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.drop(1).toSeq finally w.close()
    }
}

final case class Span(id: Int, parent: Int, name: String, t0: Long, t1: Long) {
  /** The layer is the name's first component: `sink.merge` → `sink`. */
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (t1 - t0) / 1e9
}

/** In-memory span recorder. Off, it runs the body and records nothing.
  * A span's parent is the innermost open span of the calling thread, or
  * the one given (for callbacks on the streaming query's thread).
  */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val open = new ThreadLocal[Integer] { override def initialValue(): Integer = 0 }

  def currentId: Int = open.get.intValue

  def span[A](name: String, parent: Int = -1)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = open.get
      open.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, if (parent >= 0) parent else outer.intValue, name, t0, System.nanoTime()))
        open.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.t0)

  /** Self time per layer below span `root` (the root's own self time is
    * keyed "unattributed"): a span's duration minus the union of its
    * children's intervals.
    */
  def selfTimes(root: Int): Map[String, Double] = {
    val sp = all
    val kids = sp.groupBy(_.parent)
    def walk(s: Span): Seq[(String, Double)] = {
      val cs = kids.getOrElse(s.id, Nil)
      val covered = union(cs.map(c => (math.max(c.t0, s.t0), math.min(c.t1, s.t1))))
      val key = if (s.id == root) "unattributed" else s.layer
      (key -> (s.t1 - s.t0 - covered) / 1e9) +: cs.flatMap(walk)
    }
    sp.find(_.id == root).toSeq.flatMap(walk).groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  def write(file: Path): Unit = {
    Files.createDirectories(file.getParent)
    val lines = all.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.t0},"end_ns":${s.t1}}""")
    Files.write(file, lines.asJava, StandardCharsets.UTF_8)
  }
}

/** Spark task metrics summed per phase. The phase is a local property the
  * benchmark sets on the thread that submits the jobs; the streaming
  * query's thread inherits it when the query starts. The HTTP server's
  * threads inherit nothing (the JDK server's dispatcher thread is created
  * without inherited thread locals), so jobs without a phase are the
  * server's: phase "serve".
  */
final class PhaseListener extends SparkListener {
  final class Acc {
    var jobs = 0L
    var taskMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var bytesRead = 0L
  }
  private val stagePhase = mutable.HashMap.empty[Int, String]
  private val accs = mutable.HashMap.empty[String, Acc]

  def get(phase: String): Acc = synchronized(accs.getOrElseUpdate(phase, new Acc))

  /** Forget every phase's totals (call once the listener bus is idle). */
  def reset(): Unit = synchronized(accs.clear())

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(PhaseListener.Key)))
      .getOrElse("serve")
    e.stageIds.foreach(stagePhase(_) = p)
    get(p).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = get(stagePhase.getOrElse(e.stageId, "serve"))
      a.taskMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.bytesRead += m.inputMetrics.bytesRead
    }
  }
}

object PhaseListener {
  val Key = "perfbench.phase"
}

/** Host diagnostics: CPU steal from /proc/stat and this JVM's GC time. */
object Host {
  /** (steal, total) jiffies of all CPUs; (0, 0) where /proc/stat is absent. */
  def cpu(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).take(8).map(_.toLong)
      (f(7), f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}
