package graft.perf

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser
import graft.model.Turn

/** Make-up of one generated turn log. The make-up fixes the counts: the
  * conversations' sizes are the Zipf quantiles, and the slices they span
  * follow from their position, so every seed gives the same number of
  * turns and keys per file. The seed decides which key takes which size
  * and span (and so its bucket), the text and tools of every turn, and
  * the row order within each file.
  *
  * @param convs    conversations, hot ones included
  * @param files    time slices; file b holds the turns whose ts falls in slice b
  * @param maxTurns largest ordinary conversation (Zipf support 1..maxTurns)
  * @param zipfS    Zipf exponent of conversation sizes
  * @param hotKeys  conversations present in every slice
  * @param hotTurns turns of each hot conversation
  * @param maxSpan  an ordinary conversation spans 1..(maxSpan + 1) slices
  */
final case class Shape(convs: Int, files: Int, maxTurns: Int, zipfS: Double,
    hotKeys: Int, hotTurns: Int, maxSpan: Int)

/** Expected snapshot row of one conversation, computed without the engine.
  * Timestamps are epoch milliseconds.
  */
final case class Snap(conv_id: String, last_turn_idx: Int, last_role: String,
    last_tool: String, last_text: String, turn_count: Long,
    tool_counts: Map[String, Long], first_ts: Long, last_ts: Long)

/** A generated log with its oracle: the expected snapshot per key, the
  * distinct keys of each file (= each micro-batch), and turn totals.
  */
final class Input(val shape: Shape, val files: Array[Array[Turn]],
    val expected: Map[String, Snap]) {
  val turns: Long = files.iterator.map(_.length.toLong).sum
  val keysOfFile: Array[Set[String]] = files.map(_.iterator.map(_.conv_id).toSet)
  val keys: Array[String] = expected.keys.toArray.sorted

  /** Keys written by a batch after `since` — what an incremental dump from
    * committed batch `since` must publish.
    */
  def keysChangedAfter(since: Int): Set[String] =
    keysOfFile.iterator.drop(since + 1).foldLeft(Set.empty[String])(_ ++ _)

  /** (rows, turns) of the snapshot as of event time `cutMs`, inclusive. */
  def totalsAt(cutMs: Long): (Long, Long) = {
    val perKey = mutable.HashMap.empty[String, Long]
    files.foreach(_.foreach { t =>
      if (t.ts.getTime <= cutMs) perKey(t.conv_id) = perKey.getOrElse(t.conv_id, 0L) + 1L
    })
    (perKey.size.toLong, perKey.values.sum)
  }
}

/** Seeded turn-log generator: Zipf-sized conversations, a few hot keys that
  * appear in every slice, and ordinary conversations spread over a few
  * consecutive slices, so a micro-batch updates keys earlier batches wrote.
  */
object Gen {
  val BaseMs: Long = 1704067200000L // 2024-01-01T00:00:00Z
  val SliceMs: Long = 3600000L

  private val Tools = Array("search", "python", "browser", "sql", "shell")
  private val Words = Array("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
    "november", "oscar", "papa", "quebec", "romeo", "sierra", "tango",
    "uniform", "victor", "whiskey", "xray", "yankee", "zulu", "table",
    "snapshot", "replay", "stream", "merge", "bucket")

  def convId(i: Int): String = f"conv-$i%07d"
  def absentId(i: Int): String = f"none-$i%07d"

  /** Last millisecond of slice `b`: a replay cut that takes slices 0..b. */
  def cutAfterSlice(b: Int): Long = BaseMs + (b + 1) * SliceMs - 1

  def generate(shape: Shape, seed: Long): Input = {
    val rnd = new SplittableRandom(seed)
    val cdf = zipfCdf(shape.maxTurns, shape.zipfS)
    val ordinary = shape.convs - shape.hotKeys
    val ids = shuffle(Array.tabulate(shape.convs)(convId), rnd)
    val out = Array.fill(shape.files)(mutable.ArrayBuffer.empty[Turn])
    val expected = mutable.HashMap.empty[String, Snap]
    (0 until shape.convs).foreach { c =>
      val j = c - shape.hotKeys
      val (n, first, last) =
        if (j < 0) (shape.hotTurns, 0, shape.files - 1)
        else {
          val a = j % shape.files
          (zipfQuantile(cdf, (j + 0.5) / ordinary), a,
            math.min(shape.files - 1, a + (j / shape.files) % (shape.maxSpan + 1)))
        }
      val startMs = BaseMs + first * SliceMs
      val spanMs = (last - first + 1) * SliceMs
      val id = ids(c)
      val turns = Array.tabulate(n) { i =>
        val ts = startMs + ((2L * i + 1) * spanMs) / (2L * n)
        val tool = if (rnd.nextInt(10) < 3) Tools(rnd.nextInt(Tools.length)) else ""
        val role = if (tool.nonEmpty) "tool" else if (i % 2 == 0) "user" else "assistant"
        val text = Iterator.fill(6 + rnd.nextInt(9))(Words(rnd.nextInt(Words.length)))
          .mkString("", " ", s" #$i")
        Turn(id, i, role, text, tool, new Timestamp(ts))
      }
      turns.foreach(t => out(((t.ts.getTime - BaseMs) / SliceMs).toInt) += t)
      expected(id) = expect(turns)
    }
    // each file in a seeded random order: the engine must not rely on
    // turns arriving grouped by key
    new Input(shape, out.map(b => shuffle(b.toArray, rnd)), expected.toMap)
  }

  private def shuffle[A](a: Array[A], rnd: SplittableRandom): Array[A] = {
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** The oracle: latest turn by (turn_idx, ts), the count, the tool
    * histogram and the first and last event time.
    */
  def expect(turns: Array[Turn]): Snap = {
    val last = turns.maxBy(t => (t.turn_idx, t.ts.getTime))
    val tools = turns.iterator.filter(_.tool.nonEmpty).toSeq
      .groupBy(_.tool).map { case (k, v) => k -> v.size.toLong }
    Snap(last.conv_id, last.turn_idx, last.role, last.tool, last.text,
      turns.length.toLong, tools, turns.map(_.ts.getTime).min, turns.map(_.ts.getTime).max)
  }

  private val TurnSchema = MessageTypeParser.parseMessageType(
    """message turn {
      |  required binary conv_id (STRING);
      |  required int32 turn_idx;
      |  required binary role (STRING);
      |  required binary text (STRING);
      |  required binary tool (STRING);
      |  required int64 ts (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  /** Write file b of `in` as `dir/turns-<b>.parquet` with the turn schema,
    * in the generator's row order and with modification times increasing
    * in b, so a file source taking one file per trigger makes file b
    * micro-batch b. The files are written directly, not through Spark.
    */
  def write(in: Input, dir: Path): Unit = {
    Files.createDirectories(dir)
    val conf = new Configuration()
    val rows = new SimpleGroupFactory(TurnSchema)
    val mtime0 = System.currentTimeMillis() - (in.files.length + 1) * 1000L
    in.files.zipWithIndex.foreach { case (turns, b) =>
      val target = dir.resolve(f"turns-$b%03d.parquet")
      val w = ExampleParquetWriter.builder(new HPath(target.toUri)).withConf(conf)
        .withType(TurnSchema).withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try turns.foreach { t =>
        w.write(rows.newGroup().append("conv_id", t.conv_id).append("turn_idx", t.turn_idx)
          .append("role", t.role).append("text", t.text).append("tool", t.tool)
          .append("ts", t.ts.getTime * 1000L))
      } finally w.close()
      Files.setLastModifiedTime(target, FileTime.fromMillis(mtime0 + b * 1000L))
    }
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val sum = w.sum
    var acc = 0.0
    w.map { x => acc += x / sum; acc }
  }

  /** Smallest size whose cumulative Zipf probability reaches `u`. */
  private def zipfQuantile(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min((if (i >= 0) i else -i - 1) + 1, cdf.length)
  }
}
