package graft.perf

import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.time.{Instant, OffsetDateTime}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row

/** Output checks. Each returns the problems it found; empty means pass.
  * They compare the engine's output with the generator's oracle or with
  * properties of the input, never with a saved copy of earlier output.
  */
object Checks {
  private val json = new ObjectMapper()

  /** 64-bit FNV-1a of a key: dumps are compared as (count, wrapping sum
    * of key hashes), which is independent of publish order.
    */
  def keyHash(k: String): Long = {
    var h = 0xcbf29ce484222325L
    k.getBytes(StandardCharsets.UTF_8).foreach { b =>
      h ^= (b & 0xff)
      h *= 0x100000001b3L
    }
    h
  }

  def hashSum(keys: Iterable[String]): Long = keys.foldLeft(0L)(_ + keyHash(_))

  def snapOf(r: Row): Snap = Snap(
    r.getAs[String]("conv_id"), r.getAs[Int]("last_turn_idx"),
    r.getAs[String]("last_role"), r.getAs[String]("last_tool"),
    r.getAs[String]("last_text"), r.getAs[Long]("turn_count"),
    r.getAs[scala.collection.Map[String, Long]]("tool_counts").toMap,
    r.getAs[Timestamp]("first_ts").getTime, r.getAs[Timestamp]("last_ts").getTime)

  /** The snapshot table against the oracle: one row per generated
    * conversation, Σ turn_count = turns generated, last_turn_idx =
    * turn_count − 1, and every row equal to the oracle's field by field.
    */
  def table(what: String, rows: Seq[Snap], in: Input): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (rows.size != in.expected.size)
      errs += s"$what: ${rows.size} rows, ${in.expected.size} conversations generated"
    val turns = rows.iterator.map(_.turn_count).sum
    if (turns != in.turns) errs += s"$what: sum(turn_count) = $turns, ${in.turns} turns generated"
    rows.find(r => r.last_turn_idx != r.turn_count - 1).foreach { r =>
      errs += s"$what: ${r.conv_id} has last_turn_idx ${r.last_turn_idx}, turn_count ${r.turn_count}"
    }
    rows.iterator.filterNot(r => in.expected.get(r.conv_id).contains(r)).take(3).foreach { r =>
      errs += s"$what: $r, expected ${in.expected.get(r.conv_id)}"
    }
    errs.result()
  }

  /** Change signals: batch b signals exactly the distinct keys of file b. */
  def signals(what: String, perBatch: Map[Long, Long], in: Input): Seq[String] = {
    val want = in.keysOfFile.indices.map(b => b.toLong -> in.keysOfFile(b).size.toLong).toMap
    if (perBatch == want) Nil
    else Seq(s"$what: signals per batch $perBatch, expected $want")
  }

  /** A published key set: the same count and key-hash sum as `keys`. */
  def keySet(what: String, count: Long, sum: Long, keys: Iterable[String]): Seq[String] = {
    val (n, s) = (keys.size.toLong, hashSum(keys))
    if (count == n && sum == s) Nil
    else Seq(s"$what: published $count keys (hash sum $sum), expected $n (hash sum $s)")
  }

  /** One lookup: an absent key gets 404, a present key 200 and a body
    * equal to the oracle's row.
    */
  def lookup(key: String, code: Int, body: String, want: Option[Snap]): Seq[String] =
    want match {
      case None =>
        if (code == 404) Nil else Seq(s"lookup $key: status $code for an absent key")
      case Some(s) =>
        if (code != 200) Seq(s"lookup $key: status $code")
        else {
          val got = try Some(parse(body)) catch { case _: Exception => None }
          if (got.contains(s)) Nil else Seq(s"lookup $key: body $body, expected $s")
        }
    }

  private def parse(body: String): Snap = {
    val n = json.readTree(body)
    def ts(f: String): Long = OffsetDateTime.parse(n.get(f).asText).toInstant.toEpochMilli
    Snap(n.get("conv_id").asText, n.get("last_turn_idx").asInt,
      n.get("last_role").asText, n.get("last_tool").asText,
      n.get("last_text").asText, n.get("turn_count").asLong,
      n.get("tool_counts").fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap,
      ts("first_ts"), ts("last_ts"))
  }

  private def render(s: Snap): String = {
    val o = json.createObjectNode()
    o.put("conv_id", s.conv_id).put("last_turn_idx", s.last_turn_idx)
      .put("last_role", s.last_role).put("last_tool", s.last_tool)
      .put("last_text", s.last_text).put("turn_count", s.turn_count)
    val tc = o.putObject("tool_counts")
    s.tool_counts.foreach { case (k, v) => tc.put(k, v) }
    o.put("first_ts", Instant.ofEpochMilli(s.first_ts).toString)
      .put("last_ts", Instant.ofEpochMilli(s.last_ts).toString)
    json.writeValueAsString(o)
  }

  /** Shows that each check can fail: it must pass the oracle's own answer
    * and reject a corrupted one (a turn_count off by one, a dump missing a
    * key, a lookup body with a stale last_text, a 200 for an absent key).
    * Returns the checks that misbehaved.
    */
  def selfTest(in: Input): Seq[String] = {
    val good = in.expected.values.toSeq
    val k = in.keys(in.keys.length / 2)
    val snap = in.expected(k)
    val offByOne = good.map(s => if (s.conv_id == k) s.copy(turn_count = s.turn_count + 1) else s)
    val short = in.keys.toSeq.filterNot(_ == k)
    val stale = snap.copy(last_text = snap.last_text + " (stale)")
    Seq(
      "table accepts the oracle" -> table("self-test", good, in).isEmpty,
      "table rejects a turn_count off by one" -> table("self-test", offByOne, in).nonEmpty,
      "dump accepts the key set" ->
        keySet("self-test", in.keys.length, hashSum(in.keys), in.keys).isEmpty,
      "dump rejects a missing key" ->
        keySet("self-test", short.size, hashSum(short), in.keys).nonEmpty,
      "lookup accepts the oracle row" -> lookup(k, 200, render(snap), Some(snap)).isEmpty,
      "lookup rejects a stale last_text" -> lookup(k, 200, render(stale), Some(snap)).nonEmpty,
      "lookup rejects 200 for an absent key" ->
        lookup(Gen.absentId(0), 200, render(snap), None).nonEmpty
    ).collect { case (name, false) => s"self-test failed: $name" }
  }
}
