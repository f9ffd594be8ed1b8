package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import graft.functions.GzipCodec
import graft.serve.ServeApi
import graft.snapshot.SnapshotFold
import graft.store.IcebergLikeTable

/** The serving facade end-to-end over real HTTP: the reference's REST
  * route surface (restapi/RestApi.scala:41-130 + dump control :150-228)
  * against a real snapshot table — point lookup must return the SAME
  * resolved row as the Q1 lookup path, dumps must run/conflict/abort
  * through the lifecycle registry, gzip negotiation must round-trip.
  */
class ServeApiSpec extends SparkSpec {
  import spark.implicits._
  implicit val s: org.apache.spark.sql.SparkSession = spark

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String, headers: (String, String)*): HttpResponse[Array[Byte]] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET()
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
  }
  private def send(port: Int, method: String, path: String, body: String = ""): HttpResponse[Array[Byte]] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .method(method, HttpRequest.BodyPublishers.ofString(body))
    client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
  }
  private def text(r: HttpResponse[Array[Byte]]): String =
    new String(r.body(), StandardCharsets.UTF_8)

  private def mkTable(tag: String): IcebergLikeTable = {
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val turns = Seq(
      model.Turn("c-1", 1, "user", "hello", "", ts(1000L)),
      model.Turn("c-1", 2, "assistant", "world", "search", ts(2000L)),
      model.Turn("c-2", 1, "user", "solo", "", ts(1500L)))
    val t = new IcebergLikeTable(tmpDir(tag) + "/t", 4)
    t.merge(SnapshotFold.typedSnapshots(spark.createDataset(turns)).toDF(),
      "conv_id", 0L)
    t
  }

  test("routes: ping, snapshot list, point lookup (hit/miss/unknown), gzip") {
    val table = mkTable("serve-basic")
    val api = new ServeApi(Map("conversations" -> ServeApi.Target(table)))
    val port = api.start()
    try {
      assert(text(get(port, "/health/ping")) === "ok")

      val list = get(port, "/snapshots")
      assert(list.statusCode() === 200)
      assert(text(list) === """["conversations"]""")

      // hit: same row the Q1 lookup path resolves (last-writer-wins fold)
      val hit = get(port, "/snapshots/conversations/entities/c-1")
      assert(hit.statusCode() === 200)
      val expected = table.lookup("conv_id", "c-1").toJSON.collect().head
      assert(text(hit) === expected)

      assert(get(port, "/snapshots/conversations/entities/nope").statusCode() === 404)
      assert(get(port, "/snapshots/wrong/entities/c-1").statusCode() === 404)
      assert(get(port, "/nope").statusCode() === 404)

      // gzip negotiation: Content-Encoding set, payload round-trips
      val gz = get(port, "/snapshots/conversations/entities/c-1",
        "Accept-Encoding" -> "gzip")
      assert(gz.headers().firstValue("Content-Encoding").orElse("") === "gzip")
      assert(GzipCodec.decompress(gz.body()) === expected)
    } finally api.stop()
  }

  /** A table whose buckets carry delta chains: c-1 updated with a column
    * the first batch lacked, c-2 deleted, c-5 written before the column.
    */
  private def mkChainTable(tag: String): IcebergLikeTable = {
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    def snaps(turns: model.Turn*) =
      SnapshotFold.typedSnapshots(spark.createDataset(turns)).toDF()
    val t = new IcebergLikeTable(tmpDir(tag) + "/t", 2)
    t.merge(snaps(
      model.Turn("c-1", 1, "user", "hello", "", ts(1000L)),
      model.Turn("c-2", 1, "user", "solo", "", ts(1500L)),
      model.Turn("c-5", 1, "user", "early", "search", ts(1200L))), "conv_id", 0L)
    t.merge(snaps(model.Turn("c-1", 2, "assistant", "world", "search", ts(2000L)))
      .withColumn("tier", org.apache.spark.sql.functions.lit("gold")), "conv_id", 1L)
    t.delete(Seq("c-2").toDF("conv_id"), 2L)
    t
  }

  test("point reads over a delta chain: deletes 404, added columns, bodies equal lookup(...).toJSON") {
    val table = mkChainTable("serve-chain")
    assert(table.readManifest().deltas.values.exists(_.size >= 2),
      "the fixture should leave a delta chain")
    val api = new ServeApi(Map("t" -> ServeApi.Target(table)))
    val port = api.start()
    try {
      Seq("c-1", "c-2", "c-5", "never").foreach { k =>
        val r = get(port, s"/snapshots/t/entities/$k")
        table.lookup("conv_id", k).toJSON.collect().headOption match {
          case None => assert(r.statusCode() === 404, s"$k should be absent")
          case Some(expected) =>
            assert(r.statusCode() === 200, s"$k should be served")
            assert(text(r) === expected, s"$k body differs from toJSON")
        }
      }
      assert(get(port, "/snapshots/t/entities/c-2").statusCode() === 404)
      assert(text(get(port, "/snapshots/t/entities/c-1")).contains("\"tier\":\"gold\""))
      // written before the column existed: the field is omitted, as toJSON does
      assert(!text(get(port, "/snapshots/t/entities/c-5")).contains("tier"))
    } finally api.stop()
  }

  test("HTTP point reads launch no Spark job") {
    val table = mkChainTable("serve-nojob")
    val api = new ServeApi(Map("t" -> ServeApi.Target(table)))
    val port = api.start()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graftshim.Shim.waitListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val codes = (0 until 24).map(i =>
        get(port, s"/snapshots/t/entities/${Seq("c-1", "c-2", "c-5", "never")(i % 4)}").statusCode())
      assert(codes.count(_ == 200) === 12 && codes.count(_ == 404) === 12)
      org.apache.spark.sql.graftshim.Shim.waitListenerBus(spark.sparkContext)
      assert(jobs.get() === 0, s"24 lookups launched ${jobs.get()} Spark jobs")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      api.stop()
    }
  }

  test("dump lifecycle over HTTP: start → status → list; conflict 409; abort") {
    val table = mkTable("serve-dump")
    val acc = spark.sparkContext.collectionAccumulator[String]("served-dump")
    val api = new ServeApi(Map(
      "conversations" -> ServeApi.Target(table, it => it.foreach(acc.add))))
    val port = api.start()
    try {
      val started = send(port, "POST", "/snapshots/conversations/dump")
      assert(started.statusCode() === 202)
      val uid = """"dumpUid": "([^"]+)"""".r
        .findFirstMatchIn(text(started)).get.group(1)

      // poll to terminal state (async runner)
      var st = ""
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (st != "FinishedSuccessfully" && System.nanoTime() < deadline) {
        st = """"status": "([^"]+)"""".r
          .findFirstMatchIn(text(get(port, s"/dumps/$uid"))).get.group(1)
        if (st != "FinishedSuccessfully") Thread.sleep(50)
      }
      assert(st === "FinishedSuccessfully")
      assert(acc.value.asScala.toSet === Set("c-1", "c-2"))
      assert(text(get(port, "/dumps")).contains(uid))
      assert(get(port, "/dumps/dump-99999999").statusCode() === 404)

      // conflict: occupy the target, POST again → 409 carrying the running uid
      val blocking = api.manager.start("conversations")
      val conflict = send(port, "POST", "/snapshots/conversations/dump")
      assert(conflict.statusCode() === 409)
      assert(text(conflict).contains(blocking))

      // abort via PATCH flips the registry state
      val patched = send(port, "PATCH", s"/dumps/$blocking",
        """{"status": "aborted"}""")
      assert(patched.statusCode() === 200)
      assert(text(patched).contains("Aborted"))
      assert(api.manager.status(blocking) === graft.ops.DumpStatus.Aborted)
      // abort of a non-running dump → 404; bad status → 400
      assert(send(port, "PATCH", s"/dumps/$blocking",
        """{"status": "aborted"}""").statusCode() === 404)
      assert(send(port, "PATCH", s"/dumps/$uid",
        """{"status": "paused"}""").statusCode() === 400)
    } finally api.stop()
  }
}
