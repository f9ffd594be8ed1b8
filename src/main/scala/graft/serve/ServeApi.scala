package graft.serve

import java.io.CharArrayWriter
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonGenerator}
import org.apache.spark.sql.internal.SQLConf

import graft.functions.GzipCodec
import graft.ops.{DumpAlreadyRunning, DumpManager, DumpService, DumpStatus}
import graft.store.IcebergLikeTable

/** The serving surface — the reference's largest module is its REST API
  * (reference: restapi/RestApi.scala:41-119 routes, :150-229 dump control,
  * :237-275 entity read with gzip negotiation). This is the Spark-native
  * analog: a thin DRIVER-SIDE facade over the engine's existing entry
  * points, so a non-Scala consumer can hit the same operations the Scala
  * API exposes. Nothing here is a query engine: every route delegates to
  * the already-tested paths —
  *
  *  - `GET /health/ping`                          → "ok" (reference :123-130)
  *  - `GET /snapshots`                            → target list (Q2, reference :43-48)
  *  - `GET /snapshots/{t}/entities/{k}`           → driver-side point
  *    read ([[IcebergLikeTable.get]], Q1) returning the resolved row as
  *    JSON, byte for byte what `lookup(...).toJSON` yields; honors
  *    `Accept-Encoding: gzip` like the reference (:237-263)
  *  - `POST /snapshots/{t}/dump?force_restart=b`  → starts an async dump
  *    ([[DumpService.runAsync]]) → 202 `{"dumpUid":…}`; 409 + running uid
  *    when one is active (reference :150-186)
  *  - `GET /dumps` / `GET /dumps/{uid}`           → dump registry
  *  - `PATCH /dumps/{uid}` `{"status":"ABORTED"}` → abort: flips the
  *    lifecycle AND cancels the Spark job group (reference :208-228)
  *
  * Scale notes: the server binds loopback and runs on a small fixed pool —
  * it is an operator console, not a data plane. A point lookup runs no
  * Spark job: it reads the key's bucket files on the handler thread
  * (bloom + bucket pruning applied); a dump runs
  * as its own daemon thread + job group so control routes stay responsive
  * (Spark's scheduler is concurrent across driver threads by design). At
  * fleet scale this facade would sit behind the driver of a long-lived
  * session (Connect/JDBC being the heavier alternatives — README's DSv2
  * discussion); the route surface is deliberately the reference's, no more.
  */
final class ServeApi(targets: Map[String, ServeApi.Target], port: Int = 0)(
    implicit spark: SparkSession) {

  val manager = new DumpManager

  ServeApi.enableNoDelay()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val pool = Executors.newFixedThreadPool(4, r => {
    val t = new Thread(r, "graft-serve"); t.setDaemon(true); t
  })
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => route(ex))

  /** Start listening; returns the bound port (useful with port=0). */
  def start(): Int = { server.start(); server.getAddress.getPort }

  def stop(): Unit = { server.stop(0); pool.shutdownNow(); () }

  // ---- routing -------------------------------------------------------

  private def route(ex: HttpExchange): Unit = {
    try {
      // getPath is already percent-decoded by URI parsing — decoding again
      // would corrupt keys ('+' → space, literal '%' → 500)
      val segs = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
      (ex.getRequestMethod, segs) match {
        case ("GET", List("health", "ping")) =>
          respond(ex, 200, "ok", "text/plain")
        case ("GET", List("snapshots")) =>
          respond(ex, 200, jsonArr(targets.keys.toSeq.sorted))
        case ("GET", List("snapshots", t, "entities", key)) =>
          getEntity(ex, t, key)
        case ("POST", List("snapshots", t, "dump")) =>
          startDump(ex, t)
        case ("GET", List("dumps")) =>
          respond(ex, 200, jsonArr(manager.dumps))
        case ("GET", List("dumps", uid)) =>
          manager.status(uid) match {
            case DumpStatus.Unknown => respond(ex, 404, msg(s"Unknown dump $uid"))
            case st => respond(ex, 200, dumpJson(uid, st))
          }
        case ("PATCH", List("dumps", uid)) =>
          patchDump(ex, uid)
        case _ =>
          respond(ex, 404, msg(s"No route ${ex.getRequestMethod} ${ex.getRequestURI.getPath}"))
      }
    } catch {
      case e: Throwable => respond(ex, 500, msg(Option(e.getMessage).getOrElse(e.toString)))
    } finally ex.close()
  }

  private def getEntity(ex: HttpExchange, target: String, key: String): Unit =
    targets.get(target) match {
      case None => respond(ex, 404, msg(s"Unknown target $target"))
      case Some(t) =>
        t.table.get(key).map(json) match {
          case None => respond(ex, 404, msg(s"Unknown key $key"))
          case Some(row) =>
            val acceptGzip = Option(ex.getRequestHeaders.getFirst("Accept-Encoding"))
              .exists(_.toLowerCase.contains("gzip"))
            if (acceptGzip) {
              ex.getResponseHeaders.set("Content-Encoding", "gzip")
              respondBytes(ex, 200, GzipCodec.compress(row), "application/json")
            } else respond(ex, 200, row)
        }
    }

  private def startDump(ex: HttpExchange, target: String): Unit =
    targets.get(target) match {
      case None => respond(ex, 404, msg(s"Unknown target $target"))
      case Some(t) =>
        val force = Option(ex.getRequestURI.getQuery)
          .exists(_.split("&").contains("force_restart=true"))
        try {
          val uid = DumpService.runAsync(manager, target, t.table, t.publish, force)
          respond(ex, 202, s"""{"dumpUid": ${q(uid)}}""")
        } catch {
          case e: DumpAlreadyRunning =>
            respond(ex, 409, s"""{"message": ${q(s"Another dump for target $target is running")}, "dumpUid": ${q(e.uid)}}""")
        }
    }

  private def patchDump(ex: HttpExchange, uid: String): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    // single known field; a JSON lib would be overkill for {"status": "..."}
    val status = """"status"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(body).map(_.group(1))
    status.map(_.toUpperCase) match {
      case Some("ABORTED") =>
        if (manager.status(uid) == DumpStatus.Running) {
          // the dump may finish between the check and the abort — report
          // whatever terminal state won rather than 500ing the console
          try DumpService.abort(manager, uid)
          catch { case _: graft.ops.IllegalDumpTransition => }
          respond(ex, 200, dumpJson(uid, manager.status(uid)))
        } else respond(ex, 404, msg(s"No running dump $uid"))
      case other =>
        respond(ex, 400, msg(s"""Dump status "${other.getOrElse("")}" is not supported."""))
    }
  }

  // ---- plumbing ------------------------------------------------------

  /** The row as `Dataset.toJSON` renders it: Catalyst's JacksonGenerator
    * under default options in the session time zone, with this session's
    * SQL conf active on the handler thread (the generator reads it).
    */
  private def json(e: IcebergLikeTable.Entity): String = {
    SparkSession.setActiveSession(spark)
    val out = new CharArrayWriter()
    val gen = new JacksonGenerator(e.schema, out, new JSONOptions(Map.empty[String, String],
      spark.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key)))
    try gen.write(e.row) finally gen.close()
    out.toString
  }

  private def dumpJson(uid: String, st: DumpStatus.Value): String =
    s"""{"dumpUid": ${q(uid)}, "status": ${q(st.toString)}}"""

  private def msg(s: String): String = s"""{"message": ${q(s)}}"""

  private def q(s: String): String = {
    val b = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '\\' => b.append("\\\\")
      case '"' => b.append("\\\"")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      // remaining control chars (< 0x20) are invalid raw in JSON strings —
      // a %0A-style decoded path segment must not break the error body
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private def jsonArr(xs: Seq[String]): String = xs.map(q).mkString("[", ", ", "]")

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json"): Unit =
    respondBytes(ex, code, body.getBytes(StandardCharsets.UTF_8), contentType)

  private def respondBytes(ex: HttpExchange, code: Int, body: Array[Byte],
      contentType: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, body.length.toLong)
    val os = ex.getResponseBody
    try os.write(body) finally os.close()
  }
}

object ServeApi {
  private val NoDelay = "sun.net.httpserver.nodelay"

  /** TCP_NODELAY for the JDK server's sockets. It writes a response's
    * headers and body as two segments; with Nagle on, a kept-alive
    * connection holds the body until the client's delayed ACK (~40 ms).
    * The JDK reads the property once, when its server config class loads
    * at the first `HttpServer.create` in the JVM, so it is set before
    * that, and never over a value the operator chose.
    */
  private def enableNoDelay(): Unit =
    if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")

  /** A servable target: the snapshot table plus the dump sink (the
    * reference publishes dumped keys to SQS; here the sink is
    * caller-supplied and runs on executors — see [[DumpService.runDump]]).
    */
  final case class Target(table: IcebergLikeTable,
      publish: Iterator[String] => Unit = _ => ())
}
