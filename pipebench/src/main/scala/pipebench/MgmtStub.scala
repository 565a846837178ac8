package pipebench

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Loopback stand-in for the HRI batch-management REST API on the JDK HTTP
  * server. It serves the four routes `MgmtClient` calls:
  *
  *  - `POST /token` — a fixed bearer token;
  *  - `GET /tenants/{t}/batches/{b}` — the batch's STARTED notification, or
  *    404 for an id the benchmark never registered;
  *  - `PUT .../action/processingComplete` and `PUT .../action/fail` — records
  *    the terminal call with its receipt time; a second terminal call for
  *    the same batch answers 409, as the real API does.
  *
  * The stub never publishes status changes back to the notification topic,
  * so which records a batch's terminal call precedes cannot change how they
  * are validated, and the expected outputs stay a function of the inputs.
  */
final class MgmtStub {

  final case class Terminal(status: String, actual: Int, invalid: Int,
      failureMessage: String, receivedNs: Long)

  private val batches = new ConcurrentHashMap[String, String]()
  val terminals = new ConcurrentHashMap[String, Terminal]()
  private val puts = new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()

  /** terminal calls received for batch `id`, answered or refused */
  def putsFor(id: String): Int = Option(puts.get(id)).map(_.get).getOrElse(0)

  val tokenCalls = new AtomicLong
  val getCalls = new AtomicLong
  val notFound = new AtomicLong
  val putCalls = new AtomicLong
  val conflicts = new AtomicLong

  // answer without waiting on Nagle + delayed ACK, as a production server would
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(2, (r: Runnable) => {
    val t = new Thread(r, "mgmt-stub"); t.setDaemon(true); t
  })
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  val baseUri: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Register a batch the API knows, with the body its GET returns. */
  def register(id: String, topic: String): Unit =
    batches.put(id,
      s"""{"id":"$id","name":"name-$id","topic":"$topic","dataType":"claims",""" +
        s""""status":"STARTED","startDate":"2026-01-01T00:00:00Z",""" +
        s""""invalidThreshold":-1}""")

  def stop(): Unit = { server.stop(0); pool.shutdownNow() }

  private def reply(ex: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, if (b.isEmpty) -1 else b.length.toLong)
    if (b.nonEmpty) ex.getResponseBody.write(b)
    ex.close()
  }

  private def intField(body: String, f: String): Int = {
    val m = ("\"" + f + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(body)
    m.map(_.group(1).toInt).getOrElse(-1)
  }

  private def strField(body: String, f: String): String = {
    val m = ("\"" + f + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r.findFirstMatchIn(body)
    m.map(_.group(1)).orNull
  }

  private def handle(ex: HttpExchange): Unit = {
    val now = System.nanoTime()
    val path = ex.getRequestURI.getPath
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val parts = path.split('/').filter(_.nonEmpty)
    ex.getRequestMethod match {
      case "POST" if path == "/token" =>
        tokenCalls.incrementAndGet()
        reply(ex, 200, """{"access_token":"bench-token","token_type":"bearer"}""")
      case "GET" if parts.length == 4 && parts(0) == "tenants" && parts(2) == "batches" =>
        getCalls.incrementAndGet()
        Option(batches.get(parts(3))) match {
          case Some(json) => reply(ex, 200, json)
          case None =>
            notFound.incrementAndGet()
            reply(ex, 404, s"""{"errorDescription":"batch ${parts(3)} not found"}""")
        }
      case "PUT" if parts.length == 6 && parts(4) == "action" =>
        putCalls.incrementAndGet()
        val id = parts(3)
        puts.computeIfAbsent(id, _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
        val status = parts(5) match {
          case "processingComplete" => "COMPLETED"
          case "fail" => "FAILED"
          case other => other
        }
        if (!batches.containsKey(id)) reply(ex, 404, "{}")
        else {
          val t = Terminal(status, intField(body, "actualRecordCount"),
            intField(body, "invalidRecordCount"), strField(body, "failureMessage"), now)
          if (terminals.putIfAbsent(id, t) == null) reply(ex, 200, "{}")
          else {
            conflicts.incrementAndGet()
            reply(ex, 409, s"""{"errorDescription":"batch $id is already terminal"}""")
          }
        }
      case _ => reply(ex, 400, "{}")
    }
  }
}
