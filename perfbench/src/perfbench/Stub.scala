package perfbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process vector-DB endpoint speaking the Qdrant upsert shape
  * (`POST /points` with `{"points":[{"id","vector","payload":{...}}]}`).
  * It parses every body, keeps what it received, counts POSTs and
  * records, and times its own handling. */
final class Stub {
  import Stub.Point

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(2)
  private val mapper = new ObjectMapper()
  private val received = new ConcurrentLinkedQueue[Point]()
  val posts = new AtomicLong()
  val handleNanos = new AtomicLong()

  server.createContext("/points", (ex: HttpExchange) => {
    val t0 = System.nanoTime()
    val code =
      try {
        val root = mapper.readTree(ex.getRequestBody)
        val it = root.get("points").elements()
        while (it.hasNext) {
          val p = it.next()
          val payload = p.get("payload")
          received.add(Point(p.get("id").asText(), p.get("vector").size(),
            payload.get("source_text").asText(), payload.get("source_document").asText()))
        }
        posts.incrementAndGet()
        200
      } catch { case scala.util.control.NonFatal(_) => 400 }
    val body = """{"status":"ok"}""".getBytes("UTF-8")
    ex.sendResponseHeaders(code, body.length)
    ex.getResponseBody.write(body)
    ex.close()
    handleNanos.addAndGet(System.nanoTime() - t0)
  })
  server.setExecutor(pool)
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Everything received since the last call. */
  def drain(): Vector[Point] = {
    val b = Vector.newBuilder[Point]
    var p = received.poll()
    while (p != null) { b += p; p = received.poll() }
    b.result()
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }
}

object Stub {
  final case class Point(id: String, width: Int, text: String, document: String)
}
