package graftbench

import java.net.InetSocketAddress
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback emulator of the FMP REST API, owned by the benchmark so that
  * edits to the engine's own test server cannot shift the load.
  *
  * Bodies are rendered before a wave starts and swapped in whole; a
  * request only looks its body up. `GET /{endpoint}/sym_part={symbol}`
  * (the path `FmpSource` builds from its `root` option) returns the
  * symbol's JSON array; an unknown symbol returns `[]`. A seeded share of
  * the first requests for each path in a wave is answered `429` with
  * `Retry-After: 0`, which the source retries.
  */
final class FmpEmulator(handlerThreads: Int) {
  @volatile private var bodies: Map[String, Array[Byte]] = Map.empty
  @volatile private var throttled: Set[String] = Set.empty
  private val seen = ConcurrentHashMap.newKeySet[String]()
  val requests = new AtomicLong()
  val retries = new AtomicLong()
  val bytesOut = new AtomicLong()
  private val Empty = "[]".getBytes("UTF-8")

  // Without TCP_NODELAY the JDK server's small responses wait on delayed
  // ACKs (~40 ms each), which would dominate the extract it emulates.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(handlerThreads, r => {
    val t = new Thread(r, "fmp-emulator"); t.setDaemon(true); t
  })
  server.setExecutor(pool)
  server.createContext("/", (x: HttpExchange) =>
    try {
      val path = x.getRequestURI.getPath
      requests.incrementAndGet()
      if (!seen.add(path)) retries.incrementAndGet()
      if (throttled.contains(path) && !retriedOnce(path)) {
        x.getResponseHeaders.set("Retry-After", "0")
        x.sendResponseHeaders(429, -1)
      } else {
        val b = bodies.getOrElse(path, Empty)
        bytesOut.addAndGet(b.length)
        x.getResponseHeaders.set("Content-Type", "application/json")
        x.sendResponseHeaders(200, b.length)
        x.getResponseBody.write(b)
      }
    } finally x.close())
  server.start()

  private val answered429 = ConcurrentHashMap.newKeySet[String]()
  private def retriedOnce(path: String): Boolean = !answered429.add(path)

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  /** Publishes one wave: `bodies` keyed by request path, `throttled` the
    * paths whose first request in this wave gets a 429. Resets the
    * first-request bookkeeping, not the counters. */
  def publish(newBodies: Map[String, Array[Byte]], newThrottled: Set[String]): Unit = {
    seen.clear(); answered429.clear()
    bodies = newBodies
    throttled = newThrottled
  }

  /** Re-reads of a wave (output checks) are neither first requests nor
    * throttled. */
  def settle(): Unit = { throttled = Set.empty }

  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

object FmpEmulator {
  def path(endpoint: String, symbol: String): String = s"/$endpoint/sym_part=$symbol"
}
