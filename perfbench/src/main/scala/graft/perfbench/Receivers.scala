package graft.perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** What the CTSDB stand-in saw of one phase: first arrival per session
  * `seq` (epoch ms), the due time the record carried, and duplicates. */
final class CtsdbLog(capacity: Int) {
  val arrivalMs: Array[Long] = Array.fill(capacity)(-1L)
  val dueMs: Array[Long] = new Array[Long](capacity)
  val distinct, dups, malformed, records = new AtomicLong

  /** Record every newline-terminated record of one bulk body. */
  def accept(body: String, nowMs: Long): Unit = {
    var from = 0
    var nl = body.indexOf('\n')
    while (nl >= 0) {
      records.incrementAndGet()
      val seq = CtsdbLog.field(body, "\"seq\":", from, nl)
      val due = CtsdbLog.field(body, "\"due\":", from, nl)
      if (seq < 0 || seq >= capacity || due < 0) malformed.incrementAndGet()
      else synchronized {
        val s = seq.toInt
        if (arrivalMs(s) < 0) { arrivalMs(s) = nowMs; dueMs(s) = due; distinct.incrementAndGet() }
        else dups.incrementAndGet()
      }
      from = nl + 1
      nl = body.indexOf('\n', from)
    }
  }

  /** Latencies (arrival - due, ms) of the sessions `[from, until)` that arrived. */
  def latencies(from: Int, until: Int): Array[Double] = synchronized {
    (from until until).filter(arrivalMs(_) >= 0).map(s => (arrivalMs(s) - dueMs(s)).toDouble)
      .toArray.sorted
  }

  def missing(from: Int, until: Int): Int = synchronized((from until until).count(arrivalMs(_) < 0))
}

object CtsdbLog {
  /** Non-negative integer after `key` within `[from, until)`, or -1. */
  def field(s: String, key: String, from: Int, until: Int): Long = {
    val k = s.indexOf(key, from)
    if (k < 0 || k >= until) return -1L
    var i = k + key.length
    var v = 0L
    val start = i
    while (i < until && s.charAt(i) >= '0' && s.charAt(i) <= '9') { v = v * 10 + (s.charAt(i) - '0'); i += 1 }
    if (i == start) -1L else v
  }
}

/** What the ZhiYan stand-in saw: per-batch delay aggregates keyed by batch
  * id, so a re-delivered batch is counted once and reported as a duplicate. */
final class ZhiyanLog {
  private val byBatch = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]
  val dupBatches, malformed = new LongAdder

  def accept(body: String): Unit = {
    val b = CtsdbLog.field(body, "\"batch\":", 0, body.length)
    val n = CtsdbLog.field(body, "\"n\":", 0, body.length)
    if (b < 0 || n < 0) malformed.increment()
    else if (byBatch.putIfAbsent(b, n) != null) dupBatches.increment()
  }

  def count: Long = { var s = 0L; byBatch.values.forEach(v => s += v); s }
}

/** Loopback stand-ins for the reference job's two HTTP endpoints: the
  * CTSDB bulk API the session tails go to and the ZhiYan metric API the
  * per-batch delay goes to. One server, at most `handlerThreads` handler
  * threads. `postDelayMs` > 0 is the sensitivity drill: each CTSDB POST is
  * held that long before the reply. */
final class Receivers(handlerThreads: Int, postDelayMs: Long) {
  @volatile var ctsdb = new CtsdbLog(1)
  @volatile var zhiyan = new ZhiyanLog

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 128)
  private val pool = Executors.newFixedThreadPool(handlerThreads)
  server.setExecutor(pool)
  server.createContext("/ctsdb/_bulk", (ex: HttpExchange) => reply(ex) { body =>
    val now = System.currentTimeMillis()
    if (postDelayMs > 0) Thread.sleep(postDelayMs)
    ctsdb.accept(body, now)
  })
  server.createContext("/zhiyan", (ex: HttpExchange) => reply(ex)(zhiyan.accept))
  server.start()

  val port: Int = server.getAddress.getPort
  def url(path: String): String = s"http://127.0.0.1:$port$path"

  /** Fresh logs for the next phase. */
  def reset(sessionCapacity: Int): Unit = { ctsdb = new CtsdbLog(sessionCapacity); zhiyan = new ZhiyanLog }

  private def reply(ex: HttpExchange)(f: String => Unit): Unit =
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), ISO_8859_1)
      f(body)
      val ok = "{}".getBytes(ISO_8859_1)
      ex.sendResponseHeaders(200, ok.length)
      ex.getResponseBody.write(ok)
    } catch {
      case _: Throwable => ex.sendResponseHeaders(500, -1)
    } finally ex.close()

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
