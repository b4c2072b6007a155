package graftbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.receiver.MockPimCore

/** What the receiver saw of one ingestion. */
final class IngestionLog {
  /** (chunk number, accept time in nanos), in accept order. */
  val accepts: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  var requests = 0L
  var nacks = 0L
  var postBytes = 0L
  var completed = 0
  var completedAt = 0L
}

/** The receiver, hosted by the benchmark: `MockPimCore.handle` served from
  * the benchmark's own `HttpServer` on at most `threads` daemon threads, so
  * that the benchmark records receiver time and per-chunk accept times from
  * outside the program, and the JVM can exit as soon as the run ends. */
final class Receiver(threads: Int) {
  val mock = new MockPimCore
  private val logs = mutable.Map.empty[String, IngestionLog]
  private val handleNanos = mutable.ArrayBuffer.empty[Long]

  // same Nagle setting MockPimCore.serve applies: without it every ACK
  // stalls on delayed-ACK; must be set before the first server is created
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val pool = new ThreadPoolExecutor(threads, threads, 0L,
    TimeUnit.MILLISECONDS, new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
      val t = new Thread(r, "bench-receiver"); t.setDaemon(true); t
    })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/callback", (ex: HttpExchange) => serve(ex))
  server.start()

  val url = s"http://127.0.0.1:${server.getAddress.getPort}/callback"

  private def serve(ex: HttpExchange): Unit = {
    val bytes = ex.getRequestBody.readAllBytes()
    val body = new String(bytes, StandardCharsets.UTF_8)
    val t0 = System.nanoTime()
    val resp = try mock.handle(body) catch {
      case e: Exception => MockPimCore.Response(ack = false, "", -1L,
        Some(s"receiver error: ${e.getMessage}"))
    }
    val t1 = System.nanoTime()
    synchronized {
      handleNanos += t1 - t0
      val log = logs.getOrElseUpdate(resp.ingestionId, new IngestionLog)
      log.requests += 1
      if (!resp.ack) log.nacks += 1
      else if (resp.chunkNumber < 0) {
        log.completed += 1
        log.completedAt = t1
        notifyAll()
      } else {
        log.postBytes += bytes.length
        log.accepts += ((resp.chunkNumber, t1))
      }
    }
    val out = resp.toJson.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, out.length)
    ex.getResponseBody.write(out)
    ex.close()
  }

  /** Block until the receiver has taken the COMPLETED handshake for `id`. */
  def awaitCompleted(id: String, timeoutMs: Long): IngestionLog = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!logs.get(id).exists(_.completed > 0)) {
      val left = deadline - System.currentTimeMillis()
      if (left <= 0) throw new RuntimeException(
        s"receiver saw no COMPLETED handshake for $id within $timeoutMs ms")
      wait(left)
    }
    logs(id)
  }

  def log(id: String): Option[IngestionLog] = synchronized(logs.get(id))

  /** Handle times (nanos) recorded since the last call. */
  def drainHandleNanos(): Seq[Long] = synchronized {
    val out = handleNanos.toSeq
    handleNanos.clear()
    out
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
