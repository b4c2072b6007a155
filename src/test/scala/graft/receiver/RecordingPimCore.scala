package graft.receiver

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import scala.collection.mutable.ArrayBuffer

/** A [[MockPimCore]] served over HTTP that also logs every chunk POST it
  * answers — duplicates and NACKed ones included — so a spec can compare
  * what two senders delivered chunk by chunk. */
final class RecordingPimCore {
  import RecordingPimCore.Post

  val mock = new MockPimCore
  private val log = ArrayBuffer.empty[Post]

  private val server = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s.setExecutor(java.util.concurrent.Executors.newCachedThreadPool())
    s.createContext("/callback", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val resp = mock.handle(body)
      MiniJson.parse(body) match {
        case o: MiniJson.JObj if !o.get("status").contains(MiniJson.JStr("COMPLETED")) =>
          val records = o.get("records").collect { case MiniJson.JArr(vs) => vs.size }
          val checksum = o.get("checksum").collect { case MiniJson.JStr(c) => c }
          synchronized {
            log += Post(resp.ingestionId, resp.chunkNumber, checksum.getOrElse(""),
              records.getOrElse(0), resp.ack)
          }
        case _ =>
      }
      val bytes = resp.toJson.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    s.start()
    s
  }

  val url = s"http://127.0.0.1:${server.getAddress.getPort}/callback"

  /** Every chunk POST of `ingestionId`, in arrival order. */
  def posts(ingestionId: String): Seq[Post] =
    synchronized(log.filter(_.ingestionId == ingestionId).toSeq)

  def stop(): Unit = server.stop(0)
}

object RecordingPimCore {
  final case class Post(ingestionId: String, chunkNumber: Long, checksum: String,
      records: Int, ack: Boolean)
}
