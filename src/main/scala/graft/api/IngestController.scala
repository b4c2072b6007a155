package graft.api

import graft.ingest.IngestionPipeline
import graft.state.IngestionStateStore
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors}
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession

/** Thin driver API (SURVEY.md §2 A28/A30/A31 —
  * `app/controllers/ingestion_controllers.py`, `app/api/ingest_data.py`,
  * `app/main.py`): validate, derive the ingestion identity, start the Spark
  * job in the background, answer `{status: STARTED, ingestion_id}`
  * immediately — the API lifecycle is decoupled from the ingestion run
  * exactly like the reference's BackgroundTasks (`README.md:442-448`).
  */
final class IngestController(spark: SparkSession, store: IngestionStateStore) {

  private val pool = Executors.newCachedThreadPool()
  private val outcomes = new ConcurrentHashMap[String, String]()

  final case class Started(ingestionId: String)

  /** A28: async run. Validation (file type included) already happened when
    * the [[IngestRequest]] was built, like the controller's 400
    * (`ingestion_controllers.py:60-66`). At most one run per ingestion id:
    * the id is claimed atomically, and a start while its run is RUNNING
    * throws [[IngestionRunning]] — two runs of one id would send duplicate
    * chunks and the loser would fail partway on the forward-only store. */
  def ingest(request: IngestRequest,
      nowMillis: => Long = System.currentTimeMillis()): Started = {
    // evaluate the by-name clock ONCE: the returned ingestion_id and the id
    // the pipeline runs under must come from the same epoch-millis version
    val now = nowMillis
    val ingestionId = IngestionPipeline.ingestionId(request, now)
    var claimed = false
    outcomes.compute(ingestionId, (_, prior) =>
      if (prior == "RUNNING") prior else { claimed = true; "RUNNING" })
    if (!claimed) throw new IngestionRunning(ingestionId)
    pool.submit(new Runnable {
      override def run(): Unit =
        try {
          IngestionPipeline.run(spark, request, store, now)
          outcomes.put(ingestionId, "DONE")
        } catch {
          case e: Throwable => outcomes.put(ingestionId, s"FAILED: ${e.getMessage}")
        }
    })
    Started(ingestionId)
  }

  /** Execution outcome (RUNNING / DONE / FAILED) + persisted protocol state. */
  def status(ingestionId: String): (Option[String], Option[IngestionState]) =
    (Option(outcomes.get(ingestionId)), store.get(ingestionId))

  def awaitAll(timeoutMillis: Long = 120000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMillis
    while (outcomes.values.stream().anyMatch(_ == "RUNNING") &&
      System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def shutdown(): Unit = pool.shutdown()
}

/** A start of an ingestion id whose run is still RUNNING (HTTP 409). */
final class IngestionRunning(ingestionId: String)
  extends IllegalStateException(s"ingestion $ingestionId is already running")

/** REST facade with the reference's routes: POST /api/ingest, GET /health,
  * and the global `{status, error}` error envelope (`app/main.py:25-42`). */
object IngestApiServer {

  def serve(controller: IngestController, port: Int = 0): (HttpServer, String) = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

    def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

    server.createContext("/health", new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        respond(ex, 200, """{"status":"ok"}""")
    })

    server.createContext("/api/ingest", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        try {
          val o = graft.receiver.MiniJson.parse(body)
            .asInstanceOf[graft.receiver.MiniJson.JObj]
          def str(k: String): Option[String] =
            o.get(k).collect { case graft.receiver.MiniJson.JStr(s) => s }
          def num(k: String): Option[Long] =
            o.get(k).collect { case graft.receiver.MiniJson.JNum(r) => r.toLong }
          val request = IngestRequest(
            filePath = str("file_path").getOrElse(""),
            fileType = str("file_type").getOrElse(""),
            callbackUrl = str("callback_url").getOrElse(""),
            chunkSizeByRecords = num("chunk_size_by_records").map(_.toInt),
            chunkSizeByMemory = num("chunk_size_by_memory"),
            reIngestion = o.get("re_ingestion")
              .contains(graft.receiver.MiniJson.JBool(true)))
          val started = controller.ingest(request)
          respond(ex, 200,
            s"""{"status":"STARTED","ingestion_id":"${started.ingestionId}"}""")
        } catch {
          case e: Exception => // A30 error envelope
            val msg = Option(e.getMessage).getOrElse("invalid request")
              .replace("\\", "\\\\").replace("\"", "\\\"")
            val code = e match { case _: IngestionRunning => 409; case _ => 400 }
            respond(ex, code, s"""{"status":"error","error":"$msg"}""")
        }
      }
    })

    server.start()
    (server, s"http://127.0.0.1:${server.getAddress.getPort}")
  }
}
