package graft.api

import graft.TestSpark
import graft.receiver.{MiniJson, MockPimCore}
import graft.state.IngestionStateStore
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** REST surface (A28/A30): async start, immediate response, health check,
  * validation error envelope — driven over real HTTP end to end. */
class ApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val client = HttpClient.newHttpClient()

  private def post(url: String, body: String): (Int, String) = {
    val resp = client.send(HttpRequest.newBuilder(URI.create(url))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("POST /api/ingest returns STARTED immediately; ingestion completes async") {
    val (mock, receiver, callbackUrl) = MockPimCore.serve()
    val store = IngestionStateStore.inMemory()
    val controller = new IngestController(spark, store)
    val (api, apiUrl) = IngestApiServer.serve(controller)
    try {
      val records = (0 until 20).map(i => s"""{"id": $i}""").mkString("[", ",", "]")
      val f = Files.createTempFile("graft_api", ".json")
      Files.writeString(f, records)

      val (code, body) = post(s"$apiUrl/api/ingest",
        s"""{"file_path": "${f.toString}", "file_type": "json",
           | "callback_url": "$callbackUrl", "chunk_size_by_records": 6}""".stripMargin)
      assert(code == 200)
      val obj = MiniJson.parse(body).asInstanceOf[MiniJson.JObj]
      assert(obj.get("status").contains(MiniJson.JStr("STARTED")))
      val iid = obj.get("ingestion_id")
        .collect { case MiniJson.JStr(s) => s }.get

      controller.awaitAll()
      val (outcome, state) = controller.status(iid)
      assert(outcome.contains("DONE"))
      assert(state.exists(s => s.status == IngestionState.Completed &&
        s.totalRecords == 20))
      assert(mock.completedCount == 1)
    } finally { api.stop(0); receiver.stop(0); controller.shutdown() }
  }

  test("re-ingestion via the API: the returned id is the id the run persists under") {
    // regressions: the controller's by-name clock was evaluated twice, so the
    // returned ingestion_id and the pipeline's actual id drifted apart; and
    // the controller hashed the raw file type while the run hashed the
    // lower-cased one, so "JSON" returned an id nothing was persisted under
    val (mock, receiver, callbackUrl) = MockPimCore.serve()
    val store = IngestionStateStore.inMemory()
    val controller = new IngestController(spark, store)
    val (api, apiUrl) = IngestApiServer.serve(controller)
    try {
      Seq("json", "JSON").foreach { fileType =>
        val f = Files.createTempFile("graft_api_reing", ".json")
        Files.writeString(f,
          (0 until 8).map(i => s"""{"id": $i}""").mkString("[", ",", "]"))
        val (_, body) = post(s"$apiUrl/api/ingest",
          s"""{"file_path": "${f.toString}", "file_type": "$fileType",
             | "callback_url": "$callbackUrl", "chunk_size_by_records": 3,
             | "re_ingestion": true}""".stripMargin)
        val iid = MiniJson.parse(body).asInstanceOf[MiniJson.JObj]
          .get("ingestion_id").collect { case MiniJson.JStr(s) => s }.get
        controller.awaitAll()
        assert(controller.status(iid)._1.contains("DONE"), fileType)
        assert(store.get(iid).exists(s =>
          s.status == IngestionState.Completed && s.totalRecords == 8),
          s"state row missing for the RETURNED id $iid ($fileType) — id drift")
      }
      val _ = mock
    } finally { api.stop(0); receiver.stop(0); controller.shutdown() }
  }

  test("a second start of a RUNNING ingestion id answers 409; the run sends each chunk once") {
    // two resume POSTs of one file resolve to one id; a second concurrent run
    // would re-send chunks and fail partway on the forward-only store
    val receiver = new graft.receiver.RecordingPimCore
    val store = IngestionStateStore.inMemory()
    val controller = new IngestController(spark, store)
    val (api, apiUrl) = IngestApiServer.serve(controller)
    try {
      val f = Files.createTempFile("graft_api_twice", ".json")
      Files.writeString(f,
        (0 until 40).map(i => s"""{"id": $i}""").mkString("[", ",", "]"))
      val body = s"""{"file_path": "${f.toString}", "file_type": "json",
         | "callback_url": "${receiver.url}", "chunk_size_by_records": 4}""".stripMargin
      val answers = Seq(post(s"$apiUrl/api/ingest", body), post(s"$apiUrl/api/ingest", body))
      val (first, second) = (answers(0), answers(1))
      assert(first._1 == 200, first)
      val iid = MiniJson.parse(first._2).asInstanceOf[MiniJson.JObj]
        .get("ingestion_id").collect { case MiniJson.JStr(s) => s }.get
      assert(second._1 == 409, second)
      val err = MiniJson.parse(second._2).asInstanceOf[MiniJson.JObj]
      assert(err.get("status").contains(MiniJson.JStr("error")))
      assert(err.get("error").exists(_.toString.contains(iid)), second)

      controller.awaitAll()
      assert(controller.status(iid)._1.contains("DONE"))
      assert(store.get(iid).contains(IngestionState(iid, 9, 40, IngestionState.Completed)))
      assert(receiver.posts(iid).map(_.chunkNumber) == (0L to 9L),
        "every chunk must be POSTed exactly once, in order")
      assert(receiver.mock.completedCount == 1)
    } finally { api.stop(0); receiver.stop(); controller.shutdown() }
  }

  test("concurrent ingestions of different files interleave safely") {
    // the reference runs each ingestion as an independent background task;
    // receiver-side ordering state is per ingestion_id (A24 is per-stream)
    val (mock, receiver, callbackUrl) = MockPimCore.serve()
    val store = IngestionStateStore.inMemory()
    val controller = new IngestController(spark, store)
    val (api, apiUrl) = IngestApiServer.serve(controller)
    try {
      val ids = (0 until 3).map { k =>
        val f = Files.createTempFile(s"graft_conc$k", ".json")
        Files.writeString(f,
          (0 until 30).map(i => s"""{"id": $i, "src": $k}""").mkString("[", ",", "]"))
        val (_, body) = post(s"$apiUrl/api/ingest",
          s"""{"file_path": "${f.toString}", "file_type": "json",
             | "callback_url": "$callbackUrl", "chunk_size_by_records": 7}""".stripMargin)
        MiniJson.parse(body).asInstanceOf[MiniJson.JObj]
          .get("ingestion_id").collect { case MiniJson.JStr(s) => s }.get
      }
      controller.awaitAll()
      ids.foreach { iid =>
        assert(controller.status(iid)._1.contains("DONE"), s"$iid not done")
        assert(store.get(iid).exists(s =>
          s.status == IngestionState.Completed && s.totalRecords == 30 &&
            s.lastChunk == 4), s"bad state for $iid")
      }
      assert(mock.completedCount == 3)
    } finally { api.stop(0); receiver.stop(0); controller.shutdown() }
  }

  test("GET /health answers 200; invalid requests get the error envelope (A29/A30)") {
    val controller = new IngestController(spark, IngestionStateStore.inMemory())
    val (api, apiUrl) = IngestApiServer.serve(controller)
    try {
      val health = client.send(HttpRequest.newBuilder(
        URI.create(s"$apiUrl/health")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(health.statusCode() == 200 && health.body().contains("ok"))

      // both chunk sizes → validation failure → 400 + {status, error}
      val (code, body) = post(s"$apiUrl/api/ingest",
        """{"file_path": "/tmp/x.json", "file_type": "json",
          | "callback_url": "http://127.0.0.1:1/cb",
          | "chunk_size_by_records": 10, "chunk_size_by_memory": 100}""".stripMargin)
      assert(code == 400)
      val obj = MiniJson.parse(body).asInstanceOf[MiniJson.JObj]
      assert(obj.get("status").contains(MiniJson.JStr("error")))
      assert(obj.get("error").exists(_.toString.contains("exactly one")))

      // unknown file type → 400 (A28 dispatch)
      val (code2, body2) = post(s"$apiUrl/api/ingest",
        """{"file_path": "/tmp/x.xml", "file_type": "xml",
          | "callback_url": "http://127.0.0.1:1/cb", "chunk_size_by_records": 10}""".stripMargin)
      assert(code2 == 400 && body2.contains("Unsupported file type"))
    } finally { api.stop(0); controller.shutdown() }
  }
}
