package graft.ingest

import graft.TestSpark
import graft.api.{IngestRequest, IngestionState}
import graft.canon.Identity
import graft.receiver.{MockPimCore, RecordingPimCore}
import graft.sink.OrderedAckHttpSink
import graft.state.IngestionStateStore
import java.nio.file.Files
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Protocol/invariant tests (SURVEY.md §5.2 #1 and #4): the full ingest
  * pipeline over REAL HTTP against the mock receiver — chunk-exactly-once,
  * ACK-gated persistence, NACK-retry, terminal failure, crash/resume,
  * duplicate idempotency, re-ingestion versioning, COMPLETED accounting.
  *
  * Each test writes its own input file: file_path feeds file_id feeds
  * ingestion_id, so per-test files isolate receiver-side ordering state.
  */
class ProtocolSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  private var mock: MockPimCore = _
  private var server: com.sun.net.httpserver.HttpServer = _
  private var url: String = _

  override def beforeAll(): Unit = {
    val (m, s, u) = MockPimCore.serve()
    mock = m; server = s; url = u
  }

  override def afterAll(): Unit = server.stop(0)

  /** Fresh 50-record JSON array file — the reference's sample input shape. */
  private def freshFile(): String = {
    val records = (0 until 50).map { i =>
      s"""{"product_id": ${1000 + i}, "sku": "SKU-${1000 + i}", "price": $i.99, "active": ${i % 2 == 0}}"""
    }
    val f = Files.createTempFile("graft_ingest", ".json")
    Files.writeString(f, records.mkString("[\n", ",\n", "\n]"))
    f.toString
  }

  private def request(file: String, chunkSize: Int = 10, reIngestion: Boolean = false) =
    IngestRequest(file, "json", url,
      chunkSizeByRecords = Some(chunkSize), reIngestion = reIngestion)

  /** A chunk payload: the records array `[r1,…,rn]` as UTF-8 bytes. */
  private def payload(records: String*): Array[Byte] =
    records.mkString("[", ",", "]").getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def resumeId(file: String): String =
    Identity.ingestionId(Identity.fileId(file, "json"), "resume")

  test("fresh ingest delivers every chunk in order and completes") {
    val file = freshFile()
    val store = IngestionStateStore.inMemory()
    val before = mock.receivedChunks.size
    val completions = mock.completedCount
    val result = IngestionPipeline.run(spark, request(file), store)
    assert(result.chunksSent == 5)
    assert(result.chunksSkipped == 0)
    assert(result.totalRecords == 50)
    assert(mock.receivedChunks.slice(before, before + 5).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    assert(result.state.contains(
      IngestionState(result.ingestionId, 4, 50, IngestionState.Completed)))
    assert(mock.completedCount == completions + 1)
  }

  test("NACK triggers retry; a transient rejection is absorbed") {
    val file = freshFile()
    val store = IngestionStateStore.inMemory()
    mock.rejectChunk(2, times = 1)
    val result = IngestionPipeline.run(spark, request(file), store)
    assert(result.chunksSent == 5)
    assert(result.state.exists(_.status == IngestionState.Completed))
  }

  test("3 consecutive NACKs are terminal; progress stops at the last ACK (A18/A21)") {
    val file = freshFile()
    val store = IngestionStateStore.inMemory()
    mock.rejectChunk(3, times = 3)
    val ex = intercept[Exception] {
      IngestionPipeline.run(spark, request(file), store)
    }
    assert(ex.getMessage.contains("chunk 3"))
    // chunks 0..2 were ACKed and persisted; chunk 3 never reached the store
    assert(store.get(resumeId(file)).contains(
      IngestionState(resumeId(file), 2, 30, IngestionState.InProgress)))
  }

  test("crash mid-ingestion then resume: only unsent chunks go out (A20)") {
    val file = freshFile()
    val store = IngestionStateStore.inMemory()
    mock.rejectChunk(2, times = 3) // receiver outage at chunk 2
    intercept[Exception] { IngestionPipeline.run(spark, request(file), store) }
    assert(store.get(resumeId(file)).exists(s =>
      s.lastChunk == 1 && s.totalRecords == 20 && s.status == IngestionState.InProgress))

    val resumeStart = mock.receivedChunks.size
    val result = IngestionPipeline.run(spark, request(file), store)
    assert(result.chunksSkipped == 2) // 0,1 rebuilt but not re-sent
    assert(result.chunksSent == 3) // 2,3,4
    assert(mock.receivedChunks.slice(resumeStart, resumeStart + 3).toSeq ==
      Seq(2L, 3L, 4L))
    assert(result.totalRecords == 50) // monotone across resume (A12)
    assert(result.state.exists(_.status == IngestionState.Completed))
  }

  test("resume skips already-ACKed chunks across delivery partitions (A20)") {
    val receiver = new RecordingPimCore
    try {
      // a delivery range is an input partition: four JSON files of 50
      // ~24 KB records each scan as four partitions of five chunks
      val rnd = new scala.util.Random(7)
      val f = Files.createTempDirectory("graft_resume")
      (0 until 4).foreach { file =>
        Files.writeString(f.resolve(s"part$file.json"), (50 * file until 50 * file + 50).map { i =>
          s"""{"id": $i, "pad": "${rnd.alphanumeric.take(24000).mkString}"}"""
        }.mkString("[\n", ",\n", "\n]"))
      }
      val req = IngestRequest(f.toString, "json", receiver.url,
        chunkSizeByRecords = Some(10))
      // the 12 chunks to skip span more than one delivery partition
      val parts = IngestionPipeline.buildChunks(IngestionPipeline.scan(spark, req), req)
        .rdd.map(_.getAs[Long]("chunk_number")).glom().collect()
      assert(parts.flatten.sorted.toSeq == (0L until 20L))
      assert(parts.count(_.exists(_ <= 11L)) >= 2, parts.map(_.toSeq).toSeq)

      val store = IngestionStateStore.inMemory()
      receiver.mock.rejectChunk(12, times = 3)
      intercept[Exception] { IngestionPipeline.run(spark, req, store) }
      val id = resumeId(f.toString)
      assert(store.lastChunk(id) == 11L)
      val firstRun = receiver.posts(id).size

      val result = IngestionPipeline.run(spark, req, store)
      assert(result.chunksSkipped == 12)
      assert(result.chunksSent == 8)
      assert(result.totalRecords == 200)
      // chunks 12..19 POST once each, in order; nothing <= 11 goes out again
      val resumed = receiver.posts(id).drop(firstRun)
      assert(resumed.map(_.chunkNumber) == (12L until 20L))
      assert(resumed.forall(_.ack))
    } finally receiver.stop()
  }

  test("a delivery range out of chunk order fails before its POST (A24)") {
    val receiver = new RecordingPimCore
    try {
      val file = freshFile()
      val req = IngestRequest(file, "json", receiver.url, chunkSizeByRecords = Some(10))
      val chunks = IngestionPipeline.buildChunks(IngestionPipeline.scan(spark, req), req)
      val byNumber = chunks.collect().map(r => r.getAs[Long]("chunk_number") -> r).toMap
      // one delivery range holding chunks 0, 1, 3, 2, 4
      val misordered = spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(0L, 1L, 3L, 2L, 4L).map(byNumber), 1), chunks.schema)
      val id = resumeId(file)
      val store = IngestionStateStore.inMemory()
      val ex = intercept[RuntimeException] {
        IngestionPipeline.deliverChunksDistributed(misordered, id, store,
          receiver.url, lastAcked = -1L, startingTotal = 0L, maxChunk = 4L)
      }
      assert(ex.getMessage.contains("chunk 3 follows chunk 1"), ex.getMessage)
      // chunks 0 and 1 went out and were ACKed; nothing out of order was POSTed
      assert(receiver.posts(id).map(p => (p.chunkNumber, p.ack)) == Seq((0L, true), (1L, true)))
      assert(store.lastChunk(id) == 1L && store.totalRecords(id) == 20L)
    } finally receiver.stop()
  }

  test("retries pause between attempts; a twice-NACKed chunk still lands (A18)") {
    val pauses = OrderedAckHttpSink.RetryPausesMs.take(2).sum
    val rec = """{"k":1}"""
    val iid = Identity.ingestionId("e" * 64, System.nanoTime().toString)
    mock.rejectChunk(0, times = 2)
    val t0 = System.nanoTime()
    new OrderedAckHttpSink(url).sendChunk(iid, 0, Identity.chunkId(iid, 0),
      Identity.sha256Hex(s"[$rec]"), payload(rec), isLast = false)
    assert((System.nanoTime() - t0) / 1000000L >= pauses)
    assert(mock.lastChunkPerIngestion.get(iid).contains(0L))

    val file = freshFile()
    val store = IngestionStateStore.inMemory()
    mock.rejectChunk(2, times = 2)
    val t1 = System.nanoTime()
    val result = IngestionPipeline.run(spark, request(file), store)
    assert((System.nanoTime() - t1) / 1000000L >= pauses)
    assert(result.chunksSent == 5 && result.totalRecords == 50)
    assert(result.state.exists(_.status == IngestionState.Completed))
  }

  test("concurrent ingestions interleave freely but stay ordered per ingestion") {
    // 4 distinct files → 4 ingestion ids, run simultaneously against ONE
    // receiver. The receiver NACKs any out-of-order chunk within an
    // ingestion (A24), and 3 NACKs are terminal — so all four completing
    // with full counts PROVES per-ingestion ordering survived arbitrary
    // cross-ingestion interleaving (the IngestController concurrency model)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val files = (0 until 4).map(_ => freshFile())
    val recordsBefore = mock.totalRecordsEver
    val completionsBefore = mock.completedCount
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val results =
      try Await.result(Future.sequence(files.map(f => Future {
        IngestionPipeline.run(spark, request(f), IngestionStateStore.inMemory())
      })), 120.seconds)
      finally pool.shutdown()
    results.foreach { r =>
      assert(r.chunksSent == 5 && r.totalRecords == 50)
      assert(r.state.exists(_.status == IngestionState.Completed))
    }
    assert(results.map(_.ingestionId).distinct.size == 4)
    assert(mock.totalRecordsEver == recordsBefore + 200)
    assert(mock.completedCount == completionsBefore + 4)
  }

  test("crash between the final chunk ACK and COMPLETED: resume re-sends " +
      "ONLY the handshake (A22)") {
    // the one protocol window the other resume tests never plant
    // (reference semantics: the handshake is a separate call AFTER the
    // last chunk ACK persists, so a crash can land exactly between them)
    val file = freshFile()
    val store = IngestionStateStore.inMemory()
    val req = request(file)
    val ingestionId = resumeId(file)
    // phase 1 — simulate the crash: deliver every chunk (each ACK
    // persists progress), then die BEFORE sendCompleted/markCompleted
    val chunks = IngestionPipeline.buildChunks(
      IngestionPipeline.scan(spark, req), req)
    val (sent, _, total) = IngestionPipeline.deliverChunksDistributed(
      chunks, ingestionId, store, url, lastAcked = -1L, startingTotal = 0L,
      maxChunk = 4L)
    assert(sent == 5 && total == 50)
    assert(store.get(ingestionId).contains(
      IngestionState(ingestionId, 4, 50, IngestionState.InProgress)))
    val completionsBefore = mock.completedCount
    val chunksBefore = mock.receivedChunks.size
    val recordsBefore = mock.totalRecordsEver
    // phase 2 — resume: every chunk is already ACKed, so the run must
    // send ZERO chunks and exactly ONE handshake
    val result = IngestionPipeline.run(spark, request(file), store)
    assert(result.chunksSent == 0)
    assert(result.chunksSkipped == 5)
    assert(result.totalRecords == 50) // running count survived (A12)
    assert(mock.receivedChunks.size == chunksBefore) // no chunk re-sends
    assert(mock.totalRecordsEver == recordsBefore) // accounting unchanged
    assert(mock.completedCount == completionsBefore + 1) // one handshake
    assert(result.state.contains(
      IngestionState(ingestionId, 4, 50, IngestionState.Completed)))
  }

  test("duplicate chunk delivery is idempotent at the receiver (A23)") {
    val file = freshFile()
    val store = IngestionStateStore.inMemory()
    val result = IngestionPipeline.run(spark, request(file), store)
    val total = mock.totalRecordsReceived
    // replay an already-processed chunk_id: must ACK without reprocessing
    val sink = new OrderedAckHttpSink(url)
    val rec = """{"k":1}"""
    sink.sendChunk(result.ingestionId, 0,
      Identity.chunkId(result.ingestionId, 0),
      Identity.sha256Hex(s"[$rec]"), payload(rec), isLast = false)
    assert(mock.totalRecordsReceived == total) // not reprocessed
  }

  test("receiver rejects out-of-order, checksum-mismatched and empty chunks (A24-A26)") {
    val sink = new OrderedAckHttpSink(url, maxAttempts = 1)
    val iid = Identity.ingestionId("f" * 64, System.nanoTime().toString)
    val rec = """{"k":1}"""
    val good = Identity.sha256Hex(s"[$rec]")
    val ex1 = intercept[Exception] {
      sink.sendChunk(iid, 5, Identity.chunkId(iid, 5), good, payload(rec), false)
    }
    assert(ex1.getMessage.contains(MockPimCore.OutOfOrder))
    val ex2 = intercept[Exception] {
      sink.sendChunk(iid, 0, Identity.chunkId(iid, 0), "0" * 64, payload(rec), false)
    }
    assert(ex2.getMessage.contains(MockPimCore.ChecksumMismatch))
    val ex3 = intercept[Exception] {
      sink.sendChunk(iid, 0, Identity.chunkId(iid, 0), good, payload(), false)
    }
    assert(ex3.getMessage.contains(MockPimCore.EmptyChunk))
  }

  test("re-ingestion mints a fresh ingestion id and restarts from chunk 0 (A31)") {
    val file = freshFile()
    val store = IngestionStateStore.inMemory()
    val r1 = IngestionPipeline.run(spark, request(file), store)
    val r2 = IngestionPipeline.run(spark, request(file, reIngestion = true), store,
      nowMillis = 1723400000000L)
    assert(r1.ingestionId != r2.ingestionId)
    assert(r2.chunksSent == 5 && r2.chunksSkipped == 0)
    assert(r2.ingestionId ==
      Identity.ingestionId(Identity.fileId(file, "json"), "1723400000000"))
  }

  test("byte-budget chunking drives the pipeline end-to-end (A10)") {
    val file = freshFile()
    val store = IngestionStateStore.inMemory()
    val req = IngestRequest(file, "json", url, chunkSizeByMemory = Some(200L))
    val result = IngestionPipeline.run(spark, req, store)
    assert(result.totalRecords == 50)
    assert(result.chunksSent > 5) // 200-byte budget packs ~2-3 records/chunk
    assert(result.state.exists(_.status == IngestionState.Completed))
  }

  test("file-backed state store survives process handoff (crash-safe resume)") {
    val dir = Files.createTempDirectory("graft_state")
    val storeA = IngestionStateStore.file(dir.toString)
    storeA.ackChunk("iid_x", 7, 800)
    // a brand-new store instance over the same directory sees the progress
    val storeB = IngestionStateStore.file(dir.toString)
    assert(storeB.get("iid_x").contains(
      IngestionState("iid_x", 7, 800, IngestionState.InProgress)))
    storeB.markCompleted("iid_x")
    assert(IngestionStateStore.file(dir.toString).get("iid_x")
      .exists(_.status == IngestionState.Completed))
    assert(storeB.lastChunk("unknown") == -1L) // reference default (-1)
    assert(storeB.totalRecords("unknown") == 0L)
  }

  /** Two runs of one id racing: the later ACK of the slower run must not
    * move progress back. */
  private def assertForwardOnly(store: IngestionStateStore): Unit = {
    store.ackChunk("iid_fwd", 5, 60)
    Seq(5L, 3L).foreach { stale =>
      val e = intercept[IllegalStateException] {
        store.ackChunk("iid_fwd", stale, 40)
      }
      assert(e.getMessage.contains("iid_fwd") &&
        e.getMessage.contains("stored 5") && e.getMessage.contains(s"got $stale"))
    }
    assert(store.get("iid_fwd").contains(
      IngestionState("iid_fwd", 5, 60, IngestionState.InProgress)))
    store.ackChunk("iid_fwd", 6, 70)
    assert(store.lastChunk("iid_fwd") == 6L)
  }

  test("in-memory state store only moves progress forward") {
    assertForwardOnly(IngestionStateStore.inMemory())
  }

  test("file state store only moves progress forward and stages each " +
      "write in its own temp file") {
    val dir = Files.createTempDirectory("graft_state")
    // another run's in-flight write holds the old shared temp names
    Files.createDirectory(dir.resolve("iid_fwd.state.tmp"))
    Files.createDirectory(dir.resolve("k.meta.tmp"))
    val store = IngestionStateStore.file(dir.toString)
    assertForwardOnly(store)
    store.putMeta("k", "v")
    assert(store.getMeta("k").contains("v"))
    val names = Files.list(dir).iterator.asScala
      .map(_.getFileName.toString).toSet
    assert(names == Set("iid_fwd.state", "k.meta", "iid_fwd.state.tmp",
      "k.meta.tmp"), s"left behind: $names")
  }

  test("nested free-form records survive the full protocol (A14 end-to-end)") {
    // nested objects/arrays/nulls/decimals — the receiver independently
    // re-parses and re-canonicalizes, so an ACKed run proves byte-level
    // canonical parity between the Catalyst expression and MiniJson
    val records = Seq(
      """{"id": 1, "attrs": {"tags": ["b", "a"], "color": "red"}, "price": 19.99, "note": "line\nbreak"}""",
      """{"id": 2, "attrs": {"tags": [], "color": null}, "price": null, "note": "quote\"inside"}""",
      """{"id": 3, "attrs": {"tags": ["x"], "color": "blue"}, "price": 5.0, "note": null}""")
    val f = Files.createTempFile("graft_nested", ".json")
    Files.writeString(f, records.mkString("[\n", ",\n", "\n]"))
    val store = IngestionStateStore.inMemory()
    val result = IngestionPipeline.run(spark,
      IngestRequest(f.toString, "json", url, chunkSizeByRecords = Some(2)), store)
    assert(result.totalRecords == 3)
    assert(result.chunksSent == 2)
    assert(result.state.exists(_.status == IngestionState.Completed))
  }

  test("request validation enforces the chunk-size XOR and bounds (A29)") {
    val file = freshFile()
    intercept[IllegalArgumentException] {
      IngestRequest(file, "json", url) // neither size given
    }
    intercept[IllegalArgumentException] {
      IngestRequest(file, "json", url,
        chunkSizeByRecords = Some(10), chunkSizeByMemory = Some(100L))
    }
    intercept[IllegalArgumentException] {
      IngestRequest(file, "json", url, chunkSizeByRecords = Some(4001))
    }
    intercept[IllegalArgumentException] {
      IngestRequest("", "json", url, chunkSizeByRecords = Some(10))
    }
  }

  test("file type dispatch is case-insensitive (A28: lower() on file_type)") {
    val file = freshFile()
    val store = IngestionStateStore.inMemory()
    val result = IngestionPipeline.run(spark,
      IngestRequest(file, "JSON", url, chunkSizeByRecords = Some(25)), store)
    assert(result.totalRecords == 50 && result.chunksSent == 2)
  }

  test("unknown file type is rejected (A28 dispatch)") {
    val ex = intercept[IllegalArgumentException] {
      IngestionPipeline.scan(spark, IngestRequest(freshFile(), "xml", url,
        chunkSizeByRecords = Some(10)))
    }
    assert(ex.getMessage.contains("Unsupported file type"))
  }

  test("empty-row filter drops all-blank CSV rows before counting (A7)") {
    val f = Files.createTempFile("graft_csv", ".csv")
    Files.writeString(f, "name,qty\nalpha,1\n,\nbeta,2\n,\n")
    val store = IngestionStateStore.inMemory()
    val req = IngestRequest(f.toString, "csv", url, chunkSizeByRecords = Some(10))
    val result = IngestionPipeline.run(spark, req, store)
    assert(result.totalRecords == 2) // blank rows do not count toward progress
  }

  test("a glob path reaches the CSV reader's glob support") {
    val dir = Files.createTempDirectory("graft_glob")
    Files.writeString(dir.resolve("a.csv"), "name,qty\nalpha,1\nbeta,2\n")
    Files.writeString(dir.resolve("b.csv"), "name,qty\ngamma,3\n")
    val store = IngestionStateStore.inMemory()
    val req = IngestRequest(s"$dir/*.csv", "csv", url, chunkSizeByRecords = Some(10))
    val result = IngestionPipeline.run(spark, req, store)
    assert(result.totalRecords == 3)
  }

  test("excel over a directory of CSV files fails before any POST (A4)") {
    val dir = Files.createTempDirectory("graft_csv_as_excel")
    Files.writeString(dir.resolve("a.csv"), "name,qty\nalpha,1\nbeta,2\n")
    val receiver = new RecordingPimCore
    try {
      val store = IngestionStateStore.inMemory()
      val req = IngestRequest(dir.toString, "excel", receiver.url,
        chunkSizeByRecords = Some(10))
      val ex = intercept[Exception](IngestionPipeline.run(spark, req, store))
      assert(ex.getMessage.contains("no .xlsx files under"), ex.getMessage)
      val id = IngestionPipeline.ingestionId(req, 0L)
      assert(receiver.posts(id).isEmpty && receiver.mock.completedCount == 0)
      assert(store.get(id).isEmpty)
    } finally receiver.stop()
  }
}
