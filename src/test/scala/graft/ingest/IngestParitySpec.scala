package graft.ingest

import graft.TestSpark
import graft.api.IngestRequest
import graft.receiver.RecordingPimCore
import graft.state.IngestionStateStore
import java.nio.file.{Files, Path}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Batch and streaming ingestion read one file-type table: over the same
  * directory, `IngestionPipeline.run` and `StreamingIngest.start`
  * (AvailableNow) must deliver the same records in the same chunks — same
  * chunk numbers, record counts and checksums at the receiver. */
class IngestParitySpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  private var receiver: RecordingPimCore = _

  override def beforeAll(): Unit = receiver = new RecordingPimCore
  override def afterAll(): Unit = receiver.stop()

  /** (chunk number, record count, checksum) of every ACKed chunk. */
  private def delivered(ingestionId: String): Seq[(Long, Int, String)] =
    receiver.posts(ingestionId).filter(_.ack).map(p => (p.chunkNumber, p.records, p.checksum))

  private def parity(fileType: String, dir: Path, expectedRecords: Int): Unit = {
    val request = IngestRequest(dir.toString, fileType, receiver.url,
      chunkSizeByRecords = Some(3))
    val batch = IngestionPipeline.run(spark, request, IngestionStateStore.inMemory())
    assert(batch.totalRecords == expectedRecords, s"batch $fileType")

    // the stream reads with the schema the batch scan inferred
    val schema = IngestionPipeline.scan(spark, request).schema
    val ckpt = Files.createTempDirectory(s"graft_parity_ckpt_$fileType").toString
    val (streamId, query) = StreamingIngest.start(spark, request,
      IngestionStateStore.inMemory(), schema, ckpt)
    assert(query.awaitTermination(60000), s"$fileType stream did not drain")

    val b = delivered(batch.ingestionId)
    val s = delivered(streamId)
    assert(s.map(_._2).sum == expectedRecords,
      s"streaming $fileType delivered ${s.map(_._2).sum} records, batch $expectedRecords")
    assert(s == b, s"$fileType chunks differ: batch $b, streaming $s")
  }

  test("json: a pretty-printed array, with a stray non-.json file beside it") {
    val dir = Files.createTempDirectory("graft_parity_json")
    Files.writeString(dir.resolve("data.json"), (0 until 10)
      .map(i => s"""  {\n    "id": $i,\n    "tags": ["t$i", "u"],\n    "name": "n$i"\n  }""")
      .mkString("[\n", ",\n", "\n]\n"))
    Files.writeString(dir.resolve("notes.txt"), "not part of the input\n")
    parity("json", dir, 10)
  }

  test("jsonl: one record per line") {
    val dir = Files.createTempDirectory("graft_parity_jsonl")
    Files.writeString(dir.resolve("data.jsonl"),
      (0 until 10).map(i => s"""{"id": $i, "name": "n$i"}""").mkString("", "\n", "\n"))
    parity("jsonl", dir, 10)
  }

  test("csv: all-blank rows do not count (A7)") {
    val dir = Files.createTempDirectory("graft_parity_csv")
    Files.writeString(dir.resolve("data.csv"),
      "name,qty\nalpha,1\n,\nbeta,2\ngamma,3\n,\ndelta,4\nepsilon,5\n")
    parity("csv", dir, 5)
  }

  test("parquet") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_parity_parquet").resolve("t")
    (0 until 10).map(i => (i.toLong, s"n$i")).toDF("id", "name")
      .coalesce(1).write.parquet(dir.toString)
    parity("parquet", dir, 10)
  }
}
