package graft

import graft.api.IngestRequest
import graft.ingest.IngestionPipeline
import graft.receiver.MockPimCore
import graft.state.IngestionStateStore

/** Protocol-throughput benchmark: push an entire lineitem table through the
  * full chunk→checksum→ordered-ACK pipeline against an in-process receiver
  * (which validates order + checksum per chunk). The reference publishes no
  * numbers (BASELINE.md); this main records ours.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.IngestBench"
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val chunkSize = sys.env.getOrElse("SPARK_GRAFT_CHUNK", "4000").toInt
    val spark = GraftSession.build()

    val (mock, server, url) = MockPimCore.serve()
    try {
      val store = IngestionStateStore.inMemory()
      // SPARK_GRAFT_MODE=bytes exercises the byte-budget packing path
      val request = sys.env.get("SPARK_GRAFT_MODE") match {
        case Some("bytes") => IngestRequest(s"$sfDir/lineitem.parquet", "parquet",
          url, chunkSizeByMemory = Some(chunkSize.toLong * 256))
        case _ => IngestRequest(s"$sfDir/lineitem.parquet", "parquet", url,
          chunkSizeByRecords = Some(chunkSize))
      }
      // SPARK_GRAFT_PARALLEL=N runs N ingestions of the same table
      // CONCURRENTLY (distinct re-ingestion versions → distinct ingestion
      // ids): the protocol is serial per ingestion but parallel across
      // ingestions, so aggregate throughput should scale near-linearly
      // until the executor pool saturates
      val streams = sys.env.getOrElse("SPARK_GRAFT_PARALLEL", "1").toInt
      val t0 = System.nanoTime()
      val results =
        if (streams <= 1) Seq(IngestionPipeline.run(spark, request, store))
        else {
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration.Duration
          val pool = java.util.concurrent.Executors.newFixedThreadPool(streams)
          implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
          try Await.result(Future.sequence((0 until streams).map { i =>
            Future(IngestionPipeline.run(spark,
              request.copy(reIngestion = true),
              IngestionStateStore.inMemory(),
              // distinct fixed version per stream → distinct ingestion id
              nowMillis = 1000000L + i))
          }), Duration.Inf)
          finally pool.shutdown()
        }
      val sec = (System.nanoTime() - t0) / 1e9
      val total = results.map(_.totalRecords).sum
      val chunksSent = results.map(_.chunksSent).sum
      val rps = total / sec
      println(f"""{"metric":"ingest_throughput","streams":$streams,"records":$total,"chunks":$chunksSent,"chunk_size":$chunkSize,"sec":$sec%.2f,"records_per_sec":$rps%.0f,"receiver_records":${mock.totalRecordsEver}}""")
      require(mock.totalRecordsEver == total,
        s"receiver saw ${mock.totalRecordsEver} records, senders counted $total")
      require(results.map(_.ingestionId).distinct.size == streams,
        "parallel streams must have distinct ingestion ids")
      require(total > 0 && chunksSent > 0, "chunk accounting broken")
      // ordered-ACK law under concurrency, verified PER STREAM on the
      // receiver's own state: every ingestion's accepted chunks are dense
      // 0..n-1 (A24 would have NACKed any out-of-order presentation, and
      // the zero-NACK witness proves none was ever even attempted)
      val lastByIngestion = mock.lastChunkPerIngestion
      results.foreach { r =>
        val last = lastByIngestion.getOrElse(r.ingestionId, -1L)
        require(last == r.chunksSent - 1,
          s"stream ${r.ingestionId}: receiver accepted through chunk " +
            s"$last, sender sent ${r.chunksSent} chunks")
      }
      require(mock.completedCount == streams,
        s"expected $streams COMPLETED handshakes, saw ${mock.completedCount}")
      val streamDetail = results.map(r =>
        s"""{"ingestion_id":"${r.ingestionId}","records":${r.totalRecords},""" +
          s""""chunks":${r.chunksSent},"last_chunk_acked":${
            lastByIngestion.getOrElse(r.ingestionId, -1L)}}""")
        .mkString("[", ",", "]")
      sys.env.get("SPARK_GRAFT_INGEST_OUT").foreach { path =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
          f"""{"streams":$streams,"records":$total,"chunks":$chunksSent,"chunk_size":$chunkSize,"sec":$sec%.2f,"records_per_sec":$rps%.0f,"receiver_records":${mock.totalRecordsEver},"receiver_nacks":${mock.nackCount},"completed_handshakes":${mock.completedCount},"ordered_ack_law_per_stream":true,"per_stream":$streamDetail}""" + "\n")
      }
    } finally server.stop(0)
    spark.stop()
  }
}
