package graft.ingest

import graft.api.IngestRequest
import graft.canon.Identity
import graft.state.IngestionStateStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Continuous ingestion over Structured Streaming — the Spark-native resume
  * path SURVEY.md §4.1 recommends over the reference's re-parse-and-skip:
  * the file source + checkpoint skips COMMITTED micro-batches entirely on
  * restart (A20 without re-reading from byte 0), while the in-batch skip
  * logic handles mid-batch crashes.
  *
  * Chunk numbering is a running sequence across batches. Because a crashed
  * micro-batch REPLAYS under the same batchId, the batch's starting chunk
  * number is anchored in the state store on first attempt — a replay reuses
  * the anchor, regenerates identical chunks, and the ordered-commit loop
  * skips the already-ACKed prefix. Delivery stays chunk-exactly-once.
  */
object StreamingIngest {

  /** Start a continuous ingestion of files arriving under `request.filePath`
    * (a directory), read with the request's [[FileType]] reader, options and
    * A7 filter, like the batch scan. `excel` streams native xlsx
    * unconditionally: a watched directory can be empty at start.
    * `Trigger.AvailableNow` drains what exists and stops; restart with the
    * same checkpoint to pick up new arrivals. */
  def start(spark: SparkSession, request: IngestRequest, store: IngestionStateStore,
      schema: StructType, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): (String, StreamingQuery) = {
    val ingestionId = Identity.ingestionId(request.fileId, "streaming")
    val ft = request.kind
    val source = ft.countedRows(spark.readStream.schema(schema).format(ft.format)
      .options(ft.options).load(request.filePath))

    val query = source.writeStream
      .queryName(s"graft_ingest_${ingestionId.take(12)}")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        deliverBatch(batch, batchId, ingestionId, request, store)
      }
      .start()
    (ingestionId, query)
  }

  /** Deliver one micro-batch as the next run of chunks. */
  def deliverBatch(batch: DataFrame, batchId: Long, ingestionId: String,
      request: IngestRequest, store: IngestionStateStore): Unit = {
    if (batch.isEmpty) return
    val anchorKey = s"$ingestionId:batch:$batchId"
    val base = store.getMeta(anchorKey) match {
      case Some(v) => v.toLong // replayed batch: keep the original numbering
      case None =>
        val b = store.lastChunk(ingestionId)
        store.putMeta(anchorKey, b.toString)
        b
    }
    IngestionPipeline.deliver(batch, request, ingestionId, store,
      lastChunk = base, closed = false)
  }

  /** Close out a drained stream: COMPLETED handshake + terminal state (A22). */
  def finish(request: IngestRequest, store: IngestionStateStore,
      ingestionId: String): Unit =
    IngestionPipeline.complete(request, store, ingestionId,
      store.lastChunk(ingestionId), store.totalRecords(ingestionId))
}
