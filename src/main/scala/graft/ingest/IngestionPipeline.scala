package graft.ingest

import graft.api.{IngestRequest, IngestionState}
import graft.canon.Identity
import graft.chunk.ChunkAssigner
import graft.sink.OrderedAckHttpSink
import graft.state.IngestionStateStore
import org.apache.spark.sql.{DataFrame, GraftSql, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** End-to-end ingestion (SURVEY.md §3.4): scan → one ordered fold that
  * renders, chunks and checksums → ordered ACK-gated delivery → crash-safe
  * resume.
  *
  * Execution split, designed for the protocol's constraint (§7.4 #1):
  *   - EXECUTORS (parallel): parse, then per input partition one ordered
  *     fold (canonical-JSON render, chunk assignment, incremental sha256;
  *     `ChunkAssigner.chunks`, no shuffle), and the chunk POSTs themselves
  *     (`deliverChunksDistributed`), one delivery range per input partition;
  *   - DRIVER (serial, protocol-imposed): only the ordered commit token —
  *     one contiguous chunk range in flight at a time, progress persisted
  *     after ACK (A21); payload bytes never cross the driver.
  *
  * At scale the serial commit is the declared bottleneck — exactly as in the
  * reference, where ordering is dictated by the receiver
  * (`chunk_data_integrity_validator.py:44-46`).
  */
object IngestionPipeline {

  final case class Result(ingestionId: String, chunksSent: Long, chunksSkipped: Long,
      totalRecords: Long, state: Option[IngestionState])

  /** Scan (A1–A8): the request's [[FileType]] reader, options and A7
    * filter — the same read a streaming ingestion makes. */
  def scan(spark: SparkSession, request: IngestRequest): DataFrame = {
    val ft = request.kind
    ft.countedRows(spark.read.format(ft.format).options(ft.options).load(request.filePath))
  }

  /** Stable 0-based row number in input order (file order for file
    * sources): no sort, no single-partition funnel. */
  def withInputOrderRn(df: DataFrame): DataFrame =
    ChunkAssigner.withInputOrderRowNumber(df)

  /** Chunk construction: (chunk_number, n_records, payload, checksum), one
    * row per chunk, each row of `df` one canonical record, in input order;
    * `payload` is the chunk's records array as it goes on the wire and
    * `checksum` its sha256. Every input partition folds its own rows in
    * order, with no shuffle (`ChunkAssigner.chunks`), so the output
    * partitions are the input partitions as contiguous ascending chunk
    * ranges. Numbering starts at `lastChunk + 1` (streaming batches continue
    * a running sequence). */
  def buildChunks(df: DataFrame, request: IngestRequest,
      lastChunk: Long = -1L): DataFrame =
    ChunkAssigner.chunks(df, request.bound, lastChunk)

  /** The id a batch ingestion of `request` runs and persists under — the
    * one derivation both [[run]] and the API controller use. */
  def ingestionId(request: IngestRequest, nowMillis: => Long): String =
    Identity.ingestionId(request.fileId, Identity.version(request.reIngestion, nowMillis))

  /** Run one ingestion to completion (or terminal failure). Resumable: a
    * rerun with reIngestion=false continues after the last ACKed chunk. */
  def run(spark: SparkSession, request: IngestRequest, store: IngestionStateStore,
      nowMillis: => Long = System.currentTimeMillis()): Result = {
    val ingestionId = this.ingestionId(request, nowMillis)
    val (sent, skipped, totalRecords) = deliver(scan(spark, request), request,
      ingestionId, store, lastChunk = -1L, closed = true)
    Result(ingestionId, sent, skipped, totalRecords, store.get(ingestionId))
  }

  /** The one delivery step of a batch run and of every streaming
    * micro-batch: build `source`'s chunks numbered from `lastChunk + 1`,
    * cached so the `maxChunk` job and the per-partition delivery jobs do not
    * re-run the parse and the fold, then deliver every chunk
    * after the last ACK. A `closed` source is a whole input: its highest
    * chunk carries is_last and the run ends with [[complete]]. An open
    * stream has no last chunk (-2: no chunk number can equal it). */
  private[ingest] def deliver(source: DataFrame, request: IngestRequest,
      ingestionId: String, store: IngestionStateStore, lastChunk: Long,
      closed: Boolean): (Long, Long, Long) = {
    val chunks = buildChunks(source, request, lastChunk).cache()
    try {
      val maxChunk = if (!closed) -2L
        else chunks.agg(max(col("chunk_number"))).collect()(0) match {
          case r if r.isNullAt(0) => -1L
          case r => r.getLong(0)
        }
      val delivered @ (_, _, totalRecords) = deliverChunksDistributed(chunks,
        ingestionId, store, request.callbackUrl, store.lastChunk(ingestionId),
        store.totalRecords(ingestionId), maxChunk)
      if (closed) complete(request, store, ingestionId, maxChunk, totalRecords)
      delivered
    } finally chunks.unpersist()
  }

  /** A22: the COMPLETED handshake, then the terminal state — the close of a
    * batch run and of a drained stream. */
  private[ingest] def complete(request: IngestRequest, store: IngestionStateStore,
      ingestionId: String, lastChunk: Long, totalRecords: Long): Unit = {
    new OrderedAckHttpSink(request.callbackUrl)
      .sendCompleted(ingestionId, lastChunk, totalRecords)
    store.markCompleted(ingestionId)
  }

  /** One delivery task's report to the driver: its won ACKs as
    * (chunk_number, n_records), its count of already-ACKed chunks, and the
    * terminal error that stopped it, if any. */
  private final case class Delivered(acks: Seq[(Long, Long)], skipped: Long,
      error: Option[String])

  /** Executor-direct ordered delivery (the batch hot path): chunk payloads
    * POST from executor tasks, never crossing the driver — at scale the
    * driver NIC is no longer the funnel and no chunk batch can OOM it. Each
    * chunk's `payload` goes out as the body's `records` array byte for byte,
    * so the receiver recomputes its `checksum` over exactly the bytes the
    * fold hashed (A15/A17).
    *
    * Ordering (A24) is preserved by a driver-held commit token: `chunks`'
    * partitions are contiguous ascending chunk_number ranges, one per input
    * partition ([[buildChunks]]), and the driver runs ONE partition's task at
    * a time, in partition order; within a task chunks POST in order, and a
    * chunk number other than the one after the chunk before it fails the
    * task before its POST. The driver receives only
    * (chunk_number, n_records) ACK summaries and a count of the chunks it
    * skipped as already ACKed (A20), and persists progress (A21) between
    * tasks. A failing chunk aborts the token advance; the ACKs its
    * task already won are persisted first, so terminal state still points at
    * the exact last ACKed chunk. A hard crash can lose at most one delivery
    * range's ACK summaries, a range being one input partition's chunks —
    * those chunks re-send on resume and the receiver's chunk_id idempotency
    * (A23) absorbs them: at-least-once per chunk, exactly the reference's
    * contract. */
  def deliverChunksDistributed(chunks: DataFrame, ingestionId: String,
      store: IngestionStateStore, callbackUrl: String, lastAcked: Long,
      startingTotal: Long, maxChunk: Long): (Long, Long, Long) = {
    val sc = chunks.sparkSession.sparkContext
    // every cached chunk, read as InternalRow: a chunk at or below the last
    // ACK (A20) costs its task one long read, not an external-Row
    // conversion of its payload
    val rdd = GraftSql.toInternalRdd(chunks)
    val Seq(iChunk, iN, iPayload, iChecksum) =
      Seq("chunk_number", "n_records", "payload", "checksum").map(chunks.schema.fieldIndex)

    val deliverPartition = (it: Iterator[InternalRow]) => {
      val sink = new OrderedAckHttpSink(callbackUrl)
      val acks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var skipped = 0L
      var previous = Long.MinValue
      val error = try {
        while (it.hasNext) {
          val row = it.next()
          val chunkNumber = row.getLong(iChunk)
          if (previous != Long.MinValue && chunkNumber != previous + 1)
            throw new IllegalStateException(
              s"chunk $chunkNumber follows chunk $previous in one delivery range: " +
                "a range must hold consecutive ascending chunk numbers")
          previous = chunkNumber
          if (chunkNumber <= lastAcked) skipped += 1
          else {
            sink.sendChunk(ingestionId, chunkNumber, Identity.chunkId(ingestionId, chunkNumber),
              row.getUTF8String(iChecksum).toString, row.getBinary(iPayload),
              isLast = chunkNumber == maxChunk)
            acks += ((chunkNumber, row.getLong(iN)))
          }
        }
        None
      } catch {
        // task-kill / cancellation signals and fatal JVM errors keep
        // their scheduler semantics — only orderly delivery failures
        // become a driver-visible error string
        case e: org.apache.spark.TaskKilledException => throw e
        case e: InterruptedException => throw e
        // surface the terminal error to the driver WITH the task's won
        // ACKs — a thrown task would discard them and leave state stale.
        // Message-less exceptions (NPE etc.) still need a diagnosable
        // string; the class name rides along for those.
        case scala.util.control.NonFatal(e) =>
          Some(if (e.getMessage == null) e.getClass.getName
            else s"${e.getMessage} (${e.getClass.getSimpleName})")
      }
      Delivered(acks.toSeq, skipped, error)
    }

    // async single-partition launch: the NEXT range's POSTs start while the
    // driver persists the previous range's ACKs
    def launch(part: Int): org.apache.spark.FutureAction[Delivered] = {
      val res = new java.util.concurrent.atomic.AtomicReference[Delivered]
      sc.submitJob(rdd, deliverPartition, Seq(part),
        (_: Int, r: Delivered) => res.set(r), res.get())
    }

    var sent = 0L
    var skipped = 0L
    var totalRecords = startingTotal
    var failure: Option[String] = None
    // A21, batched: one durable write per task instead of one per chunk.
    // The per-chunk writes ran back-to-back on the driver with no POST in
    // between, so no observer could ever see an intermediate value —
    // persisting the task's LAST won ACK is crash-equivalent and removes
    // N-1 atomic file writes per task from the commit-token critical path.
    def persist(acks: Seq[(Long, Long)]): Unit = acks.lastOption.foreach { last =>
      totalRecords += acks.iterator.map(_._2).sum
      store.ackChunk(ingestionId, last._1, totalRecords) // A21
      sent += acks.size
    }
    val nParts = rdd.partitions.length
    if (nParts > 0) {
      var inflight = launch(0)
      var p = 0
      try {
        while (p < nParts && failure.isEmpty) {
          val Delivered(acks, partSkipped, err) = scala.concurrent.Await.result(
            inflight, scala.concurrent.duration.Duration.Inf)
          skipped += partSkipped
          p += 1
          // ordering (A24) requires serial POSTs, not a serial store: kick
          // off the next range's task before persisting this range's progress
          if (err.isEmpty && p < nParts) inflight = launch(p)
          persist(acks)
          failure = err
        }
      } catch {
        // a persist (store write) failure must not leave the overlapped
        // task POSTing in the background while the caller unwinds and
        // unpersists the chunks it iterates; receiver idempotency (A23)
        // absorbs any POST that raced the cancel
        case scala.util.control.NonFatal(e) =>
          if (!inflight.isCompleted) inflight.cancel()
          throw e
      }
    }
    failure.foreach(msg => throw new RuntimeException(msg))
    (sent, skipped, totalRecords)
  }

}
