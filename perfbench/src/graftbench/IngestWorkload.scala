package graftbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.Path

import scala.collection.mutable

import com.sun.net.httpserver.HttpServer
import graft.api.{IngestApiServer, IngestController, IngestRequest, IngestionState}
import graft.canon.{CanonicalJson, Identity}
import graft.chunk.ChunkAssigner
import graft.ingest.IngestionPipeline
import graft.receiver.MiniJson
import graft.sink.OrderedAckHttpSink
import graft.state.{FileStateStore, IngestionStateStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

/** One ingestion, as the client and the receiver saw it. */
final case class IngestOp(
    id: String,
    rows: Long,
    startNs: Long,
    acceptNs: Long,
    log: Option[IngestionLog],
    problems: Seq[String],
    /** Traced runs only: phase wall times and the chunk cache size. */
    buildS: Double = 0.0,
    deliverS: Double = 0.0,
    completeMs: Double = 0.0,
    cacheMb: Double = 0.0) {
  def ok: Boolean = problems.isEmpty
  def latencyS: Double =
    log.filter(_.completed > 0).map(l => Stats.secs(l.completedAt - startNs)).getOrElse(0.0)
  def acceptTimes: Seq[Long] =
    log.map(l => l.synchronized(l.accepts.map(_._2).toSeq)).getOrElse(Nil)
}

/** A state store that times every call into the wrapped store. */
final class TimedStore(inner: IngestionStateStore) extends IngestionStateStore {
  private val writeNs = mutable.ArrayBuffer.empty[Long]
  private var busyNs = 0L

  private def timed[T](write: Boolean)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally {
      val dt = System.nanoTime() - t0
      synchronized { busyNs += dt; if (write) writeNs += dt }
    }
  }

  /** (write durations, total busy nanos) since the last drain. */
  def drain(): (Seq[Long], Long) = synchronized {
    val out = (writeNs.toSeq, busyNs)
    writeNs.clear(); busyNs = 0L
    out
  }

  override def get(id: String): Option[IngestionState] = timed(write = false)(inner.get(id))
  override def ackChunk(id: String, lastChunk: Long, total: Long): Unit =
    timed(write = true)(inner.ackChunk(id, lastChunk, total))
  override def markCompleted(id: String): Unit = timed(write = true)(inner.markCompleted(id))
  override def putMeta(key: String, value: String): Unit =
    timed(write = true)(inner.putMeta(key, value))
  override def getMeta(key: String): Option[String] = timed(write = false)(inner.getMeta(key))
}

/** One closed-loop client ingesting a seed-generated JSON-array file in
  * small record-count chunks; a pass is one ingestion.
  *
  * Untraced, the client POSTs `/api/ingest` to `IngestApiServer` (backed by
  * a `FileStateStore`) and waits for the receiver's COMPLETED handshake and
  * the controller's DONE before its next request. Traced, the client makes
  * the public calls `IngestionPipeline.run` makes, in the same order, under
  * one job group per phase; delivery jobs inherit the group because
  * `deliverChunksDistributed` submits them from the calling thread. */
final class IngestWorkload(inputRecords: Int, warmRecords: Int, chunkRecords: Int, seed: Long,
    work: Path, cores: Int, tracer: Option[Tracer]) extends Workload {

  private val receiver = new Receiver(cores)

  private var spark: SparkSession = _
  private var controller: IngestController = _
  private var api: HttpServer = _
  private var apiUrl: String = _
  private var store: IngestionStateStore = _
  private var timedStore: Option[TimedStore] = None
  private var input: Path = _
  private var inputBytes = 0L

  private val ops = mutable.ArrayBuffer.empty[IngestOp]
  private var recordsAtStart = 0L
  private var nacksAtStart = 0L
  private var handleNs: Seq[Long] = Nil
  private var stateWrites: (Seq[Long], Long) = (Nil, 0L)

  def prepare(s: SparkSession, rep: Int): Unit = {
    closeApi()
    spark = s
    val fileStore = new FileStateStore(work.resolve(s"state-$rep"))
    timedStore = tracer.map(_ => new TimedStore(fileStore))
    store = timedStore.getOrElse(fileStore)
    controller = new IngestController(spark, store)
    val (server, url) = IngestApiServer.serve(controller)
    api = server
    apiUrl = url
    val warm = work.resolve(s"warm-$rep").resolve("data.json")
    Inputs.writeJson(warm, warmRecords, seed * 7919 + 1)
    input = work.resolve(s"input-$rep").resolve("data.json")
    inputBytes = Inputs.writeJson(input, inputRecords, seed * 7919)
    // warm-up: one small ingestion on the same code path
    val op = ingest(warm, warmRecords, "warm")
    if (!op.ok) throw new IllegalStateException(
      s"warm-up ingestion failed: ${op.problems.mkString("; ")}")
  }

  /** One untimed ingestion of the timed input, gated like the timed ones,
    * so that the first timed pass does not pay the one-off costs of the
    * timed input. */
  def settle(): Unit = {
    val op = ingest(input, inputRecords, "settle")
    if (!op.ok) throw new IllegalStateException(
      s"settle ingestion failed: ${op.problems.mkString("; ")}")
  }

  def startTimed(): Unit = {
    recordsAtStart = receiver.mock.totalRecordsEver
    nacksAtStart = receiver.mock.nackCount
    receiver.drainHandleNanos()
    timedStore.foreach(_.drain())
  }

  def pass(p: Int): Double = {
    val t0 = System.nanoTime()
    ops += ingest(input, inputRecords, s"p$p")
    Stats.secs(System.nanoTime() - t0)
  }

  def endTimed(): Unit = {
    handleNs = receiver.drainHandleNanos()
    timedStore.foreach(s => stateWrites = s.drain())
  }

  private def ingest(file: Path, rows: Long, tag: String): IngestOp =
    if (tracer.isDefined) ingestTraced(file, rows, tag) else ingestViaApi(file, rows)

  private def request(file: Path): IngestRequest = IngestRequest(
    filePath = file.toString, fileType = "json", callbackUrl = receiver.url,
    chunkSizeByRecords = Some(chunkRecords), reIngestion = true)

  private def ingestViaApi(file: Path, rows: Long): IngestOp = {
    val body = IngestWorkload.requestBody(file, receiver.url, chunkRecords)
    val t0 = System.nanoTime()
    val (code, resp) = IngestWorkload.post(s"$apiUrl/api/ingest", body)
    val tAccept = System.nanoTime()
    IngestWorkload.startedId(code, resp) match {
      case Some(id) =>
        val log = try Some(receiver.awaitCompleted(id, IngestWorkload.TimeoutMs)) catch {
          case _: RuntimeException => None
        }
        val outcome = IngestWorkload.awaitOutcome(controller, id)
        val problems = gate(id, rows, log) ++
          (if (outcome.contains("DONE")) Nil else Seq(s"controller status $outcome for $id"))
        IngestOp(id, rows, t0, tAccept, log, problems)
      case None =>
        IngestOp("", rows, t0, tAccept, None, Seq(s"POST /api/ingest answered $code: $resp"))
    }
  }

  /** `IngestionPipeline.run`, split into its public calls in the same order. */
  private def ingestTraced(file: Path, rows: Long, tag: String): IngestOp = {
    val sc = spark.sparkContext
    val req = request(file)
    val t0 = System.nanoTime()
    val id = Identity.ingestionId(
      Identity.fileId(req.filePath, req.fileType.toLowerCase),
      Identity.version(req.reIngestion, System.currentTimeMillis()))
    try {
      val lastAcked = store.lastChunk(id)
      val total = store.totalRecords(id)
      sc.setJobGroup(s"$tag:build", "build")
      val tb = System.nanoTime()
      val chunks = IngestionPipeline.buildChunks(IngestionPipeline.scan(spark, req), req).cache()
      val maxChunk = chunks.agg(max(col("chunk_number"))).collect()(0) match {
        case r if r.isNullAt(0) => -1L
        case r => r.getLong(0)
      }
      val buildS = Stats.secs(System.nanoTime() - tb)
      val cacheMb = IngestWorkload.cachedMb(chunks)
      try {
        sc.setJobGroup(s"$tag:deliver", "deliver")
        val td = System.nanoTime()
        val (_, _, newTotal) = IngestionPipeline.deliverChunksDistributed(chunks, id, store,
          req.callbackUrl, lastAcked, total, maxChunk)
        val deliverS = Stats.secs(System.nanoTime() - td)
        val tc = System.nanoTime()
        new OrderedAckHttpSink(req.callbackUrl).sendCompleted(id, maxChunk, newTotal)
        val completeMs = Stats.millis(System.nanoTime() - tc)
        store.markCompleted(id)
        val log = receiver.log(id)
        IngestOp(id, rows, t0, t0, log, gate(id, rows, log),
          buildS, deliverS, completeMs, cacheMb)
      } finally {
        sc.clearJobGroup()
        chunks.unpersist()
      }
    } catch {
      case e: Exception =>
        IngestOp(id, rows, t0, t0, receiver.log(id), Seq(s"ingestion threw: $e"))
    }
  }

  /** The per-ingestion correctness gate, keyed on the id the receiver saw. */
  private def gate(id: String, rows: Long, log: Option[IngestionLog]): Seq[String] =
    log match {
      case None => Seq(s"receiver never completed ingestion $id")
      case Some(l) =>
        val chunks = l.synchronized(l.accepts.map(_._1).toSeq)
        val n = chunks.size
        val want = IngestionState(id, n - 1L, rows, IngestionState.Completed)
        val row = store.get(id)
        Seq(
          (chunks != (0L until n.toLong)) -> s"$id: chunks not dense 0..${n - 1}",
          (l.nacks != 0) -> s"$id: ${l.nacks} NACKs",
          (l.completed != 1) -> s"$id: ${l.completed} COMPLETED handshakes",
          !row.contains(want) -> s"$id: state row $row, expected $want")
          .collect { case (true, msg) => msg }
    }

  /** Checks over the whole timed region: the receiver took exactly the
    * source rows and issued no NACK. */
  def finalProblems: Seq[String] = {
    val got = records
    val want = ops.map(_.rows).sum
    val nacks = receiver.mock.nackCount - nacksAtStart
    Seq((got != want) -> s"receiver took $got records, sources hold $want",
      (nacks != 0) -> s"receiver issued $nacks NACKs").collect { case (true, m) => m }
  }

  def attempted: Int = ops.size
  def failed: Int = ops.count(!_.ok)
  def problems: Seq[String] = ops.flatMap(_.problems).toSeq
  def records: Long = receiver.mock.totalRecordsEver - recordsAtStart
  def opLatencies: Seq[(String, Double)] = ops.map(o => "ingest" -> o.latencyS).toSeq

  private def firstChunkS: Seq[Double] = ops.flatMap(op =>
    op.acceptTimes.headOption.map(t => Stats.secs(t - op.startNs))).toSeq

  private def chunkGapsMs: Seq[Double] = ops.flatMap(op =>
    op.acceptTimes.sliding(2).collect { case Seq(a, b) => Stats.millis(b - a) }).toSeq

  /** Receiver-observed timings of the untraced run, reported beside the
    * end-to-end metrics. */
  def receiverTimings: Seq[Metric] = {
    val gaps = chunkGapsMs
    Seq(
      Metric("first_chunk_s_p50", Stats.median(firstChunkS), "s"),
      Metric("chunk_gap_ms_p50", Stats.median(gaps), "ms"),
      Metric("chunk_gap_ms_p99", Stats.quantile(gaps, 0.99), "ms"),
      Metric("chunk_gap_samples", gaps.size.toDouble, "count"),
      Metric("api_accept_ms_p50",
        Stats.median(ops.map(o => Stats.millis(o.acceptNs - o.startNs)).toSeq), "ms"))
  }

  /** Per-ingestion medians of each layer, from the traced run. */
  def layerMetrics(tracer: Tracer, timedS: Double): Seq[Metric] = {
    val sc = spark.sparkContext
    def med(f: IngestOp => Double): Double = Stats.median(ops.map(f).toSeq)
    def medG(phase: String)(f: GroupTotals => Double): Double =
      Stats.median(ops.indices.map(p => f(tracer.group(sc, s"p$p:$phase"))))
    val logs = ops.flatMap(_.log).toSeq
    val handles = handleNs.map(Stats.millis)
    val (writes, busyNs) = stateWrites
    val n = math.max(ops.size, 1).toDouble
    val gaps = chunkGapsMs
    Seq(
      Metric("ingest.build_s", med(_.buildS), "s"),
      Metric("ingest.build_task_s", medG("build")(_.taskS), "s"),
      Metric("ingest.build_shuffle_bytes", medG("build")(_.shuffleWriteBytes.toDouble), "bytes"),
      Metric("ingest.build_spill_bytes", medG("build")(_.spillBytes.toDouble), "bytes"),
      Metric("cache.chunks_mb", med(_.cacheMb), "MB"),
      Metric("ingest.deliver_s", med(_.deliverS), "s"),
      Metric("ingest.delivery_jobs", medG("deliver")(_.jobs.toDouble), "count"),
      Metric("ingest.first_chunk_s_p50", Stats.median(firstChunkS), "s"),
      Metric("ingest.chunk_gap_ms_p50", Stats.median(gaps), "ms"),
      Metric("ingest.chunk_gap_ms_p99", Stats.quantile(gaps, 0.99), "ms"),
      Metric("sink.post_bytes", Stats.median(logs.map(_.postBytes.toDouble)), "bytes"),
      Metric("sink.bytes_per_record",
        med(o => o.log.map(_.postBytes.toDouble / math.max(o.rows, 1)).getOrElse(0.0)),
        "bytes/rec"),
      Metric("sink.complete_ms", med(_.completeMs), "ms"),
      Metric("receiver.requests", Stats.median(logs.map(_.requests.toDouble)), "count"),
      Metric("receiver.nacks", Stats.median(logs.map(_.nacks.toDouble)), "count"),
      Metric("receiver.handle_ms_p50", Stats.median(handles), "ms"),
      Metric("receiver.handle_ms_p99", Stats.quantile(handles, 0.99), "ms"),
      Metric("receiver.busy_share", handleNs.sum / 1e9 / math.max(timedS, 1e-9), "ratio"),
      Metric("state.writes", writes.size / n, "count"),
      Metric("state.write_ms_p50", Stats.median(writes.map(Stats.millis)), "ms"),
      Metric("state.busy_s", busyNs / 1e9 / n, "s"))
  }

  /** Layer probes, run once after the timed region on the timed input: the
    * scan forced through a `noop` write, the canonical render, and
    * `ChunkAssigner.assignByBytes` at the byte budget that packs the same
    * mean records per chunk as the workload's record-count chunking. Each
    * probe re-runs the steps before it, so a layer's time is its probe's
    * time minus the previous probe's. Also times `POST /api/ingest` →
    * STARTED over small API ingestions. */
  def probeMetrics(tracer: Tracer): Seq[Metric] = {
    val sc = spark.sparkContext
    val req = request(input)
    def timed[T](group: String)(f: => T): (T, Double) = {
      sc.setJobGroup(s"probe:$group", group)
      val t0 = System.nanoTime()
      try (f, Stats.secs(System.nanoTime() - t0)) finally sc.clearJobGroup()
    }
    // the scan's own job (JSON schema inference) and the forced read are
    // both the sources layer; rows come from the forced read alone
    val (source, scanS) = timed("schema") {
      val df = IngestionPipeline.scan(spark, req)
      sc.setJobGroup("probe:sources", "sources")
      df.write.format("noop").mode("overwrite").save()
      df
    }
    val rows = tracer.group(sc, "probe:sources").recordsRead
    val withRec = IngestionPipeline.withInputOrderRn(source)
      .withColumn("rec", CanonicalJson(struct(source.columns.map(col): _*)))
    val (canonBytes, canonS) = timed("canon") {
      withRec.agg(sum(octet_length(col("rec")))).collect()(0).getLong(0)
    }
    val budget = math.max(1L, canonBytes * chunkRecords / math.max(rows, 1L))
    val (chunks, chunkS) = timed("chunk") {
      ChunkAssigner.assignByBytes(withRec, Seq(col("rn")), budget,
        octet_length(col("rec")).cast("long"))
        .agg(max(col("chunk_number"))).collect()(0).getLong(0) + 1
    }
    Seq(
      Metric("sources.scan_s", scanS, "s"),
      Metric("sources.rows", rows.toDouble, "count"),
      Metric("canon.render_s", math.max(canonS - scanS, 0.0), "s"),
      Metric("canon.bytes", canonBytes.toDouble, "bytes"),
      Metric("chunk.assign_s", math.max(chunkS - canonS, 0.0), "s"),
      Metric("chunk.chunks", chunks.toDouble, "count"),
      Metric("chunk.records_per_chunk", rows.toDouble / math.max(chunks, 1L), "rec/chunk"),
      Metric("api.accept_ms_p50", Stats.median(apiAcceptMs(5)), "ms"))
  }

  /** POST → STARTED latency of `n` small API ingestions, each awaited. */
  private def apiAcceptMs(n: Int): Seq[Double] = {
    val file = work.resolve("api-probe").resolve("data.json")
    Inputs.writeJson(file, 200, seed)
    val body = IngestWorkload.requestBody(file, receiver.url, chunkRecords)
    (1 to n).map { _ =>
      val t0 = System.nanoTime()
      val (code, resp) = IngestWorkload.post(s"$apiUrl/api/ingest", body)
      val ms = Stats.millis(System.nanoTime() - t0)
      val id = IngestWorkload.startedId(code, resp).getOrElse(
        throw new IllegalStateException(s"API probe: POST answered $code: $resp"))
      receiver.awaitCompleted(id, IngestWorkload.TimeoutMs)
      IngestWorkload.awaitOutcome(controller, id)
      ms
    }
  }

  def inputProvenance: Seq[(String, Any)] = Seq(
    "file_type" -> "json", "input_records" -> inputRecords, "input_bytes" -> inputBytes,
    "warmup_records" -> warmRecords, "chunk_size_by_records" -> chunkRecords,
    "ingestions" -> ops.size)

  private def closeApi(): Unit = {
    if (api != null) api.stop(0)
    if (controller != null) controller.shutdown()
  }

  def close(): Unit = {
    closeApi()
    receiver.stop()
  }
}

object IngestWorkload {
  val TimeoutMs = 120000L

  def requestBody(file: Path, callbackUrl: String, chunkRecords: Int): String =
    Json.obj(Seq("file_path" -> file.toString, "file_type" -> "json",
      "callback_url" -> callbackUrl, "chunk_size_by_records" -> chunkRecords,
      "re_ingestion" -> true))

  def post(url: String, body: String): (Int, String) = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setFixedLengthStreamingMode(bytes.length)
    conn.setRequestProperty("Content-Type", "application/json")
    val os = conn.getOutputStream
    try os.write(bytes) finally os.close()
    val code = conn.getResponseCode
    val is = if (code >= 400 && conn.getErrorStream != null) conn.getErrorStream
      else conn.getInputStream
    try (code, new String(is.readAllBytes(), StandardCharsets.UTF_8)) finally is.close()
  }

  /** The ingestion id of a STARTED answer. */
  def startedId(code: Int, body: String): Option[String] =
    if (code != 200) None
    else MiniJson.parse(body) match {
      case o: MiniJson.JObj => o.get("ingestion_id").collect { case MiniJson.JStr(s) => s }
      case _ => None
    }

  /** Wait until the controller no longer reports the ingestion RUNNING. */
  def awaitOutcome(controller: IngestController, id: String): Option[String] = {
    val deadline = System.currentTimeMillis() + TimeoutMs
    while (controller.status(id)._1.contains("RUNNING") &&
      System.currentTimeMillis() < deadline) Thread.sleep(1)
    controller.status(id)._1
  }

  /** In-memory size of a cached DataFrame's blocks. */
  def cachedMb(df: DataFrame): Double = {
    val sc = df.sparkSession.sparkContext
    df.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id
    }.flatMap(id => sc.getRDDStorageInfo.find(_.id == id))
      .map(_.memSize / 1048576.0).getOrElse(0.0)
  }
}
