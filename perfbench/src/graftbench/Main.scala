package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.receiver.MiniJson
import org.apache.spark.sql.SparkSession

/** The phases every workload goes through; see [[Main]]. */
trait Workload {
  /** Per-session set-up after the session is up: inputs and warm-up. */
  def prepare(spark: SparkSession, rep: Int): Unit
  /** One untimed pass on the timed inputs, with the correctness checks
    * that need a full result. */
  def settle(): Unit
  def startTimed(): Unit
  /** Run pass `p`; returns its timed seconds. */
  def pass(p: Int): Double
  def endTimed(): Unit
  def attempted: Int
  def failed: Int
  def problems: Seq[String]
  /** Checks over the whole timed region, made before any later probe. */
  def finalProblems: Seq[String]
  def records: Long
  /** (operation kind, latency seconds) of every timed operation. */
  def opLatencies: Seq[(String, Double)]
  def inputProvenance: Seq[(String, Any)]
  def close(): Unit
}

/** The benchmark: one closed-loop workload per run, measured from outside
  * the program through its public calls.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --root <checkout> --work <dir> --out <artifact.json>
  *
  * Prints a report line, then `RESULT {json}`; exits 1 when the
  * correctness gate fails. */
object Main {
  val Workloads = Seq("ingest_json_small_chunks", "queries")

  /** The query list: PageRank, whose construction runs driver-side power
    * iterations and builds the `custpart_dist` and `custpart_ew_sym` edge
    * pins inside every pass, and one-shot plans whose time is execution: a
    * parquet scan, multi-column distinct counts and JSON extraction. */
  val Queries = Seq("q123_pagerank", "q01_parquet_scan", "q11_count_distinct", "q24_json")

  /** Records in the timed JSON file (the smoke test uses the warm-up
    * size), and records per chunk. */
  val JsonRecords = 24000
  val WarmJsonRecords = 2000
  val ChunkRecords = 25

  val MinPasses = 4
  val SetupReps = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "op_s_geomean" -> "s",
    "records_per_s" -> "rec/s", "heap_live_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "api.accept_ms_p50" -> "ms",
    "sources.scan_s" -> "s", "sources.rows" -> "count",
    "canon.render_s" -> "s", "canon.bytes" -> "bytes",
    "chunk.assign_s" -> "s", "chunk.chunks" -> "count", "chunk.records_per_chunk" -> "rec/chunk",
    "ingest.build_s" -> "s", "ingest.build_task_s" -> "s",
    "ingest.build_shuffle_bytes" -> "bytes", "ingest.build_spill_bytes" -> "bytes",
    "cache.chunks_mb" -> "MB",
    "ingest.deliver_s" -> "s", "ingest.delivery_jobs" -> "count",
    "ingest.first_chunk_s_p50" -> "s", "ingest.chunk_gap_ms_p50" -> "ms",
    "ingest.chunk_gap_ms_p99" -> "ms",
    "sink.post_bytes" -> "bytes", "sink.bytes_per_record" -> "bytes/rec",
    "sink.complete_ms" -> "ms",
    "receiver.requests" -> "count", "receiver.nacks" -> "count",
    "receiver.handle_ms_p50" -> "ms", "receiver.handle_ms_p99" -> "ms",
    "receiver.busy_share" -> "ratio",
    "state.writes" -> "count", "state.write_ms_p50" -> "ms", "state.busy_s" -> "s",
    "operators.construct_s" -> "s", "operators.construct_jobs" -> "count",
    "operators.construct_task_s" -> "s",
    "plan.plan_s" -> "s",
    "exec.exec_s" -> "s", "exec.jobs" -> "count", "exec.tasks" -> "count",
    "exec.task_s" -> "s", "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.skew_max" -> "ratio",
    "exec.core_busy_share" -> "ratio",
    "blocks.release_s" -> "s", "edgepin.build_s" -> "s",
    "jvm.gc_s" -> "s",
    "trace.pass_s" -> "s", "trace.op_s_geomean" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      root: Path, work: Path, out: Option[Path], smoke: Boolean,
      corruptFingerprint: Boolean, record: Option[Path], sourceId: String, gitCommit: String)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    Args(
      workload = kv.getOrElse("workload", ""),
      seed = kv.getOrElse("seed", "1").toLong,
      seconds = kv.getOrElse("seconds", "10").toDouble,
      trace = kv.get("trace").contains("1"),
      root = Paths.get(kv("root")).toAbsolutePath,
      work = Paths.get(kv("work")).toAbsolutePath,
      out = kv.get("out").map(Paths.get(_)),
      smoke = kv.get("smoke").contains("1"),
      corruptFingerprint = kv.get("corrupt-fingerprint").contains("1"),
      record = kv.get("record").map(Paths.get(_)),
      sourceId = kv.getOrElse("source-id", "unknown"),
      gitCommit = kv.getOrElse("git-commit", "none"))
  }

  def main(argv: Array[String]): Unit = {
    val code = try run(parse(argv)) catch {
      case e: Throwable =>
        e.printStackTrace()
        2
    }
    System.out.flush()
    System.err.flush()
    // ends the JVM without waiting for session teardown; this also ends
    // threads the program leaves running (the controller's pool)
    Runtime.getRuntime.halt(code)
  }

  private def corpusDir(a: Args, name: String): String =
    a.root.resolve("perfbench").resolve("corpus").resolve(name).toString

  private def timedCorpus(a: Args): String = if (a.smoke) "sf0.001" else "sf0.01"

  def run(a: Args): Int = {
    Files.createDirectories(a.work)
    val cores = Runtime.getRuntime.availableProcessors
    a.record match {
      case Some(path) => return record(a, cores, path)
      case None =>
    }
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val tracer = if (a.trace) Some(new Tracer) else None
    val expected = {
      val all = loadFingerprints(a.root.resolve("perfbench").resolve("fingerprints.json"))
        .getOrElse(timedCorpus(a), Map.empty)
      if (!a.corruptFingerprint) all
      else all.map { case (k, f) => k -> f.copy(xxhash64Sum = (BigInt(f.xxhash64Sum) + 1).toString) }
    }
    val wl: Workload = a.workload match {
      case w if w.startsWith("ingest_") =>
        new IngestWorkload(if (a.smoke) WarmJsonRecords else JsonRecords, WarmJsonRecords,
          ChunkRecords, a.seed, a.work, cores, tracer)
      case _ =>
        new QueryWorkload(Queries, corpusDir(a, timedCorpus(a)), corpusDir(a, "sf0.001"),
          expected, a.seed, cores, tracer)
    }
    var spark: SparkSession = null
    try {
      // set-up, several times: session up, inputs generated, warm-up done;
      // the first repetition counts from JVM start
      val reps = if (a.smoke) 1 else SetupReps
      val mainStartS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val setupPhases = mutable.ArrayBuffer.empty[Json.Obj]
      val setupTimes = (1 to reps).map { rep =>
        val t0 = System.nanoTime()
        if (spark != null) BenchSession.stop(spark)
        spark = BenchSession.build(cores, a.work)
        tracer.foreach(spark.sparkContext.addSparkListener)
        val t1 = System.nanoTime()
        wl.prepare(spark, rep)
        setupPhases += Json.Obj("session_s" -> Stats.secs(t1 - t0),
          "inputs_and_warmup_s" -> Stats.secs(System.nanoTime() - t1))
        if (rep == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3
        else Stats.secs(System.nanoTime() - t0)
      }

      wl.settle()

      // timed region: whole passes until `seconds` of them have run
      val gc0 = gcMillis
      wl.startTimed()
      val passTimes = mutable.ArrayBuffer.empty[Double]
      val passRates = mutable.ArrayBuffer.empty[Double]
      while (passTimes.size < MinPasses || passTimes.sum < a.seconds) {
        val r0 = wl.records
        val t = wl.pass(passTimes.size)
        passTimes += t
        passRates += (wl.records - r0) / t
      }
      wl.endTimed()
      val gcS = (gcMillis - gc0) / 1e3
      val heapMb = liveHeapMb(spark)
      val timedS = passTimes.sum
      val problems = wl.problems ++ wl.finalProblems
      val failed = wl.failed + (if (wl.finalProblems.nonEmpty) 1 else 0)

      val produced: Seq[Metric] = tracer match {
        case None => Seq(
          Metric("setup_s", Stats.median(setupTimes), "s"),
          Metric("pass_s", Stats.median(passTimes.toSeq), "s"),
          Metric("op_s_geomean", Stats.geomeanOfMedians(wl.opLatencies), "s"),
          Metric("records_per_s", Stats.median(passRates.toSeq), "rec/s"),
          Metric("heap_live_mb", heapMb, "MB"))
        case Some(t) =>
          val layers = wl match {
            case i: IngestWorkload => i.layerMetrics(t, timedS) ++ i.probeMetrics(t)
            case q: QueryWorkload => q.layerMetrics(t)
          }
          layers ++ Seq(
            Metric("jvm.gc_s", gcS / passTimes.size, "s"),
            Metric("trace.pass_s", Stats.median(passTimes.toSeq), "s"),
            Metric("trace.op_s_geomean", Stats.geomeanOfMedians(wl.opLatencies), "s"))
      }
      val catalogue = if (a.trace) PerLayer else EndToEnd
      val unknown = produced.map(_.name).filterNot(catalogue.map(_._1).contains)
      require(unknown.isEmpty, s"metrics outside the catalogue: $unknown")
      val byName = produced.map(m => m.name -> m).toMap
      val metrics = catalogue.map { case (n, u) => byName.getOrElse(n, Metric(n, 0.0, u)) }

      val extra: Seq[Metric] = wl match {
        case i: IngestWorkload if !a.trace => i.receiverTimings
        case _ => Nil
      }
      val provenance = Json.Obj(
        "workload" -> a.workload, "seed" -> a.seed, "traced" -> a.trace,
        "seconds" -> a.seconds, "cores" -> cores,
        "master" -> s"local[$cores]", "shuffle_partitions" -> cores,
        "session_confs" -> BenchSession.confs(cores, a.work).toMap,
        "jvm" -> Json.Obj("java" -> System.getProperty("java.version"),
          "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0),
        "source_id" -> a.sourceId, "git_commit" -> a.gitCommit,
        "passes" -> passTimes.size, "pass_s_each" -> passTimes.toSeq,
        "timed_s" -> timedS, "setup_reps" -> setupTimes.size, "setup_s_each" -> setupTimes,
        "jvm_start_to_main_s" -> mainStartS, "setup_phases" -> setupPhases.toSeq,
        "outside_timed_region" -> Seq("session set-up", "input generation", "warm-up",
          "settle pass, with the fingerprint checks", "heap measurement",
          "layer and API probes (traced)"),
        "input" -> Json.Obj(wl.inputProvenance: _*),
        "attempted" -> wl.attempted, "failed" -> failed,
        "ops_failed_ratio" -> failed.toDouble / math.max(wl.attempted, 1),
        "problems" -> problems.take(20),
        "extra_metrics" -> extra.map(m => m.name -> m).toMap)
      val perQuery = (wl, tracer) match {
        case (q: QueryWorkload, t) => q.perQuery(t)
        case _ => Nil
      }
      a.out.foreach { p =>
        Files.createDirectories(p.toAbsolutePath.getParent)
        Files.writeString(p, Json.obj(Seq("provenance" -> provenance,
          "metrics" -> metrics.map(m => m.name -> m).toMap, "per_query" -> perQuery)) + "\n")
      }
      val correct = failed == 0 && wl.attempted > 0
      println("REPORT " + Json.render(provenance))
      println("RESULT " + Json.obj(Seq("correct" -> correct, "attempted" -> wl.attempted,
        "failed" -> failed,
        "metrics" -> Json.Obj(metrics.map(m => m.name -> (m: Any)): _*))))
      if (correct) 0 else 1
    } finally wl.close()
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Driver heap still live after a full collection. Block removal (of
    * released blocks, and of broadcasts and shuffles the context cleaner
    * finds unreachable after a collection) is asynchronous, so collect until
    * the block manager's usage stops changing. */
  private def liveHeapMb(spark: SparkSession): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    def blockBytes = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    var last = -1L
    var rounds = 0
    while (blockBytes != last && rounds < 10) {
      last = blockBytes
      rounds += 1
      mx.gc()
      Thread.sleep(200)
    }
    mx.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def loadFingerprints(path: Path): Map[String, Map[String, Fingerprint]] = {
    if (!Files.exists(path)) return Map.empty
    val root = MiniJson.parse(Files.readString(path, StandardCharsets.UTF_8))
      .asInstanceOf[MiniJson.JObj]
    root.fields.map { case (corpus, qs: MiniJson.JObj) =>
      corpus -> qs.fields.map { case (q, f: MiniJson.JObj) =>
        val rows = f.get("rows").collect { case MiniJson.JNum(r) => r.toLong }.get
        val sum = f.get("xxhash64_sum").collect { case MiniJson.JStr(s) => s }.get
        q -> Fingerprint(rows, sum)
      case (q, other) => throw new IllegalArgumentException(s"bad fingerprint $q: $other")
      }.toMap
    case (c, other) => throw new IllegalArgumentException(s"bad corpus $c: $other")
    }.toMap
  }

  /** Record every listed query's fingerprint on both corpora. */
  private def record(a: Args, cores: Int, path: Path): Int = {
    val spark = BenchSession.build(cores, a.work)
    try {
      val out = Seq("sf0.01", "sf0.001").map { c =>
        c -> Json.Obj(Queries.sorted.map { q =>
          graft.BlockRelease.releaseEverything(spark)
          val f = Fingerprint.of(graft.SparkEntry.queries(q)(spark, corpusDir(a, c)))
          q -> Json.Obj("rows" -> f.rows, "xxhash64_sum" -> f.xxhash64Sum)
        }: _*)
      }
      Files.writeString(path, Json.render(Json.Obj(out: _*)) + "\n")
      0
    } finally BenchSession.stop(spark)
  }
}
