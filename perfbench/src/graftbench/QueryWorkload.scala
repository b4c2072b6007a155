package graftbench

import scala.collection.mutable

import graft.{BlockRelease, EdgePin, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** A query result's row count and order-insensitive content hash. */
final case class Fingerprint(rows: Long, xxhash64Sum: String)

object Fingerprint {
  /** Row count plus the sum of each row's `xxhash64`, computed as an exact
    * decimal so the sum cannot overflow. */
  def of(df: DataFrame): Fingerprint = {
    // positional names: a result may repeat a column name
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val hashed = xxhash64(named.columns.map(col): _*).cast(DecimalType(38, 0))
    val r = named.agg(count(lit(1)), sum(hashed)).collect()(0)
    Fingerprint(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}

/** Timings of one query execution: construct → plan → exec. */
final case class QueryOp(pass: Int, name: String, constructS: Double, planS: Double,
    execS: Double, rows: Long, error: Option[String]) {
  def latencyS: Double = constructS + planS + execS
}

/** One closed-loop client running a fixed list of queries per pass, in a
  * seed-shuffled order, under the rdd action: `fn(spark, dir)`, then
  * `queryExecution.executedPlan`, then `queryExecution.toRdd.count()`.
  *
  * Every pass starts with `BlockRelease.releaseEverything`, so edge pins and
  * other memos are rebuilt, and paid for, inside the pass; blocks are
  * released between queries like a long-lived driver does. */
final class QueryWorkload(names: Seq[String], corpus: String, warmCorpus: String,
    expected: Map[String, Fingerprint], seed: Long, cores: Int,
    tracer: Option[Tracer]) extends Workload {

  private var spark: SparkSession = _
  private val ops = mutable.ArrayBuffer.empty[QueryOp]
  private val fingerprintProblems = mutable.Map.empty[String, String]
  private val passRelease = mutable.ArrayBuffer.empty[Double]
  private val passPin = mutable.ArrayBuffer.empty[Double]

  names.foreach(n => require(SparkEntry.oracleSql.contains(n), s"$n has no oracle SQL"))

  /** Warm-up: the same list on the warm-up corpus, whose edge-pin keys
    * differ, so JIT and codegen settle but no pin survives into the timed
    * region. */
  def prepare(s: SparkSession, rep: Int): Unit = {
    spark = s
    names.foreach { n =>
      SparkEntry.queries(n)(spark, warmCorpus).queryExecution.toRdd.count()
      BlockRelease.releaseAll(spark)
    }
    BlockRelease.releaseEverything(spark)
  }

  /** Outside the timed region: one untimed pass over the timed corpus, so
    * that the first timed pass does not pay its one-off costs, which also
    * runs the correctness gate: each result's fingerprint must equal the
    * recorded one. A query failing here fails all of its timed executions. */
  def settle(): Unit =
    run(-1, check = true)._1.foreach(op => op.error.foreach(fingerprintProblems(op.name) = _))

  def startTimed(): Unit = ()
  def endTimed(): Unit = ()

  private def pinSeconds: Double = EdgePin.buildSeconds.values.map(_._1).sum

  def pass(p: Int): Double = {
    val (done, releaseS, pinS, wallS) = run(p, check = false)
    ops ++= done
    passRelease += releaseS
    passPin += pinS
    wallS
  }

  /** One pass: its executions, release seconds, pin-build seconds, wall.
    * With `check`, each result's fingerprint is compared with the recorded
    * one, after the execution's timings are taken. */
  private def run(p: Int, check: Boolean): (Seq[QueryOp], Double, Double, Double) = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val pin0 = pinSeconds
    val r0 = System.nanoTime()
    BlockRelease.releaseEverything(spark)
    var releaseNs = System.nanoTime() - r0
    val order = new scala.util.Random(seed * 1000003L + p).shuffle(names)
    val done = order.map { n =>
      def phase(ph: String): Unit =
        if (tracer.isDefined) sc.setJobGroup(s"p$p:$ph:$n", ph)
      val q0 = System.nanoTime()
      var q1, q2 = q0
      val op = try {
        phase("construct")
        val df = SparkEntry.queries(n)(spark, corpus)
        q1 = System.nanoTime()
        phase("plan")
        df.queryExecution.executedPlan
        q2 = System.nanoTime()
        phase("exec")
        val rows = df.queryExecution.toRdd.count()
        val q3 = System.nanoTime()
        if (tracer.isDefined) sc.clearJobGroup()
        val err = expected.get(n).filter(_.rows != rows)
          .map(f => s"$n: $rows rows, recorded ${f.rows}")
          .orElse(if (!check) None else {
            val got = Fingerprint.of(df)
            if (expected.get(n).contains(got)) None
            else Some(s"$n: fingerprint $got, recorded ${expected.get(n)}")
          })
        QueryOp(p, n, Stats.secs(q1 - q0), Stats.secs(q2 - q1), Stats.secs(q3 - q2), rows, err)
      } catch {
        case e: Exception =>
          if (tracer.isDefined) sc.clearJobGroup()
          val now = System.nanoTime()
          QueryOp(p, n, Stats.secs(q1 - q0), Stats.secs(q2 - q1), Stats.secs(now - q2), 0L,
            Some(s"$n threw: $e"))
      }
      val r = System.nanoTime()
      BlockRelease.releaseAll(spark)
      releaseNs += System.nanoTime() - r
      op
    }
    (done, Stats.secs(releaseNs), pinSeconds - pin0, Stats.secs(System.nanoTime() - t0))
  }

  /** A query whose fingerprint is wrong fails every one of its executions. */
  def attempted: Int = ops.size
  def failed: Int = ops.count(o => o.error.isDefined || fingerprintProblems.contains(o.name))
  def problems: Seq[String] = ops.flatMap(_.error).toSeq ++ fingerprintProblems.values
  def finalProblems: Seq[String] = Nil
  def records: Long = ops.map(_.rows).sum
  def opLatencies: Seq[(String, Double)] = ops.map(o => o.name -> o.latencyS).toSeq

  /** Per-pass medians of each layer, from the traced run. */
  def layerMetrics(tracer: Tracer): Seq[Metric] = {
    val sc = spark.sparkContext
    val passes = ops.map(_.pass).distinct.toSeq
    def perPass(f: Int => Double): Double = Stats.median(passes.map(f))
    def opsOf(p: Int) = ops.filter(_.pass == p)
    def g(p: Int, ph: String): GroupTotals = tracer.sum(sc)(_.startsWith(s"p$p:$ph:"))
    val exec = passes.map(p => p -> g(p, "exec")).toMap
    val construct = passes.map(p => p -> g(p, "construct")).toMap
    def execS(p: Int) = opsOf(p).map(_.execS).sum
    Seq(
      Metric("operators.construct_s", perPass(p => opsOf(p).map(_.constructS).sum), "s"),
      Metric("operators.construct_jobs", perPass(p => construct(p).jobs.toDouble), "count"),
      Metric("operators.construct_task_s", perPass(p => construct(p).taskS), "s"),
      Metric("plan.plan_s", perPass(p => opsOf(p).map(_.planS).sum), "s"),
      Metric("exec.exec_s", perPass(execS), "s"),
      Metric("exec.jobs", perPass(p => exec(p).jobs.toDouble), "count"),
      Metric("exec.tasks", perPass(p => exec(p).tasks.toDouble), "count"),
      Metric("exec.task_s", perPass(p => exec(p).taskS), "s"),
      Metric("exec.shuffle_write_bytes", perPass(p => exec(p).shuffleWriteBytes.toDouble), "bytes"),
      Metric("exec.spill_bytes", perPass(p => exec(p).spillBytes.toDouble), "bytes"),
      Metric("exec.skew_max", perPass(p => exec(p).skewMax), "ratio"),
      Metric("exec.core_busy_share",
        perPass(p => exec(p).taskS / math.max(execS(p) * cores, 1e-9)), "ratio"),
      Metric("blocks.release_s", Stats.median(passRelease.toSeq), "s"),
      Metric("edgepin.build_s", Stats.median(passPin.toSeq), "s"))
  }

  /** The per-query split of every timed execution, for the trace artifact. */
  def perQuery(tracer: Option[Tracer]): Seq[Json.Obj] = ops.toSeq.map { o =>
    val base = Seq[(String, Any)]("pass" -> o.pass, "query" -> o.name,
      "construct_s" -> o.constructS, "plan_s" -> o.planS, "exec_s" -> o.execS,
      "rows" -> o.rows, "error" -> o.error)
    val traced = tracer.toSeq.flatMap { t =>
      val sc = spark.sparkContext
      val e = t.group(sc, s"p${o.pass}:exec:${o.name}")
      val c = t.group(sc, s"p${o.pass}:construct:${o.name}")
      Seq("construct_jobs" -> c.jobs, "construct_task_s" -> c.taskS, "jobs" -> e.jobs,
        "task_s" -> e.taskS, "shuffle_write_bytes" -> e.shuffleWriteBytes,
        "spill_bytes" -> e.spillBytes, "skew" -> e.skewMax)
    }
    Json.Obj(base ++ traced: _*)
  }

  def inputProvenance: Seq[(String, Any)] = Seq(
    "queries" -> names, "corpus" -> corpus, "warmup_corpus" -> warmCorpus,
    "action" -> "rdd: fn(spark, dir) -> queryExecution.executedPlan -> queryExecution.toRdd.count()",
    "query_executions" -> ops.size, "result_rows_per_pass" -> Stats.median(
      ops.map(_.pass).distinct.toSeq.map(p => ops.filter(_.pass == p).map(_.rows).sum.toDouble)))

  def close(): Unit = ()
}
