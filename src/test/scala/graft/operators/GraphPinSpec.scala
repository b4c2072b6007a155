package graft.operators

import graft.TestSpark
import org.apache.spark.sql.GraftSql
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 exchange audit for the PageRank family: the pinned edge
  * invariant must ADVERTISE its hash layout so power-step joins plan
  * with zero edge-side exchange and zero edge-side sort (a plain
  * localCheckpoint republishes as UnknownPartitioning under AQE and
  * every iteration re-exchanges). Counts are asserted with broadcast
  * disabled — the both-sides-large regime these operators are built
  * for; values are asserted against a driver-side naive recompute.
  */
class GraphPinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def noBroadcast[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // count within the FINAL adaptive plan only (the plan string repeats
  // every node once more under "== Initial Plan ==")
  private def exchanges(plan: String): Int =
    "Exchange hashpartitioning".r
      .findAllIn(plan.split("== Initial Plan ==")(0)).size

  test("pinHashPartitioned: equi-join on the pinned key plans no " +
      "exchange and no sort on the pinned side") {
    noBroadcast {
      val e = (0L until 20000L).map(i => (i % 971, i % 89)).toDF("src", "dst")
      val pinned = GraftSql.pinHashPartitioned(e, Seq("src"), 8)
      val r = (0L until 971L).map(i => (i, 1.0)).toDF("src", "rank")
      val j = pinned.join(r, Seq("src")).groupBy(col("src"))
        .agg(sum(col("rank")).as("s"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      // the rank side must exchange to meet the pinned layout; the pinned
      // side must not — so exactly ONE hash exchange in the whole query
      assert(exchanges(plan) == 1, s"expected 1 exchange:\n$plan")
      // and the pinned side's advertised ordering kills its SMJ sort:
      // every Sort in the plan sits above the rank-side exchange, none
      // above the ExistingRDD scan
      val scanFirst = plan.linesIterator.zipWithIndex
        .filter(_._1.contains("Scan ExistingRDD")).map(_._2).min
      val sortsBelowScan = plan.linesIterator.drop(scanFirst)
        .count(_.trim.startsWith("+- *(1) Sort"))
      assert(sortsBelowScan == 0, plan)
    }
  }

  test("hits: pinned directions keep the exchange count flat and values " +
      "match a naive recompute") {
    noBroadcast {
      val edges = (for { s <- 0L until 40L; d <- 0L until 40L
        if (s + d) % 7 == 0 && s != d } yield (s"n$s", s"n$d"))
        .toDF("src", "dst")
      val out = Graph.hits(edges, iterations = 5)
      out.collect()
      val plan = out.queryExecution.executedPlan.toString
      val n = exchanges(plan)
      // unpinned round-9 measurement was 166 exchanges for this shape;
      // with both directions advertised the final-iteration plan carries
      // only the score-side exchanges
      assert(n <= 12, s"hits exchange count regressed: $n\n$plan")

      // value check vs driver-side power iteration
      val es = edges.collect().map(r => (r.getString(0), r.getString(1)))
      var a = es.map(_._2).distinct.map(_ -> 1.0).toMap
      var h = Map.empty[String, Double]
      for (_ <- 1 to 5) {
        h = es.groupBy(_._1).map { case (s, g) =>
          s -> g.map(e => a.getOrElse(e._2, 0.0)).sum }
        a = es.groupBy(_._2).map { case (d, g) =>
          d -> g.map(e => h.getOrElse(e._1, 0.0)).sum }
      }
      val hs = h.values.sum; val as = a.values.sum
      val got = out.collect().map(r =>
        (r.getString(0), r.getString(2)) -> r.getDouble(1)).toMap
      h.foreach { case (k, v) =>
        assert(math.abs(got((k, "hub")) - v / hs) < 1e-9, s"hub $k") }
      a.foreach { case (k, v) =>
        assert(math.abs(got((k, "authority")) - v / as) < 1e-9, s"auth $k") }
    }
  }

  test("symmetricPageRank: pinned edge invariant, values match a naive " +
      "recompute") {
    noBroadcast {
      val edges0 = (for { s <- 0L until 30L; d <- 0L until 30L
        if (s * 3 + d) % 5 == 0 && s != d } yield (s"v$s", s"v$d"))
      val edges = (edges0 ++ edges0.map(e => (e._2, e._1)))
        .toDF("src", "dst")
      val out = Graph.symmetricPageRank(edges, iterations = 5)
      val es = edges0.flatMap(e => Seq(e, (e._2, e._1))).distinct
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val outdeg = es.groupBy(_._1).map { case (k, g) => k -> g.size }
      var r = nodes.map(_ -> 1.0 / nodes.size).toMap
      for (_ <- 1 to 5) {
        val in = es.groupBy(_._2).map { case (d, g) =>
          d -> g.map(e => r(e._1) / outdeg(e._1)).sum }
        r = nodes.map(n =>
          n -> (0.15 / nodes.size + 0.85 * in.getOrElse(n, 0.0))).toMap
      }
      val got = out.collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
      r.foreach { case (k, v) =>
        assert(math.abs(got(k) - v * nodes.size) < 1e-9, s"rank $k") }
    }
  }
}
