package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle of the session-scoped [[EdgePin]] layouts: only raw edge
  * lists are pinned, the per-query release sweep keeps them, and the
  * session-boundary release drops them. Runs the real graph queries over
  * a tiny self-made corpus holding just the columns the two pinned edge
  * derivations read (purchase pairs: lineitem⋈orders; co-order pairs:
  * the lineitem self-join). */
class EdgePinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_edgepin").toString
    (for (o <- 0 until 60; k <- 0 until 4)
      yield (o.toLong, ((o * 7 + k * 5) % 31).toLong))
      .toDF("l_orderkey", "l_partkey").write.parquet(s"$d/lineitem.parquet")
    // q212 seeds on customers divisible by 100
    (0 until 60).map(o => (o.toLong, (o % 12 * 50).toLong))
      .toDF("o_orderkey", "o_custkey").write.parquet(s"$d/orders.parquet")
    d
  }

  private def run(queries: String*): Unit =
    queries.foreach(q => SparkEntry.queries(q)(spark, dir).collect())

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("q123 and q212 in one session pin raw edge lists only") {
    BlockRelease.releaseEverything(spark)
    run("q123_pagerank", "q212_personalized_pagerank")
    val kinds = EdgePin.buildSeconds.keySet
    assert(kinds.contains("custpart_dist"), kinds)
    assert(kinds.forall(_.endsWith("_dist")),
      s"a pin that is not a raw edge list was built: $kinds")
  }

  test("BlockRelease.releaseAll keeps every pinned layout persisted") {
    BlockRelease.releaseEverything(spark)
    run("q123_pagerank", "q134_triangles")
    // a query-lifetime checkpoint the sweep must release
    spark.range(10).localCheckpoint()
    val pinned = EdgePin.pinnedIds
    val before = persisted
    assert(pinned.nonEmpty && pinned.subsetOf(before), (pinned, before))
    assert((before -- pinned).nonEmpty, before)
    BlockRelease.releaseAll(spark)
    val after = persisted
    assert(pinned.subsetOf(after), s"pinned $pinned released: $after")
    assert((before -- pinned).intersect(after).isEmpty, after)
    assert(EdgePin.pinnedIds == pinned)
  }

  test("BlockRelease.releaseEverything releases every pinned layout") {
    BlockRelease.releaseEverything(spark)
    run("q123_pagerank", "q134_triangles")
    val pinned = EdgePin.pinnedIds
    assert(pinned.nonEmpty)
    BlockRelease.releaseEverything(spark)
    assert(EdgePin.pinnedIds.isEmpty)
    assert(pinned.intersect(persisted).isEmpty,
      s"pinned blocks survived the session release: $pinned")
  }
}
