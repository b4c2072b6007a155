package graft.operators

import graft.TestSpark
import org.apache.spark.sql.{DataFrame, GraftSql}
import org.scalatest.funsuite.AnyFunSuite

/** Block residency of the iterative operators: after a call returns, the
  * only storage blocks it has added to the session are the ones its result
  * still reads. Every superseded round and every private edge copy must be
  * released inside the call; a long-lived session (a bench sweep, a query
  * service) otherwise accumulates them until the heap thrashes. */
class BlockLeakSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Small symmetric graph with duplicate rows, so operators that dedup
    * their input take their own private edge copy. */
  private lazy val und: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(61)
    Seq.fill(120)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2)
  }
  private def symEdges: DataFrame =
    (und ++ und.map(_.swap) ++ und.take(10)).toDF("src", "dst")
  private def seeds: DataFrame = Seq(0L, 7L).toDF("node")

  private def assertOnlyResultBlocks(op: => DataFrame): Unit = {
    val before = persisted
    val result = op
    val added = persisted -- before
    val reads = GraftSql.checkpointRddIds(result).toSet
    assert(added == reads,
      s"leaked ${added -- reads}; result reads $reads, call added $added")
    result.collect() // the result still evaluates over what was kept
  }

  test("labelPropagation keeps only the blocks its result reads") {
    assertOnlyResultBlocks(Graph.labelPropagation(symEdges, rounds = 3))
  }

  test("kCoreDecomposition keeps only the blocks its result reads") {
    assertOnlyResultBlocks(Graph.kCoreDecomposition(symEdges, rounds = 3))
  }

  test("kCoreExact keeps only the blocks its result reads") {
    assertOnlyResultBlocks(Graph.kCoreExact(symEdges))
  }

  test("anf keeps only the blocks its result reads") {
    assertOnlyResultBlocks(Graph.anf(symEdges, rounds = 3))
  }

  test("bfsDistances keeps only the blocks its result reads") {
    assertOnlyResultBlocks(Graph.bfsDistances(symEdges, seeds, rounds = 3))
  }

  test("weightedDistances keeps only the blocks its result reads") {
    val weighted = und.map { case (a, b) => (a, b, (a * 7 + b) % 13 + 1) }
      .toDF("src", "dst", "w")
    assertOnlyResultBlocks(Graph.weightedDistances(weighted, seeds, rounds = 3))
  }

  test("kTruss keeps only the blocks its result reads") {
    val clique = for (i <- 100L to 104L; j <- (i + 1) to 104L) yield (i, j)
    val edges = (clique ++ und).toDF("a", "b")
    assertOnlyResultBlocks(Graph.kTruss(edges, k = 4, rounds = 3))
  }

  test("hits keeps only the blocks its result reads") {
    assertOnlyResultBlocks(Graph.hits(symEdges, iterations = 3))
  }

  test("connectedComponents keeps only the blocks its result reads") {
    assertOnlyResultBlocks(Dedup.connectedComponents(
      und.toDF("src", "dst"), (0L until 50L).toDF("id")))
  }

  test("resolveKeepers keeps only the blocks its result reads") {
    // keeper chains 5 → 4 → 3 → 2 → 1 → 0 and 12 → 11 → 10
    val decisions = (Seq((0L, "kept", None), (10L, "kept", None)) ++
      (1L to 5L).map(i => (i, "dropped", Some(i - 1))) ++
      Seq((11L, "dropped", Some(10L)), (12L, "dropped", Some(11L))))
      .map { case (id, st, k) => (id, 0, st, k) }
      .toDF("vec_id", "cell", "status", "keeper")
    assertOnlyResultBlocks(Dedup.resolveKeepers(decisions))
  }
}
