package graft.operators

import graft.TestSpark
import org.apache.spark.sql.{DataFrame, GraftSql}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared round loop: what it keeps resident, how many rounds the
  * converging form runs, and that a release can only reach a checkpoint
  * the caller owns. */
class RoundLoopSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A stand-in for a session-scoped pinned layout. */
  private def pinned(): DataFrame =
    spark.range(0, 50).toDF("x").localCheckpoint()

  test("fixed keeps only its last checkpoint and never releases init, " +
      "even when init reads a pinned layout") {
    val pin = pinned()
    val pinIds = GraftSql.checkpointRddIds(pin).toSet
    val ownInit = pin.withColumn("r", lit(0L)).localCheckpoint()
    for (init <- Seq(pin.select(col("x"), lit(0L).as("r")), ownInit)) {
      val before = persisted
      val out = RoundLoop.fixed(init, 4)(_.select(col("x"), (col("r") + 1L).as("r")))
      val added = persisted -- before
      assert(added == GraftSql.checkpointRddIds(out).toSet && added.size == 1,
        s"added $added")
      assert(pinIds.subsetOf(persisted), "the pinned layout was released")
      assert(GraftSql.checkpointRddIds(init).toSet.subsetOf(persisted),
        "init was released")
      assert(out.where(col("r") =!= 4L).count() == 0 && out.count() == 50)
      GraftSql.releaseCheckpointBlocks(out)
    }
    assert(RoundLoop.fixed(pin, 0)(_ => fail("no round may run")) eq pin)
    Seq(ownInit, pin).foreach(GraftSql.releaseCheckpointBlocks)
  }

  /** Counts up to `k` one step per round: rows change in rounds 1..k and
    * round k + 1 is the first that changes nothing. */
  private def countTo(k: Long, calls: java.util.concurrent.atomic.AtomicInteger)
      (prev: DataFrame): DataFrame = {
    calls.incrementAndGet()
    prev.select(col("x"), least(col("v") + 1L, lit(k)).as("v"),
      (col("v") < k).as("changed"))
  }

  test("untilStable runs k + 1 rounds for a step that changes rows k " +
      "times and returns the fixpoint") {
    val k = 5L
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val pin = pinned()
    val before = persisted
    val out = RoundLoop.untilStable("countTo", pin.withColumn("v", lit(0L)),
      20)(countTo(k, calls))
    assert(calls.get == k + 1)
    assert(out.columns.toSeq == Seq("x", "v"))
    assert(out.where(col("v") =!= k).count() == 0 && out.count() == 50)
    assert(persisted -- before == GraftSql.checkpointRddIds(out).toSet)
    Seq(out, pin).foreach(GraftSql.releaseCheckpointBlocks)
  }

  test("untilStable fails, naming the operator and the cap, when the cap " +
      "is below the rounds the step needs") {
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val pin = pinned()
    val before = persisted
    val err = intercept[IllegalStateException](RoundLoop.untilStable(
      "countTo", pin.withColumn("v", lit(0L)), 3)(countTo(5L, calls)))
    assert(err.getMessage.contains("countTo") && err.getMessage.contains("3"))
    assert(calls.get == 3)
    assert(persisted -- before == Set.empty, "a failed loop kept its rounds")
    GraftSql.releaseCheckpointBlocks(pin)
  }

  test("releaseCheckpointBlocks refuses a frame derived from a checkpoint " +
      "and leaves the checkpoint's blocks resident") {
    val pin = pinned()
    val ids = GraftSql.checkpointRddIds(pin).toSet
    intercept[IllegalArgumentException](
      GraftSql.releaseCheckpointBlocks(pin.select(col("x") + 1)))
    assert(ids.subsetOf(persisted))
    GraftSql.releaseCheckpointBlocks(pin)
    assert(ids.intersect(persisted).isEmpty)
  }
}
