package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.{DataFrame, GraftSql}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.types.StructType

/** The round loop of the iterative operators: each round materializes
  * `step(prev)` as one checkpoint job, which truncates the lineage so the
  * plan does not deepen by a step per round.
  *
  * Release rule: once a round has landed, the previous round's blocks are
  * dead and are released at once, so residency stays O(1 round), not
  * O(rounds). The loop releases ONLY the checkpoints it created: `init`
  * belongs to the caller (it may be a pinned layout shared across queries,
  * or a frame that reads one) and is never released here, and the returned
  * frame belongs to the caller from then on. */
object RoundLoop {

  /** `rounds` applications of `step` from `init`, each round checkpointed.
    * `rounds = 0` returns `init` untouched and runs no job. */
  def fixed(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame)
      : DataFrame =
    (1 to rounds).foldLeft(init) { (prev, _) =>
      val next = step(prev).localCheckpoint()
      if (prev ne init) GraftSql.releaseCheckpointBlocks(prev)
      next
    }

  /** Iterates `step` from `init` to its fixpoint. The step's output carries
    * a boolean `changed` column; the loop stops after the first round in
    * which no row changed and returns that round without the column. A
    * round that still changes rows at `maxRounds` fails, naming `op`: an
    * unconverged answer is never returned as if it were the fixpoint. */
  def untilStable(op: String, init: DataFrame, maxRounds: Int)
      (step: DataFrame => DataFrame): DataFrame = {
    @tailrec def loop(prev: DataFrame, round: Int): DataFrame = {
      val (next, changed) = materialize(step(prev))
      if (prev ne init) GraftSql.releaseCheckpointBlocks(prev)
      if (changed == 0) next
      else if (round == maxRounds) {
        GraftSql.releaseCheckpointBlocks(next)
        throw new IllegalStateException(
          s"$op did not converge within $maxRounds rounds")
      } else loop(next, round + 1)
    }
    require(maxRounds >= 1, s"$op needs maxRounds >= 1, got $maxRounds")
    loop(init, 1)
  }

  /** One round = ONE job: the rows materialize into persisted blocks, minus
    * the `changed` column, while an accumulator counts the changed rows on
    * the way. Accumulator at-least-once semantics are sound here: a retried
    * task can only overcount, never turn a genuine change into zero, and
    * zero is the only count that stops the loop. Returns the round as a
    * bare checkpoint frame plus its changed-row count. */
  private def materialize(round: DataFrame): (DataFrame, Long) = {
    val spark = round.sparkSession
    val changedOrd = round.schema.fieldIndex("changed")
    val kept = round.schema.fields.zipWithIndex.filter(_._2 != changedOrd)
    val keptRefs = kept.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable) }.toSeq
    val acc = spark.sparkContext.longAccumulator("round_changed")
    val rdd = GraftSql.toInternalRdd(round).mapPartitions { it =>
      val project = UnsafeProjection.create(keptRefs)
      it.map { row =>
        if (row.getBoolean(changedOrd)) acc.add(1L)
        project(row).copy(): InternalRow // unsafe rows are buffer-backed
      }
    }
    // persists MEMORY_AND_DISK and drops the lineage once materialized,
    // exactly as Dataset.localCheckpoint does
    rdd.localCheckpoint()
    rdd.count() // materializes the round; the accumulator is valid after this
    (GraftSql.internalCreateDataFrame(spark, rdd, StructType(kept.map(_._1))),
      acc.value)
  }
}
