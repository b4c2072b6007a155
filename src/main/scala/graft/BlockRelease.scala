package graft

import org.apache.spark.sql.SparkSession

/** Session maintenance for long-lived drivers.
  *
  * Operators that need a materialization barrier (`localCheckpoint` for
  * nondeterministic-id pinning, iterative-loop bases, shared-scan reuse)
  * pin storage blocks that live until the session ends — the DataFrames
  * they back stay valid, so the operators themselves cannot release them.
  * A driver that runs MANY queries in one session (a bench loop, a query
  * service) must drop those blocks between query lifecycles, exactly like
  * releasing a buffer pool; otherwise pinned blocks accumulate until
  * execution memory starves and every later query pays GC thrash (observed:
  * a 3-4x slowdown on iterative queries late in a 91-query session).
  */
object BlockRelease {
  /** Unpersist every persistent RDD in the session (non-blocking), EXCEPT
    * the session-scoped [[EdgePin]] layouts (those are shared across query
    * lifecycles by design and released at the session boundary). Safe
    * whenever no prior query's result is still lazily referenced — i.e. at
    * query-lifecycle boundaries. */
  def releaseAll(spark: SparkSession): Unit = {
    val keep = EdgePin.pinnedIds
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) org.apache.spark.sql.GraftSql.dropBlocks(rdd)
    }
  }

  /** Session lifecycle boundary: drop the pinned edge layouts too. */
  def releaseEverything(spark: SparkSession): Unit = {
    EdgePin.releaseAll()
    releaseAll(spark)
  }
}
