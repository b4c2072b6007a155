package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between the public Column API and Catalyst expressions.
  *
  * Spark 4 moved Column↔Expression conversion behind `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils); extensions that define
  * native expressions conventionally reach it via a same-package shim.
  */
object GraftSql {
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** DataFrame from an InternalRow RDD (no external Row conversion). */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** The analyzed plan's InternalRow RDD — materializes the physical plan
    * ONCE, so every job over the returned RDD shares the same shuffle output
    * (and, crucially, the same nondeterministic range-sampling outcome). */
  def toInternalRdd(df: DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.queryExecution.toRdd

  /** A localCheckpoint that KEEPS its partitioning promise.
    *
    * `Dataset.localCheckpoint` under AQE republishes the blocks with
    * UnknownPartitioning, so an iterative operator that joins the pinned
    * frame on the same key every round pays a fresh exchange (or a reused
    * shuffle read) plus a sort per use. This pins the frame the honest
    * way: repartition by `keys` into an EXPLICIT partition count (AQE
    * never coalesces user-numbered repartitions, so the layout claim
    * stays true), sort within partitions by the same keys, persist the
    * InternalRow blocks eagerly, and republish them as a [[execution
    * .LogicalRDD]] that ADVERTISES HashPartitioning(keys) + ascending
    * order — every downstream equi-join on `keys` then plans with zero
    * exchange and zero sort on this side. Blocks release through
    * [[releaseCheckpointBlocks]], like ordinary checkpoints. */
  def pinHashPartitioned(df: DataFrame, keys: Seq[String],
      numParts: Int): DataFrame = {
    require(keys.nonEmpty && numParts > 0)
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val laidOut = df.repartition(numParts, keys.map(df(_)): _*)
      .sortWithinPartitions(keys.map(df(_)): _*)
    val qe = laidOut.queryExecution
    val rdd = qe.toRdd.map(_.copy())
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rdd.count() // eager, like localCheckpoint: blocks land exactly once
    val output = qe.analyzed.output
    val keyAttrs = keys.map { k =>
      // a duplicate-named output would silently bind the first match and
      // advertise HashPartitioning on the wrong attribute — fail instead
      val matches = output.filter(_.name == k)
      require(matches.size == 1,
        s"pinHashPartitioned: column $k matches ${matches.size} output " +
          s"attributes (need exactly 1); disambiguate before pinning")
      matches.head
    }
    val partitioning =
      catalyst.plans.physical.HashPartitioning(keyAttrs, numParts)
    val ordering = keyAttrs.map(a => catalyst.expressions.SortOrder(
      a, catalyst.expressions.Ascending))
    classic.Dataset.ofRows(spark,
      execution.LogicalRDD(output, rdd, partitioning, ordering,
        isStreaming = false, stream = None)(spark, None, None))
  }

  /** Releases the storage blocks of a checkpoint the caller owns.
    *
    * `Dataset.unpersist` only uncaches through the CacheManager; checkpoint
    * blocks live as persisted RDDs inside a [[execution.LogicalRDD]], which
    * the CacheManager never sees, so a loop that checkpoints per round
    * would pin every superseded round until the session ends. Ownership
    * rule: `ds` must BE the checkpoint (the frame `localCheckpoint`,
    * [[pinHashPartitioned]] or [[internalCreateDataFrame]] returned, whose
    * analyzed plan is a single LogicalRDD). A frame derived from one fails
    * the `require`: its leaves may be blocks someone else owns, such as a
    * session-scoped pinned layout. Call it only once nothing will re-read
    * the frame. */
  def releaseCheckpointBlocks(ds: Dataset[_]): Unit = {
    val plan = ds.queryExecution.analyzed
    require(plan.isInstanceOf[execution.LogicalRDD],
      s"releaseCheckpointBlocks takes a checkpoint itself, not a frame " +
        s"derived from one:\n$plan")
    dropBlocks(plan.asInstanceOf[execution.LogicalRDD].rdd)
  }

  /** Drops `rdd`'s storage blocks without waiting, like
    * `RDD.unpersist(blocking = false)`, but without the WARN that call logs
    * for every locally checkpointed RDD ("cannot be recomputed after
    * unpersisting"): releasing a checkpoint nothing will re-read is what the
    * release sweeps do by design. */
  def dropBlocks(rdd: org.apache.spark.rdd.RDD[_]): Unit = rdd.checkpointData match {
    case Some(_: org.apache.spark.rdd.LocalRDDCheckpointData[_]) =>
      rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    case _ => rdd.unpersist(blocking = false)
  }

  /** Ids of the persisted RDDs behind a checkpointed Dataset's LogicalRDD
    * leaves — lets a session-scoped pin registry (graft.EdgePin) both
    * verify its blocks are still resident and exempt them from the
    * per-query [[graft.BlockRelease]] sweep. */
  def checkpointRddIds(ds: Dataset[_]): Seq[Int] = {
    val b = Seq.newBuilder[Int]
    ds.queryExecution.analyzed.foreach {
      case lr: execution.LogicalRDD => b += lr.rdd.id
      case _ => ()
    }
    b.result()
  }
}
