package graft.chunk

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSql}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Chunk assignment (SURVEY.md §2 A9–A11): map an ordered record stream onto
  * dense, contiguous, bounded chunks `chunk_number = offset + floor(rn / n)`.
  *
  * Scale design: a naive `row_number() OVER (ORDER BY ...)` funnels the whole
  * dataset through ONE partition. Instead we range-partition by the order
  * keys, count rows per partition (tiny driver-side collect of P longs), and
  * add per-partition offsets — every partition numbers its own rows
  * independently, so the operator is shuffle-bounded at any scale.
  */
object ChunkAssigner {

  /** Add a dense 0-based `rn` column reflecting the total order of
    * `orderCols`, without a single-partition sort: range-partition by the
    * order keys, sort within partitions, then number the rows in that order
    * ([[withInputOrderRowNumber]]'s kernel).
    *
    * repartitionByRange's sampling seed includes the RDD id, so two separate
    * jobs over the same DataFrame can get DIFFERENT partition boundaries —
    * any offset scheme computed in a side job is silently wrong. The kernel
    * materializes one RDD instance, which pins the partitioning;
    * zipWithIndex's internal count job and the main job then share the same
    * shuffle files (stage reuse). */
  def withRowNumber(df: DataFrame, orderCols: Seq[Column],
      numPartitions: Int = 0, rnName: String = "rn"): DataFrame = {
    val parts = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    rowNumbered(df.repartitionByRange(parts, orderCols: _*)
      .sortWithinPartitions(orderCols: _*), rnName)
  }

  /** Add a dense 0-based `rn` column in the DataFrame's EXISTING order —
    * input/file order for file sources, whose partitions enumerate
    * (file, block) deterministically. No shuffle, one count job from
    * zipWithIndex (none for a single partition). */
  def withInputOrderRowNumber(df: DataFrame): DataFrame = rowNumbered(df, "rn")

  private def rowNumbered(df: DataFrame, rnName: String): DataFrame =
    appendLong(df, rnName, GraftSql.toInternalRdd(df).zipWithIndex())

  /** Append the non-null long `name` paired with each of `df`'s rows,
    * staying on InternalRow (toRdd + JoinedRow): no per-row external-Row
    * conversion, which is what makes naive df.rdd zipWithIndex slow. */
  private def appendLong(df: DataFrame, name: String,
      rows: RDD[(InternalRow, Long)]): DataFrame =
    GraftSql.internalCreateDataFrame(df.sparkSession, rows.mapPartitions { it =>
      val joiner = new JoinedRow
      val extra = new GenericInternalRow(1)
      it.map { case (row, v) => extra.update(0, v); joiner(row, extra): InternalRow }
    }, StructType(df.schema.fields :+ StructField(name, LongType, nullable = false)))

  /** A9/A11: chunk number of row `rn`, `lastChunk + 1 + rn div chunkSize` —
    * integer `div`, not double `/`: row numbers stay exact past 2^53. */
  def countChunkNumber(chunkSize: Int, lastChunk: Long): Column = {
    require(chunkSize >= 1 && chunkSize <= 4000,
      s"chunk_size_by_records must be in [1, 4000], got $chunkSize") // request_model.py:22
    lit(lastChunk + 1) + expr(s"rn div $chunkSize")
  }

  /** A9/A11: count-based chunking in `orderCols` order. */
  def assignByCount(df: DataFrame, orderCols: Seq[Column], chunkSize: Int,
      lastChunk: Long = -1L): DataFrame = {
    val chunkNumber = countChunkNumber(chunkSize, lastChunk) // checks first
    withRowNumber(df, orderCols).withColumn("chunk_number", chunkNumber)
  }

  /** A12/A14/A15: per `chunk_number`, `n_records`, the canonical `rec`s in
    * `rn` order (array_sort of (rn, rec) structs sorts on rn) and their
    * `checksum`, sha256 of `[` ‖ records joined by `,` ‖ `]`. */
  def aggregateChunks(chunked: DataFrame): DataFrame =
    chunked
      .groupBy(col("chunk_number"))
      .agg(count(lit(1)).as("n_records"),
        transform(array_sort(collect_list(struct(col("rn"), col("rec")))),
          x => x.getField("rec")).as("records"))
      .withColumn("checksum",
        sha2(concat(lit("["), array_join(col("records"), ","), lit("]")), 256))
      .orderBy(col("chunk_number"))

  /** EXCLUSIVE prefix sum of `sizeCol` in `orderCols` order, appended as
    * `outName` — the distributed scan: range-partition + sort (partitions
    * are order-contiguous), per-partition totals collected once (K longs,
    * one job whose shuffle files the second job reuses), then every row's
    * offset assigned locally as partition-base + running sum. No
    * single-task window, no join, no N-row driver state — the same
    * carry-chain discipline as [[assignByBytes]], but with the carry
    * reduced to one addition so a single collect replaces the K-step
    * serial fold. `sizeCol` must be non-null (cast to long). */
  def withPrefixSum(df: DataFrame, orderCols: Seq[Column], sizeCol: Column,
      outName: String = "tok_off"): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val sorted = df.withColumn("__psz", sizeCol.cast("long"))
      .repartitionByRange(parts, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val idx = sorted.schema.fieldIndex("__psz")
    val rdd = GraftSql.toInternalRdd(sorted)
    val totals = rdd.mapPartitionsWithIndex { case (i, it) =>
        var s = 0L
        it.foreach(r => s += r.getLong(idx))
        Iterator((i, s))
      }.collect().sortBy(_._1).map(_._2)
    val bases = totals.scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(bases)
    appendLong(sorted, outName, rdd.mapPartitionsWithIndex { case (i, it) =>
      var acc = bc.value(i)
      it.map { row =>
        val off = acc
        acc += row.getLong(idx)
        (row, off)
      }
    }).drop("__psz")
  }

  /** A10: byte-budget chunking — greedy packing where adding a record may
    * never exceed `budgetBytes` (`json_reader.py:133`: flush BEFORE append
    * when chunk_bytes + next_bytes > budget). Greedy packing is inherently
    * sequential in record order — but only over the SIZES, not the payloads.
    *
    * Scale shape: row numbers are assigned distributed (`withRowNumber` —
    * range partition + per-partition index, payloads stay put); the greedy
    * fold runs over a projected `(rn, size)` stream (~16 bytes/row) as K
    * CHAINED MINI-JOBS — one per partition of the range-partitioned pair
    * stream, each folding its slice where the shuffle block lives and
    * handing a single (openChunkBytes, started) carry to the next. Partition
    * p's rns all precede partition p+1's (rn came from zipWithIndex over
    * these same partitions), so the chained fold IS the global fold; no
    * stage ever runs one task over N rows and no N-row shuffle block exists.
    * The emitted chunk-start row numbers broadcast back and every payload
    * partition assigns `chunk_number` locally via a codegen'd binary search
    * (`SortedBoundaryRank`). Driver/broadcast footprint is one long per
    * chunk; serial dependency is K carry handoffs, not N rows.
    */
  def assignByBytes(df: DataFrame, orderCols: Seq[Column], budgetBytes: Long,
      sizeCol: Column, lastChunk: Long = -1L): DataFrame = {
    // "__rn", not "rn": ingestion callers pass frames that already carry an
    // input-order `rn` (which is itself the order key)
    val withRn = withRowNumber(df.withColumn("__size", sizeCol), orderCols,
      rnName = "__rn")
    // (rn, size) pairs only; partitions are rn-contiguous and rn-sorted by
    // construction. The fold's output is the set of row numbers that START
    // a new chunk (first row never does).
    val pairs = withRn.select(col("__rn"), col("__size").cast("long"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
    val sc = df.sparkSession.sparkContext
    val startsBuf = scala.collection.mutable.ArrayBuffer.empty[Long]
    var carry = 0L        // bytes in the open chunk entering the next slice
    var started = false   // false until the very first record is seen
    for (p <- 0 until pairs.getNumPartitions) {
      val cIn = carry
      val sIn = started
      val Array((pStarts, cOut, sOut)) = sc.runJob(pairs,
        (it: Iterator[(Long, Long)]) => {
          var bytes = cIn
          var st = sIn
          val ps = scala.collection.mutable.ArrayBuffer.empty[Long]
          it.foreach { case (rn, sz) =>
            if (st && bytes + sz > budgetBytes) { ps += rn; bytes = 0L }
            st = true
            bytes += sz
          }
          (ps.toArray, bytes, st)
        }, Seq(p))
      startsBuf ++= pStarts
      carry = cOut
      started = sOut
    }
    val boundaries: Array[Long] = startsBuf.toArray
    // chunk_number = base + (# chunk-start rns <= rn): distributed, local to
    // each payload partition (withRn is one materialized RDD — both the fold
    // job above and this assignment reuse its shuffle files, so row numbers
    // are identical across the two jobs)
    withRn
      .withColumn("chunk_number",
        lit(lastChunk + 1) + graft.functions.SortedBoundaryRank.of(col("__rn"), boundaries))
      .drop("__size", "__rn")
  }
}
