package graft.chunk

import graft.canon.CanonicalJson
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.commons.codec.binary.Hex
import org.apache.spark.{Dependency, NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSql}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

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

  /** A9/A11: count-based chunking in `orderCols` order —
    * `lastChunk + 1 + rn div chunkSize`, integer `div`, not double `/`: row
    * numbers stay exact past 2^53. */
  def assignByCount(df: DataFrame, orderCols: Seq[Column], chunkSize: Int,
      lastChunk: Long = -1L): DataFrame = {
    val bound = ChunkBound.Records(chunkSize) // checks first
    withRowNumber(df, orderCols)
      .withColumn("chunk_number", lit(lastChunk + 1) + expr(s"rn div ${bound.n}"))
  }

  /** A12/A14/A15 in one ordered pass: the chunks of `ordered`, whose
    * partitions hold its records in order, as `(chunk_number, n_records,
    * payload, checksum)` rows numbered from `lastChunk + 1`. Each row of
    * `ordered` is one record, rendered as the canonical JSON object of its
    * columns; `payload` is the UTF-8 bytes of `[` ‖ records joined by `,` ‖
    * `]` — the chunk's `records` array exactly as it goes on the wire (A17)
    * — and `checksum` is the sha256 of exactly those bytes (A15).
    *
    * Output partition p holds the chunks whose first record is in input
    * partition p: contiguous ascending chunk ranges in partition order, with
    * no shuffle. A chunk still open at its partition's end is finished from
    * the heads of the following partitions (a narrow dependency, like
    * coalesce's), so only one chunk's rows per boundary are read twice. The
    * fold state entering each partition comes from one count job in count
    * mode and from the chained sizes fold, one job per partition, in byte
    * mode; a one-partition input runs neither. */
  def chunks(ordered: DataFrame, bound: ChunkBound, lastChunk: Long): DataFrame = {
    val rows = GraftSql.toInternalRdd(ordered)
    val schema = ordered.schema
    val heads = 0 until rows.getNumPartitions - 1 // the last carry is unused
    val carries = (bound match {
      case ChunkBound.Records(n) =>
        val counts = if (heads.isEmpty) Array.empty[Long]
          else rows.sparkContext.runJob(rows, (it: Iterator[InternalRow]) => {
            var k = 0L
            while (it.hasNext) { it.next(); k += 1 }
            k
          }, heads)
        counts.toIndexedSeq.scanLeft(0L)(_ + _).map(seen => Carry(seen, 0L, (seen + n - 1) / n))
      case ChunkBound.Bytes(_) => carriesBySize(rows, bound)(render(_, schema).length)
    }).take(rows.getNumPartitions)
    GraftSql.internalCreateDataFrame(ordered.sparkSession,
      new ChunkFoldRDD(rows, schema, bound, lastChunk, carries), ChunkSchema)
  }

  /** A chunk's bound: a record count (A9) or a byte budget packed greedily
    * (A10: flush BEFORE an append that would pass the budget,
    * `json_reader.py:133`). */
  sealed trait ChunkBound extends Serializable
  object ChunkBound {
    final case class Records(n: Int) extends ChunkBound {
      require(n >= 1 && n <= 4000,
        s"chunk_size_by_records must be in [1, 4000], got $n") // request_model.py:22
    }
    final case class Bytes(budget: Long) extends ChunkBound {
      require(budget >= 1, s"chunk_size_by_memory must be positive, got $budget")
    }
  }

  private val ChunkSchema: StructType = StructType(Seq(
    StructField("chunk_number", LongType, nullable = false),
    StructField("n_records", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false),
    StructField("checksum", StringType, nullable = false)))

  /** The packing fold's state entering a record: records seen, bytes in the
    * open chunk, chunks opened so far. */
  private final case class Carry(rows: Long, bytes: Long, chunks: Long)

  /** A9/A10's packing fold, one record at a time. */
  private final class Packing(bound: ChunkBound, in: Carry) {
    private var rows = in.rows
    private var bytes = in.bytes
    var chunks: Long = in.chunks

    /** Folds in a record of `size` bytes; true when it opens a chunk. */
    def add(size: Long): Boolean = {
      val opens = bound match {
        case ChunkBound.Records(n) => rows % n == 0
        case ChunkBound.Bytes(budget) => chunks == 0 || bytes + size > budget
      }
      if (opens) { chunks += 1; bytes = 0L }
      rows += 1
      bytes += size
      opens
    }

    def carry: Carry = Carry(rows, bytes, chunks)
  }

  /** The packing fold's state entering each partition of `rows`: a chain of
    * one-partition jobs, each folding its partition's record sizes from the
    * carry the job before it returned. The last partition's own fold is not
    * run: no partition follows it. */
  private def carriesBySize(rows: RDD[InternalRow], bound: ChunkBound)(
      size: InternalRow => Long): IndexedSeq[Carry] =
    (0 until rows.getNumPartitions - 1).scanLeft(Carry(0L, 0L, 0L)) { (in, p) =>
      rows.sparkContext.runJob(rows, (it: Iterator[InternalRow]) => {
        val fold = new Packing(bound, in)
        it.foreach(r => fold.add(size(r)))
        fold.carry
      }, Seq(p)).head
    }

  private def render(row: InternalRow, schema: StructType): Array[Byte] = {
    val sb = new java.lang.StringBuilder(64)
    CanonicalJson.write(sb, row, schema)
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** One chunk as it fills: its payload `[r1,…,rn]`, then the sha256 of
    * that payload. */
  private final class ChunkBuilder(number: Long) {
    private val payload = new java.io.ByteArrayOutputStream(1024)
    private var n = 0L
    payload.write('[')

    def add(rec: Array[Byte]): Unit = {
      if (n > 0) payload.write(',')
      payload.write(rec, 0, rec.length)
      n += 1
    }

    def result(): InternalRow = {
      payload.write(']')
      val bytes = payload.toByteArray
      val checksum = MessageDigest.getInstance("SHA-256").digest(bytes)
      new GenericInternalRow(Array[Any](number, n, bytes,
        UTF8String.fromString(Hex.encodeHexString(checksum))))
    }
  }

  /** Partition p of [[ChunkFoldRDD]]: the input partitions its task reads —
    * p, then the heads of those up to the next one that opens a chunk; none
    * when p opens no chunk. */
  private final class ChunkPartition(val index: Int, val inputs: Seq[Partition])
    extends Partition

  /** [[chunks]]' fold. `carries(p)` is the fold state entering input
    * partition p. */
  private final class ChunkFoldRDD(rows: RDD[InternalRow], schema: StructType,
      bound: ChunkBound, lastChunk: Long, carries: IndexedSeq[Carry])
    extends RDD[InternalRow](rows.sparkContext, Nil) {

    private val last = carries.size - 1
    // an input partition's records open a chunk; the last one's are unknown
    private def opens(p: Int) = p == last || carries(p + 1).chunks > carries(p).chunks
    private val inputs: IndexedSeq[Seq[Int]] = carries.indices.map(p =>
      if (!opens(p)) Nil else p to (p + 1 to last).find(opens).getOrElse(last))

    override protected def getDependencies: Seq[Dependency[_]] =
      Seq(new NarrowDependency(rows) { def getParents(p: Int): Seq[Int] = inputs(p) })

    override protected def getPartitions: Array[Partition] =
      Array.tabulate(carries.size)(p => new ChunkPartition(p, inputs(p).map(rows.partitions(_))))

    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
      val part = split.asInstanceOf[ChunkPartition]
      if (part.inputs.isEmpty) return Iterator.empty
      val read = (q: Partition) => firstParent[InternalRow].iterator(q, context)
      val own = read(part.inputs.head)
      val ahead = part.inputs.tail.iterator.flatMap(read)
      val packing = new Packing(bound, carries(part.index))
      new Iterator[InternalRow] {
        private var open: ChunkBuilder = null
        private var ready: InternalRow = null

        // the next whole chunk: records of this partition before its first
        // opening record belong to an earlier task's chunk and are skipped
        private def advance(): InternalRow = {
          while (own.hasNext) {
            val rec = render(own.next(), schema)
            if (packing.add(rec.length)) {
              val done = open
              open = new ChunkBuilder(lastChunk + packing.chunks)
              open.add(rec)
              if (done != null) return done.result()
            } else if (open != null) open.add(rec)
          }
          if (open == null) return null
          var closed = false
          while (!closed && ahead.hasNext) {
            val rec = render(ahead.next(), schema)
            closed = packing.add(rec.length)
            if (!closed) open.add(rec)
          }
          val done = open
          open = null
          done.result()
        }

        def hasNext: Boolean = {
          if (ready == null) ready = advance()
          ready != null
        }

        def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("no more chunks")
          val r = ready
          ready = null
          r
        }
      }
    }
  }

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

  /** A10: byte-budget chunking in `orderCols` order — greedy packing where
    * adding a record may never exceed `budgetBytes` (`json_reader.py:133`:
    * flush BEFORE append when chunk_bytes + next_bytes > budget), appended
    * as `chunk_number` from `lastChunk + 1`. `sizeCol` must be non-null.
    *
    * Greedy packing is sequential in record order, but only over the sizes:
    * the rows are range-partitioned and sorted once, the fold state entering
    * each partition comes from the same chain of one-partition jobs as
    * [[chunks]]' byte mode, and each partition then re-folds its own rows
    * from that carry. Payloads stay in their partitions; the driver holds
    * one [[Carry]] per partition. One RDD instance serves every job, so all
    * of them see the same range boundaries and share one shuffle.
    */
  def assignByBytes(df: DataFrame, orderCols: Seq[Column], budgetBytes: Long,
      sizeCol: Column, lastChunk: Long = -1L): DataFrame = {
    val bound = ChunkBound.Bytes(budgetBytes)
    val sorted = df.withColumn("__size", sizeCol.cast("long"))
      .repartitionByRange(df.sparkSession.sessionState.conf.numShufflePartitions,
        orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val idx = sorted.schema.fieldIndex("__size")
    val rows = GraftSql.toInternalRdd(sorted)
    val carries = carriesBySize(rows, bound)(_.getLong(idx))
    appendLong(sorted, "chunk_number", rows.mapPartitionsWithIndex { (p, it) =>
      val packing = new Packing(bound, carries(p))
      it.map { row =>
        packing.add(row.getLong(idx))
        (row, lastChunk + packing.chunks)
      }
    }).drop("__size")
  }
}
