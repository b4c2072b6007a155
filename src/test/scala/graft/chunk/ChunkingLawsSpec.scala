package graft.chunk

import graft.TestSpark
import graft.api.IngestRequest
import graft.ingest.IngestionPipeline
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Chunking laws (SURVEY.md §5.2 #2): for random streams and chunk params —
  * concatenation of chunks preserves input order; every chunk respects its
  * bound; byte budgets are never exceeded; numbering is dense from
  * lastChunk+1; no empty chunks.
  */
class ChunkingLawsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(7)

  test("count chunking: order preserved, bounds respected, dense numbering") {
    for (_ <- 1 to 5) {
      val n = 1 + rnd.nextInt(4000)
      val rows = 1 + rnd.nextInt(2000)
      val df = (0 until rows).map(i => (i.toLong, s"payload_$i")).toDF("id", "payload")
      val chunked = ChunkAssigner.assignByCount(df, Seq(col("id")), n)
        .select("id", "rn", "chunk_number")
        .collect().sortBy(_.getLong(1))

      // concatenation preserves input (id) order
      assert(chunked.map(_.getLong(0)).toSeq == (0L until rows.toLong))
      // chunk sizes: all == n except possibly the last
      val sizes = chunked.groupBy(_.getLong(2)).view.mapValues(_.length).toMap
      val maxChunk = sizes.keys.max
      sizes.foreach { case (c, sz) =>
        if (c < maxChunk) assert(sz == n, s"chunk $c has $sz != $n")
        else assert(sz >= 1 && sz <= n)
      }
      // dense numbering from 0
      assert(sizes.keys.toSeq.sorted == (0L to maxChunk))
    }
  }

  test("count chunking resumes numbering from lastChunk+1") {
    val df = (0 until 25).map(i => Tuple1(i.toLong)).toDF("id")
    val chunked = ChunkAssigner.assignByCount(df, Seq(col("id")), 10, lastChunk = 4)
      .select("chunk_number").distinct().as[Long].collect().sorted
    assert(chunked.toSeq == Seq(5L, 6L, 7L))
  }

  test("count chunking rejects out-of-bounds sizes") {
    val df = Seq(Tuple1(1L)).toDF("id")
    intercept[IllegalArgumentException] {
      ChunkAssigner.assignByCount(df, Seq(col("id")), 0)
    }
    intercept[IllegalArgumentException] {
      ChunkAssigner.assignByCount(df, Seq(col("id")), 4001)
    }
  }

  test("byte chunking: budget never exceeded, order preserved, greedy packing") {
    for (_ <- 1 to 3) {
      val rows = 1 + rnd.nextInt(500)
      val data = (0 until rows).map(i => (i.toLong, 1L + rnd.nextInt(100)))
      val df = data.toDF("id", "sz")
      val budget = 150L
      val out = ChunkAssigner.assignByBytes(df, Seq(col("id")), budget, col("sz"))
        .select("id", "sz", "chunk_number").collect().sortBy(_.getLong(0))

      // order preserved
      assert(out.map(_.getLong(0)).toSeq == (0L until rows.toLong))
      // per-chunk sums never exceed the budget (unless a single record does)
      out.groupBy(_.getLong(2)).foreach { case (c, rs) =>
        val total = rs.map(_.getLong(1)).sum
        assert(total <= budget || rs.length == 1, s"chunk $c overflows: $total")
      }
      // greedy reference fold reproduces the exact assignment
      var chunk = 0L; var bytes = 0L; var started = false
      val expected = data.map { case (_, sz) =>
        if (started && bytes + sz > budget) { chunk += 1; bytes = 0 }
        started = true; bytes += sz; chunk
      }
      assert(out.map(_.getLong(2)).toSeq == expected)
    }
  }

  test("byte chunking: payloads never cross a single-partition exchange") {
    // the greedy fold may only see (rn, size) pairs; the returned frame —
    // the one carrying record payloads — must stay distributed end to end
    val df = (0 until 500).map(i => (i.toLong, "payload_" * 8 + i)).toDF("id", "payload")
    val out = ChunkAssigner.assignByBytes(df, Seq(col("id")), 400L,
      octet_length(col("payload")).cast("long"))
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"), s"payload single-partition funnel:\n$p")
    assert(out.rdd.getNumPartitions > 1, "payloads collapsed to one partition")
    assert(out.columns.toSeq == Seq("id", "payload", "chunk_number"))
  }

  test("no empty chunks under either strategy") {
    val df = (0 until 101).map(i => Tuple1(i.toLong)).toDF("id")
    val counts = ChunkAssigner.assignByCount(df, Seq(col("id")), 25)
      .groupBy("chunk_number").count().as[(Long, Long)].collect()
    assert(counts.forall(_._2 > 0))
  }

  test("withInputOrderRowNumber: dense 0..n-1 in input order across partitions") {
    // spark.range enumerates ids in partition order, so input order = id order
    val df = spark.range(0L, 1234L, 1L, 7).select(col("id"), (col("id") * 7919 % 101).as("v"))
    assert(df.rdd.getNumPartitions == 7)
    val got = ChunkAssigner.withInputOrderRowNumber(df)
    assert(got.columns.toSeq == Seq("id", "v", "rn"))
    val rows = got.select("id", "rn").as[(Long, Long)].collect()
    assert(rows.map(_._2).sorted.toSeq == (0L until 1234L))
    assert(rows.forall { case (id, rn) => id == rn }, "rn is not the input position")
  }

  test("withRowNumber == row_number() OVER (ORDER BY ...) - 1 across partitions") {
    // duplicate leading keys, unique (a, b) pairs, shuffled input
    val rnd = new scala.util.Random(23)
    val rows = rnd.shuffle((0 until 1500).map(i => (i % 37, i.toLong, s"p$i")).toList)
    val df = rows.toDF("a", "b", "payload").repartition(5)
    val got = ChunkAssigner.withRowNumber(df, Seq(col("a"), col("b").desc))
    assert(got.columns.toSeq == Seq("a", "b", "payload", "rn"))
    assert(got.rdd.getNumPartitions > 1, "row numbering collapsed to one partition")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("a"), col("b").desc)
    val expect = df.withColumn("rn", row_number().over(w) - 1)
      .select("b", "rn").as[(Long, Long)].collect().toMap
    assert(got.select("b", "rn").as[(Long, Long)].collect().toMap == expect)
  }

  test("withPrefixSum == the window cumsum, with no single-partition stage") {
    // sizes chosen adversarially: zeros, ones, large values, shuffled input
    val rnd = new scala.util.Random(17)
    val rows = rnd.shuffle((0 until 2000).map(i =>
      (i.toLong, rnd.nextInt(4) match {
        case 0 => 0L
        case 1 => 1L
        case _ => rnd.nextInt(1000).toLong
      })).toList)
    val df = rows.toDF("id", "n")
    val got = ChunkAssigner.withPrefixSum(df, Seq(col("id")), col("n"))
      .select("id", "tok_off").as[(Long, Long)].collect().toMap
    // oracle: the (correct but single-task) unpartitioned window
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val expect = df.withColumn("off", coalesce(sum(col("n")).over(w), lit(0L)))
      .select("id", "off").as[(Long, Long)].collect().toMap
    assert(got == expect)
    // and the distributed scan never funnels the payload to one partition
    val out = ChunkAssigner.withPrefixSum(df, Seq(col("id")), col("n"))
    out.collect()
    assert(out.rdd.getNumPartitions > 1,
      "prefix sum collapsed the frame to one partition")
  }

  // -- ingestion chunks over laid-out input partitions (A9/A10/A15) ----------

  /** A frame of `(id, pad)` rows whose partition p holds exactly `sizes(p)`
    * rows, ids ascending across partitions, and each row's canonical record
    * as the reference writes it by hand. */
  private def laidOut(sizes: Seq[Int], rnd: scala.util.Random): (DataFrame, Seq[String]) = {
    val offsets = sizes.scanLeft(0)(_ + _)
    val pads = IndexedSeq.fill(sizes.sum)(rnd.alphanumeric.take(1 + rnd.nextInt(30)).mkString)
    val rows = spark.sparkContext.parallelize(sizes.indices, sizes.size)
      .mapPartitionsWithIndex((p, _) =>
        (offsets(p) until offsets(p + 1)).iterator.map(i => (i.toLong, pads(i))))
    (rows.toDF("id", "pad"), pads.indices.map(i => s"""{"id":$i,"pad":"${pads(i)}"}"""))
  }

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  /** The driver-side reference fold: group by count (`Left(n)`) or by
    * greedy bytes (`Right(budget)`, flush before an append that would pass
    * the budget), number from `lastChunk + 1`; the payload is `[` ‖ records
    * joined by `,` ‖ `]` and the checksum its sha256. */
  private def referenceChunks(recs: Seq[String], bound: Either[Int, Long],
      lastChunk: Long): Seq[(Long, Long, Seq[Byte], String)] = {
    val groups: Seq[Seq[String]] = bound match {
      case Left(n) => recs.grouped(n).toSeq
      case Right(budget) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
        var bytes = 0L
        recs.foreach { r =>
          val sz = r.getBytes(UTF_8).length
          if (out.isEmpty || bytes + sz > budget) { out += Vector.empty; bytes = 0L }
          out(out.size - 1) = out.last :+ r
          bytes += sz
        }
        out.toSeq
    }
    groups.zipWithIndex.map { case (g, i) =>
      val payload = g.mkString("[", ",", "]")
      (lastChunk + 1 + i, g.size.toLong, payload.getBytes(UTF_8).toSeq, sha256Hex(payload))
    }
  }

  /** `buildChunks` over `sizes` equals the reference fold, and its output
    * partitions are contiguous ascending chunk ranges, in partition order. */
  private def assertChunksMatch(sizes: Seq[Int], bound: Either[Int, Long],
      lastChunk: Long, rnd: scala.util.Random): Unit = {
    val (df, recs) = laidOut(sizes, rnd)
    val request = IngestRequest("laid-out", "json", "http://localhost:1/unused",
      chunkSizeByRecords = bound.left.toOption, chunkSizeByMemory = bound.toOption)
    val chunks = IngestionPipeline.buildChunks(df, request, lastChunk)
    val clue = s"sizes $sizes, bound $bound, lastChunk $lastChunk"
    // payloads compare byte for byte: every record, its order and the grouping
    val got = chunks.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getAs[Array[Byte]](2).toSeq, r.getString(3))).toSeq
    assert(got == referenceChunks(recs, bound, lastChunk), clue)
    val parts = chunks.rdd.map(_.getLong(0)).glom().collect().map(_.toSeq).toSeq
    assert(parts.flatten == got.map(_._1), s"partitions out of order: $parts; $clue")
  }

  private val layouts = Seq(
    Seq(23),                     // one partition
    Seq(7, 0, 13, 0, 0, 9),      // empty partitions, mid-chunk ends
    Seq(5, 3, 4, 12),            // 3 < one chunk; chunk 0 spans p0..p2 at n=10
    Seq(0, 0, 4),                // leading empties
    Seq(10, 10, 10),             // partitions end on chunk boundaries
    Seq(1, 1, 1, 1, 1, 1, 1),    // seven one-row partitions
    Seq(0, 0))                   // no rows: no chunks

  test("count chunks over laid-out partitions == the reference fold") {
    val rnd = new scala.util.Random(41)
    for (sizes <- layouts; n <- Seq(1, 3, 10); last <- Seq(-1L, 6L))
      assertChunksMatch(sizes, Left(n), last, rnd)
    for (_ <- 1 to 12) {
      val sizes = Seq.fill(1 + rnd.nextInt(7))(if (rnd.nextInt(4) == 0) 0 else rnd.nextInt(30))
      assertChunksMatch(sizes, Left(1 + rnd.nextInt(12)), rnd.nextInt(50) - 1L, rnd)
    }
  }

  test("byte chunks over laid-out partitions == the greedy reference fold") {
    val rnd = new scala.util.Random(43)
    // records are 19-56 bytes: 25 leaves most records alone (some over the
    // budget), 120 packs ~3, 400 packs ~10 and spans three partitions
    for (sizes <- layouts; budget <- Seq(25L, 120L, 400L); last <- Seq(-1L, 6L))
      assertChunksMatch(sizes, Right(budget), last, rnd)
    for (_ <- 1 to 12) {
      val sizes = Seq.fill(1 + rnd.nextInt(7))(if (rnd.nextInt(4) == 0) 0 else rnd.nextInt(30))
      assertChunksMatch(sizes, Right(20L + rnd.nextInt(400)), rnd.nextInt(50) - 1L, rnd)
    }
  }
}
