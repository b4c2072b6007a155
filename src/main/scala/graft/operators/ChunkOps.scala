package graft.operators

import graft.Tables
import graft.canon.CanonicalJson
import graft.chunk.ChunkAssigner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's chunk pipeline re-expressed as queries (SURVEY.md §2
  * B27/B28/B38 — A9–A16 as verifiable dataflow): chunk assignment, per-chunk
  * canonical-JSON checksums, and the canonical_json SQL function itself.
  */
object ChunkOps {

  // -- B27: chunk assignment over a total file order (A9/A11) ----------------
  private def q27(s: SparkSession, dir: String): DataFrame =
    ChunkAssigner.assignByCount(
      Tables.lineitem(s, dir), Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey")), 100)
      .groupBy(col("chunk_number"))
      .agg(count(lit(1)).as("n_records"),
        min(col("l_orderkey")).as("min_orderkey"),
        max(col("l_orderkey")).as("max_orderkey"),
        min(col("rn")).as("first_rn"),
        max(col("rn")).as("last_rn"))
      .orderBy(col("chunk_number"))

  private val q27Sql =
    """SELECT CAST((rn - 1) // 100 AS BIGINT) AS chunk_number,
      |  count(*) AS n_records, min(l_orderkey) AS min_orderkey,
      |  max(l_orderkey) AS max_orderkey,
      |  min(rn - 1) AS first_rn, max(rn - 1) AS last_rn
      |FROM (SELECT l_orderkey,
      |    row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS rn
      |  FROM lineitem)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -- B28: per-chunk canonical checksum (A14/A15) ---------------------------
  // Records in the total order, range-partitioned, are chunked, rendered and
  // checksummed by the ingestion path's own ordered fold.
  private def q28(s: SparkSession, dir: String): DataFrame = {
    val keys = Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    val ordered = Tables.lineitem(s, dir)
      .repartitionByRange(keys: _*).sortWithinPartitions(keys: _*)
      .select(col("l_linenumber"), col("l_orderkey"), col("l_returnflag"))
    ChunkAssigner.chunks(ordered, ChunkAssigner.ChunkBound.Records(200), lastChunk = -1L)
      .select("chunk_number", "n_records", "checksum")
  }

  private val q28Sql =
    """SELECT chunk_number, count(*) AS n_records,
      |  sha256('[' || string_agg(rec, ',' ORDER BY rn) || ']') AS checksum
      |FROM (SELECT CAST((row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) - 1) // 200 AS BIGINT) AS chunk_number,
      |    row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS rn,
      |    '{"l_linenumber":' || l_linenumber || ',"l_orderkey":' || l_orderkey
      |      || ',"l_returnflag":"' || l_returnflag || '"}' AS rec
      |  FROM lineitem)
      |GROUP BY chunk_number ORDER BY chunk_number""".stripMargin

  // -- B38/Q33: canonical_json registered as a SQL function ------------------
  private def q29(s: SparkSession, dir: String): DataFrame = {
    CanonicalJson.register(s)
    Tables.customer(s, dir).createOrReplaceTempView("customer_v")
    s.sql(
      """SELECT c_custkey,
        |  canonical_json(named_struct(
        |    'name', c_name, 'nation', c_nationkey, 'segment', c_mktsegment)) AS rec,
        |  sha2(canonical_json(named_struct(
        |    'name', c_name, 'nation', c_nationkey, 'segment', c_mktsegment)), 256) AS rec_sha
        |FROM customer_v ORDER BY c_custkey""".stripMargin)
  }

  private val q29Sql =
    """SELECT c_custkey,
      |  '{"name":"' || c_name || '","nation":' || c_nationkey
      |    || ',"segment":"' || c_mktsegment || '"}' AS rec,
      |  sha256('{"name":"' || c_name || '","nation":' || c_nationkey
      |    || ',"segment":"' || c_mktsegment || '"}') AS rec_sha
      |FROM customer ORDER BY c_custkey""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q27_chunk_assign", q27, Some(q27Sql)),
    QueryDef("q28_chunk_checksum", q28, Some(q28Sql)),
    QueryDef("q29_canonical_sql_udf", q29, Some(q29Sql)))
}
