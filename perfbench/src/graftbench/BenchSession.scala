package graftbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** The benchmark's one session builder: the test suite's settings
  * (`TestSpark`) at `local[cores]`, plus scratch directories kept inside the
  * benchmark's work directory. */
object BenchSession {
  /** Every conf the benchmark sets; all of them differ from Spark's defaults
    * and all are recorded in the run's provenance. */
  def confs(cores: Int, work: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "graft-bench",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.debug.maxToStringFields" -> "2000",
    "spark.sql.maxMetadataStringLength" -> "10000",
    "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
    "spark.local.dir" -> work.resolve("spark-local").toString,
    "spark.ui.enabled" -> "false")

  def build(cores: Int, work: Path): SparkSession = {
    val b = SparkSession.builder().withExtensions(new graft.GraftExtensions)
    confs(cores, work).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session lifecycle boundary: drop every pinned block, then stop. */
  def stop(s: SparkSession): Unit = {
    graft.BlockRelease.releaseEverything(s)
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
