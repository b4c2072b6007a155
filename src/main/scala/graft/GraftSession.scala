package graft

import org.apache.spark.sql.SparkSession

/** The one session builder: every main and the test suite run on the
  * session built here, so the plan `Verify` hands to the oracle is the plan
  * the tests check.
  *
  * Settings: [[GraftExtensions]] (the engine's SQL functions and plan
  * rewrites), `local[cores]` with `cores` shuffle partitions, UTC session
  * time, long plan strings (the plan-shape specs read whole plans), a fresh
  * temp warehouse directory, no UI, and log level WARN. `confs` are applied
  * last and may override any of them. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every available processor. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def build(cores: Int = GraftSession.cores,
      confs: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.debug.maxToStringFields", "2000")
      .config("spark.sql.maxMetadataStringLength", "10000")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
