package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared across every suite (JVM-wide singleton). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.build(cores = 4)
}
