package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` output for declared queries — the
  * optimization-round evidence artifact (plans/r15/<query>_{before,after}
  * .txt). Usage:
  *
  *   runMain graft.Plans <sfDir> <outDir> <suffix> [query ...]
  *
  * Writes <outDir>/<query>_<suffix>.txt for each named query (all queries
  * when none are named). The plan is the ANALYZED+OPTIMIZED physical plan
  * as `Dataset.explain("formatted")` prints it (AQE initial plan — the
  * shape evidence: Exchange count, join strategy, PushedFilters,
  * ReadSchema, codegen spans). */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Plans <sfDir> <outDir> <suffix> [query ...]")
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val wanted = args.drop(3).toSet
    // SPARK_GRAFT_PLANS_CONF="k=v;k=v" — extra session confs, e.g.
    // spark.sql.autoBroadcastJoinThreshold=-1 to dump the plan an
    // operator produces in the both-sides-large (100 TB) regime
    val extra = sys.env.getOrElse("SPARK_GRAFT_PLANS_CONF", "")
      .split(";").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }
    val spark = GraftSession.build(confs = extra.toSeq)
    Files.createDirectories(Paths.get(outDir))
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => wanted.isEmpty || wanted(q._1))
    // SPARK_GRAFT_PLANS_EXEC=1: EXECUTE each query (noop sink) first and
    // dump the AQE-final executed plan — the only place runtime effects
    // (exchange/stage reuse, broadcast conversions, skew splits) are
    // visible; the default initial plan shows isFinalPlan=false shapes.
    val exec = sys.env.get("SPARK_GRAFT_PLANS_EXEC").contains("1")
    for ((name, fn) <- qs) {
      try {
        val df = fn(spark, sfDir)
        // toRdd on the SAME QueryExecution (a noop write would plan a
        // fresh one and leave df's AdaptiveSparkPlan unfinalized)
        if (exec) df.queryExecution.toRdd.count()
        val txt = if (exec) df.queryExecution.executedPlan.toString
          else df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
        System.err.println(s"[plans] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name FAILED: ${e.getMessage}")
      } finally {
        BlockRelease.releaseAll(spark)
      }
    }
    BlockRelease.releaseEverything(spark)
    spark.stop()
  }
}
