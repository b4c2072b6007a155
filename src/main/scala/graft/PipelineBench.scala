package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Composed-pipeline benchmark main: runs the PipelineSpec curation chain
  * — near-dedup → decontaminate → quality-prune → mixture → trainer
  * shards — end to end on SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * with per-stage wall seconds and row counts. Per-query benches
  * (Bench.scala) can't catch a regression that only appears when stages
  * COMPOSE (schema-induced reshuffles, lost localCheckpoint reuse, a
  * stage suddenly re-deriving an upstream frame), so this artifact is
  * recorded once per round at 10× sf1 and at the 30%-hot skew set
  * (tools/scale_up.py) → PIPELINE_r{N}.json.
  *
  * Each stage's timing includes materializing its output via
  * localCheckpoint + count — the stage boundary the composition
  * actually pays — so stage seconds sum to the chain's wall time. */
object PipelineBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.build()

    val stages = scala.collection.mutable.ArrayBuffer[(String, Double, Long)]()
    def timed(name: String)(body: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val out = body.localCheckpoint()
      val n = out.count()
      stages += ((name, (System.nanoTime() - t0) / 1e9, n))
      out
    }

    val t0 = System.nanoTime()
    val docs = timed("load") {
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("lang"), col("text"))
    }

    val kept1 = timed("dedup") {
      operators.Dedup.dedupNear(docs, method = "ngram", tau = 0.5)
        .kept.select("doc_id", "text")
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
    }

    val evalSet = docs.filter(col("doc_id") % 100 === 7)
    val train1 = kept1.filter(col("doc_id") % 100 =!= 7)
    val kept2 = timed("decontaminate") {
      train1.join(
        operators.TextAnalysis.decontaminate(train1, evalSet, shingleN = 3)
          .filter(!col("contaminated")).select("doc_id"),
        Seq("doc_id"))
    }

    val kept3 = timed("quality_prune") {
      val scored = operators.TextAnalysis.classifierScore(kept2)
        .join(kept2.select("doc_id", "lang", "text"), Seq("doc_id"))
      operators.TextAnalysis
        .filterByScoreQuantile(scored.localCheckpoint(), q = 0.25)
        .select(col("doc_id"), col("lang"), col("text"))
    }

    val kept4 = timed("mixture") {
      operators.CorpusOps.buildMixture(kept3,
        Map("en" -> 40, "fr" -> 20, "de" -> 20, "es" -> 10, "zh" -> 10),
        budgetTokens = 10000000L)
        .filter(col("kept")).select(col("doc_id"), col("text"))
    }

    val shards = timed("shard_pack") {
      operators.CorpusOps.packTokenIds(kept4, seqLen = 512)
    }
    val nTok = shards.agg(sum(col("n_tok"))).head().getLong(0)
    val total = (System.nanoTime() - t0) / 1e9

    val stageJson = stages.map { case (n, s, c) =>
      s""""$n":{"sec":$s,"rows":$c}""" }.mkString("{", ",", "}")
    println(s"""{"metric":"pipeline_total","value":$total,"unit":"sec","stages":$stageJson,"shard_tokens":$nTok,"cpus":${GraftSession.cores},"sf":"$sfDir"}""")
    spark.stop()
  }
}
