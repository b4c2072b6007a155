package graft.operators

import graft.functions.VectorExprs.{dotProduct, int8Dot}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbors — the second scale path
  * for embedding search (SURVEY.md §2 B31 "IVF or LSH-bucketed variant").
  *
  * Train: a few Lloyd iterations of k-means over a sample, entirely as
  * DataFrame programs — assignment is a broadcast of the centroids against
  * one corpus scan; update is a map-side-combinable average.
  * Search: probe the nprobe nearest centroid cells, exact re-rank inside.
  * At 100 TB the corpus is written PARTITIONED BY cell, so a query touches
  * only nprobe partitions — the classic IVF pruning.
  *
  * Centroid assignment has two plans, switched on k:
  *  - k ≤ [[BroadcastKThreshold]]: the centroid array rides INSIDE one
  *    native `NearestCells` expression — one corpus scan, zero joins, the
  *    whole thing codegen-adjacent. Right while the array is plan-sized.
  *  - k > threshold: a 100 TB corpus wants k ≈ 10⁴–10⁵ cells, where a
  *    literal centroid array becomes a multi-megabyte expression serialized
  *    into every task. Assignment switches to a broadcast centroid TABLE:
  *    corpus ⋈ broadcast(cells) scores c·c − 2·v·c per (row, cell) inside
  *    one pipelined stage, and a map-side-combined min_by argmin reduces to
  *    one row per vector before anything shuffles — the k-wide candidate
  *    block never materializes.
  *
  * The quantized tier ([[writeIndexQuantized]]/[[topKQuantized]]) stores
  * int8 vectors + per-vector scale instead of full-precision doubles — an
  * index ~8× smaller than the double corpus it serves (the difference
  * between an index that fits and one that doesn't at 100 TB). Search
  * scores int8 candidates in the probed cells, keeps a small multiple of k
  * per query, and re-ranks just those in full precision against the
  * primary corpus.
  */
object AnnIvf {

  /** Above this k, assignment switches from the literal `NearestCells`
    * expression to the broadcast centroid-table join. 256 × 64 dims × 8 B
    * = 128 KiB of plan literal is the comfortable ceiling. */
  val BroadcastKThreshold = 256

  /** Deterministic k-means: seeded sample for init, fixed iteration count.
    * corpus: (vec_id, v: array<double>). Returns centroid arrays.
    *
    * The Lloyd update (per-cell mean) is one `VectorSumAgg` aggregation —
    * fixed dim-length state per cell, map-side combined, no per-dim
    * expression fan-out (the old `array(sum(element_at…))` formulation
    * built `dim` aggregate expressions and fell out of codegen past
    * dim ≈ 256). Two loops, switched on the trained cell count:
    *  - k ≤ [[BroadcastKThreshold]]: centroids live on the driver between
    *    iterations (they must — the literal assignment expression embeds
    *    them), so each update collects k·dim doubles: ≤ 256 × dim, trivial.
    *  - k > threshold: centroids stay a CLUSTER-side DataFrame across
    *    iterations — assignment joins it broadcast, the update joins the
    *    per-cell means back (empty cells keep their centroid), and a
    *    `localCheckpoint` truncates lineage at k rows per iteration. The
    *    driver never holds centroids until the single final collect; at
    *    k=10⁵ × dim=10³ the old per-iteration ~1 GB driver collect is gone.
    */
  def trainCentroids(corpus: DataFrame, k: Int, iterations: Int = 3,
      seed: Long = 42L): Array[Seq[Double]] = {
    val init = initCentroids(corpus, k, seed)
    // a corpus smaller than k trains init.length cells — callers size
    // nprobe against the returned array, not the requested k
    if (init.length <= BroadcastKThreshold) {
      var centroids = init
      for (_ <- 1 to iterations) {
        val sums = assignCells(corpus, centroids)
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("n"),
            graft.functions.VectorSumAgg.of(col("v")).as("sums"))
          .collect()
        val next = centroids.clone()
        sums.foreach { r =>
          val cell = r.getInt(r.fieldIndex("cell"))
          val n = r.getLong(r.fieldIndex("n")).toDouble
          next(cell) = r.getSeq[Double](r.fieldIndex("sums")).map(_ / n)
        }
        centroids = next
      }
      centroids
    } else trainCentroidsDistributed(corpus, init, iterations)
  }

  /** Seeded deterministic init: the k smallest corpus rows by a salted
    * hash of vec_id. */
  private[operators] def initCentroids(corpus: DataFrame, k: Int,
      seed: Long): Array[Seq[Double]] = {
    val init = corpus
      .select(col("vec_id"), col("v"))
      .orderBy(xxhash64(lit(seed), col("vec_id")))
      .limit(k)
      .select(col("v")).collect().map(_.getSeq[Double](0))
    require(init.nonEmpty, "IVF training requires a non-empty corpus")
    init
  }

  /** The cluster-side Lloyd loop: centroids live as a DataFrame between
    * iterations, the driver holds nothing until the one final collect.
    * Package-private so the parity spec can drive it below the threshold. */
  private[operators] def trainCentroidsDistributed(corpus: DataFrame,
      init: Array[Seq[Double]], iterations: Int): Array[Seq[Double]] = {
    require(corpus.columns.contains("vec_id"),
      "distributed centroid training requires a unique vec_id column")
    val cdf0 = centroidFrame(corpus.sparkSession, init).localCheckpoint()
    val cdf = RoundLoop.fixed(cdf0, iterations) { cdf =>
      val means = assignCellsJoinFrame(corpus, cdf)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"),
          graft.functions.VectorSumAgg.of(col("v")).as("sums"))
        .select(col("cell"),
          transform(col("sums"), x => x / col("n")).as("mean"))
      cdf.join(means, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("mean"), col("cv")).as("cv"))
        .withColumn("cc", dotProduct(col("cv"), col("cv")))
    }
    val out = cdf.orderBy(col("cell"))
      .select(col("cv")).collect().map(_.getSeq[Double](0))
    Seq(cdf0, cdf).distinct
      .foreach(org.apache.spark.sql.GraftSql.releaseCheckpointBlocks)
    out
  }

  /** Nearest-centroid cell id per vector (L2): literal-expression plan for
    * small k, broadcast centroid-table join above [[BroadcastKThreshold]].
    * Both rank by ||v − c||² = v·v − 2 v·c + c·c with v·v constant per row,
    * ties to the lower cell id — identical output either way. */
  def assignCells(corpus: DataFrame, centroids: Array[Seq[Double]]): DataFrame =
    if (centroids.length <= BroadcastKThreshold)
      corpus.withColumn("cell", element_at(
        graft.functions.VectorExprs.nearestCells(
          col("v"), centroids.map(_.toArray), 1), 1))
    else assignCellsJoin(corpus, centroids)

  /** The centroids as a broadcastable table (cell, cv, cc = c·c). */
  private def centroidFrame(spark: SparkSession,
      centroids: Array[Seq[Double]]): DataFrame = {
    import spark.implicits._
    centroids.toSeq.zipWithIndex
      .map { case (c, i) => (i, c, c.map(x => x * x).sum) }
      .toDF("cell", "cv", "cc")
  }

  /** Large-k assignment: corpus ⋈ broadcast(centroid table), argmin via a
    * map-side-combined min_by. The join and the partial aggregate pipeline
    * in ONE stage — each corpus row's k scored copies are consumed by the
    * hash aggregate as they are produced, so the only shuffle carries one
    * (already-reduced) row per vector. Ties break to the lower cell id,
    * matching `NearestCells`.
    *
    * Contract beyond the literal path: rows must carry a UNIQUE `vec_id`
    * (the argmin groups on it — a duplicated id would collapse two rows
    * into one, where the literal path keeps both). That is the id contract
    * every AnnIvf entry point already states for its corpus. NaN vector
    * components are undefined behavior on both paths (each is
    * deterministic; they may disagree on which cell a NaN vector lands
    * in). */
  private def assignCellsJoin(corpus: DataFrame,
      centroids: Array[Seq[Double]]): DataFrame = {
    require(corpus.columns.contains("vec_id"),
      "large-k cell assignment requires a unique vec_id column " +
        s"(k=${centroids.length} > BroadcastKThreshold=$BroadcastKThreshold)")
    assignCellsJoinFrame(corpus, centroidFrame(corpus.sparkSession, centroids))
  }

  /** The join-plan assignment against an ALREADY cluster-side centroid table
    * (cell, cv, cc) — the distributed-training loop calls this directly so
    * centroids never round-trip through the driver between Lloyd
    * iterations. Same contract as [[assignCellsJoin]]: unique `vec_id`. */
  private def assignCellsJoinFrame(corpus: DataFrame,
      cents: DataFrame): DataFrame = {
    val keep = corpus.columns
    corpus.join(broadcast(cents))
      .withColumn("__dist", col("cc") - lit(2.0) * dotProduct(col("v"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(min_by(
        struct(keep.map(col) :+ col("cell"): _*),
        struct(col("__dist"), col("cell"))).as("__r"))
      .select(keep.map(c => col(s"__r.$c").as(c)) :+ col("__r.cell").as("cell"): _*)
  }

  /** ANN top-k: probe the `nprobe` nearest cells per query, exact cosine
    * re-rank within the probed cells only. */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
      centroids: Array[Seq[Double]], nprobe: Int = 3): DataFrame =
    rankTopK(assignProbes(queries, centroids, nprobe),
      assignCells(corpus, centroids), k)

  /** Materialize the IVF index: the assigned corpus written as parquet
    * `PARTITIONED BY (cell)` — one directory per cell, so a probed search
    * only ever reads nprobe directories. This is the 100 TB layout: cell
    * assignment (the expensive scan) happens once at build time, not per
    * query. */
  def writeIndex(corpus: DataFrame, centroids: Array[Seq[Double]],
      path: String): Unit =
    assignCells(corpus, centroids)
      // cluster by cell before the partitioned write: without this every
      // writer task holds rows of every cell and emits one file per
      // (task, cell) — shuffle.partitions × k small files. Hashed on cell,
      // each cell's rows sit in one task: one well-sized file per cell dir
      // (a 100 TB build would salt the key — repartition(n, cell, salt) —
      // to split giant cells across writers; the layout is unchanged)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** ANN top-k over a materialized index. The probe cells of the (small)
    * query set are collected first and pushed as a STATIC `cell IN (...)`
    * predicate, so Catalyst prunes the scan to exactly the probed partition
    * directories (PartitionFilters in the plan — asserted by IvfIndexSpec).
    * A dynamic join on cell would read the whole index; this reads
    * |distinct probe cells| ≤ nq·nprobe directories. */
  def topKIndexed(spark: SparkSession, indexPath: String,
      queries: DataFrame, k: Int, centroids: Array[Seq[Double]],
      nprobe: Int = 3): DataFrame = {
    val queryCells = assignProbes(queries, centroids, nprobe)
    val probed = queryCells.select(col("cell")).distinct()
      .collect().map(_.getInt(0))
    val cells = spark.read.parquet(indexPath)
      .filter(col("cell").isin(probed.map(Int.box): _*))
    rankTopK(queryCells, cells, k)
  }

  // ==== int8 quantized index tier ===========================================

  /** Builds the QUANTIZED cell-partitioned index: per-vector symmetric int8
    * quantization (the q88 math: q = floor(127·x/maxabs + 0.5)), cell
    * assignment, and NO full-precision copy — columns are
    * (vec_id, qv8: array<tinyint>, scale, qnorm, cell). `scale` dequantizes
    * (x ≈ q·scale); `qnorm` is the dequantized L2 norm, precomputed at
    * build time so search never rescans qv8 for it. */
  def writeIndexQuantized(corpus: DataFrame, centroids: Array[Seq[Double]],
      path: String): Unit =
    quantizeAssign(corpus, centroids)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** The quantized index ROWS for a (vec_id, v) frame: (vec_id, qv8, scale,
    * qnorm, cell). Pure map-side over the input — shared by the batch index
    * build and the streaming incremental append, so the two paths cannot
    * drift. */
  def quantizeAssign(corpus: DataFrame,
      centroids: Array[Seq[Double]]): DataFrame = {
    val assigned = assignCells(corpus, centroids)
      .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
    // integer quantized values first (the q88 quantizer, BIGINT elements):
    // the norm is computed from them in one pass, then they cast losslessly
    // to tinyint (|q| ≤ 127 by construction)
    val q = when(col("maxabs") === 0.0, transform(col("v"), x => lit(0L)))
      .otherwise(transform(col("v"),
        x => floor(x * 127.0 / col("maxabs") + 0.5).cast("long")))
    assigned
      .withColumn("__q", q)
      .withColumn("scale", col("maxabs") / 127.0)
      .select(col("vec_id"),
        transform(col("__q"), x => x.cast("byte")).as("qv8"),
        col("scale"),
        (sqrt(aggregate(col("__q"), lit(0.0), (acc, x) => acc + x * x))
          * col("scale")).as("qnorm"),
        col("cell"))
  }

  /** ANN top-k over the QUANTIZED index, full-precision re-rank.
    *
    * Stage 1 (pruned): probe cells pushed as static partition filters, the
    * int8 candidates scored by approximate cosine — `int8Dot` against the
    * raw bytes times the stored scale, over the precomputed `qnorm`; no
    * dequantized array ever materializes. The top `rerank·k` per query
    * survive (quantization error is bounded by maxabs/254 per component, so
    * a small multiple of k is enough headroom for rank inversions).
    *
    * Stage 2 (exact): the surviving candidate ids — |queries|·rerank·k rows,
    * tiny — broadcast against the PRIMARY corpus to fetch full-precision
    * vectors, exact cosine, final top-k with the same deterministic
    * (rounded-score, id) ordering every other path uses. At 100 TB the
    * corpus side of this join is laid out bucketed by vec_id, so the fetch
    * prunes instead of scanning.
    */
  def topKQuantized(spark: SparkSession, indexPath: String,
      queries: DataFrame, corpus: DataFrame, k: Int,
      centroids: Array[Seq[Double]], nprobe: Int = 3,
      rerank: Int = 4): DataFrame = {
    // the query-side norm is constant per query: compute it ONCE on the
    // nq·nprobe probe rows, not per (query, candidate) pair — the int8
    // scoring stage exists to be cheap (the index side precomputed qnorm
    // at build time for the same reason)
    val queryCells = assignProbes(queries, centroids, nprobe)
      .withColumn("qn", sqrt(dotProduct(col("qv"), col("qv"))))
    val probed = queryCells.select(col("cell")).distinct()
      .collect().map(_.getInt(0))
    val cells = spark.read.parquet(indexPath)
      .filter(col("cell").isin(probed.map(Int.box): _*))
    val approx = queryCells.join(cells, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      // zero-norm guard, BOTH sides: a zero vector (index or query) has no
      // direction — score it below any real cosine instead of dividing by
      // zero into NaN-poisoned ranks
      .withColumn("ascore",
        when(col("qnorm") === 0.0 || col("qn") === 0.0, lit(-2.0)).otherwise(
          int8Dot(col("qv"), col("qv8")) * col("scale") /
            (col("qn") * col("qnorm"))))
    rerankExact(approx, corpus, k, rerank)
  }

  /** Shared tail of every compressed tier (int8, PQ): rank the approximate
    * scores, keep rerank·k survivors per query, re-rank those EXACTLY
    * against the primary corpus with the deterministic (rounded-score, id)
    * ordering. Lives in ONE place so the replay-duplicate handling and the
    * rerank-cut contract cannot drift between tiers.
    *
    * approx: (qid, qv, vec_id, ascore). The dropDuplicates absorbs exact
    * duplicate index rows from an at-least-once incremental append
    * (EmbeddingStreaming) — they cost rerank headroom but must not occupy
    * two of the k final ranks. At 100 TB the corpus side of the fetch join
    * is laid out bucketed by vec_id, so it prunes instead of scanning. */
  private[operators] def rerankExact(approx: DataFrame, corpus: DataFrame,
      k: Int, rerank: Int): DataFrame = {
    val wa = Window.partitionBy(col("qid"))
      .orderBy(col("ascore").desc, col("vec_id"))
    val survivors = approx.withColumn("rk", row_number().over(wa))
      .filter(col("rk") <= k * rerank)
      .select(col("qid"), col("qv"), col("vec_id"))
      .dropDuplicates("qid", "vec_id")
    val exact = corpus.select(col("vec_id"), col("v"))
      .join(broadcast(survivors), Seq("vec_id"))
      .withColumn("cos", Similarity.cosineGuarded(col("qv"), col("v")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("cos"), 4).desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor"), col("cos"))
  }

  /** Shared exact re-rank: candidates = probe-cell join, then per-query
    * windowed top-k. */
  private def rankTopK(queryCells: DataFrame, cells: DataFrame,
      k: Int): DataFrame = {
    // no distinct: each corpus vector owns exactly one cell and a query's
    // probe cells are distinct, so (qid, vec_id) pairs are already unique
    val candidates = queryCells.join(cells, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qv"), col("vec_id"), col("v"))
      .withColumn("cos", Similarity.cosineGuarded(col("qv"), col("v")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("cos"), 4).desc, col("vec_id"))
    candidates.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor"), col("cos"))
  }

  /** The nprobe nearest cells per query vector, exploded to (qid, qv, cell).
    * Same small-k/large-k switch as [[assignCells]]; the large-k plan keeps
    * per-query state bounded at nprobe via the top_k aggregate. */
  private[operators] def assignProbes(queries: DataFrame,
      centroids: Array[Seq[Double]], nprobe: Int): DataFrame =
    if (centroids.length <= BroadcastKThreshold)
      queries.withColumn("cell", explode(
        graft.functions.VectorExprs.nearestCells(
          col("qv"), centroids.map(_.toArray), nprobe)))
    else {
      val cents = centroidFrame(queries.sparkSession, centroids)
      // top_k keeps largest-first by struct order, so negate: (−dist, −cell)
      // descending = (dist, cell) ascending — nearest first, ties to the
      // lower cell id, matching NearestCells
      queries.join(broadcast(cents))
        .withColumn("__dist", col("cc") - lit(2.0) * dotProduct(col("qv"), col("cv")))
        .groupBy(col("qid"))
        .agg(
          min_by(col("qv"), struct(col("__dist"), col("cell"))).as("qv"),
          graft.functions.TopKAgg.of(
            struct((-col("__dist")).as("nd"), (-col("cell")).as("nc")),
            math.min(nprobe, centroids.length)).as("__top"))
        .select(col("qid"), col("qv"), explode(col("__top.nc")).as("__nc"))
        .select(col("qid"), col("qv"), (-col("__nc")).as("cell"))
    }

  // -- query entries (driver-gated oracle, see AnnLsh.annRecallGate) ---------
  //
  // A query vector's planted exact copy assigns to the query's own nearest
  // cell (same assignment on the same values), so it is always inside
  // the probed cells and must rank 1 at cosine 1.0000.
  private def ivfTop(s: SparkSession, dir: String): DataFrame =
    AnnLsh.annRecallGate({ (corpus, qs) =>
      // cache: k-means training re-scans the corpus once per iteration
      val c = corpus.cache()
      try {
        val centroids = trainCentroids(c, k = 16)
        topK(c, qs, 5, centroids).localCheckpoint() // materialize before unpersist
      } finally c.unpersist()
    }, s, dir)

  /** The materialized-index round-trip: train → write cell-partitioned
    * parquet → probe-pruned read (IvfIndexSpec proves the PartitionFilters)
    * → same recall gate. This is the 100 TB layout exercised end to end by
    * the driver every round, not just in ScalaTest. */
  private def ivfIndexed(s: SparkSession, dir: String): DataFrame =
    AnnLsh.annRecallGate({ (corpus, qs) =>
      val c = corpus.cache()
      try {
        val centroids = trainCentroids(c, k = 16)
        // fixed path + overwrite (writeIndex uses mode overwrite): repeated
        // verify/bench runs reuse one directory instead of accumulating
        // full-corpus index copies under /tmp (same fix as q68_orc_roundtrip)
        val indexPath = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"), "graft_ivf_index").toString
        writeIndex(c, centroids, indexPath)
        topKIndexed(s, indexPath, qs, 5, centroids, nprobe = 3)
          .localCheckpoint()
      } finally c.unpersist()
    }, s, dir)

  /** The quantized-index round-trip: train → write int8 cell-partitioned
    * index (no full-precision column) → int8-scored probe-pruned search →
    * full-precision re-rank against the primary corpus → same recall gate.
    * The planted exact copy quantizes to the seed's own cell and its int8
    * cosine is within quantization error of 1, so it survives the approx
    * cut and must re-rank to 1 at cosine 1.0000. */
  private def ivfQuantized(s: SparkSession, dir: String): DataFrame =
    AnnLsh.annRecallGate({ (corpus, qs) =>
      val c = corpus.cache()
      try {
        val centroids = trainCentroids(c, k = 16)
        val indexPath = java.nio.file.Paths.get(
          sys.props("java.io.tmpdir"), "graft_ivf_index_q").toString
        writeIndexQuantized(c, centroids, indexPath)
        topKQuantized(s, indexPath, qs, c, 5, centroids, nprobe = 3)
          .localCheckpoint()
      } finally c.unpersist()
    }, s, dir)

  /** A built (materialized) IVF index: the output of the once-per-corpus
    * lifecycle, everything the repeated probe needs. */
  final case class IvfHandle(centroids: Array[Seq[Double]],
      indexPath: String, quantized: Boolean)

  /** Bench-facing lifecycle half of the indexed variants: train + write
    * the cell-partitioned index — what a 100 TB user pays ONCE per corpus.
    * The declared queries (`ann_ivf_indexed` / `ann_ivf_quantized`) stay
    * end-to-end round-trips; this split exists so the bench can report
    * build_s and probe_s separately (the 2× contract governs the probe,
    * the action a user repeats). */
  def benchBuild(quantized: Boolean, s: SparkSession,
      dir: String): IvfHandle = {
    val (aug, _) = AnnLsh.gateInputs(s, dir)
    val c = aug.cache()
    try {
      val centroids = trainCentroids(c, k = 16)
      val indexPath = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        if (quantized) "graft_ivf_bench_q" else "graft_ivf_bench").toString
      if (quantized) writeIndexQuantized(c, centroids, indexPath)
      else writeIndex(c, centroids, indexPath)
      IvfHandle(centroids, indexPath, quantized)
    } finally c.unpersist()
  }

  /** Bench-facing probe half: the repeated search against a built index —
    * probe-pruned read + scoring (+ the quantized tier's full-precision
    * re-rank), WITHOUT the brute-force recall gate (that is the
    * correctness harness, not the operator a user repeats). */
  def benchProbe(h: IvfHandle, s: SparkSession, dir: String): DataFrame = {
    val (aug, qs) = AnnLsh.gateInputs(s, dir)
    if (h.quantized)
      topKQuantized(s, h.indexPath, qs, aug, 5, h.centroids, nprobe = 3)
    else topKIndexed(s, h.indexPath, qs, 5, h.centroids, nprobe = 3)
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("ann_ivf_topk", ivfTop, Some(AnnLsh.annGateSql)),
    QueryDef("ann_ivf_indexed", ivfIndexed, Some(AnnLsh.annGateSql)),
    QueryDef("ann_ivf_quantized", ivfQuantized, Some(AnnLsh.annGateSql)),
    QueryDef("ann_probe_curve", probeCurve, Some(probeCurveSql)))

  // ==== ann_probe_curve: the recall/cost tradeoff, self-documented ==========
  //
  // True recall@5 against the exact brute-force answer for nprobe ∈
  // {1, 2, 4, 8, 16} over the k=16 index — the table an operator reads to
  // pick nprobe for a 100 TB deployment. Two laws the driver gates every
  // round: recall is monotone non-decreasing in nprobe (probing more cells
  // can only add candidates, and the re-rank is exact), and nprobe = k
  // IS brute force — recall must be exactly 1. Each probe level is one
  // pruned search; hit counting joins two 25-row lists.
  private def probeCurve(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = graft.Tables.embeddings(s, dir)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val c = emb.cache()
    try {
      val centroids = trainCentroids(c, k = 16)
      // the exact answer computes ONCE; each probe level joins against it
      val bruteRows = Similarity.bruteForceTopK(c, qs, 5)
        .select(col("qid"), col("vec_id").as("neighbor")).collect()
      val brute = bruteRows.map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = brute.size
      val hits = Seq(1, 2, 4, 8, 16).map { np =>
        val ann = topK(c, qs, 5, centroids, nprobe = np)
          .select(col("qid"), col("neighbor")).collect()
        np -> ann.count(r => brute((r.getLong(0), r.getLong(1)))).toLong
      }
      hits.zipWithIndex.map { case ((np, h), i) =>
        val prev = if (i == 0) 0L else hits(i - 1)._2
        (np, h >= prev, np < 16 || h == exact.toLong)
      }.toDF("nprobe", "ok_monotone", "ok_full_exact")
    } finally c.unpersist()
  }

  private def probeCurveSql: String =
    """SELECT nprobe, true AS ok_monotone, true AS ok_full_exact
      |FROM (VALUES (1), (2), (4), (8), (16)) AS t(nprobe)
      |ORDER BY nprobe""".stripMargin
}
