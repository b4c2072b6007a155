package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over derived relational graphs (round 7). The engine
  * already runs connected components (Dedup, pointer jumping); this module
  * adds fixed-iteration PageRank — the importance/centrality signal used to
  * weight training-data sources (e.g. CommonCrawl page importance).
  */
object Graph {

  /** Estimated broadcast bytes per rank-vector row (node key + double +
    * row overhead) — the regime signal for the iterative-operator layout
    * pins: score vectors under `autoBroadcastJoinThreshold / RankRowBytes`
    * nodes broadcast, and the edge side then never exchanges. */
  private val RankRowBytes = 48L

  /** The layout pin engages only DEEP in the no-broadcast regime
    * (vector bytes > margin × threshold): near the threshold AQE still
    * converts the per-step joins to broadcast from RUNTIME sizes (which
    * undercut the 48 B/row estimate), and the pin's up-front edge
    * exchange+sort then buys nothing — measured at 10× sf0.1, HITS with
    * both-direction pins at 1.7× threshold was 17% slower while the
    * broadcast conversions still fired. */
  private val PinMargin = 4L

  /** true ⇔ a `nVector`-row score vector is safely past broadcast. */
  private def pinRegime(nVector: Long,
      conf: org.apache.spark.sql.internal.SQLConf): Boolean =
    nVector * RankRowBytes > PinMargin * math.max(
      conf.autoBroadcastJoinThreshold, -1L)

  /** The regime signal itself must be cheap: approximate distinct count
    * of `keyCol` over the checkpointed frame — one narrow partial-only
    * pass (HLL buffers reduce to the driver), no key-domain exchange.
    * A 2% sketch error is irrelevant against the 4× PinMargin. */
  private def approxKeyCount(df: DataFrame, keyCol: String): Long =
    df.agg(approx_count_distinct(col(keyCol)).as("n"))
      .collect()(0).getLong(0)

  /** Round-14: the regime DECISION is cached per (canonical edge plan,
    * key, threshold), so repeated operator calls over the same edge
    * derivation — the common shape: a bench loop, or PageRank + HITS +
    * PPR all built from one purchase-graph frame — pay the HLL signal
    * job ONCE instead of once per call (it previously ran even in the
    * broadcast regime, where the pin then did nothing; VERDICT r13 §2).
    * Keyed on the PRE-checkpoint plan (a checkpoint's LogicalRDD is a
    * fresh RDD per call and would never hit). A semanticHash collision
    * or data mutated under an identical plan can only mispick a LAYOUT
    * heuristic that carries a 4× safety margin — results are unaffected.
    * Bounded: cleared wholesale past 256 entries (decisions are 1 bit;
    * re-deriving one is a single narrow pass). */
  private val regimeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String, Long), Boolean]

  /** `pinRegime` for `pinned` (the checkpointed frame the signal pass
    * scans), memoized under `planKey`'s canonical plan. */
  private def cachedPinRegime(planKey: DataFrame, pinned: DataFrame,
      keyCol: String,
      conf: org.apache.spark.sql.internal.SQLConf): Boolean = {
    val k = (planKey.queryExecution.analyzed.semanticHash(),
      keyCol, conf.autoBroadcastJoinThreshold)
    if (regimeCache.size > 256) regimeCache.clear()
    regimeCache.computeIfAbsent(k,
      _ => pinRegime(approxKeyCount(pinned, keyCol), conf))
  }

  /** The PageRank family's loop invariants over `edges`, built once per
    * call: the distinct edge list `e`, its `outdeg` per src, and the
    * OUTDEG-WEIGHTED edge table `e ⋈ outdeg`, materialized (round-12
    * shave: the join used to re-execute as a second edge-sized hash join
    * inside every power step; shuffle-file reuse amortized its exchanges
    * but not the join itself). Round 13: in the both-sides-large regime
    * the weighted table also ADVERTISES its hash(src) layout + src sort
    * order (GraftSql.pinHashPartitioned — a plain localCheckpoint
    * republishes as UnknownPartitioning under AQE), so every power step
    * plans with ZERO exchange and ZERO sort on the edge side. The layout
    * is REGIME-ADAPTIVE, measured both ways at sf0.1: when the node-sized
    * rank vector broadcasts, the edge side never exchanges at all and the
    * up-front edge exchange+sort is pure overhead (+35% wall); when ranks
    * exceed the broadcast threshold (the 100 TB regime), SMJ re-sorts the
    * edge side EVERY iteration without it. Decided by the signal Spark's
    * own planner uses: estimated rank-vector bytes vs
    * autoBroadcastJoinThreshold, counting |src| — the node domain under
    * the symmetric contract, a close lower bound for directed edges. */
  private def weightedEdges(edges: DataFrame, inputDistinct: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    val eBase = if (inputDistinct) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst")).distinct()
    val e = if (inputDistinct) eBase else eBase.localCheckpoint()
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val conf = edges.sparkSession.sessionState.conf
    val ewBase = e.join(outdeg, Seq("src"))
    val ew = if (cachedPinRegime(eBase, e, "src", conf))
      org.apache.spark.sql.GraftSql
        .pinHashPartitioned(ewBase, Seq("src"), conf.numShufflePartitions)
      else ewBase.localCheckpoint()
    (e, outdeg, ew)
  }

  // ==== q123: PageRank by power iteration ===================================
  //
  // r' = (1−d)/N + d·Σ_{u→v} r_u/outdeg_u, a fixed number of iterations.
  // Each iteration is one edge-side hash join (rank lookup by src, the big
  // shuffle, key-balanced) plus one groupBy(dst) with map-side partial sums;
  // degree and node tables are computed once. No driver-side state — ranks
  // stay a DataFrame across iterations (the k-means lesson from AnnIvf:
  // collect only final results). Symmetric edge lists have no dangling
  // nodes, so no leaked-mass correction term is needed; the caller owns
  // that invariant. At 100 TB the one improvement is persisting the edges
  // at a fixed partitioning so every iteration reuses the same exchange —
  // Spark already reuses the shuffle files across the loop here.

  /** Fixed-iteration PageRank over SYMMETRIC (src, dst) edges.
    *
    * Precondition, unchecked: for every (u, v) row of `edges`, (v, u) is
    * also a row — supply both directions for an undirected graph. Both
    * query callers (q123, q211) pass symmetric unions. On a one-way
    * edge list the ranks come out WRONG WITHOUT AN ERROR:
    * nodes with no out-edge are missing from the node domain and nodes
    * with no in-edge drop out after the first step.
    *
    * Round 16 leans on the contract twice: the node domain is read off
    * the outdeg aggregation (every node appears as a src — the same fact
    * the round-13 pin-regime signal already used), and every node has an
    * incoming edge, so the per-iteration contribution covers ALL nodes
    * and the old nodes-LEFT-JOIN-contrib step was an identity — both the
    * per-call union+distinct over the edge list and one node-domain join
    * + broadcast PER ITERATION are gone (guide §2.4); the computed
    * recurrence is term-for-term identical, so ranks are bit-identical.
    * `inputDistinct = true` declares the edge list already deduplicated
    * AND materialized (a pinned [[graft.EdgePin]] layout): the per-call
    * dedup exchange and its checkpoint copy are then skipped — round-15
    * optimization; the computed result is identical either way. */
  def symmetricPageRank(edges: DataFrame, iterations: Int = 5,
      damping: Double = 0.85, inputDistinct: Boolean = false): DataFrame = {
    // Lineage discipline, measured both ways: a SHORT chain (≤ LineageEvery
    // iterations) must stay ONE query — Spark then computes the edge
    // distinct/outdeg shuffles once and reuses the shuffle files across
    // every power step, and a per-iteration localCheckpoint would instead
    // re-run them once per iteration (a 15× slowdown at sf0.1). A LONG
    // chain can't stay one query — the plan deepens by two joins per step
    // (optimizer-time/stack bomb at 20+) — so lineage truncates every
    // LineageEvery steps, and the loop-invariant e/outdeg/nodes are
    // checkpointed ONCE up front so each truncation job re-reads
    // node/edge-sized blocks instead of rescanning the source.
    val LineageEvery = 8
    val longRun = iterations > LineageEvery
    def pin(df: DataFrame): DataFrame = if (longRun) df.localCheckpoint() else df
    val (_, outdeg, ew) = weightedEdges(edges, inputDistinct)
    // symmetric contract: node domain == outdeg keys (no union+distinct)
    val nodes = pin(outdeg.select(col("src").as("node")))
    val nRow = broadcast(nodes.agg(count(lit(1)).as("n")))
    // symmetric contract: every node is some edge's dst, so the grouped
    // sum already covers the full node domain — apply the teleport term
    // directly, with no node-domain join per step
    def powerSteps(ranks: DataFrame, n: Int): DataFrame =
      (1 to n).foldLeft(ranks) { (r, _) =>
        ew.join(r.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("rank") / col("outdeg")).as("in_sum"))
          .crossJoin(nRow)
          .select(col("node"),
            ((lit(1.0) - lit(damping)) / col("n") +
              lit(damping) * col("in_sum")).as("rank"))
      }
    // checkpoints after every full LineageEvery steps short of the last
    // step; a short chain (q123's 5) truncates nowhere and stays lazy
    val truncations = (iterations - 1) / LineageEvery
    val truncated = RoundLoop.fixed(
      nodes.crossJoin(nRow).select(col("node"), (lit(1.0) / col("n")).as("rank")),
      truncations)(powerSteps(_, LineageEvery))
    powerSteps(truncated, iterations - truncations * LineageEvery)
      .crossJoin(nRow)
      .select(col("node"), (col("rank") * col("n")).as("rank_scaled"))
  }

  /** Shared DISTINCT (c, p) purchase pairs — pinned once per corpus dir
    * ([[graft.EdgePin]]): q123/q178/q212 (symmetric) and q226 (directed)
    * all derive from this one lineitem⋈orders join, which a multi-query
    * session previously rebuilt from base scans per query (~7 identical
    * edge derivations per bench sweep). Round 15: the pinned face is
    * DISTINCT — every consumer deduped it anyway, so the dedup exchange
    * now runs once per corpus dir instead of once per query (and, for
    * the per-round loops, once per ROUND), and consumers pass
    * `inputDistinct = true` to skip their own distinct + checkpoint
    * copy. The symmetric union of this face stays distinct because the
    * "c"/"p" prefixes keep the two key domains disjoint. */
  private def custPartPairs(s: SparkSession, dir: String): DataFrame =
    graft.EdgePin.memo(s, dir, "custpart_dist") {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("c"),
          concat(lit("p"), col("l_partkey")).as("p"))
        .distinct()
    }

  /** The q123 graph: customers ↔ parts they ordered (bipartite, symmetric).
    * Prefixed node ids keep the two key domains disjoint. */
  private def custPartEdges(s: SparkSession, dir: String): DataFrame = {
    val pairs = custPartPairs(s, dir)
    pairs.select(col("c").as("src"), col("p").as("dst"))
      .union(pairs.select(col("p").as("src"), col("c").as("dst")))
  }

  /** The ⅓-sliced part co-order graph (a, b share an order, a ≠ b),
    * DISTINCT, symmetric — pinned once per corpus dir:
    * q134/q153/q185/q207/q209/q231/q277/q312/q334 share one self-join.
    * Round 15: distinct moved into the pin (every consumer deduped it;
    * the per-query — and for loop operators per-ROUND — dedup exchange
    * collapses to one materialization per corpus dir). The a<b canonical
    * half-edge face the triangle kernel wants is `where(src < dst)` over
    * these blocks. */
  private def coPartEdges(s: SparkSession, dir: String): DataFrame =
    graft.EdgePin.memo(s, dir, "copart3_dist") {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .where(col("l_partkey") % 3 === 0)
      val a = li.select(col("l_orderkey"), col("l_partkey").as("a"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("b"))
      a.join(b, Seq("l_orderkey")).where(col("a") =!= col("b"))
        .select(col("a").as("src"), col("b").as("dst"))
        .distinct()
    }

  /** The canonical a<b half-edge face of [[coPartEdges]] the triangle
    * kernels (q134/q260/q312/q334) consume: a narrow filter over the
    * pinned distinct symmetric blocks — those queries previously rebuilt
    * the same lineitem self-join + dedup from base scans per query. */
  private def coPartHalfEdges(s: SparkSession, dir: String): DataFrame =
    coPartEdges(s, dir).where(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))

  private def q123(s: SparkSession, dir: String): DataFrame =
    symmetricPageRank(custPartEdges(s, dir), iterations = 5,
        inputDistinct = true)
      .select(col("node"), QueryDef.dec4(col("rank_scaled")).as("rank_scaled"))
      .orderBy(col("node"))

  // The oracle unrolls the 5 power iterations as chained CTEs. All float
  // literals are forced to DOUBLE so both engines run the identical
  // binary-double recurrence (DuckDB would otherwise fold 1 − 0.85 in
  // DECIMAL and diverge in the last ulp).
  private val q123Sql = {
    val iter = (i: Int) =>
      s"""r$i AS (
         |  SELECT nodes.node,
         |    (1 - CAST(0.85 AS DOUBLE)) / n.n + CAST(0.85 AS DOUBLE) *
         |      coalesce(c.in_sum, CAST(0 AS DOUBLE)) AS rank
         |  FROM nodes CROSS JOIN n LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank / o.outdeg) AS in_sum
         |    FROM e JOIN r${i - 1} r ON e.src = r.node
         |    JOIN outd o ON e.src = o.src
         |    GROUP BY e.dst) c ON nodes.node = c.node)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS c,
       |    'p' || CAST(l_partkey AS VARCHAR) AS p
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT c AS src, p AS dst FROM pairs
       |    UNION ALL SELECT p AS src, c AS dst FROM pairs)),
       |outd AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
       |n AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (
       |  SELECT node, CAST(1 AS DOUBLE) / n.n AS rank FROM nodes CROSS JOIN n),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT node,
       |  CAST(CAST(rank * n.n AS DECIMAL(38,4)) AS VARCHAR) AS rank_scaled
       |FROM r5 CROSS JOIN n ORDER BY node""".stripMargin
  }

  // ==== q212: personalized PageRank (seed-restart) ==========================
  //
  // PageRank's teleport mass redirected to a SEED SET instead of the
  // uniform vector — the random-walk-with-restart relevance measure
  // behind item-to-item recommendation and seed-expansion retrieval
  // (Haveliwala, "Topic-Sensitive PageRank", WWW 2002): nodes rank by
  // proximity to the seeds, not global centrality. Same per-iteration
  // shape as q123 (one edge join + one map-side-combined sum); the only
  // change is the restart term (1−d)·1/|S| paid on seed rows only, via a
  // LEFT join against the seed frame. Seeds with no outgoing rank still
  // receive restart mass, so the walk never dies.

  /** Fixed-iteration personalized PageRank over directed (src, dst)
    * edges with uniform restart over `seeds` (col `node`). Returns every
    * node's rank (sums to ~1 over the graph). */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iterations: Int = 5, damping: Double = 0.85,
      inputDistinct: Boolean = false): DataFrame = {
    // Unlike q123 (whose per-iteration invariants are bare aggregation
    // subtrees that ride shuffle-file reuse), the restart vector is a
    // three-way join rebuilt from base scans — appearing once per
    // iteration in the rank chain, it re-ran the whole edge derivation
    // each step (measured 9× q123's time at sf0.1). The invariants are
    // node/edge-domain, so pin them ONCE up front; the rank chain itself
    // stays lazy (5 joins deep — no truncation needed).
    val (e, _, ew) = weightedEdges(edges, inputDistinct)
    // Round-16 note: deriving nodes from outdeg keys (the PageRank
    // restructure) was tried here and backed out — repeated A/B at sf0.1
    // was INCONCLUSIVE under co-tenant noise (q212 rdd min ranged
    // 4.5–6.4 s across identical-code runs), and unlike PageRank the
    // change removes no per-iteration operator here (the restart vector
    // is checkpointed once up front either way; only the one-off
    // union+distinct vs groupBy trade differs). Kept the round-15 shape
    // rather than claim an unmeasurable win.
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val s = seeds.select(col("node")).distinct()
      .withColumn("is_seed", lit(1L))
    val sRow = broadcast(s.agg(count(lit(1)).as("ns")))
    // restart vector: 1/|S| on seeds, 0 elsewhere — also the initial rank
    val restart = nodes.join(broadcast(s), Seq("node"), "left")
      .crossJoin(sRow)
      .select(col("node"),
        (coalesce(col("is_seed"), lit(0L)).cast("double") / col("ns"))
          .as("restart"))
      .localCheckpoint()
    var ranks = restart.select(col("node"), col("restart").as("rank"))
    for (_ <- 1 to iterations) {
      val contrib = ew
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("rank") / col("outdeg")).as("in_sum"))
      ranks = restart
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          ((lit(1.0) - lit(damping)) * col("restart") +
            lit(damping) * coalesce(col("in_sum"), lit(0.0))).as("rank"))
    }
    ranks
  }

  // seed cohort: every 100th customer; the ranking surfaces the parts
  // (and peer customers) closest to the cohort's purchase neighborhood
  private def q212(s: SparkSession, dir: String): DataFrame = {
    val seeds = Tables.orders(s, dir)
      .select(concat(lit("c"), col("o_custkey")).as("node"))
      .where(col("o_custkey") % 100 === 0).distinct()
    personalizedPageRank(custPartEdges(s, dir), seeds, iterations = 5,
        inputDistinct = true)
      .select(col("node"),
        col("rank").cast(org.apache.spark.sql.types.DecimalType(38, 8))
          .as("rdec"))
      .orderBy(col("rdec").desc, col("node")).limit(25)
      .select(col("node"), col("rdec").cast("string").as("rank"))
  }

  private val q212Sql = {
    val iter = (i: Int) =>
      s"""r$i AS (
         |  SELECT rst.node,
         |    (1 - CAST(0.85 AS DOUBLE)) * rst.restart + CAST(0.85 AS DOUBLE) *
         |      coalesce(c.in_sum, CAST(0 AS DOUBLE)) AS rank
         |  FROM rst LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.rank / o.outdeg) AS in_sum
         |    FROM e JOIN r${i - 1} r ON e.src = r.node
         |    JOIN outd o ON e.src = o.src
         |    GROUP BY e.dst) c ON rst.node = c.node)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS c,
       |    'p' || CAST(l_partkey AS VARCHAR) AS p
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT c AS src, p AS dst FROM pairs
       |    UNION ALL SELECT p AS src, c AS dst FROM pairs)),
       |outd AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
       |seeds AS (
       |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS node
       |  FROM orders WHERE o_custkey % 100 = 0),
       |ns AS (SELECT count(*) AS ns FROM seeds),
       |rst AS MATERIALIZED (
       |  SELECT n.node,
       |    CASE WHEN s.node IS NULL THEN CAST(0 AS DOUBLE)
       |         ELSE CAST(1 AS DOUBLE) / ns.ns END AS restart
       |  FROM nodes n LEFT JOIN seeds s ON n.node = s.node CROSS JOIN ns),
       |r0 AS (SELECT node, restart AS rank FROM rst),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT node, CAST(rdec AS VARCHAR) AS rank FROM (
       |  SELECT node, CAST(rank AS DECIMAL(38,8)) AS rdec FROM r5
       |  ORDER BY rdec DESC, node LIMIT 25)
       |ORDER BY rdec DESC, node""".stripMargin
  }

  // ==== q124: deterministic k-fold split assignment =========================
  //
  // Cross-validation folds from a content-independent hash of the key —
  // stable across runs, engines, and partitionings. The fold function uses
  // two md5 hex digits (bias ≤ 1/256 for k=5), computed with string
  // primitives both engines share bit-for-bit; no engine-specific hash
  // (Spark's xxhash64 and DuckDB's hash() disagree). One map-side pass +
  // a k-row aggregate.

  /** Adds `fold` ∈ [0,k) from md5 of `keyCol` (deterministic, unbiased to
    * ≤1/256). */
  def kFoldAssign(df: DataFrame, keyCol: String, k: Int): DataFrame =
    df.withColumn("fold", expr(
      s"""pmod((locate(substring(md5(cast($keyCol as string)), 31, 1),
         |        '0123456789abcdef') - 1) * 16 +
         |     (locate(substring(md5(cast($keyCol as string)), 32, 1),
         |        '0123456789abcdef') - 1), $k)""".stripMargin))

  private def q124(s: SparkSession, dir: String): DataFrame =
    kFoldAssign(Tables.documents(s, dir), "doc_id", 5)
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        QueryDef.dec4(avg(col("n_chars"))).as("avg_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("fold"))

  private val q124Sql =
    """SELECT fold, count(*) AS n_docs,
      |  CAST(CAST(avg(n_chars) AS DECIMAL(38,4)) AS VARCHAR) AS avg_chars,
      |  count(DISTINCT lang) AS n_langs
      |FROM (
      |  SELECT *,
      |    ((strpos('0123456789abcdef',
      |        substr(md5(CAST(doc_id AS VARCHAR)), 31, 1)) - 1) * 16 +
      |     (strpos('0123456789abcdef',
      |        substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)) - 1)) % 5 AS fold
      |  FROM documents)
      |GROUP BY fold ORDER BY fold""".stripMargin

  // ==== q134: triangle counting (degree-ordered orientation) ================
  //
  // Triangles per node over an undirected graph — the local-clustering
  // signal used to find tightly-knit item communities (here: parts
  // co-ordered in the same order). The naive triple self-join enumerates
  // every wedge at every triangle corner; the classic fix (Schank/Wagner
  // node-iterator, the standard MapReduce formulation) orients each edge
  // from its lower-(degree, id) endpoint to the higher one, which (a)
  // counts each triangle exactly once with no post-dedup and (b) bounds
  // per-node wedge fan-out by O(√m): a hub of degree d only ORIGINATES
  // wedges toward neighbors of even higher degree, of which there are at
  // most O(√m). Work is O(m^{3/2}) total — at 100 TB the two shuffles
  // (wedge build keyed on the wedge center, closing-edge probe keyed on
  // the (v,w) pair) are both hash-balanced; no node's task grows with its
  // raw degree.

  /** The degree-ordered kernel shared by q134/q312/q334: canonical
    * undirected edges plus each triangle enumerated exactly once as
    * (u, v, w). */
  private def orientedTriangles(edges: DataFrame,
      inputCanonical: Boolean = false): (DataFrame, DataFrame) = {
    // inputCanonical = edges already distinct with a < b (the pinned
    // [[coPartHalfEdges]] face): skip the per-query canonicalize + dedup
    // exchange — identical edge set either way (round-15 optimization)
    val e = if (inputCanonical) edges.select(col("a"), col("b")) else edges
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // orientation key: (deg, id) — a total order, so exactly one direction
    // survives per edge; carry the head's key for the wedge dedup below
    val keyed = e
      .join(deg.select(col("n").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("deg").as("db")), Seq("b"))
    val oriented = keyed.select(
      when(struct(col("da").as("d"), col("a").as("id")) <
          struct(col("db").as("d"), col("b").as("id")),
        struct(col("a").as("src"), col("b").as("dst"),
          struct(col("db").as("d"), col("b").as("id")).as("kd")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"),
          struct(col("da").as("d"), col("a").as("id")).as("kd"))).as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"), col("o.kd").as("kd"))
    // wedges u→v, u→w with kv < kw; the closing edge {v,w} is then oriented
    // exactly v→w, so one equi-join on (v,w) finds it
    val o1 = oriented.select(col("src"), col("dst").as("v"), col("kd").as("kv"))
    val o2 = oriented.select(col("src"), col("dst").as("w"), col("kd").as("kw"))
    val wedges = o1.join(o2, Seq("src")).where(col("kv") < col("kw"))
      .select(col("src").as("u"), col("v"), col("w"))
    val tris = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    (e, tris.select(col("u"), col("v"), col("w")))
  }

  /** Per-node triangle counts over undirected `edges` (cols a, b; any
    * duplicates / orderings / self-loops are canonicalized away). */
  def triangleCounts(edges: DataFrame,
      inputCanonical: Boolean = false): DataFrame = {
    val (_, tris) = orientedTriangles(edges, inputCanonical)
    tris.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  // the declared query runs on a deterministic ⅓ part-domain slice: the
  // full co-order graph's wedge space is ~27× larger and adds ~25 s to
  // every bench iteration at sf0.1 without testing anything the slice
  // doesn't — the operator itself is domain-agnostic
  private def q134(s: SparkSession, dir: String): DataFrame =
    triangleCounts(coPartHalfEdges(s, dir), inputCanonical = true)
      .orderBy(col("n_triangles").desc, col("node")).limit(20)

  // ==== q334: edge embeddedness + local bridges ================================
  //
  // The per-EDGE tie-strength signal (Granovetter; Easley–Kleinberg ch. 3)
  // the node-level q134/q312 can't express: embeddedness(a,b) = common
  // neighbors of a and b = triangles THROUGH the edge; an edge with
  // embeddedness 0 is a LOCAL BRIDGE — the weak tie whose removal
  // lengthens every a↔b path, the classic community-boundary detector.
  // Reuses the degree-ordered triangle kernel (each triangle found once,
  // wedge fan-out √m-bounded), explodes each triangle to its three
  // canonical edges, and left-joins back so bridges surface as 0 — the
  // histogram is integer-exact, no floats anywhere.

  /** (embeddedness, n_edges) histogram over undirected `edges`
    * (cols a, b); the embeddedness-0 row counts the local bridges. */
  def edgeEmbeddedness(edges: DataFrame,
      inputCanonical: Boolean = false): DataFrame = {
    val (e, tris) = orientedTriangles(edges, inputCanonical)
    val triEdges = tris.select(explode(array(
        struct(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b")),
        struct(least(col("u"), col("w")).as("a"),
          greatest(col("u"), col("w")).as("b")),
        struct(least(col("v"), col("w")).as("a"),
          greatest(col("v"), col("w")).as("b")))).as("ed"))
      .select(col("ed.a").as("a"), col("ed.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
    e.join(triEdges, Seq("a", "b"), "left")
      .select(coalesce(col("cn"), lit(0L)).as("embeddedness"))
      .groupBy(col("embeddedness")).agg(count(lit(1)).as("n_edges"))
      .orderBy(col("embeddedness"))
  }

  private def q334(s: SparkSession, dir: String): DataFrame =
    edgeEmbeddedness(coPartHalfEdges(s, dir), inputCanonical = true)

  private val q334Sql =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 3 = 0),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |adj AS (SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e),
      |cn AS (
      |  SELECT e.a, e.b, count(*) AS cn
      |  FROM e JOIN adj x ON x.u = e.a JOIN adj y
      |    ON y.u = e.b AND y.v = x.v
      |  GROUP BY e.a, e.b)
      |SELECT coalesce(cn.cn, 0) AS embeddedness, count(*) AS n_edges
      |FROM e LEFT JOIN cn ON cn.a = e.a AND cn.b = e.b
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ==== q312: local clustering coefficient ===================================
  //
  // The per-node closure ratio q134's triangle counts feed: cc(v) =
  // 2·tri(v)/(deg(v)·(deg(v)−1)) — "how club-like is v's neighborhood"
  // (spam rings and bot farms sit near 1, organic hubs near 0). Reuses
  // the degree-ordered triangle kernel verbatim (wedge space bounded by
  // orientation, never deg² per hub); cc is an exact integer ratio
  // emitted ⌊10⁶·⌋-floored, so both engines render identical integers.

  /** Per node in ≥1 triangle: (node, deg, n_triangles, cc_e6). */
  def clusteringCoefficient(edges: DataFrame,
      inputCanonical: Boolean = false): DataFrame = {
    val e = if (inputCanonical) edges.select(col("a"), col("b")) else edges
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    triangleCounts(edges, inputCanonical).join(deg, Seq("node"))
      .select(col("node"), col("deg"), col("n_triangles"),
        floor(lit(1e6) * lit(2.0) * col("n_triangles").cast("double") /
          (col("deg").cast("double") * (col("deg").cast("double") - 1)))
          .cast("long").as("cc_e6"))
  }

  private def q312(s: SparkSession, dir: String): DataFrame =
    clusteringCoefficient(coPartHalfEdges(s, dir), inputCanonical = true)
      .orderBy(col("cc_e6").desc, col("node")).limit(20)

  private val q312Sql =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 3 = 0),
      |pairs AS (
      |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs)
      |  GROUP BY node),
      |tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM pairs e1 JOIN pairs e2 ON e1.b = e2.a
      |  JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b),
      |tcount AS (
      |  SELECT node, count(*) AS n_triangles FROM (
      |    SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
      |    UNION ALL SELECT z FROM tri)
      |  GROUP BY node)
      |SELECT t.node, deg, n_triangles,
      |  CAST(floor(1e6 * 2.0 * CAST(n_triangles AS DOUBLE)
      |    / (CAST(deg AS DOUBLE) * (CAST(deg AS DOUBLE) - 1)))
      |    AS BIGINT) AS cc_e6
      |FROM tcount t JOIN deg USING (node)
      |ORDER BY cc_e6 DESC, node LIMIT 20""".stripMargin

  private val q134Sql =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 3 = 0),
      |pairs AS (
      |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM pairs e1 JOIN pairs e2 ON e1.b = e2.a
      |  JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b),
      |nodes AS (
      |  SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
      |  UNION ALL SELECT z FROM tri)
      |SELECT node, count(*) AS n_triangles FROM nodes
      |GROUP BY node ORDER BY n_triangles DESC, node LIMIT 20""".stripMargin

  // ==== q146: hierarchy transitive closure by pointer doubling ==============
  //
  // Root ancestor + depth for every node of a parent forest — the
  // org-chart / BOM / category-tree expansion Spark cannot express as a
  // recursive CTE. The naive loop (follow one parent edge per round) costs
  // depth rounds of joins; POINTER DOUBLING joins the state with itself
  // (each node's known ancestor jumps to THAT node's known ancestor,
  // depths adding), halving the remaining distance every round —
  // ⌈log₂ depth⌉ shuffles total, the same trick as the dedup CC kernel.
  // Roots self-loop at depth 0, so converged rows are fixpoints and extra
  // rounds are no-ops. At 100 TB each round is one hash join on the
  // ancestor key — no driver state, no per-level barrier accumulation.

  /** (node, root, depth) for a forest given (node, parent); `parent` null
    * or = node marks a root. `rounds` r covers depth ≤ 2^r. */
  def ancestorClosure(nodes: DataFrame, rounds: Int): DataFrame = {
    var state = nodes.select(col("node"),
      when(col("parent").isNull || col("parent") === col("node"), col("node"))
        .otherwise(col("parent")).as("anc"),
      when(col("parent").isNull || col("parent") === col("node"), lit(0L))
        .otherwise(lit(1L)).as("depth"))
    for (_ <- 1 to rounds) {
      val lookup = state.select(col("node").as("anc"),
        col("anc").as("anc2"), col("depth").as("d2"))
      state = state.join(lookup, Seq("anc"))
        .select(col("node"), col("anc2").as("anc"),
          (col("depth") + col("d2")).as("depth"))
    }
    state.select(col("node"), col("anc").as("root"), col("depth"))
  }

  // forest over parts: parent(p) = p div 10, roots p < 10 — the derived
  // category tree (depth ≈ digit count, so 5 doubling rounds cover any
  // realistic key domain)
  private def q146(s: SparkSession, dir: String): DataFrame =
    ancestorClosure(
      Tables.part(s, dir).select(col("p_partkey").as("node"),
        when(col("p_partkey") < 10, col("p_partkey"))
          .otherwise(expr("p_partkey div 10")).as("parent")),
      rounds = 5)
      .groupBy(col("root"), col("depth")).agg(count(lit(1)).as("n"))
      .orderBy(col("root"), col("depth"))

  // DuckDB HAS recursive CTEs — the perfect differential for an iterative
  // Spark implementation: same forest, level-by-level recursion
  private val q146Sql =
    """WITH RECURSIVE anc AS (
      |  SELECT p_partkey AS node, p_partkey AS root, CAST(0 AS BIGINT) AS depth
      |  FROM part WHERE p_partkey < 10
      |  UNION ALL
      |  SELECT c.p_partkey, a.root, a.depth + 1
      |  FROM part c JOIN anc a ON c.p_partkey // 10 = a.node
      |  WHERE c.p_partkey >= 10)
      |SELECT root, depth, count(*) AS n FROM anc
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ==== q153: label-propagation communities =================================
  //
  // Synchronous LPA, the near-linear community detector: every node adopts
  // the most frequent label among its neighbors each round (ties to the
  // smallest label — REQUIRED for determinism; classic LPA breaks ties
  // randomly and is irreproducible). Each round is one edge-side hash join
  // + one map-side-combined (node, label) count + a struct-min argmax —
  // the PageRank shuffle shape, labels never leave the cluster. Fixed
  // round count (the deterministic variant's convergence guard: synchronous
  // LPA can oscillate on bipartite structures, so rounds are a parameter,
  // not a fixpoint test).

  /** Labels after `rounds` of synchronous propagation over symmetric
    * (src, dst) edges. Isolated nodes keep their own id as label. */
  def labelPropagation(edges: DataFrame, rounds: Int,
      inputDistinct: Boolean = false): DataFrame = {
    val e = if (inputDistinct) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst")).distinct()
    val nodes = e.select(col("src").as("node")).distinct()
    RoundLoop.fixed(nodes.withColumn("lbl", col("node")), rounds) { labels =>
      val counts = e
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
      val best = counts.groupBy(col("node"))
        .agg(min(struct((-col("cnt")).as("neg"), col("lbl").as("l")))
          .getField("l").as("new_lbl"))
      labels.join(best, Seq("node"), "left")
        .select(col("node"), coalesce(col("new_lbl"), col("lbl")).as("lbl"))
    }
  }

  private def q153(s: SparkSession, dir: String): DataFrame = {
    val pairs = coPartEdges(s, dir)
    labelPropagation(pairs, rounds = 3, inputDistinct = true)
      .groupBy(col("lbl")).agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_communities"))
      .orderBy(col("size"))
  }

  private val q153Sql = {
    val round = (i: Int) =>
      s"""l$i AS (
         |  SELECT l.node, coalesce(b.new_lbl, l.lbl) AS lbl
         |  FROM l${i - 1} l LEFT JOIN (
         |    SELECT node, lbl AS new_lbl FROM (
         |      SELECT e.dst AS node, r.lbl, count(*) AS cnt,
         |        row_number() OVER (PARTITION BY e.dst
         |          ORDER BY count(*) DESC, r.lbl) AS rn
         |      FROM e JOIN l${i - 1} r ON e.src = r.node
         |      GROUP BY e.dst, r.lbl)
         |    WHERE rn = 1) b ON l.node = b.node)""".stripMargin
    s"""WITH li AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 3 = 0),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
       |${(1 to 3).map(round).mkString(",\n")}
       |SELECT size, count(*) AS n_communities FROM (
       |  SELECT lbl, count(*) AS size FROM l3 GROUP BY 1)
       |GROUP BY size ORDER BY size""".stripMargin
  }

  // ==== q178: degree assortativity ===========================================
  //
  // Pearson correlation of endpoint degrees over the (symmetric) edge
  // list — the one-number answer to "do hubs connect to hubs?" that
  // decides whether degree-based partitioning or hub-isolation helps a
  // graph workload. Exactness: degrees are integers; all five moments
  // accumulate via the q163 DECIMAL discipline (degree as DECIMAL(9,0),
  // products ≤ DECIMAL(38,0)) so no edge count can silently wrap a
  // BIGINT; r divides identically-derived doubles once. Shape: one degree
  // aggregation + two hash joins keyed by endpoint + one global moment
  // aggregation — no windows, no loops.

  /** One row: (n_edges, r) — assortativity of `edges` (give both
    * directions for undirected semantics, as symmetricPageRank does). */
  def degreeAssortativity(edges: DataFrame,
      inputDistinct: Boolean = false): DataFrame = {
    val e = if (inputDistinct) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst")).distinct()
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val withDegs = e
      .join(deg.select(col("node").as("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")), Seq("dst"))
      .select(col("dx").cast("decimal(9,0)").as("x"),
        col("dy").cast("decimal(9,0)").as("y"))
    val m = withDegs.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val n = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val num = n * d("sxy") - d("sx") * d("sy")
    val denX = n * d("sxx") - d("sx") * d("sx")
    val denY = n * d("syy") - d("sy") * d("sy")
    m.select(col("n").as("n_edges"),
      when(denX > 0 && denY > 0, num / sqrt(denX * denY)).as("r"))
  }

  private def q178(s: SparkSession, dir: String): DataFrame =
    degreeAssortativity(custPartEdges(s, dir), inputDistinct = true)
      .select(col("n_edges"), QueryDef.dec4(col("r")).as("r"))

  private val q178Sql =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem),
      |pairs AS (
      |  SELECT 'c' || o.o_custkey AS c, 'p' || li.l_partkey AS p
      |  FROM li JOIN orders o ON li.l_orderkey = o.o_orderkey),
      |e AS (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT c AS src, p AS dst FROM pairs
      |    UNION ALL SELECT p, c FROM pairs)),
      |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
      |xy AS (
      |  SELECT CAST(da.deg AS DECIMAL(9,0)) AS x,
      |    CAST(db.deg AS DECIMAL(9,0)) AS y
      |  FROM e JOIN deg da ON e.src = da.node JOIN deg db ON e.dst = db.node),
      |m AS (
      |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      |  FROM xy)
      |SELECT n AS n_edges,
      |  CAST(CAST(CASE WHEN
      |      CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
      |      AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
      |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |    END AS DECIMAL(38,4)) AS VARCHAR) AS r
      |FROM m""".stripMargin

  // ==== q185: k-core decomposition by h-index iteration =====================
  //
  // Core numbers — the standard "how deep in the dense part of the graph
  // is this node" signal (community cores, spam/bot rings, influencer
  // tiers) — via the distributed h-index iteration (Montresor, De Pellegrini,
  // Miorandi, "Distributed k-core decomposition", 2011): every node's
  // estimate starts at its degree; each round it becomes the h-index of
  // its neighbors' estimates (the largest h such that ≥ h neighbors
  // estimate ≥ h). Estimates fall monotonically and converge to the exact
  // core numbers — no sequential peeling (the textbook algorithm removes
  // min-degree nodes one at a time; useless distributed).
  //
  // Round shape = the LPA/PageRank discipline: one edge-side hash join
  // (estimate lookup by src), one per-node h-index, one join back, one
  // [[RoundLoop]] checkpoint per round. The h-index is
  // computed on the per-node ESTIMATE HISTOGRAM, not the raw neighbor
  // rows: h = max over distinct estimate values e of min(e, #neighbors
  // with est ≥ e), so the map-side-combined (node, est) count shrinks the
  // windowed/sorted row set from Σdeg to Σ|distinct ests per node| — a
  // hub with 10⁶ neighbors sorts its ≤|est domain| histogram rows, never
  // its edge list. On THIS near-uniform-degree graph distinct ests ≈ deg
  // and the two forms time identically at sf0.1 (min-of-3 3.5 vs 3.7 s,
  // within the machine's noise); the histogram form is kept because its
  // cost is bounded by the estimate domain, not the degree — the
  // skew-safety every other hot path here contracts to. Same integers
  // either way, so the oracle's rank formulation still matches.
  //
  // Two termination contracts, priced differently:
  //  - [[kCoreDecomposition]]: FIXED rounds. Every round's estimates are
  //    certified UPPER BOUNDS on the true core numbers (degree init +
  //    monotone h-index contraction), tightening monotonically — the
  //    bounded-cost estimator, and the form a static SQL oracle can
  //    replay round-for-round (q185; non-converged runs still
  //    hash-match because both engines run the identical count).
  //  - [[kCoreExact]]: iterate to the FIXPOINT, the changed-row count
  //    taken inside each round's checkpoint job ([[RoundLoop.untilStable]])
  //    — the production path. Convergence needs O(longest
  //    estimate-dependency chain) rounds, which is graph-dependent (the
  //    q185 co-order graph at sf0.1 takes 18; its 1-in-7 sparser slice
  //    takes 22 — sparser can be SLOWER, chains lengthen), so a fixed
  //    count that "always converges" does not exist: exactness requires
  //    the convergence test, bounds come from the fixed-round form.

  /** One h-index round over the estimate histogram: h(node) = max over
    * distinct neighbor-estimate values e of min(e, #neighbors ≥ e). */
  private def hIndexRound(e: DataFrame, est: DataFrame): DataFrame = {
    val hist = e
      .join(est.withColumnRenamed("node", "src"), Seq("src"))
      .groupBy(col("dst").as("node"), col("est"))
      .agg(count(lit(1)).as("c"))
    hist
      .withColumn("cum", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("node")).orderBy(col("est").desc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("node"))
      .agg(max(least(col("est"), col("cum"))).as("h"))
  }

  /** (node, core) estimates after `rounds` h-index iterations over
    * symmetric (src, dst) edges: certified upper bounds on the core
    * numbers, exact once converged (see [[kCoreExact]]). */
  def kCoreDecomposition(edges: DataFrame, rounds: Int,
      inputDistinct: Boolean = false): DataFrame = {
    require(rounds >= 1, s"kCoreDecomposition needs >= 1 round, got $rounds")
    val e = if (inputDistinct) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst")).distinct().localCheckpoint()
    val est = RoundLoop.fixed(degrees(e), rounds) { prev =>
      prev.join(hIndexRound(e, prev), Seq("node"))
        .select(col("node"), least(col("est"), col("h")).as("est"))
    }
    if (!inputDistinct) org.apache.spark.sql.GraftSql.releaseCheckpointBlocks(e)
    est.select(col("node"), col("est").as("core"))
  }

  /** Round-0 estimate: every node's degree. */
  private def degrees(e: DataFrame): DataFrame =
    e.groupBy(col("src").as("node")).agg(count(lit(1)).cast("long").as("est"))

  /** Exact core numbers: h-index iteration run to its fixpoint, the
    * changed-row count taken inside each round's checkpoint job. Fails if
    * `maxRounds` pass without convergence — a safety valve, not a tuning
    * knob. */
  def kCoreExact(edges: DataFrame, maxRounds: Int = 1000): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint()
    val est = RoundLoop.untilStable("kCoreExact", degrees(e), maxRounds) { prev =>
      prev.join(hIndexRound(e, prev), Seq("node"))
        .select(col("node"), least(col("est"), col("h")).as("est"),
          (col("h") < col("est")).as("changed"))
    }
    org.apache.spark.sql.GraftSql.releaseCheckpointBlocks(e)
    est.select(col("node"), col("est").as("core"))
  }

  // same ⅓-sliced part co-order graph as q134/q153. Fixed 6 rounds — the
  // bounded-cost estimate (upper bounds; the sf0.1 graph's true fixpoint
  // is 18 rounds away — see the termination-contract note); the oracle
  // replays the identical 6 rounds, and kCoreExact + GraphSpec own
  // exactness.
  private def q185(s: SparkSession, dir: String): DataFrame = {
    val pairs = coPartEdges(s, dir)
    kCoreDecomposition(pairs, rounds = 6, inputDistinct = true)
      .groupBy(col("core")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("core"))
  }

  private val q185Sql = {
    val round = (i: Int) =>
      s"""h$i AS (
         |  SELECT node, max(least(rn, est)) AS h FROM (
         |    SELECT e.dst AS node, r.est,
         |      row_number() OVER (PARTITION BY e.dst ORDER BY r.est DESC) AS rn
         |    FROM e JOIN est${i - 1} r ON e.src = r.node)
         |  GROUP BY node),
         |est$i AS (
         |  SELECT p.node, least(p.est, h.h) AS est
         |  FROM est${i - 1} p JOIN h$i h USING (node))""".stripMargin
    s"""WITH li AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 3 = 0),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |est0 AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS est
       |  FROM e GROUP BY 1),
       |${(1 to 6).map(round).mkString(",\n")}
       |SELECT est AS core, count(*) AS n_nodes FROM est6
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ==== q207: neighborhood function — exact ≤2-hop + HLL ANF ===============
  //
  // N(v, r) = #nodes within r hops of v — the neighborhood-growth profile
  // behind effective-diameter / hub detection / graph-embedding feature
  // engineering. Two forms with different scale contracts:
  //
  //  - [[neighborhoodProfile]] (exact, r ≤ 2): materializes the DISTINCT
  //    (node, reachable) pair set per hop. Exactness costs the pair set's
  //    size — measured on the full sf0.1 co-order graph: 265 k edges →
  //    9.5 M 2-hop pairs → 44 M 3-hop pairs, i.e. the pair relation
  //    approaches n² within 3 hops of a dense graph. That blow-up is the
  //    OUTPUT (reach sets really are that big), so the exact form is
  //    declared for r ≤ 2 only, and hubs bound the shuffle: each hop is
  //    one adjacency hash-join + a distinct keyed on (node, reachable) —
  //    hash-balanced, no per-node row explosion beyond the true set size.
  //  - [[anf]] (approximate, any r): the ANF iteration (Palmer, Gibbons,
  //    Faloutsos, KDD 2002) with Datasketches HLL replacing Flajolet–
  //    Martin: S₀(v) = sketch{v}; S_r(u) = S_{r-1}(u) ∪ ⋃_{v∈adj(u)}
  //    S_{r-1}(v); N(u, r) ≈ estimate(S_r(u)). State is O(nodes) fixed-
  //    width sketches per round regardless of reach-set size — the 100 TB
  //    path (r rounds × one edge join + one hll_union_agg each). Sketch
  //    unions are order-insensitive and the md5-free
  //    HLL registers are deterministic for a given value set, so the
  //    estimates are stable under repartitioning — spec-gated against the
  //    exact form (the oracle cannot replay Datasketches registers).

  /** Exact cumulative reach counts (node, reach1, reach2) over symmetric
    * (src, dst) edges: reach_r = #distinct nodes ≠ node within ≤ r hops.
    * Nodes with no edges do not appear (no rows ⇒ no reach).
    *
    * `maxDeg` is the skew contract (the [[adamicAdar]] precedent): a
    * single hub of degree d materializes ~d² two-hop pairs, so one
    * 100×-scale hub can quadratically blow the exact path. With a cap,
    * nodes of degree > maxDeg are dropped from the graph BEFORE
    * profiling — the declared semantics become the exact profile of the
    * degree-bounded subgraph (hubs neither appear nor relay), and the
    * 2-hop pair count is bounded by edges × maxDeg. Profiles that must
    * include hubs switch to [[anf]], whose per-node state is fixed-width
    * at any degree. Default = no cap (q207's declared contract). */
  def neighborhoodProfile(edges: DataFrame,
      maxDeg: Int = Int.MaxValue,
      inputDistinct: Boolean = false): DataFrame = {
    val e0 = if (inputDistinct) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst")).distinct()
    val capped = if (maxDeg == Int.MaxValue) e0 else {
      val keep = e0.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .where(col("d") <= maxDeg).select(col("src").as("k"))
      e0.join(keep.withColumnRenamed("k", "src"), Seq("src"))
        .join(keep.withColumnRenamed("k", "dst"), Seq("dst"))
        .select(col("src"), col("dst"))
    }
    // an uncapped pinned input is already materialized — reuse its blocks
    val e = if (inputDistinct && maxDeg == Int.MaxValue) capped
      else capped.localCheckpoint()
    val r1 = e.select(col("src").as("node"), col("dst").as("w"))
    val two = r1.join(e.withColumnRenamed("dst", "x"), col("w") === col("src"))
      .where(col("x") =!= col("node"))
      .select(col("node"), col("x").as("w"))
    val r2 = r1.unionByName(two).distinct()
    val c1 = r1.groupBy(col("node")).agg(count(lit(1)).as("reach1"))
    val c2 = r2.groupBy(col("node")).agg(count(lit(1)).as("reach2"))
    c1.join(c2, Seq("node"))
  }

  /** ANF estimates (node, hop, est) for hop = 1..rounds via iterated HLL
    * sketch union over the adjacency — constant per-node state, any hop
    * depth. `lgK` is the Datasketches lgConfigK accuracy knob. */
  def anf(edges: DataFrame, rounds: Int, lgK: Int = 12): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint()
    // the state carries each node's estimates so far (`ests`, one per hop)
    // next to its sketch, so every hop's estimate lands in that round's
    // checkpoint. Every node is in the state by hop 1 (srcs from the
    // start, dsts as neighbors), so position i of `ests` is hop i + 1.
    val noEsts = typedLit(Array.empty[Long])
    val init = e.select(col("src").as("node"))
      .groupBy(col("node"))
      .agg(hll_sketch_agg(col("node"), lit(lgK)).as("sk"))
      .withColumn("ests", noEsts)
    val last = RoundLoop.fixed(init, rounds) { state =>
      val nbr = e.join(state.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("sk"),
          lit(null).cast("array<bigint>").as("ests"))
      nbr.unionByName(state)
        .groupBy(col("node"))
        .agg(hll_union_agg(col("sk")).as("sk"), max(col("ests")).as("ests"))
        // the estimate counts the node itself; −1 = reach_r
        .withColumn("ests", concat(coalesce(col("ests"), noEsts),
          array(hll_sketch_estimate(col("sk")) - lit(1L))))
    }
    org.apache.spark.sql.GraftSql.releaseCheckpointBlocks(e)
    last.select(col("node"), posexplode(col("ests")))
      .select(col("node"), (col("pos") + 1).as("hop"), col("col").as("est"))
  }

  // same ⅓-sliced part co-order graph as q134/q153/q185; exact ≤2-hop
  // profile (the r ≤ 2 contract above — ANF owns deeper hops, spec-gated)
  private def q207(s: SparkSession, dir: String): DataFrame = {
    val pairs = coPartEdges(s, dir)
    neighborhoodProfile(pairs, inputDistinct = true)
      .orderBy(col("reach2").desc, col("node")).limit(100)
  }

  private val q207Sql =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 3 = 0),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |r1 AS (SELECT src AS node, dst AS w FROM e),
      |r2 AS (
      |  SELECT DISTINCT node, w FROM (
      |    SELECT node, w FROM r1
      |    UNION ALL
      |    SELECT r1.node, e.dst AS w FROM r1 JOIN e ON r1.w = e.src
      |    WHERE e.dst <> r1.node)),
      |c1 AS (SELECT node, count(*) AS reach1 FROM r1 GROUP BY 1),
      |c2 AS (SELECT node, count(*) AS reach2 FROM r2 GROUP BY 1)
      |SELECT node, reach1, reach2 FROM c1 JOIN c2 USING (node)
      |ORDER BY reach2 DESC, node LIMIT 100""".stripMargin

  // ==== q209: multi-source BFS distances (bounded rounds) ===================
  //
  // Shortest hop-distance from a SEED SET to every reachable node — the
  // "distance to a trusted core" signal (seed-based quality propagation à
  // la TrustRank, blast-radius queries, taxonomy distance). Classic
  // frontier BFS keeps a mutable visited set — driver state Spark can't
  // have; the distributed form is bounded-round MIN-PLUS propagation:
  // dist₀ = 0 on seeds; each round dist(u) = min(dist(u), min over
  // in-neighbors v of dist(v) + 1). After r rounds every distance ≤ r is
  // EXACT (BFS layer k is complete after k rounds — induction on layers)
  // and deeper nodes are simply absent: a fixed-round contract a static
  // oracle replays round-for-round, like q185's. Round shape is the
  // PageRank/k-core discipline — one edge hash-join + one min-combine per
  // round. Min-plus is
  // idempotent, so extra rounds past the eccentricity are no-ops (the
  // fixpoint form would add the kCoreExact changed-count loop unchanged).

  /** (node, dist) for every node within `rounds` hops of `seeds` (col
    * `node`) over symmetric (src, dst) edges; dist is exact (≤ rounds). */
  def bfsDistances(edges: DataFrame, seeds: DataFrame,
      rounds: Int, inputDistinct: Boolean = false): DataFrame = {
    val e = if (inputDistinct) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst")).distinct().localCheckpoint()
    val state = minPlusRounds(e, seeds, rounds, lit(1L))
    if (!inputDistinct) org.apache.spark.sql.GraftSql.releaseCheckpointBlocks(e)
    state
  }

  /** `rounds` min-plus relaxations from `seeds` (dist 0) over edges `e`,
    * each hop costing `cost` (a column of `e`, or a constant). */
  private def minPlusRounds(e: DataFrame, seeds: DataFrame, rounds: Int,
      cost: org.apache.spark.sql.Column): DataFrame =
    RoundLoop.fixed(
      seeds.select(col("node")).distinct().withColumn("dist", lit(0L)),
      rounds) { state =>
      val hop = e.join(state.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("dist") + cost).as("dist"))
      state.unionByName(hop)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
    }

  // co-order slice; seeds = every 97th part id — distance-to-seed-core
  // histogram after 4 rounds (exact for the ≤4-hop shells it reports)
  private def q209(s: SparkSession, dir: String): DataFrame = {
    val pairs = coPartEdges(s, dir)
    val seeds = pairs.select(col("src").as("node"))
      .where(col("node") % 97 === 0).distinct()
    bfsDistances(pairs, seeds, rounds = 4, inputDistinct = true)
      .groupBy(col("dist")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("dist"))
  }

  private val q209Sql = {
    val round = (i: Int) =>
      s"""d$i AS (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst, s.dist + 1 FROM d${i - 1} s JOIN e ON e.src = s.node)
         |  GROUP BY 1)""".stripMargin
    s"""WITH li AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 3 = 0),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |d0 AS (
       |  SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist FROM e
       |  WHERE src % 97 = 0),
       |${(1 to 4).map(round).mkString(",\n")}
       |SELECT dist, count(*) AS n_nodes FROM d4
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ==== q226: HITS hubs & authorities ========================================
  //
  // Kleinberg's HITS (JACM 1999) — the OTHER eigenvector centrality: on a
  // DIRECTED graph, hub scores flow to authority scores and back
  // (h = A·a, a = Aᵀ·h), converging to the principal singular vectors of
  // the adjacency matrix. On the customer→part purchase graph that reads
  // as "influential buyers" vs "authoritative products" — the bipartite
  // structure PageRank's single score conflates. Same fixed-iteration
  // power-step discipline as q123/q211/q212: per iteration ONE edge join +
  // one map-side-combined sum per direction, no driver round trips, no
  // per-round normalization (the fixed count keeps magnitudes in double
  // range: ‖a‖ grows ≤ (d_max²)^iters ≈ 1e33 at test scales); scores
  // normalize ONCE at render by their sum. The oracle unrolls the same
  // power steps as CTEs — a replay differential, like the PageRank family.

  /** (node, hub, auth) after `iterations` un-normalized HITS power steps
    * over directed (src, dst) edges, h and a each scaled by their sums. */
  def hits(edges: DataFrame, iterations: Int = 5,
      inputDistinct: Boolean = false): DataFrame = {
    require(iterations >= 1, s"hits needs >= 1 iteration, got $iterations")
    // Lineage discipline — measured the OTHER way round than q123: HITS
    // references frames twice (hub_i feeds auth_i AND the render; auth_i
    // feeds hub_{i+1} AND the render), and AQE does not re-use the edge
    // exchange across the alternating src/dst join keys (explained plan
    // without pins: 166 exchanges, 0 ReusedExchange) — so unlike
    // PageRank's single-reference chain, HITS truncates per step. Pinning
    // ONLY auth (hub stays a 1-join lazy view over the pinned auth; its
    // second reference re-runs one broadcast join) measures 6.2s vs 8.8s
    // both-pinned vs 12–20s unpinned at sf0.1 local[8]. Node-domain
    // blocks only.
    //
    // Round 13, both-sides-large regime only (the q123 broadcast-
    // threshold signal — when hub/auth vectors broadcast, the edge side
    // never exchanges and extra pins are pure overhead): the alternating
    // join keys get their OWN pinned edge copies — eByDst serves the hub
    // step, eBySrc the auth step, each advertising its hash layout +
    // sort order, so neither direction re-exchanges or re-sorts the
    // edge table ever again (the round-9 measurement was 166 exchanges,
    // 0 reused, from this exact alternation).
    //
    // Round 14 — the 2× edge storage is the DECLARED trade (VERDICT r13
    // §3): sharing one layout would make the other direction's join
    // re-exchange + re-sort the full edge table once per power step —
    // `iterations`× the edge shuffle vs 1× extra MEMORY_AND_DISK blocks,
    // and at 100 TB the edge table is disk-backed storage but a per-step
    // exchange is the job's dominant cost. What round 14 DOES trim: the
    // intermediate distinct-checkpoint was a THIRD edge copy in the pin
    // regime — it now releases as soon as both pinned layouts land (the
    // init vector derives from eByDst, so nothing re-reads it).
    val conf = edges.sparkSession.sessionState.conf
    val eBase = if (inputDistinct) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst")).distinct()
    val e = if (inputDistinct) eBase else eBase.localCheckpoint()
    val pinLayout = cachedPinRegime(eBase, e, "dst", conf)
    val eByDst = if (pinLayout) org.apache.spark.sql.GraftSql
      .pinHashPartitioned(e, Seq("dst"), conf.numShufflePartitions) else e
    val eBySrc = if (pinLayout) org.apache.spark.sql.GraftSql
      .pinHashPartitioned(e, Seq("src"), conf.numShufflePartitions) else e
    // release our intermediate checkpoint once both pinned layouts land;
    // a pin-backed input has no intermediate copy
    if (pinLayout && !inputDistinct)
      org.apache.spark.sql.GraftSql.releaseCheckpointBlocks(e)
    def hubOf(auth: DataFrame): DataFrame =
      eByDst.join(auth.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("h"))
    def authOf(hub: DataFrame): DataFrame =
      eBySrc.join(hub.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("a"))
    val auth0 = eByDst.select(col("dst").as("node")).distinct()
      .withColumn("a", lit(1.0))
    // the last power step runs outside the loop: the render reads its hub
    // as well as its auth, so that hub is pinned from the previous auth
    // before the loop's last checkpoint is released
    val prevAuth = RoundLoop.fixed(auth0, iterations - 1)(a => authOf(hubOf(a)))
    val hub = hubOf(prevAuth).localCheckpoint()
    val auth = authOf(hub).localCheckpoint()
    if (iterations > 1)
      org.apache.spark.sql.GraftSql.releaseCheckpointBlocks(prevAuth)
    // this call's own edge copies are dead once both vectors are pinned
    val ownEdges = if (pinLayout) Seq(eByDst, eBySrc)
      else if (inputDistinct) Nil else Seq(e)
    ownEdges.foreach(org.apache.spark.sql.GraftSql.releaseCheckpointBlocks)
    val ha = broadcast(hub.agg(sum(col("h")).as("hs")))
    val aa = broadcast(auth.agg(sum(col("a")).as("as")))
    hub.crossJoin(ha).select(col("node"), (col("h") / col("hs")).as("score"),
        lit("hub").as("kind"))
      .unionAll(auth.crossJoin(aa).select(col("node"),
        (col("a") / col("as")).as("score"), lit("authority").as("kind")))
  }

  /** Directed purchase edges customer → part (no symmetrization) — the
    * directed face of the pinned [[custPartPairs]] layout. */
  private def buyEdges(s: SparkSession, dir: String): DataFrame =
    custPartPairs(s, dir)
      .select(col("c").as("src"), col("p").as("dst"))

  // top-12 per kind on the ROUNDED score (lexicographic tie-break — the
  // q211 cut discipline)
  private def q226(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("kind"))
      .orderBy(round(col("score"), 4).desc, col("node"))
    hits(buyEdges(s, dir), iterations = 5, inputDistinct = true)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 12)
      .select(col("kind"), col("rn"), col("node"),
        QueryDef.dec4(col("score")).as("score"))
      .orderBy(col("kind"), col("rn"))
  }

  private val q226Sql = {
    val iter = (i: Int) =>
      s"""h$i AS (
         |  SELECT e.src AS node, sum(a.a) AS h
         |  FROM e JOIN a${i - 1} a ON e.dst = a.node GROUP BY e.src),
         |a$i AS (
         |  SELECT e.dst AS node, sum(h.h) AS a
         |  FROM e JOIN h$i h ON e.src = h.node GROUP BY e.dst)""".stripMargin
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
       |    'p' || CAST(l_partkey AS VARCHAR) AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |a0 AS (SELECT DISTINCT dst AS node, CAST(1 AS DOUBLE) AS a FROM e),
       |${(1 to 5).map(iter).mkString(",\n")},
       |hs AS (SELECT sum(h) AS s FROM h5),
       |asum AS (SELECT sum(a) AS s FROM a5),
       |scored AS (
       |  SELECT 'hub' AS kind, node, h / hs.s AS score FROM h5 CROSS JOIN hs
       |  UNION ALL
       |  SELECT 'authority', node, a / asum.s FROM a5 CROSS JOIN asum),
       |ranked AS (
       |  SELECT kind, node, score, row_number() OVER (
       |    PARTITION BY kind ORDER BY round(score, 4) DESC, node) AS rn
       |  FROM scored)
       |SELECT kind, rn, node,
       |  CAST(CAST(score AS DECIMAL(38,4)) AS VARCHAR) AS score
       |FROM ranked WHERE rn <= 12 ORDER BY kind, rn""".stripMargin
  }

  // ==== q227: Adamic–Adar co-purchase link prediction ========================
  //
  // The classic common-neighbor link predictor (Adamic & Adar 2003): two
  // parts are likely related if they share buyers, each shared buyer
  // weighted 1/ln(degree) — a super-connector says little, a specialist
  // buyer says a lot. Weights are integerized ONCE per customer
  // (⌊10⁶/ln d⌋ — one ln per distinct degree, the q99/q183 rule), so pair
  // scores are exact integer sums. Pair enumeration rides the
  // [[graft.functions.PairCombos]] kernel over per-customer sorted part
  // lists — the inverted-index shape shared with q58/q157 — with the
  // same declared skew contract: customers above `maxDeg` distinct parts
  // are dropped BEFORE the collect (their pairs are both quadratic and
  // individually ≈ weightless), so per-row work is bounded at
  // C(maxDeg, 2) and the shuffle carries capped lists, never raw pairs.

  /** Top-`k` part pairs by Adamic–Adar over (buyer, item) rows. */
  def adamicAdar(bought: DataFrame, maxDeg: Int, k: Int): DataFrame = {
    val cp = bought.select(col("c"), col("p")).distinct()
    val deg = cp.groupBy(col("c")).agg(count(lit(1)).as("d"))
      .where(col("d") >= 2 && col("d") <= maxDeg)
      .withColumn("w", floor(lit(1e6) / log(col("d").cast("double")))
        .cast("long"))
    val lists = cp.join(deg, Seq("c"))
      .groupBy(col("c"))
      .agg(sort_array(collect_list(struct(col("p").as("doc_id"),
        col("w").as("payload")))).as("members"))
    val pairs = lists.select(explode(graft.functions.PairCombos.of(
      col("members"))).as("pr"))
    pairs.groupBy(col("pr.doc_a").as("p1"), col("pr.doc_b").as("p2"))
      .agg(sum(col("pr.pa")).as("aa_score"))
      .orderBy(col("aa_score").desc, col("p1"), col("p2"))
      .limit(k)
  }

  // the declared slice keeps 20% of parts so the ORACLE's naive pair join
  // stays tractable at sf1 (the q174 id-bounded-slice precedent); the
  // engine runs the same capped kernel either way
  private def q227(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .where(pmod(col("l_partkey"), lit(5)) === 0)
      .select(col("l_orderkey"), col("l_partkey"))
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val bought = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
    adamicAdar(bought, maxDeg = 128, k = 20)
  }

  private val q227Sql =
    """WITH cp AS (
      |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_partkey % 5 = 0),
      |deg AS (
      |  SELECT c, CAST(floor(1e6 / ln(CAST(count(*) AS DOUBLE))) AS BIGINT)
      |    AS w
      |  FROM cp GROUP BY c HAVING count(*) BETWEEN 2 AND 128),
      |pairs AS (
      |  SELECT a.p AS p1, b.p AS p2, deg.w
      |  FROM cp a JOIN cp b ON a.c = b.c AND a.p < b.p
      |  JOIN deg ON deg.c = a.c)
      |SELECT p1, p2, CAST(sum(w) AS BIGINT) AS aa_score
      |FROM pairs GROUP BY p1, p2
      |ORDER BY aa_score DESC, p1, p2 LIMIT 20""".stripMargin

  // ==== q231: modularity of detected communities =============================
  //
  // Closes the community-detection loop (q153 reports SIZES; this scores
  // QUALITY): Newman–Girvan modularity Q = Σ_c [e_cc/m − (d_c/m)²] over a
  // symmetric directed edge list (m = |E|, e_cc = within-community edges,
  // d_c = community out-degree mass) — the number that says whether the
  // labels mean anything (Q ≈ 0 ⇒ no better than random wiring). Exactness:
  // Q telescopes to (m·Σe_cc − Σd_c²) / m², ALL integer sums (d_c² in
  // DECIMAL so hub communities cannot wrap), ONE double division at
  // render. Shape: two label joins on the edge list + degree/community
  // domain aggregations — no loops beyond the LPA rounds themselves.

  /** One row: (n_edges, n_communities, within_edges, q_modularity) for
    * `labels` (node, lbl) on symmetric `edges`. */
  def modularity(edges: DataFrame, labels: DataFrame,
      inputDistinct: Boolean = false): DataFrame = {
    val e = if (inputDistinct) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst")).distinct()
    val withL = e
      .join(labels.toDF("src", "lbl_s"), Seq("src"))
      .join(labels.toDF("dst", "lbl_d"), Seq("dst"))
    val byC = withL.groupBy(col("lbl_s"))
      .agg(count(lit(1)).cast("decimal(18,0)").as("d_c"),
        sum(when(col("lbl_s") === col("lbl_d"), 1L).otherwise(0L))
          .as("within"))
    byC.agg(sum(col("d_c")).cast("long").as("n_edges"),
        count(lit(1)).as("n_communities"),
        sum(col("within")).as("within_edges"),
        sum(col("d_c") * col("d_c")).as("sum_d2"))
      .select(col("n_edges"), col("n_communities"), col("within_edges"),
        QueryDef.dec4(
          (col("n_edges").cast("double") * col("within_edges").cast("double") -
            col("sum_d2").cast("double")) /
            (col("n_edges").cast("double") * col("n_edges").cast("double")))
          .as("q_modularity"))
  }

  private def q231(s: SparkSession, dir: String): DataFrame = {
    val pairs = coPartEdges(s, dir)
    modularity(pairs,
      labelPropagation(pairs, rounds = 3, inputDistinct = true),
      inputDistinct = true)
  }

  private val q231Sql = {
    // the same 3 unrolled LPA rounds as q153Sql, closed with the
    // modularity aggregation
    val round = (i: Int) =>
      s"""l$i AS (
         |  SELECT l.node, coalesce(b.new_lbl, l.lbl) AS lbl
         |  FROM l${i - 1} l LEFT JOIN (
         |    SELECT node, lbl AS new_lbl FROM (
         |      SELECT e.dst AS node, r.lbl, count(*) AS cnt,
         |        row_number() OVER (PARTITION BY e.dst
         |          ORDER BY count(*) DESC, r.lbl) AS rn
         |      FROM e JOIN l${i - 1} r ON e.src = r.node
         |      GROUP BY e.dst, r.lbl)
         |    WHERE rn = 1) b ON l.node = b.node)""".stripMargin
    s"""WITH li AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 3 = 0),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e),
       |${(1 to 3).map(round).mkString(",\n")},
       |wl AS (
       |  SELECT ls.lbl AS lbl_s, ld.lbl AS lbl_d
       |  FROM e JOIN l3 ls ON e.src = ls.node JOIN l3 ld ON e.dst = ld.node),
       |byc AS (
       |  SELECT lbl_s, CAST(count(*) AS DECIMAL(18,0)) AS d_c,
       |    CAST(sum(CASE WHEN lbl_s = lbl_d THEN 1 ELSE 0 END) AS BIGINT)
       |      AS within
       |  FROM wl GROUP BY lbl_s)
       |SELECT CAST(sum(d_c) AS BIGINT) AS n_edges,
       |  count(*) AS n_communities,
       |  CAST(sum(within) AS BIGINT) AS within_edges,
       |  CAST(CAST((CAST(CAST(sum(d_c) AS BIGINT) AS DOUBLE)
       |      * CAST(CAST(sum(within) AS BIGINT) AS DOUBLE)
       |      - CAST(sum(d_c * d_c) AS DOUBLE))
       |    / (CAST(CAST(sum(d_c) AS BIGINT) AS DOUBLE)
       |      * CAST(CAST(sum(d_c) AS BIGINT) AS DOUBLE))
       |    AS DECIMAL(38,4)) AS VARCHAR) AS q_modularity
       |FROM byc""".stripMargin
  }

  // ==== q240: weighted shortest paths (bounded min-plus) ====================
  //
  // B146's BFS with COSTS: dist(v) = min over ≤r-hop paths of summed edge
  // weights — bounded-round Bellman–Ford, the same min-plus induction
  // contract as q209 (exact for every path of ≤ `rounds` hops; absent
  // nodes are farther in hops). Per round ONE edge join + one
  // map-side-combined min per node; weights are exact integer cents, so
  // distances compare exactly — no float tie at any frontier.

  /** (node, dist) after `rounds` min-plus steps over weighted (src, dst,
    * w) edges from `seeds` (node). */
  def weightedDistances(edges: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w")).localCheckpoint()
    val state = minPlusRounds(e, seeds, rounds, col("w"))
    org.apache.spark.sql.GraftSql.releaseCheckpointBlocks(e)
    state
  }

  // same co-order slice as q209, weight = cheapest shared order's combined
  // price cents for the pair; top-25 closest non-seeds
  private def q240(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      .where(col("l_partkey") % 3 === 0)
    val a = li.select(col("l_orderkey"), col("l_partkey").as("a"),
      col("cents").as("ca"))
    val b = li.select(col("l_orderkey"), col("l_partkey").as("b"),
      col("cents").as("cb"))
    val edges = a.join(b, Seq("l_orderkey")).where(col("a") =!= col("b"))
      .groupBy(col("a").as("src"), col("b").as("dst"))
      .agg(min(col("ca") + col("cb")).as("w"))
    val seeds = edges.select(col("src").as("node"))
      .where(col("node") % 97 === 0).distinct()
    weightedDistances(edges, seeds, rounds = 3)
      .join(seeds.withColumn("is_seed", lit(1)), Seq("node"), "left")
      .where(col("is_seed").isNull)
      .select(col("node"), col("dist"))
      .orderBy(col("dist"), col("node")).limit(25)
  }

  private val q240Sql = {
    val round = (i: Int) =>
      s"""d$i AS (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, d.dist + e.w AS dist
         |    FROM e JOIN d${i - 1} d ON e.src = d.node)
         |  GROUP BY node)""".stripMargin
    s"""WITH li AS (
       |  SELECT l_orderkey, l_partkey,
       |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
       |  FROM lineitem WHERE l_partkey % 3 = 0),
       |e AS MATERIALIZED (
       |  SELECT a.l_partkey AS src, b.l_partkey AS dst,
       |    min(a.cents + b.cents) AS w
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |  GROUP BY 1, 2),
       |seeds AS (SELECT DISTINCT src AS node FROM e WHERE src % 97 = 0),
       |d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds),
       |${(1 to 3).map(round).mkString(",\n")}
       |SELECT node, CAST(dist AS BIGINT) AS dist
       |FROM d3 WHERE node NOT IN (SELECT node FROM seeds)
       |ORDER BY dist, node LIMIT 25""".stripMargin
  }

  // ==== q260: k-truss decomposition ==========================================
  //
  // The EDGE-cohesion tier between q134's triangles and B-q185's k-core:
  // the k-truss keeps only edges supported by ≥ k−2 triangles, re-checked
  // after every peel (removing a weak edge can orphan its neighbors'
  // triangles) — the standard community-core extractor that node-degree
  // cores cannot express. Support per round reuses the q134 degree-
  // ordered wedge orientation (each triangle found ONCE, per-node fan-out
  // O(√m)), exploded to its three canonical edges and counted — two
  // hash shuffles per round, no wedge ever enumerated at a hub's raw
  // degree. Bounded-round contract (the q185 fixed-round form): `rounds`
  // peels give a SUPERSET of the true truss, exact when converged —
  // both engines run exactly the same rounds, so results match
  // regardless. Pure integer counting end-to-end.

  /** Canonical per-edge triangle support: (a, b, support) for a < b. */
  private def edgeSupport(e: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val keyed = e
      .join(deg.select(col("n").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("deg").as("db")), Seq("b"))
    val oriented = keyed.select(
      when(struct(col("da").as("d"), col("a").as("id")) <
          struct(col("db").as("d"), col("b").as("id")),
        struct(col("a").as("src"), col("b").as("dst"),
          struct(col("db").as("d"), col("b").as("id")).as("kd")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"),
          struct(col("da").as("d"), col("a").as("id")).as("kd"))).as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"),
        col("o.kd").as("kd"))
    val o1 = oriented.select(col("src"), col("dst").as("v"),
      col("kd").as("kv"))
    val o2 = oriented.select(col("src"), col("dst").as("w"),
      col("kd").as("kw"))
    val tris = o1.join(o2, Seq("src")).where(col("kv") < col("kw"))
      .select(col("src").as("u"), col("v"), col("w"))
      .join(oriented.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"))
    tris.select(explode(array(
      struct(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b")),
      struct(least(col("u"), col("w")).as("a"),
        greatest(col("u"), col("w")).as("b")),
      struct(least(col("v"), col("w")).as("a"),
        greatest(col("v"), col("w")).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
  }

  /** Surviving edges of the `rounds`-peel k-truss with their final
    * support: (a, b, support). Exact truss when converged within
    * `rounds`; a superset otherwise (both declared). */
  def kTruss(edges: DataFrame, k: Int, rounds: Int,
      inputCanonical: Boolean = false): DataFrame = {
    require(k >= 3 && rounds >= 1)
    // inputCanonical (pinned, materialized a<b face): round 0 reads the
    // pin's blocks directly — no canonicalize/dedup exchange, no extra
    // checkpoint copy; every later round checkpoints its peel as before
    val e0 = if (inputCanonical) edges.select(col("a"), col("b")) else edges
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .where(col("a") =!= col("b")).distinct()
      .localCheckpoint()
    val e = RoundLoop.fixed(e0, rounds) { prev =>
      prev.join(edgeSupport(prev), Seq("a", "b"), "left")
        .filter(coalesce(col("support"), lit(0L)) >= (k - 2).toLong)
        .select(col("a"), col("b"))
    }
    if (!inputCanonical) org.apache.spark.sql.GraftSql.releaseCheckpointBlocks(e0)
    e.join(edgeSupport(e), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  private def q260(s: SparkSession, dir: String): DataFrame =
    kTruss(coPartHalfEdges(s, dir), k = 4, rounds = 4,
        inputCanonical = true)
      .orderBy(col("support").desc, col("a"), col("b")).limit(20)

  private val q260Sql = {
    def round(r: Int): String = {
      val prev = s"e${r - 1}"
      s"""tr$r AS MATERIALIZED (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM $prev e1
         |    JOIN $prev e2 ON e2.a = e1.a AND e2.b > e1.b
         |    JOIN $prev e3 ON e3.a = e1.b AND e3.b = e2.b),
         |s$r AS MATERIALIZED (
         |  SELECT a, b, count(*) AS s FROM (
         |    SELECT x AS a, y AS b FROM tr$r
         |    UNION ALL SELECT x, z FROM tr$r
         |    UNION ALL SELECT y, z FROM tr$r) GROUP BY a, b),
         |e$r AS MATERIALIZED (
         |  SELECT e.a, e.b FROM $prev e LEFT JOIN s$r
         |    ON s$r.a = e.a AND s$r.b = e.b
         |  WHERE COALESCE(s$r.s, 0) >= 2),""".stripMargin
    }
    val rounds = (1 to 4).map(round).mkString("\n")
    s"""WITH li AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem
       |  WHERE l_partkey % 3 = 0),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
       |    greatest(x.l_partkey, y.l_partkey) AS b
       |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
       |    AND x.l_partkey < y.l_partkey),
       |$rounds
       |trf AS MATERIALIZED (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM e4 e1
       |    JOIN e4 e2 ON e2.a = e1.a AND e2.b > e1.b
       |    JOIN e4 e3 ON e3.a = e1.b AND e3.b = e2.b),
       |sf AS MATERIALIZED (
       |  SELECT a, b, count(*) AS s FROM (
       |    SELECT x AS a, y AS b FROM trf
       |    UNION ALL SELECT x, z FROM trf
       |    UNION ALL SELECT y, z FROM trf) GROUP BY a, b)
       |SELECT e.a, e.b, CAST(COALESCE(sf.s, 0) AS BIGINT) AS support
       |FROM e4 e LEFT JOIN sf ON sf.a = e.a AND sf.b = e.b
       |ORDER BY support DESC, e.a, e.b LIMIT 20""".stripMargin
  }

  // ==== q274: Jaccard-overlap link prediction =================================
  //
  // The set-overlap companion to q227's Adamic–Adar: score(p1, p2) =
  // |buyers(p1) ∩ buyers(p2)| / |buyers(p1) ∪ buyers(p2)| — AA rewards
  // SPECIALIST shared buyers, Jaccard normalizes by combined audience, so
  // a pair popular with everyone stops ranking above a niche exact match.
  // Same inverted-index pair kernel (PairCombos over per-buyer sorted
  // part lists, payload 1 → pair sum = common-buyer count) with the same
  // declared maxDeg skew contract — and, like q207's cap, the SEMANTICS
  // are the exact Jaccard on the degree-bounded bipartite subgraph: part
  // degrees are counted over kept buyers only, so ∩ and ∪ describe the
  // same graph. Ranking is by ⌊10⁶·common/union⌋ — an integer, so the
  // top-k cut is deterministic cross-engine (no double ordering).

  /** Top-`k` part pairs by buyer-set Jaccard over (buyer `c`, item `p`)
    * rows, on the subgraph of buyers with 2..maxDeg distinct items. */
  def jaccardLinks(bought: DataFrame, maxDeg: Int, k: Int): DataFrame = {
    val cp0 = bought.select(col("c"), col("p")).distinct()
    val keep = cp0.groupBy(col("c")).agg(count(lit(1)).as("d"))
      .where(col("d") >= 2 && col("d") <= maxDeg).select(col("c"))
    val cp = cp0.join(keep, Seq("c")).localCheckpoint()
    val degP = cp.groupBy(col("p")).agg(count(lit(1)).as("dp"))
    val lists = cp.groupBy(col("c"))
      .agg(sort_array(collect_list(struct(col("p").as("doc_id"),
        lit(1L).as("payload")))).as("members"))
    val common = lists.select(explode(graft.functions.PairCombos.of(
        col("members"))).as("pr"))
      .groupBy(col("pr.doc_a").as("p1"), col("pr.doc_b").as("p2"))
      .agg(sum(col("pr.pa")).as("common"))
    common
      .join(degP.select(col("p").as("p1"), col("dp").as("d1")), Seq("p1"))
      .join(degP.select(col("p").as("p2"), col("dp").as("d2")), Seq("p2"))
      .select(col("p1"), col("p2"), col("common"),
        (col("d1") + col("d2") - col("common")).as("union_sz"))
      .withColumn("jacc_micro",
        expr("(1000000 * common) div union_sz"))
      .orderBy(col("jacc_micro").desc, col("p1"), col("p2"))
      .limit(k)
  }

  private def q274(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .where(pmod(col("l_partkey"), lit(5)) === 0)
      .select(col("l_orderkey"), col("l_partkey"))
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val bought = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
    jaccardLinks(bought, maxDeg = 128, k = 20)
  }

  private val q274Sql =
    """WITH cp0 AS (
      |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE l_partkey % 5 = 0),
      |keep AS (
      |  SELECT c FROM cp0 GROUP BY c HAVING count(*) BETWEEN 2 AND 128),
      |cp AS MATERIALIZED (SELECT cp0.* FROM cp0 JOIN keep USING (c)),
      |degp AS (SELECT p, count(*) AS dp FROM cp GROUP BY p),
      |common AS (
      |  SELECT a.p AS p1, b.p AS p2, count(*) AS common
      |  FROM cp a JOIN cp b ON a.c = b.c AND a.p < b.p
      |  GROUP BY 1, 2)
      |SELECT p1, p2, CAST(common AS BIGINT) AS common,
      |  CAST(d1.dp + d2.dp - common AS BIGINT) AS union_sz,
      |  CAST((1000000 * common) // (d1.dp + d2.dp - common) AS BIGINT)
      |    AS jacc_micro
      |FROM common
      |  JOIN degp d1 ON d1.p = p1
      |  JOIN degp d2 ON d2.p = p2
      |ORDER BY jacc_micro DESC, p1, p2 LIMIT 20""".stripMargin

  // ==== q277: harmonic centrality (≤2 hops, exact) ============================
  //
  // The centrality readout of the q207 exact profile: harmonic centrality
  // H(v) = Σ_u 1/d(v,u) truncated at radius 2 — the standard
  // disconnected-safe closeness (unreached nodes contribute 0, no ∞).
  // With d ∈ {1, 2} the only reciprocals are the compile-time constants
  // 1 and ½, so H_micro = 10⁶·reach1 + 5·10⁵·(reach2 − reach1) is an
  // EXACT integer — no division anywhere — and ranking on it is
  // deterministic. Deeper radii move to [[anf]] (fixed-width HLL state
  // per hop), trading exactness for unbounded-depth scale, the same
  // split as q207 vs ANF.

  /** (node, reach1, reach2, h_micro) — exact ≤2-hop harmonic centrality
    * over symmetric (src, dst) edges; `maxDeg` as [[neighborhoodProfile]]. */
  def harmonicCentrality(edges: DataFrame,
      maxDeg: Int = Int.MaxValue,
      inputDistinct: Boolean = false): DataFrame =
    neighborhoodProfile(edges, maxDeg, inputDistinct)
      .select(col("node"), col("reach1"), col("reach2"),
        (col("reach1") * lit(1000000L) +
          (col("reach2") - col("reach1")) * lit(500000L)).as("h_micro"))

  private def q277(s: SparkSession, dir: String): DataFrame = {
    val pairs = coPartEdges(s, dir)
    harmonicCentrality(pairs, inputDistinct = true)
      .orderBy(col("h_micro").desc, col("node")).limit(100)
  }

  private val q277Sql =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 3 = 0),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |r1 AS (SELECT src AS node, dst AS w FROM e),
      |r2 AS (
      |  SELECT DISTINCT node, w FROM (
      |    SELECT node, w FROM r1
      |    UNION ALL
      |    SELECT r1.node, e.dst AS w FROM r1 JOIN e ON r1.w = e.src
      |    WHERE e.dst <> r1.node)),
      |c1 AS (SELECT node, count(*) AS reach1 FROM r1 GROUP BY 1),
      |c2 AS (SELECT node, count(*) AS reach2 FROM r2 GROUP BY 1)
      |SELECT node, reach1, reach2,
      |  CAST(reach1 * 1000000 + (reach2 - reach1) * 500000 AS BIGINT)
      |    AS h_micro
      |FROM c1 JOIN c2 USING (node)
      |ORDER BY h_micro DESC, node LIMIT 100""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q277_harmonic_centrality", q277, Some(q277Sql)),
    QueryDef("q274_jaccard_links", q274, Some(q274Sql)),
    QueryDef("q260_ktruss", q260, Some(q260Sql)),
    QueryDef("q240_weighted_paths", q240, Some(q240Sql)),
    QueryDef("q231_modularity", q231, Some(q231Sql)),
    QueryDef("q226_hits", q226, Some(q226Sql)),
    QueryDef("q227_adamic_adar", q227, Some(q227Sql)),
    QueryDef("q209_bfs_distance", q209, Some(q209Sql)),
    QueryDef("q212_personalized_pagerank", q212, Some(q212Sql)),
    QueryDef("q207_neighborhood", q207, Some(q207Sql)),
    QueryDef("q185_kcore", q185, Some(q185Sql)),
    QueryDef("q178_assortativity", q178, Some(q178Sql)),
    QueryDef("q123_pagerank", q123, Some(q123Sql)),
    QueryDef("q124_kfold", q124, Some(q124Sql)),
    QueryDef("q134_triangles", q134, Some(q134Sql)),
    QueryDef("q312_clustering_coef", q312, Some(q312Sql)),
    QueryDef("q334_edge_embeddedness", q334, Some(q334Sql)),
    QueryDef("q146_hierarchy_closure", q146, Some(q146Sql)),
    QueryDef("q153_label_propagation", q153, Some(q153Sql)))
}
