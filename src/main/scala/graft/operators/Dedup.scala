package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for LLM training-data pipelines: MinHash+LSH,
  * SimHash, and exact n-gram Jaccard via an inverted shingle index.
  *
  * Scale design (the whole point of these over naive O(n²)):
  *   - the pairwise space is only ever materialized for CANDIDATES — docs
  *     sharing an LSH band bucket / simhash band / shingle — never for the
  *     full corpus;
  *   - every hash is a seeded xxhash64 built-in (codegen'd, no UDFs);
  *   - bucket joins are plain shuffles on short keys; hot buckets are the
  *     classic skew case — the shingle index drops top-frequency shingles
  *     (stopword-shingle suppression) to bound bucket fan-out.
  *
  * Approximate operators are not oracle-hashed (SURVEY.md §2: B30 excluded);
  * they get rows-only driver checks plus ground-truth recall tests in
  * DedupSpec against exact Jaccard at sf0.001.
  */
object Dedup {

  /** Word-level n-gram shingles of the (pre-lowercased) text — native
    * single-pass expression. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.NgramShingles(Tok.ws(text), n)

  /** MinHash signature — native expression (one pass over the shingles,
    * Carter–Wegman multi-hash), ~100× the interpreted Column formulation. */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    graft.functions.HashExprs.minhashSignature(shingleCol, numHashes)

  /** LSH banding: split the H-wide signature into `bands` groups of `rowsPerBand`
    * and hash each group — docs agreeing on ANY band become candidates. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand)).as("key"))
    }: _*)

  /** Candidate pairs from MinHash-LSH, verified with exact Jaccard over
    * shingle sets. Returns (doc_a, doc_b, jaccard) with doc_a < doc_b. */
  def minhashCandidates(docs: DataFrame, shingleN: Int = 3,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val rows = numHashes / bands
    val docSh = docs
      .withColumn("sh", shingles(col("text"), shingleN))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"))
    val banded = docSh
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .select(col("doc_id"), explode(bandKeys(col("sig"), bands, rows)).as("bk"))
    // dedupe BARE id pairs (8-byte keys) before touching shingle arrays —
    // carrying both shingle sets through the distinct would shuffle the
    // full corpus text-derived payload once per band collision
    val pairs = banded.select(col("doc_id").as("doc_a"), col("bk"))
      .join(banded.select(col("doc_id").as("doc_b"), col("bk")), Seq("bk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    pairs
      .join(docSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(docSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  // -- materialized LSH index: incremental near-dup for arriving batches -----
  // Production dedup doesn't re-scan the accepted corpus per batch: the
  // band buckets are built ONCE and new documents probe them — the same
  // index-once/probe-many discipline as the IVF tiers. Two tables:
  //   path/bands:    (band, key, doc_id)   — slim 16-byte probe rows
  //   path/shingles: (doc_id, sh)          — fetched only for candidates
  // so the candidate join never carries text-derived payloads, and the
  // exact-Jaccard verify touches only banded-collision pairs.

  /** Materialize the LSH index of `docs` at `path`. `mode` "overwrite"
    * builds fresh; "append" admits an accepted batch into the index (the
    * incremental growth step — ids must stay unique across appends). */
  def writeLshIndex(docs: DataFrame, path: String, shingleN: Int = 3,
      numHashes: Int = 64, bands: Int = 16,
      mode: String = "overwrite"): Unit = {
    val rows = numHashes / bands
    val docSh = docs
      .withColumn("sh", shingles(col("text"), shingleN))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"))
    docSh
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .select(col("doc_id"), explode(bandKeys(col("sig"), bands, rows)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"), col("doc_id"))
      .write.mode(mode).parquet(s"$path/bands")
    docSh.write.mode(mode).parquet(s"$path/shingles")
  }

  /** Near-duplicates of `newDocs` AGAINST the index (never new-vs-new —
    * run [[minhashCandidates]] within the batch for that): (doc_id,
    * dup_of, jaccard) for every banded collision with exact Jaccard ≥
    * `tau`. Same signature pipeline as the index build, so a pair
    * collides here iff it would collide in a from-scratch run over the
    * union (LshIndexSpec proves that equality). The batch side is
    * typically small: its banded probes broadcast, the index never
    * shuffles — per-batch cost is one index probe join plus shingle
    * fetches for candidates only. */
  def nearDupAgainstIndex(spark: SparkSession, path: String,
      newDocs: DataFrame, tau: Double, shingleN: Int = 3,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val rows = numHashes / bands
    val newSh = newDocs
      .withColumn("sh", shingles(col("text"), shingleN))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"))
    val probes = newSh
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .select(col("doc_id").as("new_id"),
        explode(bandKeys(col("sig"), bands, rows)).as("bk"))
      .select(col("new_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val idx = spark.read.parquet(s"$path/bands")
    val pairs = idx.join(broadcast(probes), Seq("band", "key"))
      .select(col("new_id"), col("doc_id").as("idx_id")).distinct()
    pairs
      .join(spark.read.parquet(s"$path/shingles")
        .select(col("doc_id").as("idx_id"), col("sh").as("sh_i")), Seq("idx_id"))
      .join(newSh.select(col("doc_id").as("new_id"), col("sh").as("sh_n")),
        Seq("new_id"))
      .withColumn("inter", size(array_intersect(col("sh_n"), col("sh_i"))))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_n")) + size(col("sh_i")) - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("new_id").as("doc_id"), col("idx_id").as("dup_of"),
        col("jaccard"))
  }

  /** Exact-duplicate collapse — the composition step that keeps the near-dup
    * operators linear on dup-heavy corpora (the sf1 stress run's one
    * superlinear case): group by the full text, keep the smallest doc_id as
    * representative plus the cluster size. Near-dup then runs over
    * |distinct texts| representatives; a pair of representatives stands for
    * size_a × size_b underlying pairs, and intra-cluster pairs are exact
    * duplicates by construction — no information is lost. One shuffle,
    * map-side combinable. */
  def collapseExact(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("cluster_size"))
      .select(col("doc_id"), col("text"), col("cluster_size"))

  /** Connected components over a candidate-pair graph: the step that turns
    * near-dup PAIRS into dedup CLUSTERS (keep one survivor per component —
    * pairwise output alone under-deletes on transitive chains A~B~C).
    *
    * Min-label propagation with POINTER JUMPING: each round every node
    * takes the min label over itself and its neighbors (one shuffle), then
    * labels compress through their own parent (`label := label(label)`,
    * a second shuffle). The jump step is what makes long chains converge in
    * O(log diameter) rounds instead of O(diameter) — at 100 TB the rounds
    * are the cost, not the per-round shuffles. Labels only ever decrease
    * and are bounded by the component min, so the fixpoint is exact.
    *
    * `edges`: (src, dst) pairs, any orientation, self-loops/dups tolerated.
    * `vertices`: (id) — nodes with no edges become singleton clusters.
    * Returns (id, cluster_id) with cluster_id = min node id in component.
    */
  def connectedComponents(edges: DataFrame, vertices: DataFrame,
      maxIter: Int = 50): DataFrame = {
    // hash-partition on dst BEFORE the checkpoint: LogicalRDD preserves the
    // physical partitioning, so the per-round join on dst shuffles only the
    // label frame, never the edge set again
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct().repartition(col("dst")).localCheckpoint()

    // pointer jump: label''(v) = label'(label'(v)) — compresses chains so
    // long paths converge in O(log diameter) rounds, not O(diameter)
    def jump(stepped: DataFrame): DataFrame = stepped
      .join(stepped.select(col("id").as("label"), col("label").as("plabel")),
        Seq("label"))
      .select(col("id"), col("plabel").as("label"), col("olabel"))

    // Round 1 specialized: labels(v) = v, so the neighbor-min needs no join
    // at all — min(v, min of neighbor ids) straight off the edge set. Also
    // subsumes the separate label-init pass (edge-endpoint nodes only — in
    // a dedup graph most docs are singletons with nothing to propagate;
    // they attach as their own cluster in the final left join). It stays
    // lazy and materializes inside the first looped round's job.
    val first = jump(
      sym.select(col("src").as("id"), least(col("src"), col("dst")).as("label"))
        .groupBy(col("id"))
        .agg(min(col("label")).as("label"), min(col("id")).as("olabel")))
      .select(col("id"), col("label"))
    // Convergence = no label changed in the round (neighbor-min fixpoint;
    // the jump is idempotent at fixpoint). `maxIter` caps the rounds after
    // the specialized first one.
    val labels = RoundLoop.untilStable("connectedComponents", first, maxIter) {
      labels =>
        // neighbor min: label'(v) = min(label(v), min over labels of Γ(v)) —
        // one union + aggregation: each edge (v,u) contributes u's label to
        // v, each node contributes its own label (tagged via olabel so the
        // same aggregation also recovers the round-start label for the
        // change check), min collapses both in a single shuffle on id
        val labelT = labels.schema("label").dataType
        val stepped = sym
          .join(labels.select(col("id").as("dst"), col("label")), "dst")
          .select(col("src").as("id"), col("label"),
            lit(null).cast(labelT).as("olabel"))
          .unionByName(labels.withColumn("olabel", col("label")))
          .groupBy(col("id"))
          .agg(min(col("label")).as("label"), min(col("olabel")).as("olabel"))
        jump(stepped)
          .select(col("id"), col("label"),
            not(col("label") <=> col("olabel")).as("changed"))
    }
    val result = vertices.select(col("id")).distinct()
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("cluster_id"))
      // pin the small (id, cluster_id) frame so the big inputs can go
      .localCheckpoint()
    org.apache.spark.sql.GraftSql.releaseCheckpointBlocks(sym)
    org.apache.spark.sql.GraftSql.releaseCheckpointBlocks(labels)
    result
  }

  /** 64-bit SimHash fingerprint over whitespace tokens — native expression
    * (tight vote loop per row; the Column formulation was ~ms/doc). */
  def simhashFingerprint(text: Column): Column =
    graft.functions.HashExprs.simhash64(Tok.ws(text))

  /** SimHash near-dup candidates: docs sharing any 16-bit band of the 64-bit
    * fingerprint, ranked by exact Hamming distance.
    *
    * Fingerprint-group compression, LOSSLESS: identical texts hash to the
    * same fp, so (1) same-fp doc pairs are hamming-0 candidates by
    * construction — a streamed self-equi-join on fp, no band buckets
    * touched; (2) only DISTINCT fps enter the band buckets, so a corpus
    * where every document has d exact copies shrinks the band join's input
    * d× and its pair space d²× — this was the one superlinear query on the
    * 10×-replicated stress corpus (the old doc-level band self-join
    * materialized every copy-pair inside every shared band, then paid a
    * 4-column distinct over the blowup). Qualifying fp pairs expand back
    * to doc pairs through streamed joins — no per-group arrays, so a
    * mass-duplicated fp never builds a single giant row either. The
    * OUTPUT (all doc pairs with a shared band and hamming ≤ max) is
    * unchanged — it is quadratic in duplicate multiplicity by contract,
    * which is why dup-heavy corpora compose [[collapseExact]] first
    * (the `simhash_neardup_collapsed` query twin). */
  def simhashCandidates(docs: DataFrame, maxHamming: Int = 8): DataFrame = {
    // fp per doc: 2 longs per row, scanned by three consumers below —
    // checkpoint so the fingerprint expression runs once per doc
    val fps = docs.withColumn("fp", simhashFingerprint(col("text")))
      .select(col("doc_id"), col("fp"))
      .localCheckpoint()
    // (1) same-fp pairs: hamming 0, streamed (hot fp => big OUTPUT, never
    // a big buffer)
    val intra = fps.select(col("doc_id").as("doc_a"), col("fp"))
      .join(fps.select(col("doc_id").as("doc_b"), col("fp")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(0).cast("int").as("hamming"))
    // (2) cross-fp pairs: band-bucket the DISTINCT fingerprints only
    def bands(fp: Column) = array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright(fp, b * 16).bitwiseAND(0xFFFFL).as("key"))
    }: _*)
    val banded = fps.select(col("fp")).distinct()
      .select(col("fp"), explode(bands(col("fp"))).as("bk"))
    val fpPairs = banded.select(col("fp").as("fp_a"), col("bk"))
      .join(banded.select(col("fp").as("fp_b"), col("bk")), Seq("bk"))
      .filter(col("fp_a") < col("fp_b"))
      .select(col("fp_a"), col("fp_b")).distinct()
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
    val inter = fpPairs
      .join(fps.select(col("doc_id").as("id_a"), col("fp").as("fp_a")), Seq("fp_a"))
      .join(fps.select(col("doc_id").as("id_b"), col("fp").as("fp_b")), Seq("fp_b"))
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"), col("hamming"))
    // same-fp and cross-fp pair sets are disjoint by construction
    intra.unionByName(inter)
  }

  /** Exact n-gram Jaccard via inverted shingle index — the scalable exact
    * path: explode shingles, collect the (bounded) doc list per shingle,
    * emit each list's pair combinations, count shared shingles per pair,
    * derive Jaccard from |A|+|B|-shared. No full cross join ever exists. */
  def ngramJaccardPairs(docs: DataFrame, shingleN: Int = 3,
      maxShingleFreq: Int = 50): DataFrame =
    ngramPairsFromLists(shingleDocLists(docs, shingleN, maxShingleFreq))

  /** The per-shingle doc lists (s, docs: array<struct<doc_id, n_sh>>) after
    * the document-frequency cap, docs sorted by id. Exposed separately so
    * the recall gate can reuse the SAME lists its pair generator runs on —
    * eligibility is then the pruning rule by construction, not a parallel
    * reimplementation.
    *
    * Skew cap: a shingle shared by half the corpus creates a quadratic
    * bucket and carries no discriminative signal — drop it. The cap is
    * enforced INSIDE the aggregation (`BoundedCollect` with limit cap+1):
    * a hot shingle's rows combine map-side into a ≤(cap+1)-element partial
    * buffer, so no reducer ever sees a hot key's full row set — unlike the
    * df-count + join formulation, which funnels every hot-key row through
    * one reducer before dropping it, and scans the exploded shingles twice.
    * One pass over the exploded shingles, one shuffle. */
  private[operators] def shingleDocLists(docs: DataFrame, shingleN: Int,
      maxShingleFreq: Int): DataFrame =
    docs
      .withColumn("sh", shingles(col("text"), shingleN))
      .select(col("doc_id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("s"))
      .groupBy(col("s"))
      .agg(graft.functions.BoundedCollect.of(
        struct(col("doc_id"), col("n_sh")), maxShingleFreq + 1).as("docs"))
      // a full (cap+1)-length list is the overflow sentinel: df > cap, drop
      .filter(size(col("docs")) <= maxShingleFreq)
      // doc_id-ascending lists make i<j combinations emit doc_a < doc_b
      .select(col("s"), sort_array(col("docs")).as("docs"))

  private def ngramPairsFromLists(lists: DataFrame): DataFrame =
    lists
      // native tight-loop pair kernel (functions/PairCombos.scala) — the
      // lambda formulation ran interpreted at O(k²) slice copies per bucket
      .select(explode(graft.functions.PairCombos.of(col("docs"))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.pa").as("na"), col("p.pb").as("nb"))
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard", col("shared") / (col("na") + col("nb") - col("shared")))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        col("shared"), col("jaccard"))

  // -- query entries ---------------------------------------------------------
  //
  // Near-dup results are hash-seed-dependent, so their raw pair lists can't
  // be DuckDB-reproduced. Instead each query PLANTS exact duplicates (copies
  // of docs 0..24 at doc_id+PlantOffset) into the corpus and emits driver-computed
  // invariants the oracle predicts exactly: identical texts have identical
  // signatures/fingerprints, so every planted pair MUST surface as a
  // candidate with the extreme similarity value — a real recall gate, not a
  // rows-only smoke check (the hll_count_distinct pattern).

  private[operators] val PlantN = 25
  // far beyond any real id at ANY scale factor — at sf1 the ids run to
  // 49999 and a colliding plant id merges two different texts under one
  // doc_id, which Spark and the SQL oracle then treat differently
  private[operators] val PlantOffset = 1000000000L

  /** The corpus plus exact copies of docs 0..24 at doc_id+PlantOffset. */
  private def plantDups(docs: DataFrame): DataFrame =
    docs.unionByName(docs.filter(col("doc_id") < PlantN)
      .select((col("doc_id") + PlantOffset).as("doc_id"), col("text")))

  private def isPlantedPair: Column =
    col("doc_a") < PlantN && col("doc_b") === col("doc_a") + PlantOffset

  // 8 bands × 8 rows targets s* ≈ (1/8)^(1/8) ≈ 0.77 — the near-DUP regime;
  // wider shingles (4-grams) keep buckets sparse on repetitive corpora
  private def minhashOracled(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val cands = minhashCandidates(plantDups(docs), shingleN = 4,
      numHashes = 64, bands = 8)
    val eligible = docs.filter(col("doc_id") < PlantN)
      .filter(size(Tok.ws(col("text"))) >= 1)
      .agg(count(lit(1)).as("n_planted"))
    // one pass over cands: separate aggregations would re-execute the whole
    // candidate-generation subtree per reference (same fix as annRecallGate).
    // Planted booleans coalesce to TRUE (vacuous) when no planted pair
    // exists — the oracle renders them as literal true, and a recall miss is
    // still caught by n_found disagreeing with the oracle's count.
    val stats = cands.agg(
      coalesce(sum(when(isPlantedPair, 1L)), lit(0L)).as("n_found"),
      coalesce(bool_and(when(isPlantedPair, col("jaccard") === 1.0)), lit(true))
        .as("planted_jaccard_one"),
      coalesce(bool_and(col("jaccard") > 0.0 && col("jaccard") <= 1.0), lit(true))
        .as("jaccard_bounded"))
    eligible.crossJoin(stats)
  }

  private val minhashSql =
    """SELECT count(*) AS n_planted, count(*) AS n_found,
      |  true AS planted_jaccard_one, true AS jaccard_bounded
      |FROM documents
      |WHERE doc_id < 25
      |  AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 1""".stripMargin

  private def simhashOracled(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val cands = simhashCandidates(plantDups(docs), maxHamming = 16)
    val eligible = docs.filter(col("doc_id") < PlantN)
      .agg(count(lit(1)).as("n_planted"))
    val stats = cands.agg(
      coalesce(sum(when(isPlantedPair, 1L)), lit(0L)).as("n_found"),
      coalesce(bool_and(when(isPlantedPair, col("hamming") === 0)), lit(true))
        .as("planted_hamming_zero"),
      coalesce(bool_and(col("hamming") >= 0 && col("hamming") <= 16), lit(true))
        .as("hamming_bounded"))
    eligible.crossJoin(stats)
  }

  private val simhashSql =
    """SELECT count(*) AS n_planted, count(*) AS n_found,
      |  true AS planted_hamming_zero, true AS hamming_bounded
      |FROM documents WHERE doc_id < 25""".stripMargin

  /** The dup-heavy-corpus composition: exact collapse, then simhash over
    * representatives only. Invariants: one representative per distinct text,
    * cluster sizes account for every input row, and no planted (exact-dup)
    * pair survives into the candidate stage — the intra-cluster pair space
    * provably never exists. */
  private def simhashCollapsedOracled(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    // checkpoint: reps feeds both the rollup stats and the candidate stage —
    // without it the exact-collapse shuffle runs once per reference
    val reps = collapseExact(plantDups(docs)).localCheckpoint()
    val cands = simhashCandidates(reps.select(col("doc_id"), col("text")),
      maxHamming = 16)
    val repStats = reps.agg(count(lit(1)).as("n_representatives"),
      sum(col("cluster_size")).as("total_clustered"))
    val noPlanted = cands.filter(isPlantedPair)
      .agg((count(lit(1)) === 0).as("no_planted_pair"))
    repStats.crossJoin(noPlanted)
  }

  private val simhashCollapsedSql =
    """SELECT count(DISTINCT text) AS n_representatives,
      |  count(*) + (SELECT count(*) FROM documents WHERE doc_id < 25)
      |    AS total_clustered,
      |  true AS no_planted_pair
      |FROM documents""".stripMargin

  private def ngramOracled(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val aug = plantDups(docs)
    // a planted pair surfaces iff its seed doc still owns >= 1 shingle after
    // the document-frequency cap (a replicated stress corpus can push every
    // shingle of a doc past the cap) — so ELIGIBILITY reads the SAME doc
    // lists the pair generator expands (checkpointed: they feed both the
    // pair expansion and the eligibility count, and building them is the
    // dominant cost of one of the suite's slowest queries)
    val lists = shingleDocLists(aug, shingleN = 4, maxShingleFreq = 20)
      .localCheckpoint()
    val cands = ngramPairsFromLists(lists)
    val eligible = lists.select(explode(col("docs")).as("d"))
      .filter(col("d.doc_id") < PlantN)
      .select(col("d.doc_id")).distinct()
      .agg(count(lit(1)).as("n_planted"))
    val stats = cands.agg(
      coalesce(sum(when(isPlantedPair, 1L)), lit(0L)).as("n_found"),
      coalesce(bool_and(col("jaccard") > 0.0 && col("jaccard") <= 1.0), lit(true))
        .as("jaccard_bounded"))
    eligible.crossJoin(stats)
  }

  private val ngramSql =
    """WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000000, text FROM documents WHERE doc_id < 25),
      |toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM aug),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS s
      |  FROM toks, unnest(range(1, len(t) - 2)) AS u(i) WHERE len(t) >= 4
      |  UNION
      |  SELECT doc_id, array_to_string(t, ' ') FROM toks
      |  WHERE len(t) BETWEEN 1 AND 3),
      |keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 20),
      |eligible AS (
      |  SELECT count(DISTINCT sh.doc_id) AS n FROM sh JOIN keep USING (s)
      |  WHERE sh.doc_id < 25)
      |SELECT n AS n_planted, n AS n_found, true AS jaccard_bounded
      |FROM eligible""".stripMargin

  // ==== containment dedup (asymmetric near-dup) =============================
  //
  // Jaccard misses the "small doc quoted inside a big doc" regime: a 100-
  // token passage embedded in a 10k-token page has jaccard ~0.01 but
  // containment |A∩B|/|A| ~1.0. Same inverted-index machinery — shared/na/nb
  // are already on every pair — only the score changes, so the operator
  // inherits the frequency-cap skew guard and the native pair kernel.
  //
  // Gate: plants doubled copies (seed || ' ' || seed) of every seed with
  // >= 4 tokens — a proper superset of the seed's 4-gram shingles, so the
  // planted pair's shared count must equal EXACTLY the number of the seed's
  // shingles that survive the frequency cap (kept lists are exact: the
  // overflow sentinel drops a hot shingle's whole list, never a member).
  // That exactness holds at any replication level, unlike containment==1.0,
  // which a capped hot shingle would silently break.

  private def containmentOracled(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val plantable = docs.filter(col("doc_id") < PlantN)
      .filter(size(Tok.ws(col("text"))) >= 4)
    val aug = docs.unionByName(plantable
      .select((col("doc_id") + PlantOffset).as("doc_id"),
        concat(col("text"), lit(" "), col("text")).as("text")))
    val lists = shingleDocLists(aug, shingleN = 4, maxShingleFreq = 20)
      .localCheckpoint()
    // kept shingles per plantable seed — the exact expected shared count
    val keptPerSeed = lists.select(explode(col("docs")).as("d"))
      .filter(col("d.doc_id") < PlantN)
      .join(plantable.select(col("doc_id").as("pid")),
        col("d.doc_id") === col("pid"), "left_semi")
      .groupBy(col("d.doc_id").as("sid")).agg(count(lit(1)).as("kept"))
    val eligible = keptPerSeed.agg(count(lit(1)).as("n_planted"))
    val stats = ngramPairsFromLists(lists)
      .withColumn("containment",
        col("shared") / least(col("na"), col("nb")))
      .join(broadcast(keptPerSeed), col("doc_a") === col("sid"), "left")
      .agg(
        coalesce(sum(when(isPlantedPair, 1L)), lit(0L)).as("n_found"),
        coalesce(bool_and(when(isPlantedPair, col("shared") === col("kept"))),
          lit(true)).as("planted_shared_exact"),
        coalesce(bool_and(col("containment") > 0.0 && col("containment") <= 1.0),
          lit(true)).as("containment_bounded"))
    eligible.crossJoin(stats)
  }

  private val containmentSql =
    """WITH plantable AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id < 25
      |    AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 4),
      |aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000000, text || ' ' || text FROM plantable),
      |toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM aug),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS s
      |  FROM toks, unnest(range(1, len(t) - 2)) AS u(i) WHERE len(t) >= 4
      |  UNION
      |  SELECT doc_id, array_to_string(t, ' ') FROM toks
      |  WHERE len(t) BETWEEN 1 AND 3),
      |keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 20),
      |eligible AS (
      |  SELECT count(DISTINCT sh.doc_id) AS n
      |  FROM sh JOIN keep USING (s)
      |  WHERE sh.doc_id IN (SELECT doc_id FROM plantable))
      |SELECT n AS n_planted, n AS n_found,
      |  true AS planted_shared_exact, true AS containment_bounded
      |FROM eligible""".stripMargin

  /** Winnowing fingerprint near-dup: docs sharing >= minShared rolling-hash
    * fingerprints (MOSS-style), via an inverted fingerprint index. */
  def rollingFpPairs(docs: DataFrame, k: Int = 20, window: Int = 8,
      minShared: Int = 2): DataFrame = {
    val fps = docs.select(col("doc_id"),
      explode(graft.functions.RollingFingerprints(col("text"), k, window)).as("fp"))
    val a = fps.select(col("fp"), col("doc_id").as("doc_a"))
    val b = fps.select(col("fp"), col("doc_id").as("doc_b"))
    a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  // k=20-char fingerprints: planted copies of any text >= 20 chars share all
  // fingerprints, so every planted pair must surface with shared_fps >= 1
  private def rollingFpOracled(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val cands = rollingFpPairs(plantDups(docs), minShared = 1)
    val eligible = docs.filter(col("doc_id") < PlantN)
      .filter(length(col("text")) >= 20)
      .agg(count(lit(1)).as("n_planted"))
    val planted = cands.filter(isPlantedPair)
      .agg(count(lit(1)).as("n_found"),
        coalesce(bool_and(col("shared_fps") >= 1), lit(true)).as("planted_share_fps"))
    eligible.crossJoin(planted)
  }

  private val rollingFpSql =
    """SELECT count(*) AS n_planted, count(*) AS n_found,
      |  true AS planted_share_fps
      |FROM documents WHERE doc_id < 25 AND length(text) >= 20""".stripMargin

  /** Embedding-cosine near-dup: vector pairs above a cosine threshold,
    * found through shared hyperplane-LSH buckets (corpus self-join on the
    * bucket key — near-identical vectors collide with high probability),
    * then exact cosine verification. The O(n²) pair space never exists.
    *
    * corpus: (vec_id, v: array<double>). */
  def embeddingNearDupPairs(corpus: DataFrame, threshold: Double,
      bits: Int = 12, dim: Int = 64): DataFrame = {
    val planes = AnnLsh.hyperplanes(bits, dim)
    val bucketed = corpus.withColumn("bucket", AnnLsh.bucket(col("v"), planes))
    val a = bucketed.select(col("bucket"), col("vec_id").as("id_a"), col("v").as("v_a"))
    val b = bucketed.select(col("bucket"), col("vec_id").as("id_b"), col("v").as("v_b"))
    // no distinct: each vector lives in exactly one bucket, so a pair can
    // collide at most once — deduplication would just reshuffle the payload
    // guarded cosine: all zero vectors share one bucket (every hyperplane
    // sign is the deterministic >= 0 branch), and under ANSI SQL the plain
    // cosine would DIVIDE_BY_ZERO on the first such pair instead of
    // scoring it -2 = not-similar (a zero vector has no direction)
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.cosineGuarded(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** The embeddings corpus as (vec_id, v) plus exact copies of the
    * vec_id < PlantN rows at vec_id + PlantOffset — the one plant
    * construction every embedding-side gate shares (returns (corpus,
    * augmented) so gates can count eligibility off the unaugmented side). */
  private def plantedEmbeddings(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val emb = graft.Tables.embeddings(s, dir)
      .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
    val aug = emb.unionByName(emb.filter(col("vec_id") < PlantN)
      .select((col("vec_id") + PlantOffset).as("vec_id"), col("v")))
    (emb, aug)
  }

  // identical planted vectors hash to the same hyperplane bucket with
  // certainty (same signs), so at a production threshold every planted pair
  // MUST surface with cosine ~1.0; gaussian organic pairs never reach 0.999
  private def embNearDupOracled(s: SparkSession, dir: String): DataFrame = {
    val (emb, aug) = plantedEmbeddings(s, dir)
    val pairs = embeddingNearDupPairs(aug, threshold = 0.999, bits = 8)
    val eligible = emb.filter(col("vec_id") < PlantN)
      .agg(count(lit(1)).as("n_planted"))
    val isPlanted = col("id_a") < PlantN && col("id_b") === col("id_a") + PlantOffset
    val stats = pairs.agg(
      coalesce(sum(when(isPlanted, 1L)), lit(0L)).as("n_found"),
      coalesce(bool_and(when(isPlanted, col("cos") >= 0.9999)), lit(true))
        .as("planted_cos_one"),
      coalesce(bool_and(col("cos") <= 1.000000001), lit(true)).as("cos_bounded"))
    eligible.crossJoin(stats)
  }

  private val embNearDupSql =
    """SELECT count(*) AS n_planted, count(*) AS n_found,
      |  true AS planted_cos_one, true AS cos_bounded
      |FROM embeddings WHERE vec_id < 25""".stripMargin

  // ==== semantic dedup (SemDeDup-style, embedding space) ====================
  //
  // Near-dup pruning in EMBEDDING space: partition the corpus into k-means
  // cells (the IVF machinery — `AnnIvf.trainCentroids`/`assignCells`), then
  // compare only within-cell pairs and greedily drop every vector that has a
  // lower-id cell-mate at cosine >= tau. The O(n²) pair space never exists:
  // pairs are an equi-join on the cell key, so the cost is Σ |cell|² — at
  // 100 TB you size k so cells stay ~10⁴ vectors (and split any hot cell by
  // re-running k-means inside it, the standard SemDeDup recursion); the
  // comparison volume is the algorithm's defined cost, not a shuffle
  // artifact. Reference capability tier: B30/B31 (near-dedup × embeddings).
  //
  // The greedy lowest-id rule makes the kept set deterministic AND
  // duplicate-free by construction: if kept x < kept y had cos(x,y) >= tau
  // in one cell, y would have been dropped — so no two survivors within a
  // cell are tau-close. Note the rule drops against ANY lower id, not only
  // against kept lower ids (the sequential variant) — that is what makes it
  // embarrassingly parallel, at the price that tau-chains prune slightly
  // more aggressively and a dropped vector's `keeper` may itself be dropped
  // (tau-closeness is not transitive). Consumers that need a SURVIVING
  // representative per dropped vector compose with `resolveKeepers`.

  /** Per-vector dedup decision. corpus: (vec_id, v: array<double>).
    * Returns (vec_id, cell, status ∈ kept|dropped, keeper) where keeper is
    * the lowest-id tau-close cell-mate a dropped vector collapses into
    * (possibly itself dropped — see `resolveKeepers`). */
  def semanticDedup(corpus: DataFrame, centroids: Array[Seq[Double]],
      tau: Double): DataFrame = {
    // cells feeds both self-join sides and the final status join — pin one
    // assignment (the NearestCells scan) instead of recomputing it 3×
    val cells = AnnIvf.assignCells(corpus, centroids).localCheckpoint()
    val a = cells.select(col("cell"), col("vec_id").as("keeper"),
      col("v").as("v_a"))
    val b = cells.select(col("cell"), col("vec_id"), col("v").as("v_b"))
    // zero-norm guard: under ANSI SQL, cosine of a zero vector is a
    // DIVIDE_BY_ZERO error, so the CASE must keep zero-norm rows out of the
    // cosine branch entirely. Two zero-NORM vectors are necessarily both
    // all-zero — exact duplicates, still collapse; one-sided zero norm is
    // non-similar (a zero vector has no direction).
    val zeroA = graft.functions.VectorExprs.dotProduct(col("v_a"), col("v_a")) === 0.0
    val zeroB = graft.functions.VectorExprs.dotProduct(col("v_b"), col("v_b")) === 0.0
    val similar = when(zeroA || zeroB, zeroA && zeroB)
      .otherwise(Similarity.cosine(col("v_a"), col("v_b")) >= tau)
    val keepers = a.join(b, Seq("cell"))
      .filter(col("keeper") < col("vec_id"))
      .filter(similar)
      .groupBy(col("vec_id")).agg(min(col("keeper")).as("keeper"))
    cells.join(keepers, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("keeper").isNull, lit("kept")).otherwise(lit("dropped"))
          .as("status"),
        col("keeper"))
  }

  /** Rewrites each dropped vector's keeper to a SURVIVING representative by
    * pointer-jumping the keeper chain: a keeper that is itself dropped
    * forwards to ITS keeper. Keeper ids strictly decrease along a chain, so
    * the walk terminates at a kept vector; jumping against the whole current
    * map doubles the resolved distance per round (≤ log₂(longest chain)
    * rounds — same argument as `connectedComponents`). Only the dropped rows
    * (pointer table) iterate; kept rows pass through untouched. Output
    * schema is unchanged. */
  def resolveKeepers(decisions: DataFrame): DataFrame = {
    val dec = decisions.localCheckpoint()
    // keeper ids strictly decrease along a chain of longs, so a chain has
    // fewer than 2^64 links: doubling resolves it within 64 rounds, and
    // one more round confirms the fixpoint
    val drops = RoundLoop.untilStable("resolveKeepers",
        dec.filter(col("status") === "dropped")
          .select(col("vec_id"), col("cell"), col("keeper")), 65) { drops =>
      val ptr = drops.select(col("vec_id").as("p_id"), col("keeper").as("p_keeper"))
      // keeper found in the dropped map → forward to that row's keeper
      drops.join(ptr, col("keeper") === col("p_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("p_keeper"), col("keeper")).as("keeper"),
          col("p_keeper").isNotNull.as("changed"))
    }
    val result = dec.filter(col("status") === "kept")
      .unionByName(drops.withColumn("status", lit("dropped"))
        .select(col("vec_id"), col("cell"), col("status"), col("keeper")))
      .localCheckpoint() // materialize before releasing the inputs
    org.apache.spark.sql.GraftSql.releaseCheckpointBlocks(dec)
    org.apache.spark.sql.GraftSql.releaseCheckpointBlocks(drops)
    result
  }

  // Gate: an exact planted copy evaluates the same NearestCells expression
  // on the same values, so it lands in its seed's cell with certainty, and
  // cosine(v, v) ≈ 1 >= tau with a lower-id keeper available (the seed) —
  // every planted copy MUST come back status=dropped, at any replication
  // level (organic exact copies only add more lower-id keeper candidates).
  private def semanticDedupOracled(s: SparkSession, dir: String): DataFrame = {
    val (emb, aug0) = plantedEmbeddings(s, dir)
    val aug = aug0.cache() // k-means training re-scans the corpus per iteration
    try {
      val centroids = AnnIvf.trainCentroids(aug, k = 16)
      val res = semanticDedup(aug, centroids, tau = 0.999)
      val eligible = emb.filter(col("vec_id") < PlantN)
        .agg(count(lit(1)).as("n_planted"))
      val stats = res.agg(
        coalesce(sum(when(col("vec_id") >= PlantOffset &&
          col("status") === "dropped", 1L)), lit(0L)).as("n_found"),
        coalesce(bool_and(col("status") === "kept" ||
          col("keeper") < col("vec_id")), lit(true)).as("keeper_below"),
        (count(lit(1)) === count_distinct(col("vec_id"))).as("one_row_per_vec"))
      eligible.crossJoin(stats).localCheckpoint() // materialize pre-unpersist
    } finally aug.unpersist()
  }

  private val semanticDedupSql =
    """SELECT count(*) AS n_planted, count(*) AS n_found,
      |  true AS keeper_below, true AS one_row_per_vec
      |FROM embeddings WHERE vec_id < 25""".stripMargin

  /** Fully-oracled cluster query: exact n-gram Jaccard pairs (threshold
    * 0.5 — deterministic, no hashing) → connected components. Two planted
    * generations per seed doc (an exact copy and a doubled-text copy, all
    * pairwise-similar) force multi-node components whose min label must
    * propagate transitively; DuckDB reproduces the exact same clusters via
    * a recursive-CTE transitive closure. */
  private def clustersOracled(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val seeds = docs.filter(col("doc_id") < PlantN)
    val aug = docs
      .unionByName(seeds.select((col("doc_id") + PlantOffset).as("doc_id"),
        col("text")))
      .unionByName(seeds.select((col("doc_id") + 2 * PlantOffset).as("doc_id"),
        concat(col("text"), lit(" "), col("text")).as("text")))
    val edges = ngramJaccardPairs(aug, shingleN = 4, maxShingleFreq = 20)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    connectedComponents(edges, aug.select(col("doc_id").as("id")))
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  private val clustersSql =
    """WITH RECURSIVE
      |aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000000, text FROM documents WHERE doc_id < 25
      |  UNION ALL
      |  SELECT doc_id + 2000000000, text || ' ' || text FROM documents WHERE doc_id < 25),
      |toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM aug),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS s
      |  FROM toks, unnest(range(1, len(t) - 2)) AS u(i) WHERE len(t) >= 4
      |  UNION
      |  SELECT doc_id, array_to_string(t, ' ') FROM toks
      |  WHERE len(t) BETWEEN 1 AND 3),
      |counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 20),
      |pruned AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep USING (s)),
      |pairs AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared
      |  FROM pruned a JOIN pruned b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |jac AS (
      |  SELECT da, db FROM pairs
      |  JOIN counts ca ON ca.doc_id = pairs.da
      |  JOIN counts cb ON cb.doc_id = pairs.db
      |  WHERE CAST(shared AS DOUBLE) / (ca.n_sh + cb.n_sh - shared) >= 0.5),
      |edges AS (SELECT da AS u, db AS v FROM jac UNION SELECT db, da FROM jac),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u)
      |SELECT a.doc_id, least(a.doc_id, coalesce(min(r.v), a.doc_id)) AS cluster_id
      |FROM aug a LEFT JOIN reach r ON r.u = a.doc_id
      |GROUP BY a.doc_id ORDER BY doc_id""".stripMargin

  // ==== end-to-end near-dup dedup pipeline ==================================

  /** Result of [[dedupNear]]: `kept` is the surviving corpus (same schema
    * as the input), `decisions` maps EVERY input doc to its cluster and
    * fate — kept ∪ dropped = input by construction — and `manifest` is the
    * per-cluster audit (survivor id, member/dropped counts). */
  final case class DedupNearResult(
      kept: DataFrame, decisions: DataFrame, manifest: DataFrame)

  /** End-to-end near-duplicate deduplication: exact-collapse → candidate
    * pairs (pluggable method) → connected components → survivor selection
    * (min doc_id per cluster) → corpus rewrite, as ONE operator. Users
    * previously hand-composed q58 + q40 semantics; the composition is where
    * ordering/determinism bugs breed, so the engine owns it.
    *
    * Scale shape: [[collapseExact]] runs FIRST, so dup-heavy corpora enter
    * candidate generation at |distinct texts| (the sf1 stress lesson);
    * every candidate method is bucketed (inverted index / LSH bands /
    * simhash bands) with skew caps — no all-pairs structure anywhere; the
    * per-doc expansion joins are hash joins on text/rep_id. Exact
    * duplicates collapse onto the min-id representative, so cluster_id =
    * min member id globally and exact-dup members are dropped members of
    * their representative's cluster — identical semantics to running the
    * pair graph over the uncollapsed corpus.
    *
    * `tau`: similarity threshold. For `ngram`/`minhash` it is a Jaccard
    * lower bound; for `simhash` it maps to a Hamming budget of
    * round((1−tau)·64) bits.
    *
    * docs: (doc_id, text). Extra columns survive into `kept`.
    */
  def dedupNear(docs: DataFrame, method: String = "ngram", tau: Double = 0.5,
      shingleN: Int = 4, maxShingleFreq: Int = 50): DedupNearResult = {
    val base = docs.select(col("doc_id"), col("text"))
    // checkpoint: three consumers (candidate edges, CC vertices, the
    // expansion join) would each recompute the corpus-wide text groupBy
    val reps = collapseExact(base).select(col("doc_id"), col("text"))
      .localCheckpoint()
    val edges = (method match {
      case "ngram" =>
        ngramJaccardPairs(reps, shingleN, maxShingleFreq)
          .filter(col("jaccard") >= tau)
      case "minhash" =>
        minhashCandidates(reps, shingleN, numHashes = 64, bands = 8)
          .filter(col("jaccard") >= tau)
      case "simhash" =>
        // a 64-bit simhash of two UNRELATED documents sits at expected
        // Hamming distance 32, so a generous budget stops discriminating
        // and links strangers into clusters that dedup then DELETES. Cap
        // the budget at the candidate generator's own near-dup regime
        // (16 bits ⇔ tau >= 0.75) instead of silently accepting tau=0.5.
        val budget = math.round((1 - tau) * 64).toInt
        require(budget <= 16,
          s"dedupNear(simhash): tau=$tau maps to a $budget-bit Hamming " +
            "budget; beyond 16 bits simhash similarity stops separating " +
            "near-duplicates from unrelated text — use tau >= 0.75, or " +
            "the ngram method for low-similarity thresholds")
        simhashCandidates(reps, maxHamming = budget)
      case other => throw new IllegalArgumentException(
        s"dedupNear: unknown method '$other' (ngram | minhash | simhash)")
    }).select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val comps = connectedComponents(edges, reps.select(col("doc_id").as("id")))
    // expand representatives back to every input doc: doc → rep by text
    // (the same key collapseExact grouped on — null-SAFE equality, because
    // collapseExact's groupBy keeps a null-text group and a plain equi-join
    // would silently drop those docs, breaking kept ∪ dropped = input),
    // rep → cluster
    val decisions = base
      .join(reps.select(col("text").as("__rt"), col("doc_id").as("__rep")),
        col("text") <=> col("__rt"))
      .join(comps.select(col("id").as("__rep"), col("cluster_id")), Seq("__rep"))
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("kept"))
    val kept = docs.join(
      decisions.filter(col("kept")).select(col("doc_id")), Seq("doc_id"), "left_semi")
    val manifest = decisions.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dropped"))
    DedupNearResult(kept, decisions, manifest)
  }

  /** Oracled end-to-end run on the q58 planted corpus (exact copies +
    * doubled-text copies of docs 0..24): emits every doc's (cluster_id,
    * kept) decision. The ngram method is fully deterministic, so DuckDB
    * reproduces the identical survivor set via text-collapse + the same
    * capped inverted index + a recursive-CTE transitive closure. */
  private def dedupNearOracled(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val seeds = docs.filter(col("doc_id") < PlantN)
    val aug = docs
      .unionByName(seeds.select((col("doc_id") + PlantOffset).as("doc_id"),
        col("text")))
      .unionByName(seeds.select((col("doc_id") + 2 * PlantOffset).as("doc_id"),
        concat(col("text"), lit(" "), col("text")).as("text")))
    dedupNear(aug, method = "ngram", tau = 0.5,
      shingleN = 4, maxShingleFreq = 20)
      .decisions.orderBy(col("doc_id"))
  }

  private val dedupNearSql =
    """WITH RECURSIVE
      |aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000000, text FROM documents WHERE doc_id < 25
      |  UNION ALL
      |  SELECT doc_id + 2000000000, text || ' ' || text FROM documents WHERE doc_id < 25),
      |reps AS (SELECT min(doc_id) AS rep_id, text FROM aug GROUP BY text),
      |toks AS (
      |  SELECT rep_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM reps),
      |sh AS (
      |  SELECT DISTINCT rep_id, array_to_string(t[i:i+3], ' ') AS s
      |  FROM toks, unnest(range(1, len(t) - 2)) AS u(i) WHERE len(t) >= 4
      |  UNION
      |  SELECT rep_id, array_to_string(t, ' ') FROM toks
      |  WHERE len(t) BETWEEN 1 AND 3),
      |counts AS (SELECT rep_id, count(*) AS n_sh FROM sh GROUP BY rep_id),
      |keep AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 20),
      |pruned AS (SELECT sh.rep_id, sh.s FROM sh JOIN keep USING (s)),
      |pairs AS (
      |  SELECT a.rep_id AS da, b.rep_id AS db, count(*) AS shared
      |  FROM pruned a JOIN pruned b ON a.s = b.s AND a.rep_id < b.rep_id
      |  GROUP BY 1, 2),
      |jac AS (
      |  SELECT da, db FROM pairs
      |  JOIN counts ca ON ca.rep_id = pairs.da
      |  JOIN counts cb ON cb.rep_id = pairs.db
      |  WHERE CAST(shared AS DOUBLE) / (ca.n_sh + cb.n_sh - shared) >= 0.5),
      |edges AS (SELECT da AS u, db AS v FROM jac UNION SELECT db, da FROM jac),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
      |comp AS (
      |  SELECT p.rep_id, least(p.rep_id, coalesce(min(r.v), p.rep_id)) AS cluster_id
      |  FROM reps p LEFT JOIN reach r ON r.u = p.rep_id
      |  GROUP BY p.rep_id)
      |SELECT a.doc_id, c.cluster_id, a.doc_id = c.cluster_id AS kept
      |FROM aug a
      |JOIN reps USING (text)
      |JOIN comp c ON c.rep_id = reps.rep_id
      |ORDER BY a.doc_id""".stripMargin

  // Indexed-lifecycle gate (the driver-exercised twin of LshIndexSpec, same
  // discipline as ann_ivf_indexed): build the band index over the corpus,
  // probe it with EXACT copies of docs 0..24 planted at doc_id+PlantOffset.
  // Each plant must find its seed at Jaccard 1.0000 — banding an identical
  // text produces identical band keys, so the hit is deterministic; a
  // seed whose text also appears verbatim elsewhere in the corpus still
  // reports found_seed via the max over its collision set.
  private def lshIndexedOracled(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    // fixed path + overwrite: repeated verify/bench runs reuse one
    // directory (same fix as the IVF index queries)
    val path = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_lsh_index_q").toString
    writeLshIndex(docs, path)
    val batch = docs.filter(col("doc_id") < PlantN)
      .select((col("doc_id") + PlantOffset).as("doc_id"), col("text"))
    nearDupAgainstIndex(s, path, batch, tau = 0.99)
      .groupBy(col("doc_id")).agg(
        max((col("dup_of") === col("doc_id") - PlantOffset).cast("int")).as("f"),
        max(col("jaccard")).as("j"))
      .select((col("doc_id") - PlantOffset).as("doc_id"),
        (col("f") === 1).as("found_seed"),
        QueryDef.dec4(col("j")).as("top_jaccard"))
      .orderBy(col("doc_id"))
  }

  private val lshIndexedSql =
    """SELECT doc_id, true AS found_seed, '1.0000' AS top_jaccard
      |FROM documents WHERE doc_id < 25 ORDER BY doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("lsh_indexed_neardup", lshIndexedOracled, Some(lshIndexedSql)),
    QueryDef("q58_neardup_clusters", clustersOracled, Some(clustersSql)),
    QueryDef("q89_dedup_near", dedupNearOracled, Some(dedupNearSql)),
    QueryDef("embedding_neardup_topk", embNearDupOracled, Some(embNearDupSql)),
    QueryDef("rollingfp_neardup_topk", rollingFpOracled, Some(rollingFpSql)),
    QueryDef("minhash_neardup_topk", minhashOracled, Some(minhashSql)),
    QueryDef("simhash_neardup_topk", simhashOracled, Some(simhashSql)),
    QueryDef("simhash_neardup_collapsed", simhashCollapsedOracled, Some(simhashCollapsedSql)),
    QueryDef("ngram_jaccard_topk", ngramOracled, Some(ngramSql)),
    QueryDef("q80_containment_dedup", containmentOracled, Some(containmentSql)),
    QueryDef("q81_semantic_dedup", semanticDedupOracled, Some(semanticDedupSql)))
}
