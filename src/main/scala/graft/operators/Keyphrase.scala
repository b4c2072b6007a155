package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** RAKE keyphrase extraction (Rose, Engel, Cramer, Cowley, "Automatic
  * Keyword Extraction from Individual Documents", 2010) — the unsupervised
  * corpus-labeling step that turns raw documents into topic phrases for
  * curation dashboards and mixture audits. Candidate phrases are maximal
  * runs of non-stopword tokens; each word scores deg/freq (deg = total
  * length of phrases it appears in, freq = its occurrence count — words
  * that live in long phrases beat words that stand alone); a phrase scores
  * the sum of its member-word scores.
  *
  * Determinism: deg and freq are exact integers; the per-word ratio
  * integerizes ONCE (⌊10⁶·deg/freq⌋, the LM-scorer discipline), so phrase
  * scores are integer sums — order-free and hash-stable.
  *
  * Scale shape: the phrase segmentation is a per-doc window (doc-length-
  * sized, like every per-doc text op here); word stats aggregate to the
  * VOCABULARY domain and broadcast back onto members, so the only
  * corpus-sized shuffles are the (doc, phrase) groupings — hash-balanced —
  * and the final phrase rollup; top-k is a TakeOrdered, no global sort.
  */
object Keyphrase {

  /** Top-`k` corpus keyphrases: (phrase, n_occurrences, score). Phrases
    * are maximal stopword-free token runs; score = Σ ⌊10⁶·deg/freq⌋ over
    * member words. Ties: highest score, then lexicographic phrase. */
  def rakeKeyphrases(docs: DataFrame, stopwords: Seq[String], k: Int): DataFrame = {
    val stopLit = typedLit(stopwords)
    val pos = docs
      .select(col("doc_id"), posexplode(Tok.ws(col("text"))).as(Seq("i", "tok")))
      .withColumn("is_stop", array_contains(stopLit, col("tok")))
    // phrase id = running stopword count (stop rows then drop out, leaving
    // each maximal non-stop run with one id)
    val seg = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val members = pos
      .withColumn("p",
        sum(when(col("is_stop"), 1L).otherwise(0L)).over(seg))
      .filter(!col("is_stop"))
      .select(col("doc_id"), col("p"), col("i"), col("tok"))
    val phrases = members.groupBy(col("doc_id"), col("p"))
      .agg(count(lit(1)).as("len"),
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("i"), col("tok")))),
          x => x.getField("tok"))).as("phrase"))
    val wordScores = members
      .join(phrases.select(col("doc_id"), col("p"), col("len")),
        Seq("doc_id", "p"))
      .groupBy(col("tok"))
      .agg(floor(lit(1e6) * sum(col("len")).cast("double") /
        count(lit(1)).cast("double")).cast("long").as("wscore"))
    val scored = members.join(broadcast(wordScores), Seq("tok"))
      .groupBy(col("doc_id"), col("p"))
      .agg(sum(col("wscore")).as("score"))
    phrases.join(scored, Seq("doc_id", "p"))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"), min(col("score")).as("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(k)
  }

  // corpus stopwords: its two function words. Top 20 keyphrases — enough
  // to rank multi-word phrases above the singletons they contain.
  private def q187(s: SparkSession, dir: String): DataFrame =
    rakeKeyphrases(Tables.documents(s, dir), Seq("a", "the"), 20)

  private val q187Sql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, i, t[i] AS tok,
      |    t[i] IN ('a', 'the') AS is_stop
      |  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
      |seg AS (
      |  SELECT doc_id, i, tok, is_stop,
      |    sum(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (
      |      PARTITION BY doc_id ORDER BY i) AS p
      |  FROM pos),
      |mem AS (SELECT doc_id, p, i, tok FROM seg WHERE NOT is_stop),
      |plen AS (
      |  SELECT doc_id, p, CAST(count(*) AS BIGINT) AS len,
      |    string_agg(tok, ' ' ORDER BY i) AS phrase
      |  FROM mem GROUP BY 1, 2),
      |ws AS (
      |  SELECT tok, CAST(floor(1000000.0 * CAST(sum(len) AS DOUBLE) /
      |    CAST(count(*) AS DOUBLE)) AS BIGINT) AS wscore
      |  FROM mem JOIN plen USING (doc_id, p) GROUP BY 1),
      |psc AS (
      |  SELECT m.doc_id, m.p, CAST(sum(ws.wscore) AS BIGINT) AS score
      |  FROM mem m JOIN ws USING (tok) GROUP BY 1, 2)
      |SELECT pl.phrase, count(*) AS n_occurrences, min(psc.score) AS score
      |FROM plen pl JOIN psc ON pl.doc_id = psc.doc_id AND pl.p = psc.p
      |GROUP BY 1 ORDER BY min(psc.score) DESC, pl.phrase LIMIT 20""".stripMargin

  // ==== q211: TextRank keywords =============================================
  //
  // The graph-based counterpart of RAKE (Mihalcea & Tarau, "TextRank:
  // Bringing Order into Texts", EMNLP 2004): words vote for each other
  // through co-occurrence edges and PageRank finds the consensus — no
  // stopword list needed, frequency alone doesn't win, connectivity does.
  // Graph: one undirected edge per DISTINCT adjacent token pair (window
  // w = 2, the paper's default) across the corpus; ranks from the same
  // fixed-iteration [[Graph.symmetricPageRank]] kernel as q123 (one edge
  // join + one map-side-combined sum per power step; the pair union below
  // is symmetric, as the kernel requires). The graph lives on the
  // VOCABULARY domain — nodes = distinct tokens, edges = distinct
  // bigrams — so the corpus-sized work is exactly one adjacent-pair
  // projection + a distinct; everything after is vocab-sized. Top-k
  // orders by the ROUNDED rank with a lexicographic tie-break (the q37
  // discipline), so the cut is cross-engine stable.

  /** Top-`k` TextRank keywords (word, rank) over adjacent-pair
    * co-occurrence; `iterations` fixed power steps. */
  def textRankKeywords(docs: DataFrame, k: Int,
      iterations: Int = 5): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(Tok.ws(col("text"))).as(Seq("i", "tok")))
    val nxt = toks.select(col("doc_id"), (col("i") + 1).as("i"),
      col("tok").as("prev"))
    val pairs = toks.join(nxt, Seq("doc_id", "i"))
      .where(col("prev") =!= col("tok"))
      .select(col("prev").as("a"), col("tok").as("b"))
    val edges = pairs
      .select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    Graph.symmetricPageRank(edges, iterations)
      .select(col("node").as("word"),
        col("rank_scaled").cast(org.apache.spark.sql.types.DecimalType(38, 4))
          .as("rdec"))
      .orderBy(col("rdec").desc, col("word"))
      .limit(k)
      .select(col("word"), col("rdec").cast("string").as("rank"))
  }

  private def q211(s: SparkSession, dir: String): DataFrame =
    textRankKeywords(Tables.documents(s, dir), 25)

  private val q211Sql = {
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
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
       |  FROM documents),
       |adj AS (
       |  SELECT t[i] AS a, t[i + 1] AS b
       |  FROM toks, unnest(range(1, len(t))) AS u(i)
       |  WHERE t[i] <> t[i + 1]),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT a AS src, b AS dst FROM adj
       |    UNION ALL SELECT b AS src, a AS dst FROM adj)),
       |outd AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
       |n AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (
       |  SELECT node, CAST(1 AS DOUBLE) / n.n AS rank FROM nodes CROSS JOIN n),
       |${(1 to 5).map(iter).mkString(",\n")}
       |SELECT word, CAST(rdec AS VARCHAR) AS rank FROM (
       |  SELECT node AS word, CAST(rank * n.n AS DECIMAL(38,4)) AS rdec
       |  FROM r5 CROSS JOIN n
       |  ORDER BY rdec DESC, word LIMIT 25)
       |ORDER BY rdec DESC, word""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q187_rake_keyphrases", q187, Some(q187Sql)),
    QueryDef("q211_textrank", q211, Some(q211Sql)))
}
