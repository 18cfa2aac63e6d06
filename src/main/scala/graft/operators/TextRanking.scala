package graft.operators

import graft.Tables
import graft.functions.PortableHash.tokens
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Term scoring and fuzzy entity matching — the retrieval-side text
  * operators (keyword extraction for corpus curation, entity resolution
  * for record linkage).
  */
object TextRanking {

  /** t59: top-3 salient terms per document by tf-idf-family weighting,
    * selected with the custom [[graft.plans.TopKPerKey]] operator (its
    * second production use — per-doc top-k without sorting the full
    * (doc × term) score set).
    *
    * The weight is the RATIONAL form tf·(N+1)/(df+1): only IEEE-exact
    * arithmetic (+,·,/), so scores are bit-identical in any engine. The
    * classic log-idf variant changes only this one expression — and would
    * tie ranking to libm's `ln`, which IEEE leaves unspecified in the last
    * ulp and engines implement differently; a rank flip between two
    * near-equal scores would then break cross-engine reproducibility, which
    * at 100 TB means non-deterministic training corpora between engine
    * upgrades. Determinism is the design choice, not a test convenience. */
  def t59TfidfTerms(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = docs.selectExpr("doc_id", s"explode($tokens) AS t")
    // r15-opt: tf persists and df DERIVES from it (df = rows per term of
    // the distinct (doc, term) table — same value as countDistinct over
    // the raw stream) instead of a second full-stream distinct aggregate;
    // n_docs = the documents row count (every doc tokenizes to ≥ 1 row,
    // doc_id is the table key), replacing a third full-stream
    // countDistinct. One corpus pass total where three ran before.
    val tf = toks.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // df is VOCABULARY-sized (one row per distinct token — billions on a
    // large corpus), not metadata-sized: no broadcast hint. tf and df are
    // both keyed by t, so this plans as an ordinary shuffle join, and AQE
    // still broadcasts at runtime when the vocabulary turns out small
    // (t151's df IS hinted — it filters to the 3 query terms first).
    // Only the 1-row n crosses by broadcast.
    val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "t").crossJoin(broadcast(n))
      .select(col("doc_id"), col("t"),
        (col("tf") * (col("n_docs") + 1.0) / (col("df") + 1.0)).as("score"))
    graft.plans.TopKPerKey(scored, Seq("doc_id"),
        Seq("score" -> false, "t" -> true), 3)
      .withColumn("term_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("score").desc, col("t"))))
      .select(col("doc_id"), col("term_rank"), col("t").as("term"),
        round(col("score"), 6).as("score"))
      .orderBy("doc_id", "term_rank")
  }

  val t59Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents),
      |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM toks GROUP BY doc_id, t),
      |df AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY t),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks),
      |scored AS (
      |  SELECT doc_id, t, tf * (n_docs + 1.0) / (df + 1.0) AS score
      |  FROM tf JOIN df USING (t) CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, t, score,
      |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, t)
      |      AS INTEGER) AS term_rank
      |  FROM scored)
      |SELECT doc_id, term_rank, t AS term, round(score, 6) AS score
      |FROM ranked WHERE term_rank <= 3
      |ORDER BY doc_id, term_rank""".stripMargin

  /** q60: blocked fuzzy entity matching (record linkage): supplier names
    * pair up within a suffix block (the last char — candidates share it),
    * then exact levenshtein ≤ 1 verifies: the distance is measured over the
    * UNBLOCKED positions, so the verify step rejects real candidates (names
    * differing in 2+ leading positions), not just rubber-stamps the block.
    * Blocking bounds the
    * comparison count to Σ block² — the same sketch→candidate→verify shape
    * as the dedup suite, with edit distance as the verifier. */
  def q60FuzzyEntity(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_name"),
        expr("substring(s_name, length(s_name), 1)").as("block"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    names.as("a").join(names.as("b"),
        col("a.block") === col("b.block") && col("a.s_suppkey") < col("b.s_suppkey"))
      .select(col("a.s_suppkey").as("id1"), col("b.s_suppkey").as("id2"),
        levenshtein(col("a.s_name"), col("b.s_name")).as("dist"))
      .filter(col("dist") <= 1)
      .orderBy("id1", "id2")
  }

  val q60Sql: String =
    """WITH n AS (
      |  SELECT s_suppkey, s_name,
      |    substring(s_name, length(s_name), 1) AS block
      |  FROM supplier)
      |SELECT a.s_suppkey AS id1, b.s_suppkey AS id2,
      |  CAST(levenshtein(a.s_name, b.s_name) AS INTEGER) AS dist
      |FROM n a JOIN n b ON a.block = b.block AND a.s_suppkey < b.s_suppkey
      |WHERE levenshtein(a.s_name, b.s_name) <= 1
      |ORDER BY id1, id2""".stripMargin

  /** q61: the full window-function battery over customer-by-nation — lag,
    * lead, ntile, cume_dist, first/last value. All partition-bounded (the
    * shuffle is keyed by nation); cume_dist is a rational rank/count, so
    * cross-engine exact. */
  def q61WindowBattery(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c_nationkey").orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, dir)
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
      .withColumn("prev_bal", lag(col("c_acctbal"), 1).over(w))
      .withColumn("next_bal", lead(col("c_acctbal"), 1).over(w))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .withColumn("richest", first(col("c_custkey")).over(w))
      .filter(col("c_custkey") % 10 === 0)
      .orderBy("c_nationkey", "c_custkey")
  }

  val q61Sql: String =
    """SELECT * FROM (
      |  SELECT c_nationkey, c_custkey, c_acctbal,
      |    lag(c_acctbal, 1) OVER w AS prev_bal,
      |    lead(c_acctbal, 1) OVER w AS next_bal,
      |    CAST(ntile(4) OVER w AS INTEGER) AS quartile,
      |    round(cume_dist() OVER w, 6) AS cume,
      |    first_value(c_custkey) OVER w AS richest
      |  FROM customer
      |  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey))
      |WHERE c_custkey % 10 = 0
      |ORDER BY c_nationkey, c_custkey""".stripMargin

  /** q133: q60's verify pass through the native banded-Levenshtein kernel
    * ([[graft.catalyst.BandedLevenshtein]], `lev_within(a, b, 1)`) instead
    * of the full-matrix built-in — identical output (shares q60's oracle,
    * the s46/s38 pattern), O(k·n) per candidate pair instead of O(n·m),
    * with the |len diff| > k pre-check rejecting most pairs before the DP.
    * At 100 TB the blocked-pair verify is the hot loop of entity
    * resolution; the cutoff kernel is what makes it affordable. */
  def q133FuzzyNative(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_name"),
        expr("substring(s_name, length(s_name), 1)").as("block"))
      // both self-join sides; released by the caller's clearCache() —
      // see the lifetime note at Similarity.s132KmeansStep
      .persist(StorageLevel.MEMORY_AND_DISK)
    names.as("a").join(names.as("b"),
        col("a.block") === col("b.block") && col("a.s_suppkey") < col("b.s_suppkey"))
      .select(col("a.s_suppkey").as("id1"), col("b.s_suppkey").as("id2"),
        expr("lev_within(a.s_name, b.s_name, 1)").as("dist"))
      .filter(col("dist") <= 1)
      .orderBy("id1", "id2")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q133_fuzzy_native"  -> q133FuzzyNative,
    "t59_tfidf_terms"    -> t59TfidfTerms,
    "q60_fuzzy_entity"   -> q60FuzzyEntity,
    "q61_window_battery" -> q61WindowBattery)

  val oracle: Map[String, String] = Map(
    "q133_fuzzy_native"  -> q60Sql,
    "t59_tfidf_terms"    -> t59Sql,
    "q60_fuzzy_entity"   -> q60Sql,
    "q61_window_battery" -> q61Sql)
}
