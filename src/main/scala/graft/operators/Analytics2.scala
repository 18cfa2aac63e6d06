package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Closed-form ML and retrieval scoring: group-wise OLS regression from
  * moment sums (single-pass trend fitting) and BM25 document scoring (the
  * search-ranking function) — both in the exact-moment determinism
  * discipline the rest of the engine uses.
  */
object Analytics2 {

  /** q150: per-group ordinary least squares — value regressed on
    * hour-of-day per event_type (the "is this metric trending through the
    * day" readout), fit CLOSED-FORM from five moment sums (n, Σx, Σx²,
    * Σy, Σxy, Σy²) in ONE aggregation pass. No iterative solver, no
    * per-group collect: slope, intercept, and r² are scalar arithmetic on
    * the aggregate row — the single-pass shape that fits a trend per key
    * at any scale (the gradient-descent alternative shuffles the corpus
    * once per step; the moment form shuffles one row per group, once).
    *
    * Determinism: x is an exact integer (hour); integer moments sum as
    * BIGINT, y-moments quantize per-row to DECIMAL(38,6)
    * ([[graft.functions.OracleSafe]]); the fit derives from exact sums
    * through one fixed IEEE chain. */
  def q150GroupwiseOls(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .selectExpr("event_type", "CAST(hour(ts) AS BIGINT) AS x",
        "CAST(round(value, 6) AS DECIMAL(38,6)) AS y",
        "CAST(round(value * value, 6) AS DECIMAL(38,6)) AS yy")
      .selectExpr("event_type", "x", "y", "yy",
        "CAST(round(x * CAST(y AS DOUBLE), 6) AS DECIMAL(38,6)) AS xy")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y")).as("sy"), sum(col("xy")).as("sxy"),
        sum(col("yy")).as("syy"))
      // the fit runs on DOUBLE copies of every moment: n·sxx and sx² in
      // raw int64 wrap silently in Spark (and abort in DuckDB) once a
      // group passes ~4.2e8 rows — with x = hour ≤ 23, sxx ≤ 529n and
      // sx ≤ 23n put the products past 2^63 exactly in the at-scale
      // regime this operator targets (the q149/q232 pre-cast lesson).
      // At gate scale the integer moments are far below 2^53, so the
      // double products are bit-identical to the old integer path.
      .selectExpr("event_type", "n",
        "CAST(n AS DOUBLE) AS dn", "CAST(sx AS DOUBLE) AS dsx",
        "CAST(sxx AS DOUBLE) AS dsxx",
        "CAST(sy AS DOUBLE) AS dsy", "CAST(sxy AS DOUBLE) AS dsxy",
        "CAST(syy AS DOUBLE) AS dsyy")
      .selectExpr("event_type", "n",
        "(dn * dsxy - dsx * dsy) / (dn * dsxx - dsx * dsx) AS slope",
        "dsy AS dsy2", "dsxy AS dsxy2", "dsyy AS dsyy2",
        "dn", "dsx", "dsxx")
      .selectExpr("event_type", "n",
        "round(slope, 6) AS slope",
        "round((dsy2 - slope * dsx) / dn, 6) AS intercept",
        """round((dn * dsxy2 - dsx * dsy2) * (dn * dsxy2 - dsx * dsy2)
          |  / ((dn * dsxx - dsx * dsx) * (dn * dsyy2 - dsy2 * dsy2)), 6)
          |AS r2""".stripMargin)
      .orderBy("event_type")
  }

  val q150Sql: String =
    """WITH m AS (
      |  SELECT event_type,
      |    CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS x,
      |    CAST(round(value, 6) AS DECIMAL(38,6)) AS y,
      |    CAST(round(value * value, 6) AS DECIMAL(38,6)) AS yy,
      |    CAST(round(CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT)
      |      * CAST(CAST(round(value, 6) AS DECIMAL(38,6)) AS DOUBLE), 6)
      |      AS DECIMAL(38,6)) AS xy
      |  FROM events),
      |g AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(*) AS DOUBLE) AS dn,
      |    CAST(sum(x) AS DOUBLE) AS dsx, CAST(sum(x * x) AS DOUBLE) AS dsxx,
      |    CAST(sum(y) AS DOUBLE) AS dsy, CAST(sum(xy) AS DOUBLE) AS dsxy,
      |    CAST(sum(yy) AS DOUBLE) AS dsyy
      |  FROM m GROUP BY event_type),
      |f AS (
      |  SELECT event_type, n, dn, dsx, dsxx, dsy, dsxy, dsyy,
      |    (dn * dsxy - dsx * dsy) / (dn * dsxx - dsx * dsx) AS slope
      |  FROM g)
      |SELECT event_type, n,
      |  round(slope, 6) AS slope,
      |  round((dsy - slope * dsx) / dn, 6) AS intercept,
      |  round((dn * dsxy - dsx * dsy) * (dn * dsxy - dsx * dsy)
      |    / ((dn * dsxx - dsx * dsx) * (dn * dsyy - dsy * dsy)), 6) AS r2
      |FROM f ORDER BY event_type""".stripMargin

  private val bmTerms = Seq("data", "spark", "join")

  /** t151: BM25 retrieval scoring — every document scored against a fixed
    * query term set with the Okapi BM25 function (k1 = 1.2, b = 0.75), the
    * ranking behind inverted-index search over a curated corpus.
    *
    * Scale shape: the token explosion filters to the QUERY TERMS before any
    * aggregation (the inverted-index access pattern — posting lists, never
    * the full corpus vocabulary), tf aggregates map-side; df and the
    * corpus-wide length stats are term-count- and scalar-sized broadcasts.
    * One shuffle keyed by doc for tf + one for the final per-doc sum.
    *
    * Determinism: idf uses the RATIONAL form (N − df + 0.5)/(df + 0.5)
    * (t59's convention — the log-idf variant would hang the gate on libm);
    * per-(term, doc) contributions quantize to DECIMAL(38,6) before the
    * per-doc sum. */
  def t151Bm25(s: SparkSession, dir: String): DataFrame = {
    val termArr = bmTerms.map(t => s"'$t'").mkString("array(", ", ", ")")
    val docs = Tables.documents(s, dir)
    val toks = docs
      .selectExpr("doc_id", "explode(split(lower(text), ' ')) AS t")
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds lengths AND postings
    val lens = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
    val stats = lens.agg(count(lit(1)).as("n_docs"), sum(col("len")).as("tot"))
    val tf = toks.filter(array_contains(expr(termArr), col("t")))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "t")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .selectExpr("doc_id",
        """CAST(round(
          |  (n_docs - df + 0.5D) / (df + 0.5D) *
          |  tf * 2.2D / (tf + 1.2D * (0.25D + 0.75D * len
          |    / (CAST(tot AS DOUBLE) / n_docs))), 6)
          |AS DECIMAL(38,6)) AS c""".stripMargin)
      .groupBy("doc_id")
      .agg(sum(col("c")).as("sc"), count(lit(1)).as("n_terms_hit"))
      .selectExpr("doc_id", "n_terms_hit",
        "CAST(round(CAST(sc AS DOUBLE), 6) AS DOUBLE) AS bm25")
      .orderBy("doc_id")
  }

  val t151Sql: String = {
    val termList = bmTerms.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
       |  FROM documents),
       |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
       |stats AS (SELECT count(*) AS n_docs, sum(len) AS tot FROM lens),
       |tf AS (
       |  SELECT doc_id, t, count(*) AS tf FROM toks
       |  WHERE list_contains($termList, t) GROUP BY doc_id, t),
       |df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
       |c AS (
       |  SELECT doc_id,
       |    CAST(round(
       |      (n_docs - df + 0.5e0) / (df + 0.5e0) *
       |      tf * 2.2e0 / (tf + 1.2e0 * (0.25e0 + 0.75e0 * len
       |        / (CAST(tot AS DOUBLE) / n_docs))), 6)
       |    AS DECIMAL(38,6)) AS c
       |  FROM tf JOIN df USING (t) JOIN lens USING (doc_id) CROSS JOIN stats)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
       |  round(CAST(sum(c) AS DOUBLE), 6) AS bm25
       |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t199

  /** t199: quality-classifier training step — two unrolled FULL-BATCH
    * gradient-descent steps of a logistic-style linear model, the
    * distributed-training shape of a fasttext-grade quality filter
    * expressed as Spark aggregations.
    *
    * Supervision is LABEL DISTILLATION: y = (t35's heuristic quality
    * composite ≥ 0.55) — the setup where an expensive rule pipeline's
    * verdicts train a cheap linear scorer that replaces it (the CCNet
    * wiki-side construction). It is also the only honest choice on this
    * corpus: the synthetic lang/source labels are independent of the text
    * (measured — every non-English t36 profile score is identically zero),
    * so no text feature can learn them. The model sees the three composite
    * signals plus mean-token-length (a feature the label does NOT use) and
    * has to find the boundary itself; measured train accuracy ~0.88
    * against a 0.52 base rate at sf0.01.
    *
    * The two ingredients that make 2 steps from w = 0 actually learn:
    * features are CENTERED by their corpus means (decimal-exact, one extra
    * broadcast aggregate — without centering the boundary cannot leave the
    * origin in few steps and the model collapses to the majority vote),
    * and the gradient is CLASS-BALANCED (n/2n₊, n/2n₋ — zeroes the
    * base-rate pull on the bias).
    *
    * Scale shape: one step = one map-side pass quantizing per-row gradient
    * contributions to scaled longs + a 5-row aggregate; the weight vector
    * broadcasts back for the next step. No driver-side loop state beyond
    * the unroll — the corpus streams once per step regardless of size,
    * which is exactly how full-batch GD distributes.
    *
    * Determinism: the activation is the RATIONAL fast sigmoid
    * σ(z) = 0.5 + z/(2(1+|z|)) — same monotone S-curve, zero libm (exp
    * would hang the gate on engine-specific rounding, the t151 log-idf
    * lesson); gradients quantize per-row via floor-scale 1e6
    * ([[graft.functions.OracleSafe]] discipline) and sum exactly, so the
    * weights after each step are a pure function of the corpus in ANY
    * engine. Output: per-feature weights after each step + training
    * accuracy at the final weights (prediction = sign of the linear
    * score, threshold exact at 0). */
  def t199QualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val stopArr = TextAnalysis.stopEn.map(w => s"'$w'").mkString("array(", ", ", ")")
    // measured: SparkSupport.parallelized here is a net LOSS (1.61 →
    // 2.01 s at sf0.1): the sequential GD passes each reread the persisted
    // frame, and 32 cached partitions per pass cost more scheduling than
    // the one-task feature fold costs compute
    //
    // r15-opt, feature pass: native byte-scan kernels replace the
    // HOF/regexp forms (the t35 rewrite; counts integer-identical per
    // TextKernelExprsSpec): n_toks = spaces + 1, tok_chars = chars −
    // spaces, n_stop/n_alpha one byte scan each — the old projection
    // re-split the text once per HOF and materialized per-char matches.
    val raw = graft.Tables.documents(s, dir)
      .selectExpr("text", "lower(text) AS lw")
      .selectExpr(
        "length(text) AS n_chars",
        "ascii_count(lw, 32, 32) + 1 AS n_toks",
        "length(lw) - ascii_count(lw, 32, 32) AS tok_chars",
        s"stop_count(lw, $stopArr) AS n_stop",
        "ascii_count(lw, 97, 122) AS n_alpha")
      .selectExpr(
        "least(n_chars / 500.0D, 1.0D) AS f1",
        "least(n_stop / CAST(n_toks AS DOUBLE) * 5.0D, 1.0D) AS f2",
        "n_alpha / CAST(n_chars AS DOUBLE) AS f3",
        "least(tok_chars / CAST(n_toks AS DOUBLE) / 10.0D, 1.0D) AS f4")
      .selectExpr(
        "CAST(0.3D * f1 + 0.4D * f2 + 0.3D * f3 >= 0.55D AS INT) AS y",
        "f1", "f2", "f3", "f4")
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds means + the feature pass
    // r15-opt, pass structure: means AND class counts fuse into ONE
    // corpus aggregate (they were two separate full aggregates), the
    // counts ride the cached feature rows (three extra longs per row)
    // instead of a per-consumer broadcast(tot) rebuild, and the 5-row
    // weight tables w1/w2 are EAGERLY localCheckpoint'ed — without that,
    // every downstream reference (w1row, w2, w2row, acc, the output join)
    // re-ran the whole gradient lineage against the cache: measured 66
    // scheduled jobs for what is algorithmically 4 corpus passes (feature
    // build + grad1 + grad2 + accuracy). Values are unchanged: the same
    // exact integer counts and the same double quotients, computed once.
    val mt = raw.agg(
      (sum(col("f1").cast("decimal(38,12)")).cast("double") / count(lit(1))).as("m1"),
      (sum(col("f2").cast("decimal(38,12)")).cast("double") / count(lit(1))).as("m2"),
      (sum(col("f3").cast("decimal(38,12)")).cast("double") / count(lit(1))).as("m3"),
      (sum(col("f4").cast("decimal(38,12)")).cast("double") / count(lit(1))).as("m4"),
      count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    val feats = raw.crossJoin(broadcast(mt))
      .selectExpr("y",
        "array(1.0D, f1 - m1, f2 - m2, f3 - m3, f4 - m4) AS f",
        "n", "n_pos", "n - n_pos AS n_neg")
      .persist(StorageLevel.MEMORY_AND_DISK) // three passes: grad1, grad2, accuracy
    // class-balanced weights n/(2·n_pos), n/(2·n_neg): with ~44% positives
    // an unbalanced gradient just learns the base rate (every weight goes
    // negative, the model collapses to the majority vote — measured); the
    // standard imbalance correction zeroes the bias pull and lets the
    // feature signal drive. cw is a deterministic double from two exact
    // counts, identical in both engines.
    val cwExpr =
      "CASE WHEN y = 1 THEN n / (2.0D * n_pos) ELSE n / (2.0D * n_neg) END"
    // step 1 from w = 0: σ(0) = 0.5 exactly, so the gradient needs no model
    val w1 = feats
      .selectExpr("y", s"$cwExpr AS cw", "n", "posexplode(f) AS (j, x)")
      .selectExpr("j", "n",
        "CAST(floor(cw * (y - 0.5D) * x * 1e6D + 0.5D) AS DECIMAL(38,0)) AS g6")
      .groupBy("j").agg(sum(col("g6")).as("sg6"), max(col("n")).as("n"))
      .selectExpr("j", "CAST(sg6 AS DOUBLE) / n / 1e6D AS w")
      .localCheckpoint() // 5 rows; truncates the grad-1 lineage
    val w1row = w1.groupBy()
      .agg(expr("transform(array_sort(collect_list(struct(j, w))), e -> e.w)")
        .as("wa"))
    // step 2: broadcast w1, fast-sigmoid the linear score, one more pass
    val d2 = feats.crossJoin(broadcast(w1row))
      .withColumn("z",
        expr("aggregate(zip_with(f, wa, (x, w) -> x * w), 0D, (a, x) -> a + x)"))
      .withColumn("p", expr("0.5D + z / (2.0D * (1.0D + abs(z)))"))
      .selectExpr("y", "p", s"$cwExpr AS cw", "n", "posexplode(f) AS (j, x)")
      .selectExpr("j", "n",
        "CAST(floor(cw * (y - p) * x * 1e6D + 0.5D) AS DECIMAL(38,0)) AS g6")
      .groupBy("j").agg(sum(col("g6")).as("sg6"), max(col("n")).as("n"))
      .selectExpr("j", "CAST(sg6 AS DOUBLE) / n / 1e6D AS d")
    val w2 = w1.join(d2, "j").selectExpr("j", "w", "w + d AS w2")
      .localCheckpoint() // 5 rows; truncates the grad-2 lineage
    val w2row = w2.groupBy()
      .agg(expr("transform(array_sort(collect_list(struct(j, w2))), e -> e.w2)")
        .as("wa2"))
    val acc = feats.crossJoin(broadcast(w2row))
      .selectExpr(
        """CAST((aggregate(zip_with(f, wa2, (x, w) -> x * w), 0D,
          |  (a, x) -> a + x) >= 0D) = (y = 1) AS INT) AS ok""".stripMargin)
      .agg(sum(col("ok")).as("n_ok"), count(lit(1)).as("nn"))
      // floor-scale, not round(): the weights and accuracy are quotients of
      // exact integers and CAN land on representable 6th-decimal midpoints,
      // where round()'s tie-handling diverges cross-engine (the OracleSafe
      // lesson — s122/s132/s137 were migrated off round() for this).
      .selectExpr(
        "floor(n_ok / CAST(nn AS DOUBLE) * 1e6D + 0.5D) / 1e6D AS train_acc")
    w2.crossJoin(broadcast(acc))
      .selectExpr("j",
        """element_at(array('bias', 'len_c', 'stop_c', 'alpha_c',
          |  'mean_len_c'), j + 1) AS feature""".stripMargin,
        "floor(w * 1e6D + 0.5D) / 1e6D AS w_step1",
        "floor(w2 * 1e6D + 0.5D) / 1e6D AS w_step2", "train_acc")
      .orderBy("j")
  }

  val t199Sql: String = {
    val stopList = bmStopList
    s"""WITH raw AS MATERIALIZED (
       |  SELECT
       |    least(length(text) / 500.0e0, 1.0e0) AS f1,
       |    least(len(list_filter(string_split(lower(text), ' '),
       |        t -> list_contains($stopList, t)))
       |      / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) * 5.0e0,
       |      1.0e0) AS f2,
       |    len(regexp_extract_all(lower(text), '[a-z]'))
       |      / CAST(length(text) AS DOUBLE) AS f3,
       |    least(list_reduce(list_prepend(0, list_transform(
       |        string_split(lower(text), ' '), t -> length(t))), (a, x) -> a + x)
       |      / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) / 10.0e0,
       |      1.0e0) AS f4
       |  FROM documents),
       |lab AS MATERIALIZED (
       |  SELECT CAST(0.3e0 * f1 + 0.4e0 * f2 + 0.3e0 * f3 >= 0.55e0 AS INT) AS y,
       |    f1, f2, f3, f4
       |  FROM raw),
       |mu AS (
       |  SELECT
       |    CAST(sum(CAST(f1 AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS m1,
       |    CAST(sum(CAST(f2 AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS m2,
       |    CAST(sum(CAST(f3 AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS m3,
       |    CAST(sum(CAST(f4 AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS m4
       |  FROM lab),
       |feats AS MATERIALIZED (
       |  SELECT y, [1.0e0, f1 - m1, f2 - m2, f3 - m3, f4 - m4] AS f
       |  FROM lab, mu),
       |nn AS (SELECT count(*) AS n, sum(y) AS n_pos,
       |         count(*) - sum(y) AS n_neg FROM feats),
       |g1 AS (
       |  SELECT j, sum(CAST(floor(
       |      (CASE WHEN y = 1 THEN n / (2.0e0 * n_pos)
       |            ELSE n / (2.0e0 * n_neg) END)
       |      * (y - 0.5e0) * f[j] * 1e6 + 0.5e0) AS BIGINT)) AS sg6
       |  FROM feats, nn, (SELECT unnest(range(1, 6)) AS j) js GROUP BY j),
       |w1 AS (SELECT j, CAST(sg6 AS DOUBLE) / n / 1e6 AS w FROM g1, nn),
       |w1a AS (SELECT list(w ORDER BY j) AS wa FROM w1),
       |s2 AS MATERIALIZED (
       |  SELECT y, f,
       |    list_reduce(list_prepend(0.0e0, list_transform(range(1, 6),
       |      j -> f[j] * wa[j])), (a, x) -> a + x) AS z
       |  FROM feats, w1a),
       |g2 AS (
       |  SELECT j, sum(CAST(floor(
       |      (CASE WHEN y = 1 THEN n / (2.0e0 * n_pos)
       |            ELSE n / (2.0e0 * n_neg) END)
       |      * (y - (0.5e0 + z / (2.0e0 * (1.0e0 + abs(z)))))
       |      * f[j] * 1e6 + 0.5e0) AS BIGINT)) AS sg6
       |  FROM s2, nn, (SELECT unnest(range(1, 6)) AS j) js GROUP BY j),
       |w2 AS (SELECT w1.j, w1.w, w1.w + CAST(g2.sg6 AS DOUBLE) / n / 1e6 AS w2
       |       FROM w1 JOIN g2 ON w1.j = g2.j, nn),
       |w2a AS (SELECT list(w2 ORDER BY j) AS wa2 FROM w2),
       |accd AS (
       |  SELECT CAST((list_reduce(list_prepend(0.0e0, list_transform(range(1, 6),
       |      j -> f[j] * wa2[j])), (a, x) -> a + x) >= 0e0) = (y = 1) AS INT)
       |    AS ok
       |  FROM feats, w2a),
       |acc AS (SELECT floor(sum(ok) / CAST(count(*) AS DOUBLE) * 1e6 + 0.5e0)
       |          / 1e6 AS train_acc
       |        FROM accd)
       |SELECT CAST(w2.j - 1 AS INTEGER) AS j,
       |  (['bias', 'len_c', 'stop_c', 'alpha_c', 'mean_len_c'])[w2.j]
       |    AS feature,
       |  floor(w * 1e6 + 0.5e0) / 1e6 AS w_step1,
       |  floor(w2 * 1e6 + 0.5e0) / 1e6 AS w_step2, train_acc
       |FROM w2, acc ORDER BY j""".stripMargin
  }

  private def bmStopList: String =
    TextAnalysis.stopEn.map(w => s"'$w'").mkString("[", ", ", "]")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q150_groupwise_ols" -> q150GroupwiseOls,
    "t151_bm25"          -> t151Bm25,
    "t199_quality_classifier" -> t199QualityClassifier)

  val oracle: Map[String, String] = Map(
    "q150_groupwise_ols" -> q150Sql,
    "t151_bm25"          -> t151Sql,
    "t199_quality_classifier" -> t199Sql)
}
