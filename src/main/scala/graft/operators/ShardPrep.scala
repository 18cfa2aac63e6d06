package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shard-preparation operators, fourth training-pipeline batch (round 2):
  * sequence packing, mixture sampling, repetition-based quality metrics, and
  * event funnel analysis. These cover the last mile between a curated corpus
  * and training shards (pack/mix), the Gopher/C4-style repetition filters
  * that run before packing, and the product-analytics funnel shape over the
  * events table. The reference pipeline (SURVEY.md §2) has no analogue —
  * all north-star extension surface, every query DuckDB-oracle-checked.
  */
object ShardPrep {

  /** t100: sequence packing — concat-then-chunk assignment of documents to
    * fixed 256-token context windows, the standard pretraining shard layout.
    * Each doc's token span is its per-source running offset; `pack_id` is
    * the window containing the span start and `crosses` marks docs straddling
    * a window boundary (the attention-masking case).
    *
    * Scale shape: the running sum partitions by `source`, so packing is
    * embarrassingly parallel across sources/shards — one shuffle keyed by
    * source, sequential only WITHIN a source (which is how real packers run:
    * one worker per shard). A global (unpartitioned) cumsum would serialize
    * the corpus through one task at 100 TB. Integer division (`div`) keeps
    * window ids exact — token offsets exceed double's 2^53 exactness long
    * before 100 TB. */
  def t100SequencePack(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .selectExpr("source", "doc_id",
        "size(split(lower(text), ' ')) AS n_tokens")
      .withColumn("start_pos",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .selectExpr("source", "doc_id", "n_tokens", "start_pos",
        "start_pos div 256 AS pack_id",
        "CAST((start_pos + n_tokens - 1) div 256 > start_pos div 256 AS INT) AS crosses")
      .orderBy("source", "doc_id")
  }

  val t100Sql: String =
    """WITH t AS (
      |  SELECT source, doc_id,
      |    CAST(len(string_split(lower(text),' ')) AS INTEGER) AS n_tokens
      |  FROM documents),
      |p AS (
      |  SELECT source, doc_id, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS start_pos
      |  FROM t)
      |SELECT source, doc_id, n_tokens, start_pos,
      |  start_pos // 256 AS pack_id,
      |  CAST((start_pos + n_tokens - 1) // 256 > start_pos // 256 AS INTEGER) AS crosses
      |FROM p ORDER BY source, doc_id""".stripMargin

  /** t101: mixture sampling — downsample every source to the same token
    * budget (the smallest source's total), the "data mixing" step that turns
    * raw source proportions into a target training mixture. Rates become
    * integer thresholds against the q75 LCG of the doc id, so selection is a
    * pure function of the data: reproducible across engines, runs, and
    * partitionings, with no RNG state.
    *
    * Scale shape: pass 1 is a per-source hash agg (|sources| rows — tiny,
    * broadcast back); pass 2 is map-side filter + re-aggregation. Nothing
    * driver-side, nothing quadratic; the broadcast join is the planner's
    * choice for a 20-row dimension. */
  def t101MixSample(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(s, dir)
      .selectExpr("source", "doc_id",
        "size(split(lower(text), ' ')) AS n_tokens")
    val totals = t.groupBy("source").agg(sum("n_tokens").as("total_tokens"))
    val target = totals.agg(min("total_tokens").as("target"))
    val rates = totals.crossJoin(broadcast(target))
      .withColumn("thresh",
        floor(col("target").cast("double") / col("total_tokens") * 1048576)
          .cast("long"))
      .select("source", "total_tokens", "thresh")
    t.join(broadcast(rates), Seq("source"))
      .withColumn("keep",
        expr(graft.functions.PortableHash.lcgSplit("doc_id", 1048576L)) <
          col("thresh"))
      .groupBy("source")
      .agg(min(col("total_tokens")).as("total_tokens"),
        min(col("thresh")).as("thresh"),
        sum(when(col("keep"), 1).otherwise(0)).as("n_kept"),
        sum(when(col("keep"), col("n_tokens")).otherwise(0L)).as("kept_tokens"))
      .orderBy("source")
  }

  val t101Sql: String =
    s"""WITH t AS (
      |  SELECT source, doc_id,
      |    len(string_split(lower(text),' ')) AS n_tokens FROM documents),
      |totals AS (
      |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      |  FROM t GROUP BY 1),
      |rates AS (
      |  SELECT source, total_tokens,
      |    CAST(floor(CAST((SELECT min(total_tokens) FROM totals) AS DOUBLE)
      |      / total_tokens * 1048576) AS BIGINT) AS thresh
      |  FROM totals),
      |k AS (
      |  SELECT t.source, n_tokens, total_tokens, thresh,
      |    ${graft.functions.PortableHash.lcgSplitDuck("doc_id", 1048576L)} < thresh AS keep
      |  FROM t JOIN rates ON t.source = rates.source)
      |SELECT source, min(total_tokens) AS total_tokens, min(thresh) AS thresh,
      |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT)
      |    AS kept_tokens
      |FROM k GROUP BY source ORDER BY source""".stripMargin

  /** t102: repetition metrics — the Gopher/C4-style quality signals that
    * catch degenerate (looping, boilerplate) documents: distinct-token
    * ratio, top-token share, and the fraction of word bigrams occurring
    * more than once.
    *
    * Scale shape: per-DOCUMENT metrics are embarrassingly parallel, so the
    * whole computation is MAP-SIDE — sort the token (and bigram) array per
    * row, then one fold counts run boundaries (distinct count), the longest
    * run (top-token count), and the mass of runs longer than 1 (duplicated
    * grams). O(t log t) per doc, zero shuffles before the presentation
    * sort. The earlier formulation exploded to (doc, term) rows and
    * aggregated twice — correct, but it shuffles every token of the corpus
    * to compute facts that never leave their row (measured 7× slower at
    * sf0.1). The grouped shape remains right for CROSS-document statistics
    * (t59's TF-IDF); within-document ones belong in the row. The
    * `is_repetitive` flag derives from unrounded ratios (see t35's
    * round-midpoint note). */
  def t102Repetition(s: SparkSession, dir: String): DataFrame = {
    // run-length fold over the SORTED array: `neq` marks run boundaries
    // greatest(·, 0): an EMPTY array (a 1-token doc has no bigrams) makes
    // size-1 negative, and slice throws on a negative length
    def neq(arr: String) =
      s"zip_with(slice($arr, 1, greatest(size($arr) - 1, 0)), " +
        s"slice($arr, 2, greatest(size($arr) - 1, 0)), " +
        "(a, b) -> IF(a = b, 0, 1))"
    Tables.documents(s, dir)
      .selectExpr("doc_id",
        "array_sort(split(lower(text), ' ')) AS st",
        // seqAsc: a 1-token doc has no bigram — the raw sequence would
        // descend and the slice start 0 throws (the q136 lesson)
        s"""array_sort(transform(${graft.functions.PortableHash
            .seqAsc("1", "size(split(lower(text),' ')) - 1")},
          |  i -> concat_ws(' ', slice(split(lower(text),' '), i, 2)))) AS sg"""
          .stripMargin)
      .selectExpr("doc_id",
        "CAST(size(st) AS BIGINT) AS n_tokens",
        s"CAST(1 + aggregate(${neq("st")}, 0, (x, y) -> x + y) AS BIGINT) AS n_distinct",
        s"""aggregate(${neq("st")},
           |  struct(1 AS run, 1 AS best),
           |  (acc, x) -> IF(x = 1, struct(1 AS run, acc.best AS best),
           |    struct(acc.run + 1 AS run, greatest(acc.best, acc.run + 1) AS best)),
           |  acc -> CAST(acc.best AS BIGINT)) AS top_tok_cnt""".stripMargin,
        "CAST(size(sg) AS BIGINT) AS n_grams",
        s"""aggregate(${neq("sg")},
           |  struct(1 AS run, 0L AS acc2),
           |  (s, x) -> IF(x = 1,
           |    struct(1 AS run, s.acc2 + IF(s.run > 1, CAST(s.run AS BIGINT), 0L) AS acc2),
           |    struct(s.run + 1 AS run, s.acc2 AS acc2)),
           |  s -> s.acc2 + IF(s.run > 1, CAST(s.run AS BIGINT), 0L)) AS dup_grams"""
          .stripMargin)
      .selectExpr("doc_id", "n_tokens",
        "round(n_distinct / CAST(n_tokens AS DOUBLE), 6) AS distinct_ratio",
        "round(top_tok_cnt / CAST(n_tokens AS DOUBLE), 6) AS top_token_share",
        // a 1-token doc has no bigrams: its duplication fraction is 0 by
        // definition (nothing to repeat), not a 0/0 ANSI error and not a
        // dropped row — quality reports must cover every document
        "round(IF(n_grams = 0, 0D, dup_grams / CAST(n_grams AS DOUBLE)), 6)" +
          " AS dup_bigram_frac",
        "CAST(n_grams > 0 AND dup_grams / CAST(greatest(n_grams, 1) AS DOUBLE)" +
          " > 0.2 AS INT) AS is_repetitive")
      .orderBy("doc_id")
  }

  val t102Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text),' ')) AS tok FROM documents),
      |tc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1,2),
      |td AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
      |    max(c) AS top_tok_cnt
      |  FROM tc GROUP BY 1),
      |grams AS (
      |  SELECT doc_id, unnest(list_transform(
      |    range(1, len(string_split(lower(text),' '))),
      |    i -> array_to_string((string_split(lower(text),' '))[i:i+1], ' '))) AS g
      |  FROM documents),
      |gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1,2),
      |gd AS (
      |  SELECT doc_id, sum(c) AS n_grams,
      |    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_grams
      |  FROM gc GROUP BY 1)
      |SELECT doc_id, n_tokens,
      |  round(n_distinct / CAST(n_tokens AS DOUBLE), 6) AS distinct_ratio,
      |  round(top_tok_cnt / CAST(n_tokens AS DOUBLE), 6) AS top_token_share,
      |  round(CASE WHEN coalesce(n_grams, 0) = 0 THEN 0
      |        ELSE dup_grams / CAST(n_grams AS DOUBLE) END, 6)
      |    AS dup_bigram_frac,
      |  CAST(coalesce(n_grams, 0) > 0
      |       AND dup_grams / CAST(n_grams AS DOUBLE) > 0.2 AS INTEGER)
      |    AS is_repetitive
      |FROM td LEFT JOIN gd USING (doc_id) ORDER BY doc_id""".stripMargin

  /** q104: event funnel — strictly-ordered view → click → purchase
    * conversion with mean stage delays. Each stage is a conditional-min
    * aggregation keyed by user_id; stages chain by equi-join on the same
    * key, so at scale every hop is co-partitioned on user_id and nothing
    * re-shuffles (the canonical funnel plan — never a per-user sort or a
    * session reconstruction). Delays sum exactly as integer microseconds;
    * the single double division happens once at the end. */
  def q104EventFunnel(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS us")
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("us") > col("t_view"))
      .groupBy("user_id")
      .agg(min("us").as("t_click"), min("t_view").as("t_view2"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("us") > col("t_click"))
      .groupBy("user_id")
      .agg(min("us").as("t_purchase"), min("t_click").as("t_click2"))
    e.select("user_id").distinct().agg(count(lit(1)).as("n_users"))
      .crossJoin(v.agg(count(lit(1)).as("n_view")))
      .crossJoin(c.agg(count(lit(1)).as("n_click"),
        sum(col("t_click") - col("t_view2")).as("d1")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase"),
        sum(col("t_purchase") - col("t_click2")).as("d2")))
      .selectExpr("n_users", "n_view", "n_click", "n_purchase",
        "round(CAST(d1 AS DOUBLE) / n_click / 3600000000.0D, 4) AS view_to_click_h",
        "round(CAST(d2 AS DOUBLE) / n_purchase / 3600000000.0D, 4) AS click_to_purchase_h")
  }

  val q104Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |v AS (SELECT user_id, min(us) AS t_view FROM e
      |      WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(us) AS t_click, min(t_view) AS t_view2
      |      FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND us > t_view GROUP BY 1),
      |p AS (SELECT e.user_id, min(us) AS t_purchase, min(t_click) AS t_click2
      |      FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND us > t_click GROUP BY 1)
      |SELECT
      |  (SELECT count(DISTINCT user_id) FROM e) AS n_users,
      |  (SELECT count(*) FROM v) AS n_view,
      |  (SELECT count(*) FROM c) AS n_click,
      |  (SELECT count(*) FROM p) AS n_purchase,
      |  round((SELECT CAST(sum(t_click - t_view2) AS DOUBLE) FROM c)
      |    / (SELECT count(*) FROM c) / 3600000000.0, 4) AS view_to_click_h,
      |  round((SELECT CAST(sum(t_purchase - t_click2) AS DOUBLE) FROM p)
      |    / (SELECT count(*) FROM p) / 3600000000.0, 4) AS click_to_purchase_h"""
      .stripMargin

  // ---------------------------------------------------------------- t291

  /** t291: domain REWEIGHTING — the DoReMi shape (Xie et al. 2023,
    * "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    * Pretraining"): start from the baseline token-share mixture, measure
    * each domain's EXCESS loss over the corpus mean, and run clipped
    * multiplicative-weights rounds that shift budget toward
    * high-excess-loss domains (the domains a proxy model finds hardest are
    * the ones worth upsampling). Where t101 DRAWS a mixture and t156
    * importance-weights documents, this computes the per-DOMAIN budget the
    * other two consume.
    *
    * Determinism (the whole algorithm is exact integer arithmetic — no
    * libm, no accumulation-order dependence):
    *  - the loss proxy is each doc's repetition fraction
    *    1 − |distinct tokens|/|tokens| (t102's top-line signal — exact
    *    small-integer ratios), floor-scale quantized per doc and summed as
    *    longs; per-domain and corpus means use integer DIV;
    *  - the multiplicative update is RATIONAL: w ← w·(1 + η·excess) with
    *    η = 4, not w·exp(η·excess) — same monotone direction, zero libm
    *    (the t151/t199 discipline); weights live at 1e6 fixed point, every
    *    product bounded under 2^63;
    *  - each round renormalizes by integer DIV, then projects onto the
    *    25%-capped simplex by FIXPOINT redistribution: capped domains pin
    *    to the cap and their surplus redistributes proportionally over
    *    the uncapped ones, repeated 4 times — once a domain caps it stays
    *    capped (redistribution only grows uncapped weights), and at most
    *    4 domains can be capped at cap = 1/4, so 4 monotone passes REACH
    *    the fixpoint for any input. (A single cap-then-renormalize would
    *    scale capped domains straight back above the cap whenever the cap
    *    binds — the projection failing exactly in the pathological-domain
    *    regime it exists for.) 3 outer rounds. When |domains|·cap < 1 the
    *    capped simplex is INFEASIBLE (under 4 domains at cap = 1/4) — the
    *    projection is skipped and the normalized weights stand, so the
    *    emitted budget always sums to ~1.
    *
    * Scale shape: one map-side per-doc projection + one per-source
    * aggregate; the iteration itself runs driver-side on the collected
    * |domains|-row state — the s140 split (the cluster folds the corpus,
    * the driver solves the simplex-sized problem; a metadata-sized
    * collect, the lakehouse-manifest pattern). At 100 TB the corpus is
    * read once. */
  def t291DomainReweight(s: SparkSession, dir: String): DataFrame = {
    val eta = 4L
    val cap6 = 250000L // 0.25 at 1e6 fixed point
    val perSrc = Tables.documents(s, dir)
      .selectExpr("source",
        "size(split(lower(text), ' ')) AS n_tokens",
        """CAST(floor((1.0D - size(array_distinct(split(lower(text), ' ')))
          |  / CAST(size(split(lower(text), ' ')) AS DOUBLE)) * 1e6D + 0.5D)
          |AS BIGINT) AS rep6""".stripMargin)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("tokens"),
        sum(col("rep6")).as("srep6"))
    val tot = perSrc.agg(sum(col("n_docs")).as("nd"),
      sum(col("tokens")).as("tt"), sum(col("srep6")).as("sr"))
    val base = perSrc.crossJoin(broadcast(tot))
      .selectExpr("source", "n_docs", "tokens",
        "srep6 DIV n_docs AS loss6",
        "sr DIV nd AS lbar6",
        // token share at 1e6 through DECIMAL: tokens·1e6 in raw int64
        // would wrap past ~9.2e12 tokens — inside the target scale
        "CAST(CAST(tokens AS DECIMAL(38,0)) * 1000000 DIV tt AS BIGINT) AS w6")
      .selectExpr("source", "n_docs", "tokens", "loss6",
        "greatest(loss6 - lbar6, 0L) AS e6", "w6", "w6 AS w0_6")
    // the iteration runs on the DRIVER over the collected |domains|-row
    // state — the s140 split (cluster folds the corpus, driver solves the
    // matrix/simplex-sized problem): 15 dependent normalize/project steps
    // as chained crossJoin-on-aggregate plans double the LOGICAL tree per
    // step (each step references its input twice) and blow up the
    // optimizer, while the same integer arithmetic on 20 collected rows
    // is exact, trivially deterministic, and free. w6 ≤ 1e6, multiplier
    // ≤ 5e6 ⇒ every product stays under 2^63.
    val doms = base.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    var w = doms.map(d => d._1 -> d._7).toMap
    val e6 = doms.map(d => d._1 -> d._5).toMap
    for (_ <- 1 to 3) {
      val raw = w.map { case (k, v) => k -> v * (1000000L + eta * e6(k)) }
      val sraw = raw.values.sum
      w = raw.view.mapValues(r => r * 1000000L / sraw).toMap
      // the capped simplex is FEASIBLE only when |domains|·cap ≥ 1
      // (fewer than 4 domains at cap = 1/4 cannot sum to 1 once capped);
      // in the infeasible regime the projection is skipped and the
      // normalized weights stand — w_final always sums to ~1 instead of
      // silently pinning every domain to 0.25 with a |domains|·0.25 < 1
      // total (mirrored in the oracle's capPass guard and ShardPrepSpec)
      if (w.size * cap6 >= 1000000L) {
        for (_ <- 1 to 4) {
          val over = w.values.map(v => math.max(v - cap6, 0L)).sum
          val uncap = w.values.filter(_ < cap6).sum
          w = w.view.mapValues { v =>
            if (v >= cap6) cap6
            else if (uncap == 0L) v
            else v + over * v / uncap
          }.toMap
        }
      }
    }
    import s.implicits._
    // position 7 IS w0_6 (base aliases w6 to both; binding the working
    // copy instead would silently report the wrong base weight if a
    // future edit ever mutated w6 in the frame)
    doms.toSeq.map { case (src, nDocs, tokens, loss6, ee6, _, w06) =>
      (src, nDocs, tokens, loss6 / 1e6, ee6 / 1e6, w06 / 1e6, w(src) / 1e6)
    }.toDF("source", "n_docs", "tokens", "loss", "excess", "w_base", "w_final")
      .orderBy("source")
  }

  /** t291's oracle, with the round/projection CTE chain GENERATED from
    * the same round and pass counts the Spark side uses — the unrolled
    * structure cannot drift from the algorithm's shape. */
  val t291Sql: String = {
    val cols = "source, n_docs, tokens, loss6, e6, w0_6"
    def mulNorm(r: Int, prev: String): String =
      s"""r${r}m AS MATERIALIZED (SELECT $cols,
         |  w6 * (1000000 + 4 * e6) AS raw FROM $prev),
         |r${r}n AS MATERIALIZED (SELECT $cols,
         |  CAST(raw * 1000000 // (SELECT sum(raw) FROM r${r}m) AS BIGINT)
         |    AS w6 FROM r${r}m)""".stripMargin
    def capPass(r: Int, pass: Int, prev: String): String =
      s"""r${r}p$pass AS MATERIALIZED (SELECT $cols,
         |  CASE WHEN (SELECT count(*) FROM $prev) * 250000 < 1000000 THEN w6
         |       WHEN w6 >= 250000 THEN 250000
         |       WHEN (SELECT sum(CASE WHEN w6 < 250000 THEN w6 ELSE 0 END)
         |             FROM $prev) = 0 THEN w6
         |       ELSE CAST(w6 +
         |         (SELECT sum(greatest(w6 - 250000, 0)) FROM $prev) * w6 //
         |         (SELECT sum(CASE WHEN w6 < 250000 THEN w6 ELSE 0 END)
         |          FROM $prev) AS BIGINT) END AS w6
         |  FROM $prev)""".stripMargin
    val rounds = (1 to 3).map { r =>
      val in = if (r == 1) "b" else s"r${r - 1}p4"
      (Seq(mulNorm(r, in)) ++
        (1 to 4).map(p => capPass(r, p, if (p == 1) s"r${r}n" else s"r${r}p${p - 1}")))
        .mkString(",\n")
    }.mkString(",\n")
    s"""WITH d AS MATERIALIZED (
       |  SELECT source,
       |    len(string_split(lower(text), ' ')) AS n_tokens,
       |    CAST(floor((1.0 - len(list_distinct(string_split(lower(text), ' ')))
       |      / CAST(len(string_split(lower(text), ' ')) AS DOUBLE)) * 1e6
       |      + 0.5e0) AS BIGINT) AS rep6
       |  FROM documents),
       |ps AS MATERIALIZED (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS tokens,
       |    CAST(sum(rep6) AS BIGINT) AS srep6
       |  FROM d GROUP BY source),
       |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nd,
       |        CAST(sum(tokens) AS BIGINT) AS tt,
       |        CAST(sum(srep6) AS BIGINT) AS sr FROM ps),
       |b AS MATERIALIZED (
       |  SELECT source, n_docs, tokens,
       |    srep6 // n_docs AS loss6,
       |    greatest(srep6 // n_docs - sr // nd, 0) AS e6,
       |    CAST(CAST(tokens AS HUGEINT) * 1000000 // tt AS BIGINT) AS w0_6,
       |    CAST(CAST(tokens AS HUGEINT) * 1000000 // tt AS BIGINT) AS w6
       |  FROM ps, t),
       |$rounds
       |SELECT source, n_docs, tokens,
       |  CAST(loss6 AS DOUBLE) / 1e6 AS loss,
       |  CAST(e6 AS DOUBLE) / 1e6 AS excess,
       |  CAST(w0_6 AS DOUBLE) / 1e6 AS w_base,
       |  CAST(w6 AS DOUBLE) / 1e6 AS w_final
       |FROM r3p4 ORDER BY source""".stripMargin
  }

  /** t296: UniMax language-budget allocation (Chung et al. 2023, "UniMax:
    * Fairer and More Effective Language Sampling for Large-Scale
    * Multilingual Pretraining") — given a token budget (half the corpus)
    * and an epoch cap (4), allocate per-LANGUAGE budgets by ascending-
    * capacity waterfill: smallest-capacity language first, each takes
    * min(epoch_cap·its_tokens, fair share of what remains). Low-resource
    * languages get their full capped allocation; the surplus flows to
    * high-resource ones — the fairness property proportional sampling
    * lacks and temperature sampling only approximates. Completes the
    * mixture quartet: t101 draws a mixture, t291 reweights by loss,
    * t156 weights documents, t296 budgets LANGUAGES.
    *
    * Determinism: the fold is exact long sums; the waterfill is integer
    * DIV arithmetic over the (capacity, lang)-sorted language list, so
    * the oracle's unrolled 8-step chain reproduces it bit-for-bit (at
    * most 8 languages — guarded; the testdata corpus has 5). epochs and
    * share quantize at 1e6 fixed point.
    *
    * Scale shape: the corpus folds to |languages| rows in one map-side
    * aggregate; the waterfill runs driver-side on the collected handful
    * of rows (the s140/t291 split — cluster folds the corpus, driver
    * solves the simplex-sized problem). */
  def t296UnimaxBudget(s: SparkSession, dir: String): DataFrame = {
    val epochCap = 4L
    val rows = Tables.documents(s, dir)
      .selectExpr("lang", "size(split(lower(text), ' ')) AS n")
      .groupBy("lang").agg(sum(col("n").cast("long")).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(rows.length <= 8, s"oracle chain unrolls 8 steps, got ${rows.length} languages")
    val budget = rows.map(_._2).sum / 2
    val ordered = rows.map { case (l, c) => (l, c, epochCap * c) }
      .sortBy { case (l, _, cap) => (cap, l) }
    var rem = budget
    val alloc = ordered.zipWithIndex.map { case ((l, c, cap), i) =>
      val share = rem / (ordered.length - i)
      val a = math.min(cap, share)
      rem -= a
      (l, c, cap, a)
    }
    import s.implicits._
    alloc.toSeq.map { case (l, c, cap, a) =>
      (l, c, cap, a, (a * 1000000L / c) / 1e6, (a * 1000000L / budget) / 1e6)
    }.toDF("lang", "n_tokens", "cap", "alloc", "epochs", "share")
      .orderBy("lang")
  }

  /** t296's oracle: the waterfill unrolled to 8 steps, each a scalar
    * least(capacity, remaining // langs-left) with missing-step guards —
    * generated from the same step count the Spark side requires. */
  val t296Sql: String = {
    val steps = (1 to 8).map { i =>
      s"""a$i AS (SELECT least(coalesce((SELECT cap FROM o WHERE rn = $i), 0),
         |  (SELECT rem FROM r${i - 1}) // greatest((SELECT k FROM b) - ${i - 1}, 1)) AS a),
         |r$i AS (SELECT (SELECT rem FROM r${i - 1}) - (SELECT a FROM a$i) AS rem)""".stripMargin
    }.mkString(",\n")
    val cases = (1 to 8).map(i => s"WHEN $i THEN (SELECT a FROM a$i)")
      .mkString(" ")
    s"""WITH lc AS MATERIALIZED (
       |  SELECT lang,
       |    CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS c
       |  FROM documents GROUP BY lang),
       |b AS (SELECT CAST(sum(c) // 2 AS BIGINT) AS budget,
       |        count(*) AS k FROM lc),
       |o AS MATERIALIZED (
       |  SELECT lang, c, 4 * c AS cap,
       |    CAST(row_number() OVER (ORDER BY 4 * c, lang) AS BIGINT) AS rn
       |  FROM lc),
       |r0 AS (SELECT budget AS rem FROM b),
       |$steps
       |SELECT lang, c AS n_tokens, cap,
       |  CASE rn $cases END AS alloc,
       |  CAST((CASE rn $cases END) * 1000000 // c AS DOUBLE) / 1e6 AS epochs,
       |  CAST((CASE rn $cases END) * 1000000 // (SELECT budget FROM b)
       |    AS DOUBLE) / 1e6 AS share
       |FROM o ORDER BY lang""".stripMargin
  }

  /** t318: the pretrain shard-prep pipeline END-TO-END — the composition a
    * training-data job actually runs, chaining five stages that each exist
    * as a verified operator but have never been exercised across their
    * boundaries in one plan: synthetic re-crawl (d29's corpusWithCopies) →
    * exact dedup (md5 winner) → quality gate (q138's composite, same
    * constants) → eval-suite decontamination (t92's 5-gram layout: eval =
    * doc_id % 7 = 0; train docs with ≥10% gram overlap dropped, eval docs
    * themselves excluded) → mixture budget (t101's thresholds over the
    * ADMITTED set — target = smallest admitted source, LCG-threshold
    * selection) → sequence packing (t100's per-source concat-then-chunk at
    * 256 tokens). Output: the per-source shard manifest (docs, tokens,
    * packs, boundary-crossing docs, mean quality) — what a shard writer
    * would publish alongside the data.
    *
    * Scale shape, stage by stage: dedup is one hash-keyed shuffle on a
    * 32-byte digest; the quality gate is map-side; decontamination probes
    * the persisted gram index (built once per corpus, t92's artifact) with
    * a semi-join restricted to ADMITTED train docs — copy-on-write: docs
    * already rejected upstream never pay the gram probe — and the eval
    * hash set is a distinct-collapsed equi-join key, never a doc×doc
    * comparison; mixture thresholds are a |sources|-row broadcast; packing
    * cumsums are keyed by source (t100's one-worker-per-shard argument).
    * No stage widens rows it later drops: text is carried only to the
    * quality gate, then the pipeline narrows to (source, doc_id, score,
    * n_tokens). The gate checks stage COMPOSITION — the admitted set each
    * stage hands the next — which is where multi-stage pipelines actually
    * break (the q313 lesson applied to the batch shard path). */
  def t318PretrainE2e(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.functions.PortableHash.tokens
    // stage 1+2: re-crawl corpus → exact dedup (winner = min doc_id, so
    // every synthetic copy loses to its original and 'copy' rows vanish —
    // asserted in ShardPipelineSpec)
    val corpus = Dedup.corpusWithCopies(s, dir)
    val keep = corpus.select(md5(col("text")).as("h"), col("doc_id"))
      .groupBy("h").agg(min("doc_id").as("doc_id"))
    val deduped = corpus.join(keep.select("doc_id"), Seq("doc_id"))
    // stage 3: quality gate — the shared Quality.scoreExpr kernel
    val gated = deduped.selectExpr("doc_id", "source",
        s"${Quality.scoreExpr(toks)} AS score",
        s"size($toks) AS n_tokens")
      .filter(col("score") >= Quality.ScoreThreshold)
    // stage 4: decontamination — gram probe only for docs still standing.
    // trainGated feeds both the probe's semi-join and the admit anti-join,
    // and clean feeds both the budget totals and the final selection: Spark
    // re-executes unshared subplans, so both are persisted NARROW (no text
    // — (source, doc_id, score, n_tokens) only) rather than paying the
    // dedup+gate chain once per consumer (the t92/d30 persist discipline).
    val trainGated = gated.filter(col("doc_id") % 7 =!= 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grams = Curation.gramIndex(s, dir)
    val evalGrams = grams.filter(col("doc_id") % 7 === 0).select("h").distinct()
    val contaminated = grams
      .join(trainGated.select("doc_id"), Seq("doc_id"), "left_semi")
      .join(evalGrams.withColumn("hit", lit(1)), Seq("h"), "left")
      .groupBy("doc_id")
      .agg((sum(coalesce(col("hit"), lit(0))) / count(lit(1))).as("contam"))
      .filter(col("contam") >= 0.1)
      .select("doc_id")
    val clean = trainGated.join(contaminated, Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // stage 5: mixture budget — t101's thresholds over the ADMITTED set
    val totals = clean.groupBy("source").agg(sum("n_tokens").as("src_tokens"))
    val target = totals.agg(min("src_tokens").as("target"))
    val rates = totals.crossJoin(broadcast(target))
      .withColumn("thresh",
        floor(col("target").cast("double") / col("src_tokens") * 1048576)
          .cast("long"))
      .select("source", "thresh")
    val mixed = clean.join(broadcast(rates), Seq("source"))
      .filter(expr(graft.functions.PortableHash.lcgSplit("doc_id", 1048576L)) <
        col("thresh"))
    // stage 6: packing (t100's per-source cumsum) → shard manifest
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    mixed
      .withColumn("start_pos",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("end_win", expr("(start_pos + n_tokens - 1) div 256"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        (max("end_win") + 1).as("n_packs"),
        sum(expr("CAST(end_win > start_pos div 256 AS INT)")).as("n_cross"),
        round(graft.functions.OracleSafe.davg(col("score")), 6).as("mean_score"))
      .orderBy("source")
  }

  val t318Sql: String = {
    val tk = "string_split(lower(text), ' ')"
    s"""WITH corpus AS (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, 'copy' AS source, text
       |  FROM documents WHERE doc_id % 10 = 0),
       |keep AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
       |dd AS (SELECT c.* FROM corpus c JOIN keep USING (doc_id)),
       |gated AS (
       |  SELECT * FROM (
       |    SELECT doc_id, source,
       |      ${Quality.scoreDuck(tk)} AS score,
       |      CAST(len($tk) AS INTEGER) AS n_tokens
       |    FROM dd)
       |  WHERE score >= ${Quality.ScoreThreshold}),
       |grams AS (
       |  SELECT doc_id, ${Dedup.polyDuckOf("sh")} AS h
       |  FROM (
       |    SELECT doc_id, unnest(list_distinct(list_transform(
       |      range(1, len($tk) - 3),
       |      i -> array_to_string(($tk)[i:i+4], ' ')))) AS sh
       |    FROM documents WHERE len($tk) >= 5)),
       |ev AS (SELECT DISTINCT h FROM grams WHERE doc_id % 7 = 0),
       |contam AS (
       |  SELECT g.doc_id,
       |    sum(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END)
       |      / CAST(count(*) AS DOUBLE) AS c
       |  FROM grams g LEFT JOIN ev ON g.h = ev.h
       |  WHERE g.doc_id % 7 <> 0 GROUP BY 1),
       |clean AS (
       |  SELECT * FROM gated
       |  WHERE doc_id % 7 <> 0
       |    AND doc_id NOT IN (SELECT doc_id FROM contam WHERE c >= 0.1)),
       |totals AS (
       |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
       |  FROM clean GROUP BY 1),
       |rates AS (
       |  SELECT source,
       |    CAST(floor(CAST((SELECT min(src_tokens) FROM totals) AS DOUBLE)
       |      / src_tokens * 1048576) AS BIGINT) AS thresh
       |  FROM totals),
       |mixed AS (
       |  SELECT t.source, t.doc_id, t.score, t.n_tokens
       |  FROM clean t JOIN rates r ON t.source = r.source
       |  WHERE ${graft.functions.PortableHash.lcgSplitDuck("doc_id", 1048576L)}
       |    < r.thresh),
       |packed AS (
       |  SELECT source, doc_id, score, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS start_pos
       |  FROM mixed)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(max((start_pos + n_tokens - 1) // 256) + 1 AS BIGINT) AS n_packs,
       |  CAST(sum(CASE WHEN (start_pos + n_tokens - 1) // 256
       |    > start_pos // 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross,
       |  round(CAST(sum(CAST(score AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6)
       |    AS mean_score
       |FROM packed GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t100_sequence_pack" -> t100SequencePack,
    "t101_mix_sample"    -> t101MixSample,
    "t102_repetition"    -> t102Repetition,
    "q104_event_funnel"  -> q104EventFunnel,
    "t291_domain_reweight" -> t291DomainReweight,
    "t296_unimax_budget" -> t296UnimaxBudget,
    "t318_pretrain_e2e"  -> t318PretrainE2e)

  val oracle: Map[String, String] = Map(
    "t100_sequence_pack" -> t100Sql,
    "t101_mix_sample"    -> t101Sql,
    "t102_repetition"    -> t102Sql,
    "q104_event_funnel"  -> q104Sql,
    "t291_domain_reweight" -> t291Sql,
    "t296_unimax_budget" -> t296Sql,
    "t318_pretrain_e2e"  -> t318Sql)
}
