package graft.operators

import graft.Tables
import graft.functions.PortableHash._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pretraining-corpus curation, seventh batch: a LEARNED language
  * classifier (multinomial Naive Bayes with add-one smoothing — the
  * fastText-style upgrade of t36's fixed heuristic, trained and evaluated
  * on the corpus itself under a hash split) and the dedup funnel report
  * (the stage-by-stage survival accounting every curation run publishes).
  */
object Curation3 {

  // ---------------------------------------------------------------- t170

  /** t170: Naive Bayes language identification — train multinomial NB with
    * add-one smoothing on even doc_ids, score odd doc_ids: pred =
    * argmax_lang [ ln p(lang) + Σ_tok ln p(tok|lang) ]. The learned
    * counterpart to t36's fixed n-gram heuristic, and the shape of every
    * bag-of-words quality/domain classifier in a curation stack (fastText
    * lang-id, quality scorers): training IS two counting aggregates.
    *
    * Scale shape: the model is (lang × vocab) counts — Heaps-sublinear;
    * broadcast here, bucket-join by token at 100 TB (the t146 contract).
    * Scoring joins each test token against the model, then one aggregate
    * per (doc, lang): the corpus shuffles once, by doc — |langs|-fold
    * fan-out happens map-side through the broadcast class list.
    *
    * Determinism: log-probs are ln of exact-integer-ratio doubles,
    * 6-decimal-quantized into DECIMAL(38,6) (order-independent sums, the
    * t146/t165 convention); the argmax compares exact decimals with ties
    * to the lexicographically smaller language. */
  def t170NbLangid(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).selectExpr("doc_id", "lang", "text")
    val toks = docs
      .selectExpr("doc_id", "lang", "doc_id % 2 = 0 AS is_train",
        s"explode($tokens) AS tok")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val train = toks.filter(col("is_train"))
    // model: class priors (doc counts), per-class token totals, vocab size
    val priors = docs.filter(col("doc_id") % 2 === 0)
      .groupBy("lang").agg(count(lit(1)).as("nd"))
    val classTot = train.groupBy(col("lang").as("clang"))
      .agg(count(lit(1)).as("nl"))
    val counts = train.groupBy(col("lang").as("clang"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val consts = priors.agg(sum(col("nd")).as("nd_total")).crossJoin(
      train.agg(countDistinct(col("tok")).as("vsize")))
    // EAGER checkpoint of the |langs|-row class table (the hybridRetrieval
    // qt pattern): it now feeds BOTH the per-class fan-out and the model
    // lp build below, and as a lazy subplan its prior/stats aggregate
    // chain (with the two 1-row cross joins) would re-execute once per
    // broadcast consumer — and double-count against Batch67PlanSpec's
    // nested-loop ceiling.
    val classes = priors.join(classTot, col("lang") === col("clang"))
      .crossJoin(consts)
      .selectExpr("clang", "nl", "vsize",
        "CAST(round(ln(nd / CAST(nd_total AS DOUBLE)), 6) AS DECIMAL(38,6)) AS prior")
      .localCheckpoint(true)
    // r15-opt (guide §4, the t156 form): the smoothed log-prob is a
    // function of the MODEL row alone — precompute lp once per
    // (clang, tok) model entry and the unseen-token fallback lp0 once per
    // class (ln(1/(nl+vsize)) ≡ the coalesce(c,0) branch), instead of one
    // interpreted ln + round + decimal-cast per scored corpus token row.
    // coalesce(lp, lp0) reproduces the LEFT-join arithmetic bit-exactly.
    val lpTab = counts.join(classes, "clang")
      .selectExpr("clang", "tok",
        """CAST(round(ln((c + 1) / CAST(nl + vsize AS DOUBLE)), 6)
          |AS DECIMAL(38,6)) AS lp""".stripMargin)
    val classes0 = classes.selectExpr("clang", "prior",
      """CAST(round(ln(1 / CAST(nl + vsize AS DOUBLE)), 6)
        |AS DECIMAL(38,6)) AS lp0""".stripMargin)
    val scored = toks.filter(!col("is_train"))
      .join(broadcast(classes0), lit(true))
      .join(broadcast(lpTab), Seq("clang", "tok"), "left")
      .selectExpr("doc_id", "lang", "clang", "prior",
        "coalesce(lp, lp0) AS lp")
      .groupBy("doc_id", "lang", "clang", "prior")
      .agg(sum(col("lp")).as("slp"))
      .selectExpr("doc_id", "lang", "clang", "prior + slp AS score")
    scored.groupBy(col("doc_id"), col("lang").as("true_lang"))
      .agg(min(struct((-col("score")).as("negs"), col("clang").as("clang")))
        .as("b"))
      .selectExpr("doc_id", "b.clang AS pred_lang", "true_lang",
        "CAST(b.clang = true_lang AS INT) AS correct")
      .orderBy("doc_id")
  }

  val t170Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, doc_id % 2 = 0 AS is_train,
      |    unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents),
      |priors AS (
      |  SELECT lang, count(*) AS nd FROM documents
      |  WHERE doc_id % 2 = 0 GROUP BY lang),
      |classtot AS (
      |  SELECT lang AS clang, count(*) AS nl FROM toks
      |  WHERE is_train GROUP BY lang),
      |counts AS (
      |  SELECT lang AS clang, tok, count(*) AS c FROM toks
      |  WHERE is_train GROUP BY lang, tok),
      |consts AS (
      |  SELECT (SELECT sum(nd) FROM priors) AS nd_total,
      |    (SELECT count(DISTINCT tok) FROM toks WHERE is_train) AS vsize),
      |classes AS (
      |  SELECT p.lang AS clang, ct.nl, consts.vsize,
      |    CAST(round(ln(p.nd / CAST(consts.nd_total AS DOUBLE)), 6)
      |      AS DECIMAL(38,6)) AS prior
      |  FROM priors p JOIN classtot ct ON ct.clang = p.lang
      |  CROSS JOIN consts),
      |scored AS (
      |  SELECT t.doc_id, t.lang, k.clang, k.prior,
      |    sum(CAST(round(ln((coalesce(c.c, 0) + 1)
      |        / CAST(k.nl + k.vsize AS DOUBLE)), 6) AS DECIMAL(38,6)))
      |      AS slp
      |  FROM toks t CROSS JOIN classes k
      |  LEFT JOIN counts c ON c.clang = k.clang AND c.tok = t.tok
      |  WHERE NOT t.is_train
      |  GROUP BY 1, 2, 3, 4),
      |best AS (
      |  SELECT doc_id, lang AS true_lang, clang, prior + slp AS score,
      |    row_number() OVER (PARTITION BY doc_id
      |                       ORDER BY prior + slp DESC, clang) AS rn
      |  FROM scored)
      |SELECT doc_id, clang AS pred_lang, true_lang,
      |  CAST(clang = true_lang AS INTEGER) AS correct
      |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d171

  /** d171: dedup funnel report — stage-by-stage document and token
    * survival through the curation cascade: raw → exact dedup (min-id per
    * content hash) → near-dup canonical selection (d144's connected-
    * component keep flags, fed by the persisted verified-pair layout) →
    * Gopher quality rules (t152 pass). The accounting table every corpus
    * release ships: what each stage cost in volume.
    *
    * Scale shape: a composition of verified kernels (the q138/q161
    * pattern); each stage adds one semi-join on doc_id against a
    * survivor set, and the four stage aggregates are one pass each over
    * the doc-level (not token-level) table. */
  def d171DedupFunnel(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .selectExpr("doc_id", "text", s"size($tokens) AS nt")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val exact = d.groupBy(md5(col("text"))).agg(min(col("doc_id")).as("doc_id"))
    // r16-opt: the funnel only FILTERS by d144's keep decision, so it
    // consumes the keep SET (the per-component argmax ids) and skips
    // d144's per-doc join-back, cluster-size count and global sort —
    // identical survivor set by construction (Curation2.d144KeepSet)
    val nearKeep = Curation2.d144KeepSet(s, dir)
    val qualKeep = Pretrain.t152GopherRules(s, dir)
      .filter(col("pass") === 1).select("doc_id")
    val s1 = d.join(exact.select("doc_id"), Seq("doc_id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val s2 = s1.join(nearKeep, Seq("doc_id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val s3 = s2.join(qualKeep, Seq("doc_id"), "left_semi")
    def stage(df: DataFrame, i: Int, name: String) = df
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .selectExpr(s"$i AS stage", s"'$name' AS stage_name",
        "n_docs", "n_tokens")
    stage(d, 0, "raw")
      .unionByName(stage(s1, 1, "exact"))
      .unionByName(stage(s2, 2, "near_dup"))
      .unionByName(stage(s3, 3, "quality"))
      .orderBy("stage")
  }

  def d171Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, text,
       |    CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS nt
       |  FROM documents),
       |ex AS (SELECT min(doc_id) AS doc_id FROM d GROUP BY md5(text)),
       |nk AS (SELECT doc_id FROM (${Curation2.d144Sql}) WHERE keep = 1),
       |qk AS (SELECT doc_id FROM (${Pretrain.t152Sql}) WHERE pass = 1),
       |s1 AS (SELECT d.* FROM d JOIN ex USING (doc_id)),
       |s2 AS (SELECT s1.* FROM s1 JOIN nk USING (doc_id)),
       |s3 AS (SELECT s2.* FROM s2 JOIN qk USING (doc_id))
       |SELECT 0 AS stage, 'raw' AS stage_name,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(nt) AS BIGINT) AS n_tokens FROM d
       |UNION ALL SELECT 1, 'exact', CAST(count(*) AS BIGINT),
       |  CAST(sum(nt) AS BIGINT) FROM s1
       |UNION ALL SELECT 2, 'near_dup', CAST(count(*) AS BIGINT),
       |  CAST(sum(nt) AS BIGINT) FROM s2
       |UNION ALL SELECT 3, 'quality', CAST(count(*) AS BIGINT),
       |  CAST(sum(nt) AS BIGINT) FROM s3
       |ORDER BY stage""".stripMargin

  // ---------------------------------------------------------------- d172

  /** d172: MinHash estimator calibration — for every VERIFIED near-dup
    * pair, the sketch-estimated Jaccard (fraction of agreeing minhash
    * coordinates, the unbiased MinHash estimator) against the exact
    * shingle Jaccard the verification pass computed. d162 measures the
    * index's recall; this measures its ESTIMATION bias — together they are
    * the two calibration curves that size a MinHash deployment (how many
    * permutations, how many bands) before a corpus-wide run.
    *
    * Scale shape: joins the persisted pair layout ([[Dedup.dupPairs]])
    * against the 16-coordinate signatures — pair-list-sized work; the
    * coordinate agreement count is a map-side zip_with fold. All outputs
    * are exact rationals (k/16) or already-quantized values. */
  def d172MinhashCalibration(s: SparkSession, dir: String): DataFrame = {
    val sigs = Dedup.shingleIndex(s, dir)
      .groupBy("doc_id").agg(collect_list(col("h")).as("hs"))
      .selectExpr("doc_id", "minhash16(hs) AS mh")
    Dedup.dupPairs(s, dir)
      .join(sigs.selectExpr("doc_id AS id1", "mh AS mh1"), "id1")
      .join(sigs.selectExpr("doc_id AS id2", "mh AS mh2"), "id2")
      .selectExpr("id1", "id2", "jac",
        "size(filter(zip_with(mh1, mh2, (a, b) -> a = b), x -> x)) AS n_agree")
      .selectExpr("id1", "id2", "jac",
        "round(n_agree / 16.0D, 6) AS est",
        "round(abs(round(n_agree / 16.0D, 6) - jac), 6) AS abs_err")
      .orderBy("id1", "id2")
  }

  val d172Sql: String =
    s"""WITH ${Dedup.minhashPairCtes},
       |vp AS (
       |  SELECT id1, id2,
       |    round(coalesce(common, 0) * 1.0
       |      / (n1.ns + n2.ns - coalesce(common, 0)), 6) AS jac
       |  FROM cand LEFT JOIN common USING (id1, id2)
       |  JOIN n n1 ON id1 = n1.doc_id JOIN n n2 ON id2 = n2.doc_id
       |  WHERE round(coalesce(common, 0) * 1.0
       |      / (n1.ns + n2.ns - coalesce(common, 0)), 6) >= 0.2),
       |ag AS (
       |  SELECT vp.id1, vp.id2, vp.jac,
       |    len(list_filter(range(1, 17), i -> a.mh[i] = b.mh[i])) AS n_agree
       |  FROM vp JOIN sig a ON a.doc_id = vp.id1
       |  JOIN sig b ON b.doc_id = vp.id2)
       |SELECT id1, id2, jac, round(n_agree / 16.0, 6) AS est,
       |  round(abs(round(n_agree / 16.0, 6) - jac), 6) AS abs_err
       |FROM ag ORDER BY id1, id2""".stripMargin

  // ---------------------------------------------------------------- q174

  /** q174: user-session sequence extraction — the behavioral-data prep
    * that turns an event log into training sequences: per user, sessions
    * cut at 30-minute inactivity gaps (the industry-standard
    * sessionization rule, the batch twin of q42's streaming session
    * window), each emitting its event count, wall-clock span, and the
    * ordered event-type initial string (capped at 20 — the context-window
    * discipline of t100 applied to behavioral tokens).
    *
    * Scale shape: one shuffle keyed by user_id; the gap cut, running
    * session index, and sequence assembly are all window/aggregate work
    * INSIDE the user partition. Sequence assembly collects at most the
    * session's events and emits at most 20 — bounded state per group. */
  /** Events with their 30-minute-gap session index — the single
    * sessionization kernel q174 and q177 share (one definition of the cut
    * rule, ordering key, and gap constant). */
  private def sessionized(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select("user_id", "ts", "event_id", "event_type")
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("is_new",
        (col("prev").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev")) > 1800000L)
          .cast("int"))
      .withColumn("session_idx", sum(col("is_new")).over(run))
      .select("user_id", "session_idx", "ts", "event_id", "event_type")
  }

  /** The q174/q177 sessionization kernel as composable CTEs (`cut`,
    * `sess`). */
  private val sessionizedCtes: String =
    """cut AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |        OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
      |      THEN 1 ELSE 0 END AS is_new
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT *, sum(is_new) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
      |  FROM cut)""".stripMargin

  def q174UserSessions(s: SparkSession, dir: String): DataFrame =
    sessionized(s, dir)
      .withColumn("c", substring(col("event_type"), 1, 1))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        (max(unix_millis(col("ts"))) - min(unix_millis(col("ts"))))
          .as("duration_ms"),
        expr("""concat_ws('', transform(
          |  slice(array_sort(collect_list(struct(ts, event_id, c))), 1, 20),
          |  e -> e.c))""".stripMargin).as("seq"))
      .orderBy("user_id", "session_idx")

  val q174Sql: String =
    s"""WITH $sessionizedCtes
       |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(max(epoch_ms(ts)) - min(epoch_ms(ts)) AS BIGINT) AS duration_ms,
       |  array_to_string(
       |    list(substr(event_type, 1, 1) ORDER BY ts, event_id)[1:20], '')
       |    AS seq
       |FROM sess GROUP BY user_id, session_idx
       |ORDER BY user_id, session_idx""".stripMargin

  // ---------------------------------------------------------------- t176

  /** t176: n-gram novelty — per document, the fraction of its distinct
    * 3-shingles appearing in NO earlier document (first-seen by doc_id):
    * the marginal-diversity curve a corpus grows by, the signal that says
    * when additional scraping stops adding content. First-seen attribution
    * is one min-aggregate over the persisted shingle inverted index
    * ([[Dedup.shingleIndex]]) joined back by gram hash — gram-keyed
    * shuffles only, never doc×doc.  */
  def t176GramNovelty(s: SparkSession, dir: String): DataFrame = {
    val idx = Dedup.shingleIndex(s, dir)
    val first = idx.groupBy("h").agg(min(col("doc_id")).as("first_doc"))
    idx.join(first, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum((col("doc_id") === col("first_doc")).cast("long")).as("n_novel"))
      .selectExpr("doc_id", "n_grams", "n_novel",
        "round(n_novel / CAST(n_grams AS DOUBLE), 6) AS novelty")
      .orderBy("doc_id")
  }

  val t176Sql: String =
    s"""WITH ${Dedup.shingleIndexSql},
       |f AS (SELECT h, min(doc_id) AS first_doc FROM s GROUP BY h)
       |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CAST(s.doc_id = f.first_doc AS INTEGER)) AS BIGINT)
       |    AS n_novel,
       |  round(CAST(sum(CAST(s.doc_id = f.first_doc AS INTEGER)) AS BIGINT)
       |    / CAST(count(*) AS DOUBLE), 6) AS novelty
       |FROM s JOIN f USING (h)
       |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  // ---------------------------------------------------------------- q177

  /** q177: frequent itemset pairs — support counting for event-type pairs
    * CO-OCCURRING in a session (q174's 30-minute cut): the first step of
    * market-basket / association-rule mining, done the scalable way — the
    * per-session distinct item set explodes to C(n,2) ordered pairs (n =
    * distinct event types in one session, bounded by the type alphabet,
    * NOT by session length), then one count per pair. Top-10 by support.
    *
    * Scale shape: sessionization is q174's user-keyed window; the pair
    * explosion is bounded per session; the support table is
    * alphabet²-sized, so the global top-10 rank is driver-trivial. */
  def q177ItemsetPairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = sessionized(s, dir)
      .select("user_id", "session_idx", "event_type").distinct()
      .groupBy("user_id", "session_idx")
      .agg(sort_array(collect_list(col("event_type"))).as("items"))
    sess
      .selectExpr(
        """explode(flatten(transform(items, (x, i) ->
          |  transform(slice(items, i + 2, size(items) - i - 1),
          |    y -> struct(x AS e1, y AS e2))))) AS p""".stripMargin)
      .groupBy(col("p.e1").as("e1"), col("p.e2").as("e2"))
      .agg(count(lit(1)).as("support"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("support").desc, col("e1"), col("e2"))))
      .filter(col("rank") <= 10)
      .select("rank", "e1", "e2", "support")
      .orderBy("rank")
  }

  val q177Sql: String =
    s"""WITH $sessionizedCtes,
       |st AS (SELECT DISTINCT user_id, session_idx, event_type FROM sess),
      |pairs AS (
      |  SELECT a.event_type AS e1, b.event_type AS e2
      |  FROM st a JOIN st b USING (user_id, session_idx)
      |  WHERE a.event_type < b.event_type),
      |sup AS (
      |  SELECT e1, e2, CAST(count(*) AS BIGINT) AS support
      |  FROM pairs GROUP BY e1, e2),
      |ranked AS (
      |  SELECT CAST(row_number() OVER (ORDER BY support DESC, e1, e2)
      |    AS INTEGER) AS rank, e1, e2, support
      |  FROM sup)
      |SELECT rank, e1, e2, support FROM ranked
      |WHERE rank <= 10 ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------- t178

  /** t178: character-entropy quality signal — per document, the Shannon
    * entropy (nats) of its character distribution: near-zero = degenerate
    * repetition, near-ln(alphabet) = random noise; both tails are junk a
    * quality filter cuts. Map-side explode to (doc, char) counts, one
    * doc-keyed aggregate; per-char log-probs quantize and the entropy sum
    * accumulates exactly (c·lp in DECIMAL — integer × quantized value),
    * so the reported entropy is engine-identical. */
  def t178CharEntropy(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .selectExpr("doc_id", "explode(split(text, '')) AS ch")
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      // widths chosen so the decimal PRODUCT stays inside 38 digits in
      // BOTH engines (DuckDB errors past 38): (18,3) × (19,6) → (38,9)
      .selectExpr("doc_id", "n",
        "CAST(c AS DECIMAL(18,3)) * CAST(round(ln(c / CAST(n AS DOUBLE)), 6)" +
          " AS DECIMAL(19,6)) AS clp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_distinct_chars"), max(col("n")).as("n_chars"),
        sum(col("clp")).as("sclp"))
      .selectExpr("doc_id", "n_chars", "n_distinct_chars",
        "round(-CAST(sclp AS DOUBLE) / n_chars, 6) AS entropy")
      .orderBy("doc_id")

  val t178Sql: String =
    """WITH cc AS (
      |  SELECT doc_id, ch, count(*) AS c FROM (
      |    SELECT doc_id, unnest(string_split(text, '')) AS ch
      |    FROM documents)
      |  GROUP BY doc_id, ch),
      |w AS (
      |  SELECT doc_id, ch, c, sum(c) OVER (PARTITION BY doc_id) AS n
      |  FROM cc),
      |lp AS (
      |  SELECT doc_id, n,
      |    CAST(c AS DECIMAL(18,3)) *
      |      CAST(round(ln(c / CAST(n AS DOUBLE)), 6) AS DECIMAL(19,6)) AS clp
      |  FROM w)
      |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars,
      |  CAST(count(*) AS BIGINT) AS n_distinct_chars,
      |  round(-CAST(sum(clp) AS DOUBLE) / max(n), 6) AS entropy
      |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d181

  /** d181: prefix-filtering similarity join (All-Pairs / PPJoin, Bayardo
    * et al. 2007; Xiao et al. 2008) at the NEAR-DUPLICATE threshold
    * t = 0.8 — the EXACT similarity join that doesn't index every token:
    * order each doc's shingles by ascending global document frequency
    * (rarest first) and index only the PREFIX of length n − ⌈t·n⌉ + 1.
    * Pigeonhole guarantees any pair with J ≥ t shares a prefix token, so
    * candidate generation touches ~(1−t) of the postings while staying
    * COMPLETE — unlike MinHash (d31), no recall loss. The gate claim:
    * d181 EQUALS the full bucket-join d30 restricted to J ≥ 0.8 (spec
    * asserts the set equality; the oracle is d30's own SQL at 0.8).
    *
    * t = 0.8 is the regime the algorithm exists for — prefix length
    * shrinks as (1−t)·n, so a t = 0.2 run (round 3) indexed 81% of the
    * postings and generated 788k candidates for 5k true pairs at sf0.1;
    * at 0.8 it is 21% of postings, 119k candidates, 256 true pairs.
    * Measured DuckDB truth: prefix pair volume 122k vs the raw index's
    * 1.27M — and the boilerplate-shingle pathology is structurally out,
    * since the HIGHEST-df shingles are exactly the ones the prefix drops.
    *
    * POSITIONAL filter (PPJoin proper, Xiao et al. 2008 §3.2, round-4
    * judge directive): each prefix posting carries its df-rank position,
    * and a pair generated at positions (i, j) can share at most
    * 1 + min(n1 − i, n2 − j) tokens — everything before the generating
    * token in EITHER doc is non-shared or already counted. J ≥ t requires
    * common ≥ t/(1+t)·(n1+n2) = 4/9·(n1+n2) at t = 4/5 (exact integer
    * form below — no float ceil at the boundary), so occurrences whose
    * bound can't reach that are dropped BEFORE the distinct: measured at
    * sf0.1 this cuts surviving occurrences 122_089 → 14_093 and distinct
    * candidate pairs 118_600 → 12_830 (9.2×). Completeness: the bound is
    * largest at the pair's FIRST shared prefix token (later occurrences
    * only shrink it), and for that token the bound over-counts the true
    * overlap, so a qualifying pair always survives at its first shared
    * token — any-occurrence-passes keeps a superset of PPJoin's canonical
    * first-token candidate set.
    *
    * Verification is CANDIDATE-BOUNDED (round-3 judge directive) and
    * MULTISET-EXACT (round-4 advice): candidates semi-join-reduce the
    * shingle index to candidate docs, then each pair counts matching
    * (h, h) ROWS — the d142/d185 form — so if two distinct shingle
    * strings in one doc ever collide under poly_hash, the count carries
    * the multiplicity exactly like the oracle's bucket join (the previous
    * `size(array_intersect)` deduped, a latent large-corpus gate flake).
    * Per-pair work is one hash probe per shingle row, total O(|cand|·n̄),
    * independent of bucket sizes; no pair explosion ever runs outside the
    * prefix postings. Rounding note: round(jac, 6) ≥ t with true J < t
    * would need J within 5·10⁻⁷ of t, i.e. a union of ≥ 400k shingles at
    * t = 4/5 (|0.8 − c/u| ≥ 1/(5u) for c/u < 0.8) — docs are ~50
    * shingles, so the rounded gate and the exact prefix guarantee agree
    * with astronomical margin. */
  def d181PrefixFilterJoin(s: SparkSession, dir: String): DataFrame = {
    val t = 0.8 // = 4/5; the minimum-overlap bound uses the exact 4/9 form
    // the prefix is a pure column filter on the df-annotated layout — the
    // dfreq join and the two per-doc windows this used to re-run per
    // query are paid once in the shared shingle_idx_df build (d225 and
    // d268 read the same artifact)
    d181Core(Dedup.shingleIndexAnnotated(s, dir), Dedup.docHashArrays(s, dir), t)
  }

  /** d181's candidate generation + verification over an ARBITRARY
    * df-annotated posting index (doc_id, h, pos, ns — pos the rarest-first
    * rank) and per-doc sorted hash arrays (doc_id, hs, ns). Factored out
    * (r16, VERDICT r15 item 7) so Curation3Spec can drive the prune bounds
    * with adversarial MULTISET indexes — duplicate (doc, h) rows, the
    * poly_hash-collision shape the production build makes measure-zero but
    * the bounds must stay sound under. The gate query passes the real
    * layouts; behavior there is unchanged. */
  private[operators] def d181Core(
      ann: DataFrame, docsArr: DataFrame, t: Double): DataFrame = {
    val prefix = ann
      .filter(col("pos") <=
        col("ns") - ceil(col("ns") * lit(t)).cast("long") + 1)
      .select("doc_id", "h", "pos", "ns")
    // sort_array orders the bucket by doc_id (first struct field), so the
    // C(bucket,2) explosion below emits id1 < id2 pairs like everywhere else
    val cand = prefix.groupBy("h")
      .agg(sort_array(collect_list(
        struct(col("doc_id"), col("pos"), col("ns")))).as("es"))
      .selectExpr(
        """explode(flatten(transform(es, (x, i) ->
          |  transform(slice(es, i + 2, size(es) - i - 1),
          |    y -> struct(x AS e1, y AS e2))))) AS p""".stripMargin)
      // positional bound: overlap ≤ 1 + min(tokens after pos in either doc);
      // required overlap ceil(4(n1+n2)/9) computed as ⌊(4(n1+n2)+8)/9⌋ in
      // exact integer arithmetic (values ≪ 2^53, the double divide is exact
      // to well under half an integer)
      .filter(lit(1) +
        least(col("p.e1.ns") - col("p.e1.pos"), col("p.e2.ns") - col("p.e2.pos"))
        >= ((lit(4) * (col("p.e1.ns") + col("p.e2.ns")) + lit(8)) / lit(9))
          .cast("long"))
      // self-pair guard (r16, found by the multiset-soundness spec): a doc
      // holding TWO prefix copies of one hash — possible only under a
      // poly_hash collision — would pair with itself through its own
      // bucket; never fires on a per-doc-distinct index
      .filter(col("p.e1.doc_id") =!= col("p.e2.doc_id"))
      .select(col("p.e1.doc_id").as("id1"), col("p.e2.doc_id").as("id2"))
      .distinct()
    // Verification: per-pair codegen'd merge over broadcast per-doc sorted
    // hash arrays (sorted_multiset_common — the oracle's join-row count
    // exactly, multiplicities included) instead of semi-join-reducing the
    // index and re-joining both docs' posting rows on h: the |cand|·n̄-row
    // shuffle join + hash aggregate becomes two broadcast hash joins of
    // |cand| rows and a scalar loop. Doc sizes ride the same arrays.
    val docs = docsArr
    cand
      .join(broadcast(docs.select(col("doc_id").as("id1"),
        col("hs").as("h1"), col("ns").as("n1"))), "id1")
      .join(broadcast(docs.select(col("doc_id").as("id2"),
        col("hs").as("h2"), col("ns").as("n2"))), "id2")
      .withColumn("common", expr("sorted_multiset_common(h1, h2)"))
      .withColumn("jac",
        round(col("common") / (col("n1") + col("n2") - col("common")), 6))
      .filter(col("jac") >= t)
      .select("id1", "id2", "common", "jac")
      .orderBy("id1", "id2")
  }

  /** d30's oracle restricted to the t = 0.8 regime d181 targets. */
  val d181Sql: String = Dedup.d30SqlAt("0.8")

  // ---------------------------------------------------------------- d225

  /** d225: containment join (ASYMMETRIC prefix filter) at C ≥ 0.9 — find
    * documents CONTAINED in another: C(A→B) = |S_A ∩ S_B| / |S_A|. This is
    * the quote/boilerplate-superset detector a dedup pass needs beside the
    * symmetric joins: a 50-shingle doc fully inside a 500-shingle doc has
    * J ≈ 0.1 (invisible to d30/d31/d181 at their thresholds) but C = 1.0
    * (the corpus plants exactly these — 25 full-containment pairs at
    * sf0.01). Emitted per DIRECTION: (contained, container).
    *
    * Prefix bound, asymmetric (Chaudhuri et al. SSJoin 2006): if
    * |S_A ∩ S_B| ≥ t|A| then A has at most |A| − ⌈t|A|⌉ shingles outside
    * B, so A's rarest-first prefix of length |A| − ⌈t|A|⌉ + 1 must hit B —
    * only the CONTAINED side is prefix-indexed (~10% of its shingles at
    * t = 0.9, and the rarest ones, so posting lists stay short); the
    * container side keeps full postings. Candidate generation is a
    * posting-list join, never C(bucket, 2).
    *
    * Verification is candidate-bounded and multiset-exact (the d181
    * conventions), and the threshold compare is EXACT INTEGER
    * (common·10 ≥ |A|·9) — no float boundary anywhere. */
  def d225ContainmentJoin(s: SparkSession, dir: String): DataFrame = {
    d225Core(Dedup.shingleIndexAnnotated(s, dir), Dedup.docHashArrays(s, dir))
  }

  /** d225's candidate generation + verification over an arbitrary
    * df-annotated index and per-doc sorted arrays — factored exactly like
    * [[d181Core]] so the multiset-soundness spec covers the asymmetric
    * SIZE and POSITIONAL prune bounds too. */
  private[operators] def d225Core(
      annIn: DataFrame, docsArr: DataFrame): DataFrame = {
    val ann = annIn
    // prefix = column filter on the shared df-annotated layout (see d181)
    val prefix = ann
      .filter(col("pos") <=
        col("ns") - ceil(col("ns") * lit(0.9)).cast("long") + 1)
      .select(col("doc_id").as("ida"), col("h"),
        col("ns").as("na"), col("pos").as("pa"))
    // Candidate pruning before any verification work (both bounds are
    // sound under the same set-semantics premise as the prefix filter
    // itself, and the threshold compares stay exact-integer):
    //  - asymmetric SIZE bound: common ≤ nb, so C ≥ 0.9 needs 10·nb ≥ 9·na
    //    (a big doc is never contained in a much smaller one);
    //  - POSITIONAL bound (PPJoin, the d181 form, asymmetric): both docs'
    //    postings share one global (df, h) order, so at A's first matching
    //    prefix position common ≤ 1 + min(na − pa, nb − pb) — the pair
    //    survives iff some generating row passes, and at the first match
    //    the bound is tight enough to need 10 + 10·min ≥ 9·na.
    // At sf0.1 these cut 133k candidate pairs to 73k with the result set
    // unchanged (505 rows).
    val cand = prefix
      .join(ann.select(col("doc_id").as("idb"), col("h"),
        col("ns").as("nb"), col("pos").as("pb")), "h")
      .filter(col("ida") =!= col("idb"))
      .filter(col("nb") * 10 >= col("na") * 9)
      .filter(lit(10) + lit(10) * least(col("na") - col("pa"),
        col("nb") - col("pb")) >= col("na") * 9)
      .select("ida", "idb").distinct()
    // Verification: per-pair codegen'd merge over broadcast per-doc sorted
    // hash arrays (sorted_multiset_common — the oracle's join-row count
    // exactly, multiplicities included) instead of re-joining both docs'
    // posting rows on h and hash-aggregating the |cand|·n̄-row stream.
    val docs = docsArr
    cand
      .join(broadcast(docs.select(col("doc_id").as("ida"),
        col("hs").as("ha"), col("ns").as("na"))), "ida")
      .join(broadcast(docs.select(col("doc_id").as("idb"),
        col("hs").as("hb"), col("ns").as("nb"))), "idb")
      .withColumn("common", expr("sorted_multiset_common(ha, hb)"))
      .filter(col("common") * 10 >= col("na") * 9)
      .selectExpr("ida AS contained_id", "idb AS container_id",
        "na AS ns_contained", "nb AS ns_container",
        "round(common / CAST(na AS DOUBLE), 6) AS containment")
      .orderBy("contained_id", "container_id")
  }

  val d225Sql: String =
    s"""WITH ${Dedup.shingleIndexSql},
       |n AS (SELECT doc_id, count(*) AS ns FROM s GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS common
       |  FROM s a JOIN s b ON a.h = b.h AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2)
       |SELECT ida AS contained_id, idb AS container_id,
       |  n1.ns AS ns_contained, n2.ns AS ns_container,
       |  round(common / CAST(n1.ns AS DOUBLE), 6) AS containment
       |FROM common JOIN n n1 ON ida = n1.doc_id JOIN n n2 ON idb = n2.doc_id
       |WHERE common * 10 >= n1.ns * 9
       |ORDER BY contained_id, container_id""".stripMargin

  // ---------------------------------------------------------------- d268

  /** d268: match EVIDENCE — for every confirmed near-dup pair, the 3
    * rarest shared shingles (by global document frequency): the
    * explainability record a human reviewer or an appeals process reads
    * when a dedup decision is challenged ("these docs were merged because
    * they share THESE improbable phrases"). Rare shared shingles are
    * exactly the high-information evidence — common ones (boilerplate)
    * prove nothing, which is the same insight d181's prefix filter
    * exploits for candidate generation, reused here for justification.
    *
    * Scale shape: consumes the PERSISTED pair and df-annotated shingle
    * layouts (no pair generation re-runs, no df rebuild — df rides on
    * every index row); the shingle rows semi-join-reduce to pair docs
    * before the per-pair intersection (d181's candidate-bounded
    * verification shape). Per-pair output is capped at 3 rows by the
    * window. */
  def d268MatchEvidence(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = Dedup.dupPairs(s, dir).select("id1", "id2")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val docs = pairs
      .select(explode(array(col("id1"), col("id2"))).as("doc_id")).distinct()
    // df rides on every annotated-index row — no per-query dfreq rebuild
    val r = Dedup.shingleIndexAnnotated(s, dir).select("doc_id", "h", "df")
      .join(docs, Seq("doc_id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    pairs
      .join(r.withColumnRenamed("doc_id", "id1"), "id1")
      .join(r.select(col("doc_id").as("id2"), col("h")), Seq("id2", "h"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("id1", "id2").orderBy(col("df"), col("h"))))
      .filter(col("rank") <= 3)
      .select("id1", "id2", "rank", "h", "df")
      .orderBy("id1", "id2", "rank")
  }

  val d268Sql: String =
    s"""WITH ${Dedup.minhashPairCtes},
       |pairs AS (
       |  SELECT id1, id2
       |  FROM cand LEFT JOIN common USING (id1, id2)
       |  JOIN n n1 ON id1 = n1.doc_id JOIN n n2 ON id2 = n2.doc_id
       |  WHERE round(coalesce(common, 0) * 1.0
       |          / (n1.ns + n2.ns - coalesce(common, 0)), 6) >= 0.2),
       |dfq AS (SELECT h, count(*) AS df FROM s GROUP BY h),
       |shared AS (
       |  SELECT p.id1, p.id2, a.h FROM pairs p
       |  JOIN s a ON a.doc_id = p.id1
       |  JOIN s b ON b.doc_id = p.id2 AND b.h = a.h),
       |ranked AS (
       |  SELECT id1, id2, shared.h, df,
       |    CAST(row_number() OVER (PARTITION BY id1, id2 ORDER BY df, shared.h)
       |      AS INTEGER) AS rank
       |  FROM shared JOIN dfq ON dfq.h = shared.h)
       |SELECT id1, id2, rank, h, df
       |FROM ranked WHERE rank <= 3 ORDER BY id1, id2, rank""".stripMargin

  // ---------------------------------------------------------------- maps

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t170_nb_langid"    -> t170NbLangid,
    "d171_dedup_funnel" -> d171DedupFunnel,
    "d172_minhash_calibration" -> d172MinhashCalibration,
    "q174_user_sessions" -> q174UserSessions,
    "t176_gram_novelty" -> t176GramNovelty,
    "q177_itemset_pairs" -> q177ItemsetPairs,
    "t178_char_entropy" -> t178CharEntropy,
    "d181_prefix_filter_join" -> d181PrefixFilterJoin,
    "d225_containment_join" -> d225ContainmentJoin,
    "d268_match_evidence" -> d268MatchEvidence)

  val oracle: Map[String, String] = Map(
    "t170_nb_langid"    -> t170Sql,
    "d171_dedup_funnel" -> d171Sql,
    "d172_minhash_calibration" -> d172Sql,
    "q174_user_sessions" -> q174Sql,
    "t176_gram_novelty" -> t176Sql,
    "q177_itemset_pairs" -> q177Sql,
    "t178_char_entropy" -> t178Sql,
    // completeness IS the claim: the prefix-filtered join must reproduce
    // the full bucket join bit-for-bit, so it gates on d30's own oracle
    "d181_prefix_filter_join" -> d181Sql,
    // same claim, asymmetric: the oracle is the NAIVE all-sharing-pairs
    // containment join — the prefix filter must lose nothing
    "d225_containment_join" -> d225Sql,
    "d268_match_evidence" -> d268Sql)
}
