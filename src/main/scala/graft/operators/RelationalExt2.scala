package graft.operators

import graft.Tables
import graft.functions.OracleSafe.dsum
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Second extension battery (round 2): CUBE, exact-moment statistics,
  * higher-order array functions, the regexp family, collect-aggregates,
  * deterministic hash splits, and the datetime function family. Everything
  * stays inside whole-stage codegen (built-in expressions only) and every
  * aggregate that touches doubles goes through exact decimal moments so the
  * result is order-independent and hash-comparable across engines.
  */
object RelationalExt2 {

  private val D = DecimalType(38, 6)

  /** q70: CUBE over (returnflag, linestatus) — all 4 grouping combinations
    * in one pass (partial aggregation map-side, one shuffle). NULL grouping
    * keys get a sentinel so cross-engine NULL ordering can't bite. */
  def q70Cube(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("sum_qty"))
      .orderBy("returnflag", "linestatus")

  val q70Sql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  count(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** q71: statistics battery — corr / sample covariance / sample stddev,
    * computed from EXACT decimal moments (n, Σx, Σy, Σx², Σy², Σxy) with the
    * closing formula evaluated in double.
    *
    * The built-in `corr`/`stddev` aggregate doubles in partition order, so
    * their low bits differ run-to-run and engine-to-engine; decimal moments
    * are associative/commutative (order-independent partial aggregation —
    * the same property that makes them shuffle-friendly at scale), and the
    * identical closing expression on both engines is one deterministic IEEE
    * evaluation. */
  def q71StatsMoments(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(x.cast(D)).cast("double").as("sx"),
        sum(y.cast(D)).cast("double").as("sy"),
        sum((x * x).cast(D)).cast("double").as("sxx"),
        sum((y * y).cast(D)).cast("double").as("syy"),
        sum((x * y).cast(D)).cast("double").as("sxy"))
      .select(col("l_returnflag"), col("n").cast("long").as("n"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) /
          (sqrt(col("sxx") - col("sx") * col("sx") / col("n")) *
            sqrt(col("syy") - col("sy") * col("sy") / col("n"))), 9).as("corr_qty_price"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - lit(1.0)), 6)
          .as("covar_samp"),
        round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - lit(1.0))), 9)
          .as("stddev_qty"))
      .orderBy("l_returnflag")
    // NOTE: outputs are rounded (9/6 decimals) — the decimal quantization of
    // each MOMENT is exact and order-independent, but DuckDB and Spark round
    // double→DECIMAL(38,6) with different tie rules (HALF_EVEN vs HALF_UP),
    // which perturbs the moments at ~1e-19 relative; rounding the closing
    // expression well above that floor makes the comparison exact.
  }

  val q71Sql: String =
    """WITH m AS (
      |  SELECT l_returnflag,
      |    CAST(count(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
      |  round((sxy - sx * sy / n) /
      |    (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)), 9) AS corr_qty_price,
      |  round((sxy - sx * sy / n) / (n - 1.0), 6) AS covar_samp,
      |  round(sqrt((sxx - sx * sx / n) / (n - 1.0)), 9) AS stddev_qty
      |FROM m ORDER BY l_returnflag""".stripMargin

  /** q72: higher-order array functions over the embedding column —
    * transform/filter/exists/aggregate, all map-side scalar work (no
    * shuffle at all; at 100 TB this is the shape of feature extraction).
    * The L1 norm is a LEFT FOLD (`aggregate` with explicit zero) so the
    * accumulation order is pinned and both engines produce the same
    * double. */
  def q72ArrayHof(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        size(expr("filter(embedding, x -> CAST(x AS DOUBLE) > 0.0D)")).as("n_pos"),
        expr("exists(embedding, x -> abs(CAST(x AS DOUBLE)) > 0.25D)").as("has_big"),
        expr("aggregate(transform(embedding, x -> abs(CAST(x AS DOUBLE))), 0.0D, (a, x) -> a + x)")
          .as("l1_norm"),
        expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))").as("max_abs"))
      .orderBy("vec_id")

  val q72Sql: String =
    """SELECT vec_id,
      |  CAST(len(embedding) AS INTEGER) AS dim,
      |  CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.0)) AS INTEGER) AS n_pos,
      |  len(list_filter(embedding, x -> abs(CAST(x AS DOUBLE)) > 0.25)) > 0 AS has_big,
      |  list_reduce(list_prepend(0.0, list_transform(embedding,
      |    x -> abs(CAST(x AS DOUBLE)))), (a, x) -> a + x) AS l1_norm,
      |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS max_abs
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** q73: regexp family — extract / extract_all / replace / split over the
    * documents table. Pure codegen'd scalar work; the patterns avoid
    * engine-specific regex dialect corners (no lookaround, no \b vs \y). */
  def q73Regexp(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        regexp_extract(col("text"), "(hash|merge|sort)", 1).as("first_algo_word"),
        size(regexp_extract_all(col("text"), lit("[aeiou]+"), lit(0))).as("n_vowel_runs"),
        length(regexp_replace(col("text"), "[aeiou]", "*")).as("redacted_len"),
        size(split(col("text"), " +")).as("n_tokens"))
      .orderBy("doc_id")

  val q73Sql: String =
    """SELECT doc_id,
      |  coalesce(regexp_extract(text, '(hash|merge|sort)', 1), '') AS first_algo_word,
      |  CAST(len(regexp_extract_all(text, '[aeiou]+', 0)) AS INTEGER) AS n_vowel_runs,
      |  CAST(length(regexp_replace(text, '[aeiou]', '*', 'g')) AS INTEGER) AS redacted_len,
      |  CAST(len(string_split_regex(text, ' +')) AS INTEGER) AS n_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q74: collect-aggregates — per-source sorted distinct language list and
    * doc count. `collect_set` is unordered by construction; `sort_array` +
    * `array_join` pins a canonical rendering so the result is deterministic
    * (the rule every collect-style aggregate needs before it can be
    * compared, diffed, or written stably). */
  def q74CollectAgg(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(
        array_join(sort_array(collect_set(col("lang"))), ",").as("langs"),
        countDistinct(col("lang")).as("n_langs"),
        count(lit(1)).as("n_docs"))
      .orderBy("source")

  val q74Sql: String =
    """SELECT source,
      |  array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs,
      |  count(DISTINCT lang) AS n_langs, count(*) AS n_docs
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** q75: deterministic train/val/test split — a pure function of the row
    * key (LCG hash mod 100 → 80/10/10), so the split is reproducible across
    * engines, runs, and re-partitioning, needs no stored split column, and
    * assigns rows map-side with no shuffle (the groupBy here only audits
    * the result). The split hash is the ONE shared definition
    * ([[graft.functions.PortableHash.lcgSplit]], which carries the
    * id-domain bound). */
  def q75HashSplit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("h", expr(graft.functions.PortableHash.lcgSplit("doc_id")))
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("split")

  val q75Sql: String =
    s"""SELECT CASE WHEN ${graft.functions.PortableHash.lcgSplitDuck("doc_id")} < 80 THEN 'train'
      |            WHEN ${graft.functions.PortableHash.lcgSplitDuck("doc_id")} < 90 THEN 'val'
      |            ELSE 'test' END AS split,
      |  count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY 1 ORDER BY split""".stripMargin

  /** q77: exact median + deterministic mode per group. The built-in `mode`
    * breaks ties arbitrarily, so the mode here is derived explicitly:
    * max(struct(count, -value)) picks highest-count-then-LOWEST-value — a
    * pinned tie rule both engines can replicate. Median is Spark's exact
    * `percentile` (linear interpolation), matching DuckDB's
    * `quantile_cont(0.5)`: both compute (lo+hi)/2 on even counts in
    * double — one deterministic IEEE op. */
  def q77MedianMode(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    val mode = counts.groupBy(col("l_returnflag"))
      .agg(max(struct(col("cnt"), (-col("l_quantity")).as("negq"))).as("m"))
      .select(col("l_returnflag"), (-col("m.negq")).as("mode_qty"),
        col("m.cnt").as("mode_count"))
    val med = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5D)").as("median_qty"))
    mode.join(med, Seq("l_returnflag")).orderBy("l_returnflag")
  }

  val q77Sql: String =
    """WITH counts AS (
      |  SELECT l_returnflag, l_quantity, count(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |mode AS (
      |  SELECT l_returnflag, l_quantity AS mode_qty, cnt AS mode_count FROM (
      |    SELECT l_returnflag, l_quantity, cnt, row_number() OVER (
      |      PARTITION BY l_returnflag ORDER BY cnt DESC, l_quantity ASC) AS rn
      |    FROM counts)
      |  WHERE rn = 1),
      |med AS (
      |  SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty
      |  FROM lineitem GROUP BY 1)
      |SELECT mode.l_returnflag, mode_qty, mode_count, median_qty
      |FROM mode JOIN med USING (l_returnflag) ORDER BY l_returnflag""".stripMargin

  /** q317: exact WEIGHTED median per group — the robust-center statistic
    * q77's unweighted median can't express (e.g. "median price weighted
    * by traded volume"). Weight = l_linenumber; the lower weighted
    * median is the smallest value whose cumulative weight reaches half
    * the group total, decided by the exact integer test 2·cum ≥ W (no
    * fractional arithmetic anywhere, so the oracle matches bit-for-bit).
    *
    * Scale shape: the q147 value-domain compression — rows collapse to
    * (group, value) weight sums first (distinct values ≪ rows), and both
    * the cumulative and the group-total windows are KEYED by the group,
    * so no single-partition sort touches anything row-scale. */
  def q317WeightedMedian(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vw = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(sum(col("l_linenumber").cast("long")).as("w"))
    val cum = vw
      .withColumn("cw", sum(col("w")).over(
        Window.partitionBy("l_returnflag").orderBy("l_quantity")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tw", sum(col("w")).over(
        Window.partitionBy("l_returnflag")))
    cum.filter(col("cw") * 2 >= col("tw"))
      .groupBy("l_returnflag")
      .agg(min(col("l_quantity")).as("wmedian_qty"),
        max(col("tw")).as("total_w"))
      .orderBy("l_returnflag")
  }

  val q317Sql: String =
    """WITH vw AS (
      |  SELECT l_returnflag, l_quantity,
      |    CAST(sum(l_linenumber) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT l_returnflag, l_quantity, w,
      |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    sum(w) OVER (PARTITION BY l_returnflag) AS tw
      |  FROM vw)
      |SELECT l_returnflag, min(l_quantity) AS wmedian_qty,
      |  CAST(max(tw) AS BIGINT) AS total_w
      |FROM c WHERE cw * 2 >= tw GROUP BY 1 ORDER BY 1""".stripMargin

  /** q78: datetime function family — truncation, component extraction,
    * day arithmetic, month boundaries. Cross-engine notes: Spark
    * `dayofweek` is 1-based Sunday-first vs DuckDB's 0-based `dayofweek`
    * (adjusted by +1 in the oracle); month delta is computed as
    * year*12+month arithmetic (portable) rather than fractional
    * `months_between`. */
  def q78Datetime(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(
        col("o_orderkey"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since_95"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("month_index"),
        dayofweek(col("o_orderdate")).as("dow_sun1"),
        dayofyear(col("o_orderdate")).as("doy"))
      .orderBy("o_orderkey")

  val q78Sql: String =
    """SELECT o_orderkey,
      |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
      |  strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
      |  CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INTEGER) AS days_since_95,
      |  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INTEGER) AS month_index,
      |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow_sun1,
      |  CAST(dayofyear(o_orderdate) AS INTEGER) AS doy
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q89: null-safe equi-join (`<=>` / IS NOT DISTINCT FROM) — NULL keys
    * join the dimension's NULL row instead of silently dropping. Planned as
    * a hash join on the null-safe key exactly like a plain equi-join (NULL
    * becomes an ordinary key value), so the scale properties are unchanged
    * — the usual fix-up (COALESCE to a sentinel) corrupts real sentinel
    * values; `<=>` doesn't. */
  def q89NullSafeJoin(s: SparkSession, dir: String): DataFrame = {
    val facts = Tables.orders(s, dir)
      .withColumn("k",
        when(col("o_orderkey") % 7 === 0, lit(null).cast("long"))
          .otherwise(col("o_orderkey") % 100))
    val dim = s.range(100).select(col("id").as("dk"),
        concat(lit("bucket_"), col("id")).as("label"))
      .unionByName(s.range(1).select(lit(null).cast("long").as("dk"),
        lit("bucket_null").as("label")))
    facts.join(dim, col("k") <=> col("dk"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("label")
  }

  val q89Sql: String =
    """WITH facts AS (
      |  SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderkey % 100 END AS k,
      |    o_totalprice
      |  FROM orders),
      |dim AS (
      |  SELECT r AS dk, 'bucket_' || CAST(r AS VARCHAR) AS label
      |  FROM (SELECT unnest(range(0, 100)) AS r)
      |  UNION ALL SELECT NULL, 'bucket_null')
      |SELECT label, count(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
      |FROM facts JOIN dim ON k IS NOT DISTINCT FROM dk
      |GROUP BY label ORDER BY label""".stripMargin

  /** q90: posexplode with position arithmetic — per-vector argmax dimension.
    * The generator emits (pos, value) pairs map-side; the argmax is one
    * hash aggregate over `max(struct(|v|, -pos))` (pinned lowest-position
    * tie rule), not a per-vector sort. */
  def q90PosexplodeArgmax(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos"),
        abs(col("col").cast("double")).as("absval"))
      .groupBy("vec_id")
      .agg(max(struct(col("absval"), (-col("pos")).as("negpos"))).as("m"))
      .select(col("vec_id"), (-col("m.negpos")).cast("int").as("argmax_dim"),
        col("m.absval").as("max_abs"))
      .orderBy("vec_id")

  val q90Sql: String =
    """SELECT vec_id, CAST(pos AS INTEGER) AS argmax_dim, absval AS max_abs FROM (
      |  SELECT vec_id, pos,
      |    abs(CAST(embedding[pos + 1] AS DOUBLE)) AS absval,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY abs(CAST(embedding[pos + 1] AS DOUBLE)) DESC, pos) AS rn
      |  FROM (SELECT vec_id, embedding,
      |          unnest(range(0, len(embedding))) AS pos
      |        FROM embeddings))
      |WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q295

  /** q295: GROUP-level train/val/test split — the leakage-PROOF splitting
    * d143 audits for: q75 assigns individual documents, so near-duplicates
    * inside one source routinely straddle train/test (d143 measures
    * exactly that contamination); assigning whole GROUPS (here: sources —
    * in production, domains, crawl hosts, or dup-cluster canonical ids)
    * makes intra-group leakage structurally impossible. The split hashes
    * the group KEY (poly_hash — the id-less string-keyed analogue of
    * q75's LCG), so it is a pure function of the data: reproducible
    * across engines, runs, partitionings, and corpus growth (a source's
    * split never changes as its documents accumulate).
    *
    * Output is the audit aggregate: per split, group and document counts
    * plus token mass — the numbers a practitioner checks before accepting
    * the split (group-level assignment trades exact 80/10/10 document
    * ratios for the leakage guarantee; the audit shows the realized
    * ratios). The invariant "every group lands in exactly one split" is
    * structural (the split is a function of the group key alone).
    *
    * Scale shape: one map-side projection (hash + split label), one
    * aggregate keyed by (split, source) then by split — nothing beyond
    * the corpus scan. */
  /** The per-document (source, n_tokens, split) assignment — exposed so
    * the parity spec can assert the leakage invariant (one split per
    * source) on the SYSTEM's projection, not on a test-local replica.
    * The hash is computed once into a column (the q75 pattern — Spark's
    * subexpression elimination does not reliably dedupe a hash repeated
    * across CASE branches). */
  private[operators] def groupSplitAssign(s: SparkSession,
                                          dir: String): DataFrame = {
    Tables.documents(s, dir)
      .selectExpr("source", "size(split(lower(text), ' ')) AS n_tokens",
        "poly_hash(source) % 100 AS h")
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "val")
          .otherwise("test"))
      .select("source", "n_tokens", "split")
  }

  def q295GroupSplit(s: SparkSession, dir: String): DataFrame =
    groupSplitAssign(s, dir)
      .groupBy("split")
      .agg(countDistinct(col("source")).as("n_groups"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"))
      .orderBy("split")

  val q295Sql: String = {
    val h = graft.operators.Dedup.polyDuckOf("source")
    s"""WITH d AS (
       |  SELECT source, len(string_split(lower(text), ' ')) AS n_tokens,
       |    CASE WHEN ($h) % 100 < 80 THEN 'train'
       |         WHEN ($h) % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents)
       |SELECT split, count(DISTINCT source) AS n_groups,
       |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM d GROUP BY split ORDER BY split""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q317_weighted_median" -> q317WeightedMedian,
    "q295_group_split"    -> q295GroupSplit,
    "q89_null_safe_join"  -> q89NullSafeJoin,
    "q90_posexplode_argmax" -> q90PosexplodeArgmax,
    "q70_cube"          -> q70Cube,
    "q71_stats_moments" -> q71StatsMoments,
    "q72_array_hof"     -> q72ArrayHof,
    "q73_regexp"        -> q73Regexp,
    "q74_collect_agg"   -> q74CollectAgg,
    "q75_hash_split"    -> q75HashSplit,
    "q77_median_mode"   -> q77MedianMode,
    "q78_datetime"      -> q78Datetime)

  val oracle: Map[String, String] = Map(
    "q317_weighted_median" -> q317Sql,
    "q295_group_split"    -> q295Sql,
    "q89_null_safe_join"  -> q89Sql,
    "q90_posexplode_argmax" -> q90Sql,
    "q70_cube"          -> q70Sql,
    "q71_stats_moments" -> q71Sql,
    "q72_array_hof"     -> q72Sql,
    "q73_regexp"        -> q73Sql,
    "q74_collect_agg"   -> q74Sql,
    "q75_hash_split"    -> q75Sql,
    "q77_median_mode"   -> q77Sql,
    "q78_datetime"      -> q78Sql)
}
