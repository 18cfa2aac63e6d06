package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch-based approximate aggregates — the cardinality/quantile estimators
  * a 100 TB pipeline runs where exact answers would shuffle every distinct
  * value: HyperLogLog++ (`approx_count_distinct`) and KLL-style quantiles
  * (`percentile_approx`). Both are MERGEABLE sketches: partial states
  * combine associatively, so the shuffle carries one fixed-size sketch per
  * (group, task) — same wire cost as a plain count, regardless of
  * cardinality.
  *
  * Oracle design: an approximate value can't hash-match a different
  * engine's sketch, so the gate query emits the EXACT aggregate alongside a
  * deterministic `within-tolerance` flag comparing Spark's sketch to
  * Spark's exact value. DuckDB re-derives the exact columns and pins the
  * flag to TRUE — if the sketch ever drifts outside its error contract, the
  * correctness gate fails, not just a unit test. SketchesSpec additionally
  * checks the error bound on adversarial generated data.
  */
object Sketches {

  def q52ApproxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), rsd = 0.02).as("hll_parts"),
        expr("percentile(l_extendedprice, 0.5)").as("exact_p50"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("kll_p50"))
      .select(
        col("l_returnflag"), col("l_linestatus"), col("exact_parts"),
        (abs(col("hll_parts") - col("exact_parts")) <=
          col("exact_parts") * 0.05).as("hll_within_5pct"),
        round(col("exact_p50"), 6).as("exact_p50"),
        (abs(col("kll_p50") - col("exact_p50")) <=
          abs(col("exact_p50")) * 0.01).as("kll_within_1pct"))
      .orderBy("l_returnflag", "l_linestatus")

  val q52Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  COUNT(DISTINCT l_partkey) AS exact_parts,
      |  TRUE AS hll_within_5pct,
      |  round(median(l_extendedprice), 6) AS exact_p50,
      |  TRUE AS kll_within_1pct
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** d62: the custom [[graft.functions.KmvSketch]] typed Aggregator — KMV
    * distinct-count over the portable hash of user_id, per event type.
    * Unlike HLL (q52's within-tolerance flags), KMV's state is the k
    * smallest distinct hashes — order-independent set math — so the k-th
    * hash AND the estimate are exact values the DuckDB oracle re-derives:
    * a custom distributed aggregate verified bit-for-bit cross-engine. */
  def d62KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .selectExpr("event_type", "user_id",
        "poly_hash(CAST(user_id AS STRING)) AS h")
      .groupBy("event_type")
      .agg(
        graft.functions.KmvSketch.kmv(col("h"), 64).as("sk"),
        countDistinct(col("user_id")).as("exact_distinct"))
      .select(col("event_type"), col("sk.kth_hash").as("kth_hash"),
        col("sk.n_seen").as("n_seen"), col("sk.est_distinct").as("est_distinct"),
        col("exact_distinct"))
      .orderBy("event_type")
  }

  val d62Sql: String =
    """WITH hs AS (
      |  SELECT DISTINCT event_type,
      |    list_reduce(list_prepend(CAST(7 AS BIGINT),
      |      list_transform(string_split(CAST(user_id AS VARCHAR), ''),
      |        c -> CAST(ascii(c) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h
      |  FROM events),
      |ex AS (
      |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct FROM events
      |  GROUP BY event_type),
      |rk AS (
      |  SELECT event_type, h,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS nd
      |  FROM hs)
      |SELECT rk.event_type, h AS kth_hash,
      |  CAST(LEAST(nd, 64) AS INTEGER) AS n_seen,
      |  CASE WHEN nd >= 64
      |       THEN (63 * CAST(1000000007 AS BIGINT)) // h
      |       ELSE nd END AS est_distinct,
      |  exact_distinct
      |FROM rk JOIN ex ON rk.event_type = ex.event_type
      |WHERE rn = LEAST(nd, 64)
      |ORDER BY 1""".stripMargin

  /** q119: join-cardinality estimation from Count-Min inner products — the
    * planner-side sketch that answers "how big would A ⋈ B be?" WITHOUT
    * running the join. Each side folds into one fixed 4×2048 counter array
    * ([[graft.functions.CmsSketch]], map-side partial-aggregated); the
    * estimate is the min-over-rows inner product Σⱼ A[i,j]·B[i,j], which
    * never under-counts and overshoots ≤ (e/width)·|A|·|B| in expectation —
    * the classic AMS/CM dot-product guarantee. At 100 TB this is how an
    * optimizer chooses broadcast-vs-shuffle or detects a runaway key before
    * paying for the join; here the gate ALSO computes the exact join size
    * (one (key, fa·fb) aggregation, never materializing join rows) and
    * asserts the contract flags the oracle pins to TRUE. */
  def q119JoinSizeEstimate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    val depth = 4; val width = 2048
    val a = Tables.lineitem(s, dir)
      .selectExpr("l_partkey", "poly_hash(CAST(l_partkey AS STRING)) AS h")
    val b = Tables.lineitem(s, dir).filter(col("l_quantity") >= 45)
      .selectExpr("l_partkey", "poly_hash(CAST(l_partkey AS STRING)) AS h")
    val cms = new graft.functions.CmsSketch(depth, width)
    val sa = a.select(col("h")).as[Long](Encoders.scalaLong)
      .select(cms.toColumn).head()
    val sb = b.select(col("h")).as[Long](Encoders.scalaLong)
      .select(cms.toColumn).head()
    val est = (0 until depth).map { i =>
      (0 until width).map(j => sa(i * width + j) * sb(i * width + j)).sum
    }.min
    // input counts come from the sketches themselves (every row of a CMS
    // sums to exactly N — one increment per input per depth), so no extra
    // count() scans over the inputs
    val na = (0 until width).map(j => sa(j)).sum
    val nb = (0 until width).map(j => sb(j)).sum
    // The CM inner-product bound e/w·|A|·|B| holds only in expectation
    // (P[overshoot > bound] ≈ e^-depth ≈ 2% with depth 4 — a pinned TRUE
    // would be a coin-flip gate on a fresh SF). Gate at an 8× slack
    // multiple instead: per-row Markov gives P ≤ 1/(8e) per estimate,
    // min-over-depth ⇒ P[fail] ≤ (8e)^-4 ≈ 5e-6 — deterministic in
    // practice while still asserting the sketch isn't wildly off.
    // `never_undercounts` stays pinned: it is a structural CM guarantee.
    val bound = 8L * math.ceil(math.E / width * na.toDouble * nb.toDouble).toLong
    val exact = a.groupBy("l_partkey").agg(count(lit(1)).as("fa"))
      .join(b.groupBy("l_partkey").agg(count(lit(1)).as("fb")), "l_partkey")
      .agg(expr("CAST(sum(CAST(fa AS DECIMAL(38,0)) * fb) AS BIGINT)"))
      .head().getLong(0)
    s.range(1).select(
      lit(na).as("n_left"), lit(nb).as("n_right"),
      lit(exact).as("exact_join_rows"),
      lit(est >= exact).as("never_undercounts"),
      lit(est - exact <= bound).as("within_slack_bound"))
  }

  val q119Sql: String =
    """WITH b AS (SELECT l_partkey FROM lineitem WHERE l_quantity >= 45)
      |SELECT
      |  (SELECT count(*) FROM lineitem) AS n_left,
      |  (SELECT count(*) FROM b) AS n_right,
      |  (SELECT count(*) FROM lineitem a JOIN b ON a.l_partkey = b.l_partkey)
      |    AS exact_join_rows,
      |  TRUE AS never_undercounts, TRUE AS within_slack_bound""".stripMargin

  /** q191: quantiles from a DETERMINISTIC bottom-k hash sample — the
    * bounded-memory one-pass quantile path that completes the sketch
    * family (KMV distinct / CMS frequency + join size / Bloom membership /
    * now quantiles). The sample is the k rows with the smallest portable
    * hash of their event_id (uniform over the stream, mergeable: union two
    * shards' samples and re-take bottom-k — KMV's set math applied to
    * order statistics), so unlike approx_percentile's order-dependent GK
    * state the estimate is REPRODUCIBLE cross-engine and the oracle checks
    * the values, not a tolerance flag.
    *
    * Scale shape: `orderBy(h).limit(k)` compiles to TakeOrderedAndProject —
    * per-partition bottom-k heaps then one driver merge of |partitions|·k
    * rows; no global sort, no single-partition shuffle. The full-data
    * exact quantiles ride along as the error column (the gate doubles as
    * an accuracy report, the s163-recall pattern). */
  def q191SketchQuantiles(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val qsArr = "array(0.1D, 0.25D, 0.5D, 0.75D, 0.9D)"
    // ties on h (hash collisions) are broken by the unique event_id so the
    // boundary of the limit is deterministic on both engines
    val sample = Tables.events(s, dir)
      .selectExpr("value", "poly_hash(CAST(event_id AS STRING)) AS h",
        "event_id")
      .orderBy("h", "event_id").limit(k)
    val est = sample.agg(expr(s"percentile(value, $qsArr)").as("es"))
    val exact = Tables.events(s, dir)
      .agg(expr(s"percentile(value, $qsArr)").as("xs"))
    est.crossJoin(exact)
      .selectExpr(
        s"""explode(transform(sequence(0, 4), i -> struct(
           |  element_at($qsArr, i + 1) AS q,
           |  element_at(es, i + 1) AS e,
           |  element_at(xs, i + 1) AS x))) AS z""".stripMargin)
      .selectExpr("z.q AS q", "round(z.e, 6) AS est",
        "round(z.x, 6) AS exact_q", "round(abs(z.e - z.x), 6) AS abs_err")
      .orderBy("q")
  }

  val q191Sql: String =
    """WITH smp AS (
      |  SELECT value FROM (
      |    SELECT value,
      |      list_reduce(list_prepend(CAST(7 AS BIGINT),
      |        list_transform(string_split(CAST(event_id AS VARCHAR), ''),
      |          c -> CAST(ascii(c) AS BIGINT))),
      |        (acc, x) -> (acc * 31 + x) % 1000000007) AS h,
      |      event_id
      |    FROM events ORDER BY h, event_id LIMIT 256)),
      |e AS (SELECT quantile_cont(value, [0.1, 0.25, 0.5, 0.75, 0.9]) AS es
      |      FROM smp),
      |x AS (SELECT quantile_cont(value, [0.1, 0.25, 0.5, 0.75, 0.9]) AS xs
      |      FROM events),
      |i AS (SELECT unnest(range(1, 6)) AS i)
      |SELECT CAST(([0.1, 0.25, 0.5, 0.75, 0.9])[i] AS DOUBLE) AS q,
      |  round(es[i], 6) AS est, round(xs[i], 6) AS exact_q,
      |  round(abs(es[i] - xs[i]), 6) AS abs_err
      |FROM e, x, i ORDER BY q""".stripMargin

  /** d195: corpus-overlap estimation by KMV SET ALGEBRA — "how much of
    * corpus B's shingle set is already in corpus A?" answered WITHOUT ever
    * joining the corpora. Each corpus folds to one k-minimum-value array
    * ([[graft.functions.KmvSketch.kmvArr]] — fixed k·8 bytes, map-side
    * combined); union cardinality comes from the merged sketch's k-th
    * hash, and the intersection/Jaccard from the fraction ρ of the union
    * sketch's members present in BOTH input sketches (the theta-sketch
    * set-operation construction, Dasgupta et al., on KMV state). This is
    * the 100 TB shape for "should we even ingest this crawl?": two cheap
    * streaming passes + array math on two k-arrays, versus d30's
    * corpus×corpus join.
    *
    * Corpora: sources src0–src9 vs src10–src19 over the persisted shingle
    * index ([[Dedup.shingleIndex]] — built once per corpus, shared with
    * the whole near-dup family). The exact union/intersection ride along
    * as gate truth (one distinct-hash aggregation — affordable at gate SF,
    * dropped in production where the sketches ARE the answer).
    *
    * Determinism: sketch state is the k smallest DISTINCT hashes — pure
    * set math, order-independent — and every estimate is integer
    * arithmetic ((k−1)·P div h_k; ρ in basis points via integer div), so
    * the oracle re-derives every column bit-for-bit. */
  def d195CorpusOverlap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val k = 256
    val src = graft.Tables.documents(s, dir)
      .selectExpr("doc_id", "CAST(substring(source, 4) AS INT) < 10 AS in_a")
    val tagged = Dedup.shingleIndex(s, dir).join(src, "doc_id")
      .select(col("in_a"), col("h"))
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds both sketches + exact truth
    // persist the 2-row sketch frame: a and b below are two FILTER branches
    // of it, and without materialization Spark re-executes the expensive
    // KMV + countDistinct aggregation once per branch (tagged caches the
    // scan, but the distinct-aggregation work — the dominant cost here —
    // would double; the round-1 unshared-subplan lesson)
    val sk = tagged.groupBy("in_a")
      .agg(graft.functions.KmvSketch.kmvArr(col("h"), k).as("arr"),
        countDistinct(col("h")).as("dn"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val a = sk.filter(col("in_a"))
      .select(col("arr").as("ka"), col("dn").as("exact_a"))
    val b = sk.filter(!col("in_a"))
      .select(col("arr").as("kb"), col("dn").as("exact_b"))
    val ex = tagged.groupBy("h").agg(
        max(when(col("in_a"), 1).otherwise(0)).as("ia"),
        max(when(col("in_a"), 0).otherwise(1)).as("ib"))
      .agg(count(lit(1)).as("exact_union"),
        sum(col("ia") * col("ib")).as("exact_inter"))
    val P = graft.functions.PortableHash.P
    a.crossJoin(broadcast(b)).crossJoin(broadcast(ex)) // three 1-row frames — scalar attach
      .withColumn("ku", expr(s"slice(array_sort(array_union(ka, kb)), 1, $k)"))
      .withColumn("nu", expr("CAST(size(ku) AS BIGINT)"))
      .withColumn("kth", expr("element_at(ku, CAST(nu AS INT))"))
      .withColumn("est_union", expr(
        s"CASE WHEN nu < $k THEN nu ELSE ${(k - 1).toLong}L * ${P}L div kth END"))
      .withColumn("in_both", expr(
        "CAST(size(filter(ku, x -> array_contains(ka, x) AND array_contains(kb, x))) AS BIGINT)"))
      .selectExpr(s"$k AS k", "nu AS n_union_sketch", "kth AS kth_hash",
        "est_union", "in_both",
        "in_both * est_union div nu AS est_inter",
        "10000L * in_both div nu AS jaccard_bp",
        "exact_a", "exact_b", "exact_union", "exact_inter",
        "10000L * exact_inter div exact_union AS exact_jaccard_bp")
  }

  val d195Sql: String =
    s"""WITH ${Dedup.shingleIndexSql},
       |tagged AS MATERIALIZED (
       |  SELECT CAST(substring(source, 4) AS INT) < 10 AS in_a, h
       |  FROM s JOIN documents USING (doc_id)),
       |hs AS MATERIALIZED (SELECT DISTINCT in_a, h FROM tagged),
       |ka AS (SELECT list(h ORDER BY h) AS ka
       |       FROM (SELECT h FROM hs WHERE in_a ORDER BY h LIMIT 256)),
       |kb AS (SELECT list(h ORDER BY h) AS kb
       |       FROM (SELECT h FROM hs WHERE NOT in_a ORDER BY h LIMIT 256)),
       |da AS (SELECT count(*) AS exact_a FROM hs WHERE in_a),
       |db AS (SELECT count(*) AS exact_b FROM hs WHERE NOT in_a),
       |ex AS (
       |  SELECT count(*) AS exact_union,
       |    CAST(sum(CASE WHEN ia > 0 AND ib > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS exact_inter
       |  FROM (SELECT h, max(CASE WHEN in_a THEN 1 ELSE 0 END) AS ia,
       |               max(CASE WHEN in_a THEN 0 ELSE 1 END) AS ib
       |        FROM tagged GROUP BY h)),
       |u AS (SELECT ka, kb, (list_sort(list_distinct(ka || kb)))[1:256] AS ku
       |      FROM ka, kb),
       |m AS (SELECT ka, kb, ku, CAST(len(ku) AS BIGINT) AS nu,
       |        ku[len(ku)] AS kth,
       |        CAST(len(list_filter(ku, x -> list_contains(ka, x)
       |          AND list_contains(kb, x))) AS BIGINT) AS in_both
       |      FROM u),
       |est AS (SELECT nu, kth, in_both,
       |        CASE WHEN nu < 256 THEN nu
       |             ELSE CAST(255 AS BIGINT) * 1000000007 // kth END AS est_union
       |      FROM m)
       |SELECT 256 AS k, nu AS n_union_sketch, kth AS kth_hash,
       |  est_union, in_both,
       |  in_both * est_union // nu AS est_inter,
       |  CAST(10000 AS BIGINT) * in_both // nu AS jaccard_bp,
       |  exact_a, exact_b, exact_union, exact_inter,
       |  CAST(10000 AS BIGINT) * exact_inter // exact_union AS exact_jaccard_bp
       |FROM est, da, db, ex""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q52_approx_distinct" -> q52ApproxDistinct,
    "d62_kmv_distinct"    -> d62KmvDistinct,
    "q119_join_size_estimate" -> q119JoinSizeEstimate,
    "q191_sketch_quantiles" -> q191SketchQuantiles,
    "d195_corpus_overlap" -> d195CorpusOverlap)

  val oracle: Map[String, String] = Map(
    "q52_approx_distinct" -> q52Sql,
    "d62_kmv_distinct"    -> d62Sql,
    "q119_join_size_estimate" -> q119Sql,
    "q191_sketch_quantiles" -> q191Sql,
    "d195_corpus_overlap" -> d195Sql)
}
