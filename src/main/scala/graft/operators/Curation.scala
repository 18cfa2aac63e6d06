package graft.operators

import graft.Tables
import graft.functions.OracleSafe.dsum
import graft.functions.PortableHash.shingles
import graft.plans.TopKPerKey
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Corpus-curation operators, third batch (round 2): train/eval
  * contamination detection, deterministic per-group sampling, incremental
  * aggregate maintenance, snapshot diffing, skew diagnostics, per-domain
  * caps, and vocabulary encoding. These are the operations a web-scale
  * training-data pipeline runs between raw crawl and tokenized shards; the
  * reference's medallion pipeline (SURVEY.md §2) stops at conformed silver
  * tables, so everything here is north-star extension surface, built on the
  * same portable-hash kernels so every query is DuckDB-hash-checkable.
  */
object Curation {

  private val P = graft.functions.PortableHash.P

  /** DuckDB twin of the native `poly_hash` over an arbitrary string expr. */
  private def polyDuck(sExpr: String): String =
    s"""list_reduce(list_prepend(CAST(7 AS BIGINT),
       |  list_transform(string_split($sExpr,''), c -> CAST(ascii(c) AS BIGINT))),
       |  (acc, x) -> (acc * 31 + x) % $P)""".stripMargin

  private[graft] val GramIdxLayout = graft.SparkSupport.Layout("gram_idx", 1)
  /** t92: train/eval contamination detection — the n-gram-overlap check run
    * before any benchmark number is trusted: does an eval document's content
    * appear in the training set? Eval = every 7th doc; overlap unit = the
    * 5-token shingle (hashed to a long by the native codegen'd
    * [[graft.catalyst.PolyHash]]).
    *
    * Scale shape: the training side collapses to DISTINCT gram hashes (one
    * hash-keyed aggregate — at 100 TB this set is the dedup-index artifact,
    * built once and reused across eval suites), and the probe is an equi-join
    * keyed by the gram hash, linear in |eval grams|. Nothing is ever
    * pairwise: a doc×doc formulation would be |eval|×|train| and is exactly
    * what the gram-hash join avoids. The gram index is persisted because it
    * feeds both the train and eval branches (Spark re-executes unshared
    * subplans — see Dedup's cost notes). */
  /** The 5-gram hash index as a built-once corpus artifact (t92's layout,
    * shared with t219's splice) — materialized per corpus dir exactly like
    * Dedup's shingle index, then read back columnar. */
  private[operators] def gramIndex(s: SparkSession, dir: String): DataFrame = {
    val gramPath = graft.SparkSupport.layoutArtifact(GramIdxLayout, dir) { p =>
      Tables.documents(s, dir)
        // shingles() already degrades sub-5-token docs to an empty array
        // (see its scaladoc); this filter is a pure work-skip before the
        // per-doc transform. t219's RAW sequence(1, size-4) window stage
        // still genuinely needs its own guard.
        .filter(expr(s"size(${graft.functions.PortableHash.tokens}) >= 5"))
        .selectExpr("doc_id", s"explode(${shingles(5)}) AS g")
        .selectExpr("doc_id", "poly_hash(g) AS h")
        .write.mode("overwrite").parquet(p)
    }
    Tables.parquet(s, gramPath)
  }

  def t92Contamination(s: SparkSession, dir: String): DataFrame = {
    // persisted in-memory on top of the layout: it feeds both the train
    // and eval branches of this query's plan
    val grams = gramIndex(s, dir)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val train = grams.filter(col("doc_id") % 7 =!= 0).select("h").distinct()
    grams.filter(col("doc_id") % 7 === 0)
      .join(train.withColumn("hit", lit(1)), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .withColumn("contamination", round(col("n_hit") / col("n_grams"), 6))
      .withColumn("is_contaminated", (col("contamination") >= 0.1).cast("int"))
      .orderBy("doc_id")
  }

  val t92Sql: String =
    s"""WITH s AS (
       |  SELECT doc_id, ${polyDuck("sh")} AS h
       |  FROM (
       |    SELECT doc_id, unnest(list_distinct(list_transform(
       |      range(1, len(string_split(lower(text),' ')) - 3),
       |      i -> array_to_string((string_split(lower(text),' '))[i:i+4], ' ')))) AS sh
       |    FROM documents)),
       |t AS (SELECT DISTINCT h FROM s WHERE doc_id % 7 <> 0),
       |e AS (SELECT doc_id, s.h, CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END AS hit
       |      FROM s LEFT JOIN t ON s.h = t.h WHERE doc_id % 7 = 0)
       |SELECT doc_id, count(*) AS n_grams, CAST(sum(hit) AS BIGINT) AS n_hit,
       |  round(sum(hit) / count(*), 6) AS contamination,
       |  CAST(round(sum(hit) / count(*), 6) >= 0.1 AS INTEGER) AS is_contaminated
       |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q93: deterministic per-group uniform sample — "n rows per stratum",
    * reproducible across engines, runs, and partitionings. Selection rule:
    * the k smallest portable hashes of the row key per group (bottom-k by
    * hash IS a uniform sample without replacement, and unlike `sample()`'s
    * per-partition RNG it is a pure function of the data). Physically this
    * routes through the custom [[graft.plans.TopKPerKey]] operator: each map
    * task reduces to ≤ k rows per group before the exchange, so the shuffle
    * carries k·tasks rows per group — never the input. The row_number window
    * idiom the oracle uses would sort every row of every group. */
  def q93GroupSample(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .selectExpr("o_orderpriority", "o_orderkey",
        "poly_hash(CAST(o_orderkey AS STRING)) AS h")
    TopKPerKey(o, Seq("o_orderpriority"), Seq("h" -> true, "o_orderkey" -> true), 20)
      .orderBy("o_orderpriority", "h", "o_orderkey")
  }

  val q93Sql: String =
    s"""SELECT o_orderpriority, o_orderkey, h FROM (
       |  SELECT o_orderpriority, o_orderkey, h,
       |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY h, o_orderkey) AS rn
       |  FROM (SELECT o_orderpriority, o_orderkey,
       |          ${polyDuck("CAST(o_orderkey AS VARCHAR)")} AS h
       |        FROM orders))
       |WHERE rn <= 20 ORDER BY o_orderpriority, h, o_orderkey""".stripMargin

  /** q94: incremental aggregate maintenance — the materialized-view pattern
    * that makes 100 TB aggregation tables affordable: keep per-key PARTIAL
    * state (decimal sum + count — associative, commutative), aggregate only
    * the new delta partition, and merge states by re-aggregation. History is
    * never rescanned; the merge's cost is |keys|, not |rows|. The gate
    * computes state(< 1999) ⊕ delta([1999, 2000-07)) and the oracle computes
    * the full scan over (< 2000-07) directly — equality IS the maintenance
    * invariant. Decimal state makes the merge order-independent (see
    * [[graft.functions.OracleSafe]]). */
  def q94IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    def partial(df: DataFrame): DataFrame =
      df.groupBy("o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(38,6)")).as("s"),
          count(lit(1)).as("n"))
    val o = Tables.orders(s, dir)
    val state = partial(o.filter(col("o_orderdate") < lit("1999-01-01")))
    val delta = partial(o.filter(col("o_orderdate") >= lit("1999-01-01") &&
      col("o_orderdate") < lit("2000-07-01")))
    state.unionByName(delta)
      .groupBy("o_custkey")
      .agg(sum(col("s")).cast("double").as("total"), sum(col("n")).as("n_orders"))
      .orderBy("o_custkey")
  }

  val q94Sql: String =
    """SELECT o_custkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total,
      |  COUNT(*) AS n_orders
      |FROM orders WHERE o_orderdate < TIMESTAMP '2000-07-01'
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** q95: snapshot diff — change detection between two table versions
    * without a changelog: full-outer join on the key, per-row comparison,
    * classify added/deleted/modified/same. v2 is derived from v1 with
    * deterministic edits (keys %97 deleted, %13 repriced +10%, %101 cloned
    * to new keys). The join is one hash-keyed shuffle per side; per-row
    * comparison is map-side after the join. At 100 TB both snapshots are
    * key-partitioned parquet, so the join co-locates and the diff streams.
    * (Per-row double compares are IEEE-deterministic; nothing here depends
    * on accumulation order.) */
  def q95SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.orders(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val kept = v1.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 0, col("o_totalprice") * 1.1)
          .otherwise(col("o_totalprice")))
    // planted "added" rows live in the NEGATED key domain: TPC-H orderkeys
    // are strictly positive at every SF, so -k can never collide with a
    // real key — a fixed additive offset (the previous form) collides once
    // keys pass it (sf >= 2 at +1e7), silently fanning out the full-outer
    // join while both engines still agree
    val added = v1.filter(col("o_orderkey") % 101 === 0)
      .withColumn("o_orderkey", -col("o_orderkey"))
    val v2 = kept.unionByName(added)
    v1.as("a").join(v2.as("b"), col("a.o_orderkey") === col("b.o_orderkey"), "full_outer")
      .withColumn("change_type",
        when(col("b.o_orderkey").isNull, "deleted")
          .when(col("a.o_orderkey").isNull, "added")
          .when(col("a.o_totalprice") =!= col("b.o_totalprice") ||
            col("a.o_orderstatus") =!= col("b.o_orderstatus"), "modified")
          .otherwise("same"))
      .withColumn("k", coalesce(col("a.o_orderkey"), col("b.o_orderkey")))
      .groupBy("change_type")
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_key"), max(col("k")).as("max_key"))
      .orderBy("change_type")
  }

  val q95Sql: String =
    """WITH v1 AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
      |v2 AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 1.1
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM v1 WHERE o_orderkey % 97 <> 0
      |  UNION ALL
      |  SELECT -o_orderkey, o_orderstatus, o_totalprice
      |  FROM v1 WHERE o_orderkey % 101 = 0),
      |d AS (
      |  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS k,
      |    CASE WHEN b.o_orderkey IS NULL THEN 'deleted'
      |         WHEN a.o_orderkey IS NULL THEN 'added'
      |         WHEN a.o_totalprice <> b.o_totalprice
      |           OR a.o_orderstatus <> b.o_orderstatus THEN 'modified'
      |         ELSE 'same' END AS change_type
      |  FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey)
      |SELECT change_type, count(*) AS n, min(k) AS min_key, max(k) AS max_key
      |FROM d GROUP BY change_type ORDER BY change_type""".stripMargin

  /** q97: key-skew diagnostics — the profiling query run BEFORE choosing a
    * join/partitioning strategy at scale: per-key counts, each hot key's
    * share of the table, and its multiple of the mean key load. Two
    * hash-keyed aggregates (per-key, then 1-row global) plus a broadcast of
    * the 1-row global — nothing driver-side, nothing quadratic. Feeding
    * q49's salting decision ("is the histogram degenerate?") is the point:
    * skew_x ≫ 1 on a join key means salt or AQE-skew-split. */
  def q97SkewDiagnostics(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey").as("key")).agg(count(lit(1)).as("cnt"))
    val global = counts.agg(
      sum(col("cnt")).as("total_rows"), count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(global))
      .withColumn("share", round(col("cnt") / col("total_rows"), 6))
      .withColumn("skew_x", round(col("cnt") * col("n_keys") / col("total_rows"), 6))
      .orderBy(col("cnt").desc, col("key"))
      .limit(10)
      .select("key", "cnt", "total_rows", "n_keys", "share", "skew_x")
  }

  val q97Sql: String =
    """WITH c AS (
      |  SELECT l_suppkey AS key, count(*) AS cnt FROM lineitem GROUP BY 1),
      |g AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_rows, count(*) AS n_keys FROM c)
      |SELECT key, cnt, total_rows, n_keys,
      |  round(cnt / total_rows, 6) AS share,
      |  round(cnt * n_keys / total_rows, 6) AS skew_x
      |FROM c, g ORDER BY cnt DESC, key LIMIT 10""".stripMargin

  /** t98: per-domain document cap — crawl curation's anti-monoculture rule:
    * keep at most k documents per source domain, preferring the longest.
    * Same [[TopKPerKey]] physics as q93: map-side per-domain heaps, the
    * exchange carries ≤ k·tasks rows per domain even when one domain is 90%
    * of the crawl (the exact skew case where the window idiom's sort dies). */
  def t98DomainCap(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select("source", "doc_id", "n_chars")
    TopKPerKey(d, Seq("source"), Seq("n_chars" -> false, "doc_id" -> true), 10)
      .orderBy(col("source"), col("n_chars").desc, col("doc_id"))
  }

  val t98Sql: String =
    """SELECT source, doc_id, n_chars FROM (
      |  SELECT source, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 10 ORDER BY source, n_chars DESC, doc_id""".stripMargin

  /** t99: vocabulary build + positional encode — the last hop before
    * tokenized training shards: rank the corpus's top-100 tokens by
    * frequency (id = frequency rank, ties broken lexically), then encode
    * every document against the vocab. The vocab is a top-k over one
    * hash-keyed count (tiny — it broadcasts); the encode is posexplode →
    * broadcast join → per-doc re-aggregation, with a position-weighted
    * checksum Σ pos·id proving the SEQUENCE round-trips (a bag-of-words
    * error changes the checksum). OOV tokens map to id 0 and are counted —
    * the vocab-coverage metric that sizes real tokenizers. */
  def t99VocabEncode(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .selectExpr("doc_id", "posexplode(split(lower(text), ' ')) AS (pos, tok)")
      // feeds BOTH the vocab count and the encode join — without the
      // persist Spark re-runs the scan+split+explode (the widest
      // intermediate here) once per consumer; released by the runner's
      // clearCache() after the query's action (the repo-wide per-query
      // persist convention — see s132KmeansStep's lifetime note), NOT
      // unpersisted here: the result is lazy, and dropping the cache
      // before the caller materializes would force a full recompute
      .persist(StorageLevel.MEMORY_AND_DISK)
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(100)
      .withColumn("vid",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("tok"))))
      .select("tok", "vid")
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("vid").isNull, 1).otherwise(0)).as("n_oov"),
        sum((col("pos") + 1) * coalesce(col("vid"), lit(0))).as("enc_checksum"))
      .orderBy("doc_id")
  }

  val t99Sql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(range(1, len(string_split(lower(text),' ')) + 1)) AS pos,
      |    unnest(string_split(lower(text),' ')) AS tok
      |  FROM documents),
      |vocab AS (
      |  SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS vid
      |  FROM toks GROUP BY tok ORDER BY count(*) DESC, tok LIMIT 100)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(SUM(CASE WHEN vid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  CAST(SUM(pos * coalesce(vid, 0)) AS BIGINT) AS enc_checksum
      |FROM toks LEFT JOIN vocab USING (tok)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q118: weighted sampling without replacement (Efraimidis–Spirakis A-ES)
    * — per-status k=10 orders drawn with probability proportional to
    * `o_totalprice`. Each row gets an exponential race key r = −ln(u)/w with
    * u ∈ (0,1] derived from the portable hash of its PRIMARY KEY (a pure
    * function of the data — reproducible across engines, partitionings, and
    * reruns, unlike `sample()`'s per-partition RNG); the k smallest r win.
    *
    * Scale shape: the key is map-side arithmetic; selection runs through
    * [[TopKPerKey]]'s bounded per-partition heaps (no per-group sort, no
    * full shuffle of losers) — the same skew-immune path as q93, now with
    * weights. */
  def q118WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .selectExpr("o_orderstatus", "o_orderkey", "o_totalprice",
        "poly_hash(CAST(o_orderkey AS STRING)) AS h")
      .selectExpr("o_orderstatus", "o_orderkey",
        // Rank by the QUANTIZED key: a last-ulp ln() divergence between the
        // JVM and DuckDB libm near the k-th boundary must not flip the
        // selected set, so both engines sort the same SCALED-LONG fixture
        // (floor(x·1e12 + 0.5) cast to BIGINT — the repo-wide quantization
        // discipline at a scale that PRESERVES the race ordering: race
        // values here are −ln(u)/w ≤ ln(P+1)/min(w) ≈ 21/900 ≈ 0.023, so
        // 1e12 scaling keeps 1e-12 granularity (max |key| ≈ 2.3e10, far
        // inside BIGINT) while a 1e6 scale would collapse the key to a few
        // integer values and select a DIFFERENT set than the A-ES race.
        s"CAST(floor(-ln((CAST(h AS DOUBLE) + 1.0D) / ${P + 1}.0D)" +
          " / o_totalprice * 1e12D + 0.5D) AS BIGINT) AS rank_key")
    TopKPerKey(o, Seq("o_orderstatus"),
        Seq("rank_key" -> true, "o_orderkey" -> true), 10)
      .select("o_orderstatus", "o_orderkey", "rank_key")
      .orderBy("o_orderstatus", "o_orderkey")
  }

  val q118Sql: String =
    s"""WITH w AS (
       |  SELECT o_orderstatus, o_orderkey,
       |    CAST(floor(-ln((${polyDuck("CAST(o_orderkey AS VARCHAR)")} + 1.0) / ${P + 1}.0)
       |      / o_totalprice * 1e12 + 0.5e0) AS BIGINT) AS rank_key
       |  FROM orders),
       |k AS (
       |  SELECT o_orderstatus, o_orderkey, rank_key,
       |    row_number() OVER (PARTITION BY o_orderstatus
       |                       ORDER BY rank_key, o_orderkey) AS rn
       |  FROM w)
       |SELECT o_orderstatus, o_orderkey, rank_key
       |FROM k WHERE rn <= 10 ORDER BY o_orderstatus, o_orderkey""".stripMargin

  /** q138: the end-to-end curation pipeline — the composition the engine
    * exists for, as ONE dataflow: raw corpus (with planted copies) →
    * exact dedup (min-id per content hash, id-semi-join back so only keys
    * shuffle wide) → quality gate (t35's composite score on the raw
    * doubles) → deterministic per-source cap (bottom-k by portable hash
    * through [[TopKPerKey]]'s heaps) → per-source shard stats. Every stage
    * is an operator already verified alone (d29 / t35 / t98); this query
    * gates their COMPOSITION, where stage-boundary bugs (dropped columns,
    * re-keyed ids, double-counted survivors) actually live.
    *
    * Scale shape: stages chain without materialization barriers — dedup
    * shuffles (hash, id) pairs only, the quality gate is map-side, the cap
    * is map-side heaps + one k-bounded exchange, and the final aggregate is
    * |sources| rows. */
  def q138CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val corpus = Dedup.corpusWithCopies(s, dir)
    // stage 1: exact dedup — winners by key, then semi-join the payload back
    val keep = corpus.select(md5(col("text")).as("h"), col("doc_id"))
      .groupBy("h").agg(min("doc_id").as("doc_id"))
    val deduped = corpus.join(keep.select("doc_id"), Seq("doc_id"))
    // stage 2: quality gate (the shared Quality.scoreExpr kernel)
    val toks = "split(lower(text), ' ')"
    val scored = deduped.selectExpr("doc_id", "source", "text",
        s"${Quality.scoreExpr(toks)} AS score")
      .filter(col("score") >= Quality.ScoreThreshold)
    // stage 3: deterministic per-source cap, k smallest portable hashes
    val capped = TopKPerKey(
      scored.selectExpr("source", "doc_id", "score",
        "poly_hash(CAST(doc_id AS STRING)) AS ph", s"size($toks) AS n_tokens"),
      Seq("source"), Seq("ph" -> true, "doc_id" -> true), 100)
    // stage 4: shard stats
    capped.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        round(graft.functions.OracleSafe.davg(col("score")), 6).as("mean_score"))
      .orderBy("source")
  }

  val q138Sql: String = {
    s"""WITH corpus AS (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, 'copy' AS source, text
       |  FROM documents WHERE doc_id % 10 = 0),
       |keep AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
       |dd AS (SELECT c.* FROM corpus c JOIN keep USING (doc_id)),
       |scored AS (
       |  SELECT doc_id, source, text,
       |    ${Quality.scoreDuck()} AS score
       |  FROM dd),
       |gated AS (SELECT * FROM scored WHERE score >= ${Quality.ScoreThreshold}),
       |hashed AS (
       |  SELECT source, doc_id, score,
       |    ${polyDuck("CAST(doc_id AS VARCHAR)")} AS ph,
       |    len(string_split(lower(text), ' ')) AS n_tokens
       |  FROM gated),
       |capped AS (
       |  SELECT * FROM (
       |    SELECT source, doc_id, score, n_tokens,
       |      row_number() OVER (PARTITION BY source ORDER BY ph, doc_id) AS rn
       |    FROM hashed)
       |  WHERE rn <= 100)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  round(CAST(sum(CAST(score AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6)
       |    AS mean_score
       |FROM capped GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- t219

  /** t219: decontamination SPLICE — the REMOVAL step after t92's
    * detection: every training-doc token covered by a 5-token window whose
    * gram hash also appears in the eval set is excised; overlapping
    * windows merge into maximal spans (the islands trick, t154's run
    * detection applied to removal); the cleaned text reassembles from the
    * surviving tokens in order. This is the step that actually repairs a
    * contaminated corpus rather than merely scoring it — the
    * deduplicate-text-datasets "cut the duplicated bytes" operation, at
    * token granularity, against an eval suite.
    *
    * Scale shape: eval grams collapse to a DISTINCT hash set (the gram
    * index is the shared persisted artifact); the probe is one equi-join
    * keyed by gram hash; span merge and token splice are per-doc window/
    * anti-join work keyed by doc_id — nothing pairwise, and only AFFECTED
    * docs ever re-materialize text (clean docs don't pay a rewrite, the
    * copy-on-write discipline a 100 TB decontamination job needs).
    *
    * Output (affected docs only): token counts, removed-token count, span
    * count, and the md5 of the cleaned text — the gate hashes the repaired
    * CONTENT, not just the statistics. */
  def t219Decontaminate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, dir)
      .filter(col("doc_id") % 7 =!= 0)
      .selectExpr("doc_id", s"${graft.functions.PortableHash.tokens} AS tk")
      // a sub-5-token doc has no 5-gram windows; without this guard
      // Spark's sequence(1, size-4) DESCENDS for size < 5 (bogus/negative
      // slice starts) where DuckDB's range() is simply empty. Such docs
      // can never be affected, so dropping them is semantics-preserving.
      .filter(expr("size(tk) >= 5"))
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds windows, splice, sizes
    // r15-opt: native gram_hashes replaces the interpreted per-window
    // slice+concat_ws+hash lambda (hash-identical, TextKernelExprsSpec)
    val wins = toks.selectExpr("doc_id",
        "posexplode(gram_hashes(tk, 5)) AS (p, h)")
      .selectExpr("doc_id", "p + 1 AS pos", "h")
    val ev = gramIndex(s, dir).filter(col("doc_id") % 7 === 0)
      .select("h").distinct()
    val hits = wins.join(ev, "h").select("doc_id", "pos")
    val covered = hits
      .selectExpr("doc_id", "explode(sequence(pos, pos + 4)) AS i")
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds spans, counts, anti-join
    val spans = covered
      .withColumn("grp", col("i") -
        row_number().over(Window.partitionBy("doc_id").orderBy("i")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_removed"),
        countDistinct(col("grp")).as("n_spans"))
    val affected = covered.select("doc_id").distinct()
    val tp = toks.join(affected, "doc_id")
      .selectExpr("doc_id", "posexplode(tk) AS (j, t)")
      .selectExpr("doc_id", "j + 1 AS i", "t")
    val cleaned = tp.join(covered, Seq("doc_id", "i"), "left_anti")
      .groupBy("doc_id")
      .agg(expr("""md5(concat_ws(' ', transform(
        |  array_sort(collect_list(struct(i, t))), e -> e.t)))""".stripMargin)
        .as("clean_md5"))
    toks.selectExpr("doc_id", "size(tk) AS n_tokens")
      .join(spans, "doc_id")
      .join(cleaned, Seq("doc_id"), "left") // fully-covered docs clean to ''
      .selectExpr("doc_id", "n_tokens", "n_removed", "n_spans",
        "coalesce(clean_md5, md5('')) AS clean_md5")
      .orderBy("doc_id")
  }

  val t219Sql: String =
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, string_split(lower(text), ' ') AS tk
       |  FROM documents WHERE doc_id % 7 <> 0),
       |wins AS (
       |  SELECT doc_id, i AS pos,
       |    ${polyDuck("array_to_string(tk[i:i+4], ' ')")} AS h
       |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
       |        FROM toks)),
       |ev AS (
       |  SELECT DISTINCT ${polyDuck("sh")} AS h
       |  FROM (SELECT unnest(list_distinct(list_transform(
       |          range(1, len(string_split(lower(text), ' ')) - 3),
       |          i -> array_to_string(
       |            (string_split(lower(text), ' '))[i:i+4], ' ')))) AS sh
       |        FROM documents WHERE doc_id % 7 = 0)),
       |hits AS (SELECT DISTINCT w.doc_id, w.pos FROM wins w JOIN ev USING (h)),
       |cov AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, i FROM (
       |    SELECT doc_id, unnest(range(pos, pos + 5)) AS i FROM hits)),
       |sp AS (
       |  SELECT doc_id, count(*) AS n_removed, count(DISTINCT grp) AS n_spans
       |  FROM (SELECT doc_id, i,
       |          i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
       |        FROM cov)
       |  GROUP BY doc_id),
       |tp AS (
       |  SELECT doc_id, generate_subscripts(tk, 1) AS i, unnest(tk) AS t
       |  FROM toks WHERE doc_id IN (SELECT doc_id FROM cov)),
       |kept AS (
       |  SELECT tp.doc_id, tp.i, tp.t FROM tp
       |  LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.i = cov.i
       |  WHERE cov.i IS NULL),
       |cl AS (
       |  SELECT doc_id, md5(string_agg(t, ' ' ORDER BY i)) AS clean_md5
       |  FROM kept GROUP BY doc_id),
       |nt AS (SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_tokens FROM toks)
       |SELECT nt.doc_id, n_tokens, n_removed, n_spans,
       |  coalesce(clean_md5, md5('')) AS clean_md5
       |FROM nt JOIN sp ON nt.doc_id = sp.doc_id
       |LEFT JOIN cl ON nt.doc_id = cl.doc_id
       |ORDER BY nt.doc_id""".stripMargin

  // ---------------------------------------------------------------- q220

  /** q220: Neyman allocation — distribute a fixed sampling budget across
    * strata proportional to N_h·S_h (stratum size × standard deviation),
    * the optimal-variance design for stratified estimation and the
    * principled version of "how many docs should each source contribute
    * to the eval sample?" (uniform per-stratum sampling over-samples
    * homogeneous sources; q82/q93 do the DRAWING, this computes the
    * BUDGET). Allocation uses the largest-remainder (Hamilton) method so
    * the integer allocations sum to the budget exactly.
    *
    * Determinism: moments are exact integer sums; S_h derives through one
    * fixed IEEE chain; weights quantize to scaled longs BEFORE the
    * cross-stratum total (order-independent — a double Σw_h would depend
    * on accumulation order), and apportionment (floor quotas + remainder
    * ranking) is pure integer arithmetic with a stratum-name tie-break.
    * One aggregation over the corpus (persisted — the |strata|-row moment
    * table feeds every downstream pass); at most `budget` strata can win
    * a remainder seat (L = budget − Σ⌊quota⌋ ≤ budget), so the remainder
    * rank runs over an `orderBy().limit(budget)` shortlist — a bounded
    * window at ANY strata count, never a full-strata-table sort
    * (round-8 registry-sweep hardening). */
  def q220NeymanAlloc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 100
    val m = Tables.documents(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sx"),
        sum(col("n_chars") * col("n_chars")).as("sxx"))
      .selectExpr("source", "n",
        // degenerate-stratum guard: n = 1 makes the sample variance 0/0 =
        // NaN (and floor(NaN)→BIGINT throws under ANSI); a single-doc
        // stratum has no measurable spread, so its Neyman weight is 0
        """CASE WHEN n < 2 THEN 0e0 ELSE
          |  sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
          |    / n) / (n - 1)) END AS sd""".stripMargin)
      .selectExpr("source", "n", "sd",
        "CAST(floor(n * sd * 1e6D + 0.5D) AS BIGINT) AS w6")
      .persist(StorageLevel.MEMORY_AND_DISK) // |strata| rows, one corpus scan
    // all-uniform corpus guard: every sd = 0 makes W = 0 (division by
    // zero); fall back to equal weights, i.e. uniform allocation
    val a = m.crossJoin(broadcast(
        m.agg(sum(col("w6")).as("W0"), count(lit(1)).as("nst"))))
      .selectExpr("source", "n", "sd",
        "CASE WHEN W0 = 0 THEN CAST(1 AS BIGINT) ELSE w6 END AS we",
        "CASE WHEN W0 = 0 THEN nst ELSE W0 END AS W")
      .selectExpr("source", "n", "sd",
        s"CAST($budget AS BIGINT) * we DIV W AS base",
        s"CAST($budget AS BIGINT) * we % W AS rem")
    val withL = a.crossJoin(broadcast(
      a.agg((lit(budget) - sum(col("base"))).as("L"))))
    // ≤ budget remainder seats exist, so the rank only ever matters on the
    // top-`budget` shortlist (TakeOrderedAndProject); the window runs over
    // that bounded slice and the winners broadcast-flag back
    val winners = withL
      .orderBy(col("rem").desc, col("source")).limit(budget)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("rem").desc, col("source"))))
      .filter(col("rk") <= col("L"))
      .select(col("source").as("win_src"))
    withL.join(broadcast(winners), col("source") === col("win_src"), "left")
      .selectExpr("source", "n AS n_docs", "round(sd, 6) AS sd",
        "base + CAST(win_src IS NOT NULL AS BIGINT) AS alloc")
      .orderBy("source")
  }

  val q220Sql: String =
    """WITH m AS (
      |  SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sx,
      |    CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
      |  FROM documents GROUP BY source),
      |w AS (
      |  SELECT source, n,
      |    CASE WHEN n < 2 THEN 0e0 ELSE
      |      sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
      |        / n) / (n - 1)) END AS sd
      |  FROM m),
      |w6 AS (SELECT source, n, sd,
      |         CAST(floor(n * sd * 1e6 + 0.5e0) AS BIGINT) AS w6 FROM w),
      |tw AS (SELECT CAST(sum(w6) AS BIGINT) AS W0, count(*) AS nst FROM w6),
      |a AS (SELECT source, n, sd,
      |        CAST(100 AS BIGINT) * (CASE WHEN W0 = 0 THEN 1 ELSE w6 END)
      |          // (CASE WHEN W0 = 0 THEN nst ELSE W0 END) AS base,
      |        CAST(100 AS BIGINT) * (CASE WHEN W0 = 0 THEN 1 ELSE w6 END)
      |          % (CASE WHEN W0 = 0 THEN nst ELSE W0 END) AS rem
      |      FROM w6, tw),
      |lv AS (SELECT 100 - CAST(sum(base) AS BIGINT) AS L FROM a)
      |SELECT source, n AS n_docs, round(sd, 6) AS sd,
      |  base + CAST(row_number() OVER (ORDER BY rem DESC, source) <= L
      |    AS BIGINT) AS alloc
      |FROM a, lv ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t316

  /** t316: DELTA decontamination — eval-suite refresh impact analysis.
    * t92 answers "is this eval doc contaminated by training data?"; this
    * answers the operational inverse a shipped corpus faces when the
    * eval suite GROWS: which training docs become newly contaminated by
    * the delta evals, and which already-shipped SHARDS must therefore be
    * yanked and rebuilt. Old evals (doc_id % 7 = 0, even) were screened
    * at ship time; the delta (doc_id % 7 = 0, odd) is the refresh. A
    * train doc's contamination is its 5-gram overlap ratio against an
    * eval gram set (t92's ≥ 0.1 rule); NEWLY contaminated = over the
    * threshold against old ∪ delta but NOT against old alone — exactly
    * the docs the original screen could not have caught. Shards are the
    * deterministic doc_id % 8 assignment; a shard rebuilds iff it holds
    * ≥ 1 newly-contaminated doc.
    *
    * Scale shape: one pass over the persisted gram index — eval grams
    * collapse to a flagged hash set (h → in_old, in_delta; |eval grams|
    * rows, the broadcast side at scale), train grams probe it in a
    * single equi-join, and both before/after ratios come out of ONE
    * per-doc aggregate (sum of in_old vs sum of greatest(in_old,
    * in_delta) — no second probe of the corpus for the pre-refresh
    * state). The shard rollup is |train docs| → |shards|. */
  def t316DecontamDelta(s: SparkSession, dir: String): DataFrame = {
    val grams = gramIndex(s, dir).persist(StorageLevel.MEMORY_AND_DISK)
    val evalFlags = grams.filter(col("doc_id") % 7 === 0)
      .groupBy("h")
      .agg(max(when(col("doc_id") % 2 === 0, 1).otherwise(0)).as("in_old"),
        max(when(col("doc_id") % 2 =!= 0, 1).otherwise(0)).as("in_delta"))
    val hits = grams.filter(col("doc_id") % 7 =!= 0)
      .join(evalFlags, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("in_old"), lit(0))).as("n_old"),
        sum(greatest(coalesce(col("in_old"), lit(0)),
          coalesce(col("in_delta"), lit(0)))).as("n_union"))
    Tables.documents(s, dir).filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), (col("doc_id") % 8).as("shard"))
      .join(hits, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_grams", "n_old", "n_union"))
      .selectExpr("shard",
        """CAST(n_grams > 0
          |  AND round(n_old / CAST(n_grams AS DOUBLE), 6) >= 0.1
          |  AS INT) AS before""".stripMargin,
        """CAST(n_grams > 0
          |  AND round(n_union / CAST(n_grams AS DOUBLE), 6) >= 0.1
          |  AS INT) AS after""".stripMargin)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("before")).as("n_already"),
        sum(expr("CAST(after = 1 AND before = 0 AS INT)")).as("n_newly"))
      .withColumn("rebuild", (col("n_newly") > 0).cast("int"))
      .orderBy("shard")
  }

  val t316Sql: String =
    s"""WITH s AS (
       |  SELECT doc_id, ${polyDuck("sh")} AS h
       |  FROM (
       |    SELECT doc_id, unnest(list_distinct(list_transform(
       |      range(1, len(string_split(lower(text),' ')) - 3),
       |      i -> array_to_string((string_split(lower(text),' '))[i:i+4], ' ')))) AS sh
       |    FROM documents)),
       |ef AS (
       |  SELECT h,
       |    max(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS in_old,
       |    max(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS in_delta
       |  FROM s WHERE doc_id % 7 = 0 GROUP BY h),
       |hits AS (
       |  SELECT doc_id, count(*) AS n_grams,
       |    sum(coalesce(in_old, 0)) AS n_old,
       |    sum(greatest(coalesce(in_old, 0), coalesce(in_delta, 0))) AS n_union
       |  FROM s LEFT JOIN ef USING (h)
       |  WHERE doc_id % 7 <> 0 GROUP BY doc_id),
       |d AS (
       |  SELECT d.doc_id, d.doc_id % 8 AS shard,
       |    coalesce(n_grams, 0) AS n_grams, coalesce(n_old, 0) AS n_old,
       |    coalesce(n_union, 0) AS n_union
       |  FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
       |  WHERE d.doc_id % 7 <> 0),
       |flags AS (
       |  SELECT shard,
       |    CAST(n_grams > 0 AND
       |      round(n_old / CAST(n_grams AS DOUBLE), 6) >= 0.1 AS INTEGER)
       |      AS before,
       |    CAST(n_grams > 0 AND
       |      round(n_union / CAST(n_grams AS DOUBLE), 6) >= 0.1 AS INTEGER)
       |      AS after
       |  FROM d)
       |SELECT shard, count(*) AS n_docs,
       |  CAST(sum(before) AS BIGINT) AS n_already,
       |  CAST(sum(CASE WHEN after = 1 AND before = 0 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_newly,
       |  CAST(max(CASE WHEN after = 1 AND before = 0 THEN 1 ELSE 0 END)
       |    AS INTEGER) AS rebuild
       |FROM flags GROUP BY shard ORDER BY shard""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t316_decontam_delta" -> t316DecontamDelta,
    "q138_curation_pipeline" -> q138CurationPipeline,
    "t92_contamination"   -> t92Contamination,
    "t219_decontaminate"  -> t219Decontaminate,
    "q220_neyman_alloc"   -> q220NeymanAlloc,
    "q118_weighted_sample" -> q118WeightedSample,
    "q93_group_sample"    -> q93GroupSample,
    "q94_incremental_agg" -> q94IncrementalAgg,
    "q95_snapshot_diff"   -> q95SnapshotDiff,
    "q97_skew_diagnostics" -> q97SkewDiagnostics,
    "t98_domain_cap"      -> t98DomainCap,
    "t99_vocab_encode"    -> t99VocabEncode)

  val oracle: Map[String, String] = Map(
    "t316_decontam_delta" -> t316Sql,
    "q138_curation_pipeline" -> q138Sql,
    "t92_contamination"   -> t92Sql,
    "t219_decontaminate"  -> t219Sql,
    "q220_neyman_alloc"   -> q220Sql,
    "q118_weighted_sample" -> q118Sql,
    "q93_group_sample"    -> q93Sql,
    "q94_incremental_agg" -> q94Sql,
    "q95_snapshot_diff"   -> q95Sql,
    "q97_skew_diagnostics" -> q97Sql,
    "t98_domain_cap"      -> t98Sql,
    "t99_vocab_encode"    -> t99Sql)
}
