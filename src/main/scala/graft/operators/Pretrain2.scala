package graft.operators

import graft.Tables
import graft.functions.PortableHash._
import graft.multimodal.Media
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pretraining-corpus curation, fifth batch: tokenizer-training support
  * (the BPE merge-pair count, Sennrich et al. 2016), content-defined
  * chunking (the rolling-hash boundary rule of LBFS/rsync-style storage
  * dedup), a k-anonymity audit over quasi-identifiers, and multimodal
  * frame sampling through the typed Dataset path ([[Media.frameSample]]).
  * All integer-deterministic — no float leaves an exact-quotient or
  * round(·, 6) form.
  */
object Pretrain2 {

  // ---------------------------------------------------------------- t157

  /** t157: BPE merge-pair counting — the inner loop of byte-pair-encoding
    * tokenizer training: count adjacent symbol pairs across the corpus
    * weighted by word frequency, and flag the argmax (the pair the next
    * merge rule would fuse).
    *
    * Scale shape: the corpus collapses to the VOCABULARY first (word →
    * count, one shuffle with map-side combine); pair explosion runs over
    * distinct words only — corpus size never reaches the pair stage. The
    * argmax flag is a one-pass `min(struct(-n, pair))` aggregate (largest
    * count, smallest pair on ties) broadcast back onto the persisted pair
    * table — no rank window at all, so the pair table may grow to any
    * size (multi-byte alphabets) without an unpartitioned sort
    * (round-8 registry-sweep hardening; was a global row_number). */
  def t157BpePairs(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .selectExpr(s"explode($tokens) AS w")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val pairs = words.filter(length(col("w")) >= 2)
      .selectExpr("cnt",
        "explode(transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))) AS pair")
      .groupBy("pair").agg(sum(col("cnt")).as("n"))
      // feeds the argmax aggregate and the flagged output — one corpus
      // scan (released by the runner's clearCache convention)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val top = pairs.agg(min(struct((-col("n")).as("nn"),
      col("pair").as("p"))).as("t")).select(col("t.p").as("top_pair"))
    pairs.crossJoin(broadcast(top))
      .selectExpr("pair", "n", "CAST(pair = top_pair AS INT) AS is_merge")
      .orderBy("pair")
  }

  val t157Sql: String =
    """WITH w AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
      |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
      |  GROUP BY w),
      |p AS (
      |  SELECT pair, CAST(sum(cnt) AS BIGINT) AS n FROM (
      |    SELECT cnt, unnest(list_transform(range(1, length(w)),
      |      i -> substr(w, i, 2))) AS pair
      |    FROM w WHERE length(w) >= 2)
      |  GROUP BY pair),
      |r AS (
      |  SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rk FROM p)
      |SELECT pair, n, CAST(rk = 1 AS INTEGER) AS is_merge
      |FROM r ORDER BY pair""".stripMargin

  // ---------------------------------------------------------------- t158

  /** t158: content-defined chunking — chunk boundaries where the rolling
    * hash of the last 4 characters satisfies h mod 16 = 0 (the rsync/LBFS
    * boundary rule). Unlike fixed-stride chunking (t153, q55), CDC
    * boundaries survive insertions — an edit shifts at most the chunks it
    * touches, which is what makes chunk-level dedup of revisioned corpora
    * work. Per document: cut count, chunk count, mean chunk length, and
    * the boundary-position checksum.
    *
    * Map-only (one projection per doc, boundary scan inside a single
    * higher-order filter — no shuffle, no explosion); embarrassingly
    * parallel at any scale. */
  def t158CdcChunks(s: SparkSession, dir: String): DataFrame = {
    // seqAsc: empty (not descending) on sub-4-char texts — a descending
    // window would re-hash fabricated positions DuckDB's range never emits
    val bnd = s"filter(${seqAsc("4", "length(text)")}, i -> " +
      s"${polyHash("substring(text, i - 3, 4)")} % 16 = 0)"
    Tables.documents(s, dir)
      .selectExpr("doc_id", "length(text) AS len", s"$bnd AS bnds")
      .selectExpr("doc_id", "len",
        "size(bnds) AS n_cuts",
        "size(filter(bnds, b -> b < len)) + 1 AS n_chunks",
        "aggregate(bnds, CAST(0 AS BIGINT), (a, x) -> a + x) AS cut_checksum")
      .selectExpr("doc_id", "len", "n_cuts", "n_chunks",
        "round(len / CAST(n_chunks AS DOUBLE), 6) AS mean_chunk_len",
        "cut_checksum")
      .orderBy("doc_id")
  }

  val t158Sql: String =
    """WITH b AS (
      |  SELECT doc_id, CAST(length(text) AS INTEGER) AS len,
      |    list_filter(range(4, length(text) + 1), i ->
      |      list_reduce(list_prepend(CAST(7 AS BIGINT),
      |        list_transform(string_split(substr(text, i - 3, 4), ''),
      |          c -> CAST(ascii(c) AS BIGINT))),
      |        (acc, x) -> (acc * 31 + x) % 1000000007) % 16 = 0) AS bnds
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, len,
      |    CAST(len(bnds) AS INTEGER) AS n_cuts,
      |    CAST(len(list_filter(bnds, x -> x < len)) + 1 AS INTEGER) AS n_chunks,
      |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), bnds),
      |      (a, x) -> a + x) AS BIGINT) AS cut_checksum
      |  FROM b)
      |SELECT doc_id, len, n_cuts, n_chunks,
      |  round(len / CAST(n_chunks AS DOUBLE), 6) AS mean_chunk_len,
      |  cut_checksum
      |FROM f ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t192

  /** One (doc_id, h) row per CDC chunk of `textExpr` — t158's boundary
    * rule turned into actual chunk rows, fingerprinted with the native
    * codegen'd poly_hash. Shared by t192's cache side and delta side. */
  private def chunkRows(df: DataFrame, textExpr: String): DataFrame =
    // r15-opt: the fused native cdc_chunk_hashes kernel — ONE code-point
    // pass computes window hashes, cut positions and per-chunk poly_hashes
    // simultaneously; the HOF pipeline it replaces allocated a 4-char
    // substring per position (interpreted filter lambda), then re-scanned
    // every chunk substring. Hash-identical per TextKernelExprsSpec, which
    // pins this exact pipeline against the kernel.
    df.selectExpr("doc_id", s"$textExpr AS t")
      .selectExpr("doc_id", "explode(cdc_chunk_hashes(t, 4, 16)) AS h")

  /** The mid-document insertion edit (v2 of every doc_id % 4 = 0 doc):
    * the revision case fixed-stride chunking handles worst (every chunk
    * after the insertion point shifts) and CDC handles best. */
  private val editedTextExpr: String =
    """concat(
      |  substring(text, 1, CAST(floor(length(text) / 2) AS INT)),
      |  ' zq edit marker ',
      |  substring(text, CAST(floor(length(text) / 2) AS INT) + 1,
      |    length(text) - CAST(floor(length(text) / 2) AS INT)))""".stripMargin

  /** t192: INCREMENTAL RE-EMBEDDING via chunk-fingerprint cache diff —
    * the embedding-cache invalidation step of a revisioned 100 TB corpus:
    * v1's CDC chunk fingerprints are the cache (one row per embedded
    * chunk, global — any document's chunk embedding is reusable); a
    * revised document re-chunks and LEFT-joins the cache, and only the
    * cache misses pay the (GPU-priced) embedding call. Because the
    * chunker is content-defined (t158), a mid-document insertion
    * invalidates only the chunk(s) spanning the edit — the boundaries
    * downstream of the insertion re-synchronize, so the unchanged suffix
    * hits the cache. Fixed-stride chunking would re-embed everything
    * after the edit point.
    *
    * Output per revised doc: chunk count, cache hits, misses to embed,
    * and the reuse rate. Scale shape: chunking/fingerprinting is map-only
    * per side; the diff is one equi-join keyed by fingerprint against the
    * distinct cache — at production scale the cache is the persisted
    * embedding-store key index (the d189 lifecycle applies to it
    * verbatim) and the delta side is only the revised documents. */
  def t192EmbedCacheDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cache = chunkRows(docs, "text").select("h").distinct()
    val v2 = chunkRows(docs.filter(col("doc_id") % 4 === 0), editedTextExpr)
    v2.join(cache.withColumn("cached", lit(1)), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), count(col("cached")).as("n_cached"))
      .selectExpr("doc_id", "n_chunks", "n_cached",
        "n_chunks - n_cached AS n_new",
        "round(n_cached / CAST(n_chunks AS DOUBLE), 6) AS reuse_rate")
      .orderBy("doc_id")
  }

  /** Chunk-row CTE body over a relation `src`(doc_id, t) — DuckDB twin of
    * [[chunkRows]]. */
  private def chunkRowsSql(src: String): String =
    s"""SELECT doc_id,
       |  list_reduce(list_prepend(CAST(7 AS BIGINT),
       |    list_transform(string_split(chunk, ''),
       |      c -> CAST(ascii(c) AS BIGINT))),
       |    (acc, x) -> (acc * 31 + x) % 1000000007) AS h
       |FROM (
       |  SELECT doc_id, unnest(list_transform(range(0, len(cb) + 1), k ->
       |    substr(t,
       |      CASE WHEN k = 0 THEN 1 ELSE cb[k] + 1 END,
       |      (CASE WHEN k = len(cb) THEN len ELSE cb[k + 1] END) -
       |      (CASE WHEN k = 0 THEN 1 ELSE cb[k] + 1 END) + 1))) AS chunk
       |  FROM (
       |    SELECT doc_id, t, len, list_filter(bnds, b -> b < len) AS cb
       |    FROM (
       |      SELECT doc_id, t, CAST(length(t) AS INTEGER) AS len,
       |        list_filter(range(4, length(t) + 1), i ->
       |          list_reduce(list_prepend(CAST(7 AS BIGINT),
       |            list_transform(string_split(substr(t, i - 3, 4), ''),
       |              c -> CAST(ascii(c) AS BIGINT))),
       |            (acc, x) -> (acc * 31 + x) % 1000000007) % 16 = 0) AS bnds
       |      FROM $src)))""".stripMargin

  val t192Sql: String =
    s"""WITH v1src AS (SELECT doc_id, text AS t FROM documents),
       |v2src AS (
       |  SELECT doc_id,
       |    substr(text, 1, CAST(floor(length(text) / 2) AS INTEGER))
       |    || ' zq edit marker ' ||
       |    substr(text, CAST(floor(length(text) / 2) AS INTEGER) + 1,
       |      length(text) - CAST(floor(length(text) / 2) AS INTEGER)) AS t
       |  FROM documents WHERE doc_id % 4 = 0),
       |c1 AS (${chunkRowsSql("v1src")}),
       |v2 AS (${chunkRowsSql("v2src")}),
       |cache AS (SELECT DISTINCT h FROM c1)
       |SELECT v2.doc_id, count(*) AS n_chunks,
       |  count(cache.h) AS n_cached,
       |  count(*) - count(cache.h) AS n_new,
       |  round(count(cache.h) / CAST(count(*) AS DOUBLE), 6) AS reuse_rate
       |FROM v2 LEFT JOIN cache ON v2.h = cache.h
       |GROUP BY v2.doc_id ORDER BY v2.doc_id""".stripMargin

  // ---------------------------------------------------------------- q159

  /** q159: k-anonymity audit — group the corpus by its quasi-identifier
    * tuple (lang, source, size bucket) and flag groups below k = 5: the
    * release-readiness check a curated dataset runs after PII redaction
    * (t83) — redacting direct identifiers is not enough if a rare
    * attribute combination isolates a document. One aggregation, group
    * rows only (the suppression step consumes `k_ok = 0` groups). */
  def q159KAnonymity(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .selectExpr("lang", "source",
        "CAST(floor(n_chars / 100) AS INT) AS size_bucket")
      .groupBy("lang", "source", "size_bucket")
      .agg(count(lit(1)).as("n"))
      .selectExpr("lang", "source", "size_bucket", "n",
        "CAST(n >= 5 AS INT) AS k_ok")
      .orderBy("lang", "source", "size_bucket")

  val q159Sql: String =
    """SELECT lang, source,
      |  CAST(floor(n_chars / 100) AS INTEGER) AS size_bucket,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(*) >= 5 AS INTEGER) AS k_ok
      |FROM documents
      |GROUP BY lang, source, CAST(floor(n_chars / 100) AS INTEGER)
      |ORDER BY lang, source, size_bucket""".stripMargin

  // ---------------------------------------------------------------- m160

  /** m160: multimodal frame sampling through the TYPED path — every
    * payload yields one 16-byte sample per 256-byte stride via
    * [[Media.frameSample]] (the I-frame-sampling contract: reduce payload
    * width BEFORE any shuffle), exploded to one row per frame with its
    * offset and hex sample. The flatMap is the Dataset operator a real
    * codec UDF would run; the oracle recomputes every byte from the same
    * payload with SQL substring math. */
  def m160FrameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Media.mediaTable(Tables.documents(s, dir))
      .as[Media.MediaRow]
      .flatMap { r =>
        Media.frameSample(r.payload, 256).zipWithIndex.map { case (f, i) =>
          (r.media_id, i, i * 256 + 1, f.length,
            f.map(b => "%02X".format(b & 0xff)).mkString)
        }
      }
      .toDF("media_id", "frame_idx", "offset", "frame_len", "frame_hex")
      .orderBy("media_id", "frame_idx")
  }

  val m160Sql: String =
    """WITH media AS (
      |  SELECT doc_id AS media_id, encode(text) AS payload FROM documents),
      |fr AS (
      |  SELECT media_id, payload, octet_length(payload) AS nb,
      |    unnest(range(0, CAST(ceil(octet_length(payload) / 256.0) AS BIGINT))) AS i
      |  FROM media)
      |SELECT media_id, CAST(i AS INTEGER) AS frame_idx,
      |  CAST(i * 256 + 1 AS INTEGER) AS offset,
      |  CAST(least(16, nb - (i * 256 + 1) + 1) AS INTEGER) AS frame_len,
      |  upper(substr(hex(payload), CAST(i * 256 AS INTEGER) * 2 + 1,
      |    2 * CAST(least(16, nb - (i * 256 + 1) + 1) AS INTEGER))) AS frame_hex
      |FROM fr ORDER BY media_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------- q161

  /** q161: per-source corpus report card — the governance rollup a corpus
    * owner reads before a training run: documents, rule-pass rate (t152's
    * battery, composed as a verified kernel — the d143 pattern), token
    * volume, and the downsample decision for sources whose pass rate falls
    * under 50%. Group rows only; every ratio is an exact-integer quotient. */
  def q161SourceReport(s: SparkSession, dir: String): DataFrame = {
    val rules = Pretrain.t152GopherRules(s, dir)
    val src = Tables.documents(s, dir).select("doc_id", "source")
    rules.join(src, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pass")).as("n_pass"),
        sum(col("n_tokens")).as("n_tokens_total"))
      .selectExpr("source", "n_docs", "n_pass", "n_tokens_total",
        "round(n_pass / CAST(n_docs AS DOUBLE), 6) AS pass_rate",
        "CAST(n_pass / CAST(n_docs AS DOUBLE) < 0.5D AS INT) AS downsample")
      .orderBy("source")
  }

  val q161Sql: String =
    s"""WITH base AS (${Pretrain.t152Sql}),
       |j AS (SELECT b.doc_id, b.n_tokens, b.pass, d.source
       |      FROM base b JOIN documents d USING (doc_id))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(pass) AS BIGINT) AS n_pass,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total,
       |  round(CAST(sum(pass) AS BIGINT) / CAST(count(*) AS DOUBLE), 6)
       |    AS pass_rate,
       |  CAST(CAST(sum(pass) AS BIGINT) / CAST(count(*) AS DOUBLE) < 0.5
       |    AS INTEGER) AS downsample
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- d162

  /** d162: LSH index-quality evaluation — precision/recall of d31's
    * band-bucket candidate generation against d30's exact shingle-Jaccard
    * ground truth, the measurement that decides band/row tuning before a
    * corpus-wide dedup run. Composes the two verified kernels (the d143
    * pattern): truth = exact pairs at J ≥ 0.2, candidates = band
    * collisions, hits = verified candidates (a verified candidate is in
    * truth by construction — J is the same measure). One summary row.
    *
    * Scale shape: both kernels are bucket-blocked (never all-pairs); the
    * metrics are three counting aggregates over pair sets. */
  def d162LshRecall(s: SparkSession, dir: String): DataFrame = {
    // ground truth reads the persisted exact-pair layout (the dupPairs
    // premise applied to d30) instead of re-running the full bucket join
    val truth = Dedup.exactPairs(s, dir).select("id1", "id2")
    val cand = Dedup.d31MinhashLsh(s, dir)
    val t = truth.agg(count(lit(1)).as("n_truth"))
    cand.agg(count(lit(1)).as("n_cand"), sum(col("is_dup")).as("nd"))
      .crossJoin(broadcast(t))
      .selectExpr("n_truth", "n_cand", "CAST(nd AS BIGINT) AS n_hit",
        "round(nd / CAST(n_cand AS DOUBLE), 6) AS precision",
        "round(nd / CAST(n_truth AS DOUBLE), 6) AS recall")
  }

  val d162Sql: String =
    s"""WITH ${Dedup.minhashPairCtes},
       |tcommon AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
       |  FROM s a JOIN s b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT id1, id2 FROM tcommon
       |  JOIN n n1 ON id1 = n1.doc_id JOIN n n2 ON id2 = n2.doc_id
       |  WHERE round(common * 1.0 / (n1.ns + n2.ns - common), 6) >= 0.2),
       |cs AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_cand,
       |    CAST(sum(CAST(round(coalesce(common, 0) * 1.0
       |        / (n1.ns + n2.ns - coalesce(common, 0)), 6) >= 0.2 AS INTEGER))
       |      AS BIGINT) AS n_hit
       |  FROM cand LEFT JOIN common USING (id1, id2)
       |  JOIN n n1 ON id1 = n1.doc_id JOIN n n2 ON id2 = n2.doc_id),
       |ts AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth)
       |SELECT n_truth, n_cand, n_hit,
       |  round(n_hit / CAST(n_cand AS DOUBLE), 6) AS precision,
       |  round(n_hit / CAST(n_truth AS DOUBLE), 6) AS recall
       |FROM cs CROSS JOIN ts""".stripMargin

  // ---------------------------------------------------------------- maps

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t157_bpe_pairs"    -> t157BpePairs,
    "t158_cdc_chunks"   -> t158CdcChunks,
    "t192_embed_cache_diff" -> t192EmbedCacheDiff,
    "q159_k_anonymity"  -> q159KAnonymity,
    "m160_frame_sample" -> m160FrameSample,
    "q161_source_report" -> q161SourceReport,
    "d162_lsh_recall"   -> d162LshRecall)

  val oracle: Map[String, String] = Map(
    "t157_bpe_pairs"    -> t157Sql,
    "t158_cdc_chunks"   -> t158Sql,
    "t192_embed_cache_diff" -> t192Sql,
    "q159_k_anonymity"  -> q159Sql,
    "m160_frame_sample" -> m160Sql,
    "q161_source_report" -> q161Sql,
    "d162_lsh_recall"   -> d162Sql)
}
