package graft.operators

import graft.Tables
import graft.functions.PortableHash._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis suite over `documents` (north star): token counting,
  * quality scoring, language-ID, and document fingerprinting. All pure
  * Catalyst expressions in one projection pass — these are embarrassingly
  * parallel map-side ops, so at 100 TB they scale linearly with input splits
  * and never shuffle (the only shuffle in any query here is the final
  * presentation sort, which a real pipeline would drop).
  */
object TextAnalysis {

  /** Token counting: whitespace tokens + a BPE-ish subword regex (runs of
    * letters / digits / single punctuation, then 4-char chunks of long
    * words approximating subword splits). */
  def t34Tokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .selectExpr(
        "doc_id",
        s"size($tokens) AS n_ws_tokens",
        "size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS n_word_tokens",
        // BPE-ish: every word contributes ceil(len/4) subword units
        s"aggregate(transform($tokens, t -> CAST(ceil(length(t) / 4.0D) AS BIGINT)), " +
          "CAST(0 AS BIGINT), (a, x) -> a + x) AS n_subword_tokens",
        "length(text) AS n_chars")
      .orderBy("doc_id")

  val t34Sql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
      |    AS INTEGER) AS n_word_tokens,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(string_split(lower(text), ' '),
      |      t -> CAST(ceil(length(t) / 4.0) AS BIGINT))), (a, x) -> a + x) AS n_subword_tokens,
      |  CAST(length(text) AS INTEGER) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  private[operators] val stopEn = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Quality scoring: length/stopword/alpha ratios + mean token length,
    * combined into a single deterministic score — the heuristic filter a
    * pretraining pipeline runs before expensive dedup. */
  def t35Quality(s: SparkSession, dir: String): DataFrame = {
    val stopArr = stopEn.map(w => s"'$w'").mkString("array(", ", ", ")")
    // r15-opt: native byte-scan kernels replace the HOF/regexp forms — the
    // old projection re-evaluated split(lower(text)) once per HOF (HOFs are
    // CodegenFallback, no cross-expression CSE) and materialized a
    // UTF8String per [a-z] char. Counts are integer-identical
    // (TextKernelExprsSpec), so every ratio below is bit-identical.
    // n_tokens = spaces + 1 = size(split); tok_chars = chars − spaces.
    Tables.documents(s, dir)
      .selectExpr("doc_id", "text", "lower(text) AS lw")
      .selectExpr(
        "doc_id",
        "length(text) AS n_chars",
        "ascii_count(lw, 32, 32) + 1 AS n_tokens",
        "(length(lw) - ascii_count(lw, 32, 32)) " +
          "/ CAST(ascii_count(lw, 32, 32) + 1 AS DOUBLE) AS raw_mean_len",
        s"stop_count(lw, $stopArr) " +
          "/ CAST(ascii_count(lw, 32, 32) + 1 AS DOUBLE) AS raw_stop",
        "ascii_count(lw, 97, 122) " +
          "/ CAST(length(text) AS DOUBLE) AS raw_alpha")
      .selectExpr("doc_id", "n_chars", "n_tokens",
        "round(raw_mean_len, 6) AS mean_token_len",
        "round(raw_stop, 6) AS stopword_ratio",
        "round(raw_alpha, 6) AS alpha_ratio",
        // The composite is computed from the UNROUNDED ratios: feeding
        // already-rounded 6-decimal values through 1-decimal weights lands
        // the 7th digit on an exact 5 for ~10% of rows — a round() midpoint
        // where Spark (shortest-string HALF_UP) and DuckDB (numeric) can
        // disagree by 1 ulp. Raw doubles make ties measure-zero. The 'D'
        // suffixes are load-bearing: bare literals parse as DECIMAL and
        // would switch the whole formula to decimal arithmetic.
        """round(least(n_chars / 500.0D, 1.0D) * 0.3D
          |  + least(raw_stop * 5.0D, 1.0D) * 0.4D
          |  + raw_alpha * 0.3D, 6) AS quality_score""".stripMargin)
      .orderBy("doc_id")
  }

  val t35Sql: String = {
    val stopList = stopEn.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH q AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS INTEGER) AS n_chars,
       |    CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens,
       |    list_reduce(list_prepend(0,
       |        list_transform(string_split(lower(text), ' '), t -> length(t))),
       |        (a, x) -> a + x)
       |      / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS raw_mean_len,
       |    len(list_filter(string_split(lower(text), ' '),
       |        t -> list_contains($stopList, t)))
       |      / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS raw_stop,
       |    len(regexp_extract_all(lower(text), '[a-z]'))
       |      / CAST(length(text) AS DOUBLE) AS raw_alpha
       |  FROM documents)
       |SELECT doc_id, n_chars, n_tokens,
       |  round(raw_mean_len, 6) AS mean_token_len,
       |  round(raw_stop, 6) AS stopword_ratio,
       |  round(raw_alpha, 6) AS alpha_ratio,
       |  round(least(n_chars / 500.0, 1.0) * 0.3
       |    + least(raw_stop * 5.0, 1.0) * 0.4
       |    + raw_alpha * 0.3, 6) AS quality_score
       |FROM q ORDER BY doc_id""".stripMargin
  }

  /** Language-ID by function-word overlap: score each language's stopword
    * profile against the token bag, argmax with deterministic tie-break
    * (highest score, then language code) — the classic n-gram/profile
    * heuristic in relational form. */
  private val profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist"),
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "es"),
    "fr" -> Seq("le", "la", "de", "et", "que", "est"))

  def t36LangId(s: SparkSession, dir: String): DataFrame = {
    // r15-opt: stop_count / ascii_count natives replace 4 interpreted
    // filter(split(...)) passes (one per language profile) — counts are
    // integer-identical (TextKernelExprsSpec), ratios bit-identical.
    val scoreCols = profiles.map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString("array(", ", ", ")")
      s"round(stop_count(lw, $arr) " +
        s"/ CAST(ascii_count(lw, 32, 32) + 1 AS DOUBLE), 6) AS score_$lang"
    }
    val best = profiles.map { case (lang, _) => lang }
      .sortBy(identity).reverse // later CASE arms win ties ⇒ evaluate desc, pick asc-first
      .foldLeft("'und'") { case (acc, lang) =>
        s"CASE WHEN score_$lang > 0 AND score_$lang >= " +
          profiles.map(p => s"score_${p._1}").mkString("greatest(", ", ", ")") +
          s" THEN '$lang' ELSE $acc END"
      }
    Tables.documents(s, dir)
      .selectExpr("doc_id", "lang", "lower(text) AS lw")
      .selectExpr(Seq("doc_id", "lang AS label_lang") ++ scoreCols: _*)
      .selectExpr("doc_id", "label_lang", "score_de", "score_en", "score_es",
        "score_fr", s"$best AS predicted_lang")
      .orderBy("doc_id")
  }

  val t36Sql: String = {
    val scoreCols = profiles.map { case (lang, words) =>
      val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""round(len(list_filter(string_split(lower(text), ' '),
         |      t -> list_contains($arr, t)))
         |    / CAST(len(string_split(lower(text), ' ')) AS DOUBLE), 6) AS score_$lang"""
        .stripMargin
    }.mkString(",\n    ")
    val best = profiles.map(_._1).sortBy(identity).reverse
      .foldLeft("'und'") { case (acc, lang) =>
        s"CASE WHEN score_$lang > 0 AND score_$lang >= " +
          profiles.map(p => s"score_${p._1}").mkString("greatest(", ", ", ")") +
          s" THEN '$lang' ELSE $acc END"
      }
    s"""WITH sc AS (
       |  SELECT doc_id, lang AS label_lang,
       |    $scoreCols
       |  FROM documents)
       |SELECT doc_id, label_lang, score_de, score_en, score_es, score_fr,
       |  $best AS predicted_lang
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** Document fingerprinting: md5 content hash + the portable polynomial
    * rolling hash over whitespace-normalized text — the cheap equality key
    * for exact dedup and incremental re-crawl detection. The rolling hash is
    * the native codegen'd [[graft.catalyst.PolyHash]] (same arithmetic as the
    * HOF spec in [[graft.functions.PortableHash]]). */
  def t37Fingerprint(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .selectExpr(
        "doc_id",
        "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')) AS norm")
      .selectExpr("doc_id", "md5(norm) AS md5_hash", "poly_hash(norm) AS roll_hash")
      .orderBy("doc_id")
  }

  val t37Sql: String =
    """WITH n AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
      |  FROM documents)
      |SELECT doc_id, md5(norm) AS md5_hash,
      |  list_reduce(list_prepend(CAST(7 AS BIGINT),
      |    list_transform(string_split(norm, ''), c -> CAST(ascii(c) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) AS roll_hash
      |FROM n ORDER BY doc_id""".stripMargin

  /** t303: PII REDACTION, audit-report form — the scrub pass every
    * pretraining pipeline runs before tokenization: emails, NANP phone
    * numbers, and SSN-shaped ids are replaced with typed placeholder
    * tokens, and the report is per-source audit numbers (docs touched,
    * hits by category) plus a poly-hash checksum of the SCRUBBED text —
    * the checksum makes the gate verify the actual replacement output
    * byte-for-byte, not just the counts. Extends
    * [[TrainingPrep2.t83PiiRedact]] (the per-doc md5-roundtrip kernel
    * demo with two flat patterns) with the production concerns: a third
    * category whose shape COLLIDES with another (SSN 3-2-4 vs phone
    * 3-3-4, forcing the ordering discipline below), word-boundary
    * anchoring, and the per-source rollup a release audit reads. The
    * corpus plants deterministic PII (emails on doc_id ≡0 mod 7, phones
    * on ≡0 mod 11, SSNs on ≡0 mod 13 — the d293 planted-family pattern)
    * because the synthetic corpus has none.
    *
    * Order matters and is fixed: SSN (3-2-4) before phone (3-3-4) — the
    * patterns are disjoint by digit grouping, but scrubbing most-specific
    * first is the convention a real scrubber follows so a longer id is
    * never half-eaten by a shorter pattern. All three regexes are in the
    * RE2 ∩ java.util.regex common dialect (character classes, bounded
    * repetition, \b) so Spark and DuckDB execute the IDENTICAL pattern.
    *
    * Scale: pure per-row projection — map-only, no shuffle except the
    * |sources|-row final rollup; at 100 TB this is the cheapest pass in
    * the funnel and runs fused into the first read. */
  private[operators] val piiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[operators] val piiSsn   = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  private[operators] val piiPhone = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  /** The t303 scrub kernel: most-specific-first replacement chain over a
    * text column (email → SSN → phone). Shared with the spec so ordering
    * assertions test THE production chain, not a copy. */
  private[operators] def piiScrubbed(text: org.apache.spark.sql.Column) =
    regexp_replace(
      regexp_replace(regexp_replace(text, piiEmail, "<EMAIL>"),
        piiSsn, "<SSN>"),
      piiPhone, "<PHONE>")

  def t303PiiScrub(s: SparkSession, dir: String): DataFrame = {
    val email = piiEmail
    val ssn   = piiSsn
    Tables.documents(s, dir)
      .withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" contact user"), col("doc_id"),
              lit("@example.com"))).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            concat(lit(" call 555-01"), lpad((col("doc_id") % 10)
              .cast("string"), 1, "0"), lit("-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            concat(lit(" id 078-05-"), lpad((col("doc_id") % 10000)
              .cast("string"), 4, "0"))).otherwise(lit(""))))
      // patterns go through the COLUMN API, never expr(): a SQL string
      // literal would escape-process the pattern ('\b' → backspace)
      .withColumn("n_email",
        size(regexp_extract_all(col("text"), lit(email), lit(0))).cast("long"))
      .withColumn("n_ssn",
        size(regexp_extract_all(col("text"), lit(ssn), lit(0))).cast("long"))
      .withColumn("scrubbed", piiScrubbed(col("text")))
      .withColumn("n_phone",
        size(regexp_extract_all(col("scrubbed"), lit("<PHONE>"), lit(0)))
          .cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("n_email") + col("n_ssn") + col("n_phone") > 0)
          .cast("long")).as("docs_touched"),
        sum(col("n_email")).as("emails"),
        sum(col("n_ssn")).as("ssns"),
        sum(col("n_phone")).as("phones"),
        sum(expr(polyHash("scrubbed"))).as("scrub_checksum"))
      .orderBy("source")
  }

  val t303Sql: String =
    """WITH planted AS (
      |  SELECT source,
      |    text ||
      |    CASE WHEN doc_id % 7 = 0
      |      THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
      |    CASE WHEN doc_id % 11 = 0
      |      THEN ' call 555-01' || CAST(doc_id % 10 AS VARCHAR) || '-' ||
      |        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
      |    CASE WHEN doc_id % 13 = 0
      |      THEN ' id 078-05-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |      ELSE '' END AS text
      |  FROM documents),
      |scrub AS (
      |  SELECT source,
      |    len(regexp_extract_all(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
      |    len(regexp_extract_all(text,
      |      '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS n_ssn,
      |    regexp_replace(regexp_replace(regexp_replace(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
      |      '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS scrubbed
      |  FROM planted),
      |cnt AS (
      |  SELECT source, n_email, n_ssn,
      |    len(regexp_extract_all(scrubbed, '<PHONE>')) AS n_phone,
      |    list_reduce(list_prepend(CAST(7 AS BIGINT),
      |      list_transform(string_split(scrubbed, ''),
      |        c -> CAST(ascii(c) AS BIGINT))),
      |      (acc, x) -> (acc * 31 + x) % 1000000007) AS h
      |  FROM scrub)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN n_email + n_ssn + n_phone > 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS docs_touched,
      |  CAST(sum(n_email) AS BIGINT) AS emails,
      |  CAST(sum(n_ssn) AS BIGINT) AS ssns,
      |  CAST(sum(n_phone) AS BIGINT) AS phones,
      |  CAST(sum(h) AS BIGINT) AS scrub_checksum
      |FROM cnt GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t303_pii_scrub"       -> t303PiiScrub,
    "t34_text_tokens"      -> t34Tokens,
    "t35_text_quality"     -> t35Quality,
    "t36_text_langid"      -> t36LangId,
    "t37_text_fingerprint" -> t37Fingerprint)

  val oracle: Map[String, String] = Map(
    "t303_pii_scrub"       -> t303Sql,
    "t34_text_tokens"      -> t34Sql,
    "t35_text_quality"     -> t35Sql,
    "t36_text_langid"      -> t36Sql,
    "t37_text_fingerprint" -> t37Sql)
}
