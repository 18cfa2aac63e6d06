package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PretrainSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("gopher rules: pass is exactly the conjunction of the four flags " +
    "and every doc is scored") {
    val out = Pretrain.t152GopherRules(spark, dir).cache()
    assert(out.count() == graft.Tables.documents(spark, dir).count())
    assert(out.filter(
      col("pass") =!= col("r_wc") * col("r_mwl") * col("r_alpha") * col("r_stop"))
      .count() == 0)
    // flag/ratio consistency: r_alpha must agree with the reported ratio
    assert(out.filter(
      (col("alpha_frac") >= 0.8 && col("r_alpha") === 0) ||
        (col("alpha_frac") < 0.8 - 1e-6 && col("r_alpha") === 1)).count() == 0)
    out.unpersist()
  }

  test("line dedup: retention bounded by totals, and exact-duplicate " +
    "documents recompose to identical checksums") {
    val out = Pretrain.t153LineDedup(spark, dir).cache()
    assert(out.filter(col("n_kept") > col("n_chunks")).count() == 0)
    // identical text => identical chunk stream => identical (n_chunks,
    // n_kept, n_tokens_kept, checksum): the recomposition is content-pure
    val docs = Dedup.corpusWithCopies(spark, dir)
      .select(col("doc_id"), md5(lower(col("text"))).as("h"))
    val groups = out.join(docs, "doc_id")
      .groupBy("h")
      .agg(countDistinct("n_chunks", "n_kept", "n_tokens_kept", "checksum")
        .as("variants"), count(lit(1)).as("members"))
    assert(groups.filter(col("members") > 1 && col("variants") =!= 1).count() == 0)
    assert(groups.filter(col("members") > 1).count() > 0) // dups exist
    out.unpersist()
  }

  test("dup spans: counts nest (max_run <= n_dup <= n_windows) and exact " +
    "duplicates profile as fully duplicated") {
    val out = Pretrain.t154DupSpans(spark, dir).cache()
    assert(out.filter(col("n_dup") > col("n_windows")).count() == 0)
    assert(out.filter(col("max_run") > col("n_dup")).count() == 0)
    val docs = Dedup.corpusWithCopies(spark, dir)
      .select(col("doc_id"), md5(lower(col("text"))).as("h"))
    val dupDocs = docs.groupBy("h").agg(count(lit(1)).as("m"))
      .filter(col("m") > 1).join(docs, "h").select("doc_id")
    // a doc with an exact twin has EVERY window duplicated: frac 1, run = all
    val full = out.join(dupDocs, "doc_id")
    assert(full.count() > 0)
    assert(full.filter(col("n_dup") =!= col("n_windows") ||
      col("max_run") =!= col("n_windows")).count() == 0)
    out.unpersist()
  }

  test("dup spans over the dup-only gram set return the carrier form's " +
    "rows") {
    // the carrier form: every gram hash with its (min, max) doc id, a
    // window flagged iff its hash's carriers differ
    val grams = Dedup.corpusWithCopies(spark, dir)
      .selectExpr("doc_id",
        s"posexplode(gram_hashes(${graft.functions.PortableHash.tokens}, 5)) AS (p, h)")
      .selectExpr("doc_id", "p + 1 AS pos", "h")
    val carriers = grams.groupBy("h")
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    val carrierForm = Pretrain.t154Spans(grams.join(carriers, "h")
      .selectExpr("doc_id", "pos", "CAST(mn <> mx AS INT) AS isdup")).cache()
    val out = Pretrain.t154DupSpans(spark, dir).cache()
    assert(out.schema == carrierForm.schema)
    assert(out.exceptAll(carrierForm).count() == 0)
    assert(carrierForm.exceptAll(out).count() == 0)
    assert(out.filter(col("n_dup") > 0).count() > 0, "the corpus plants dups")
    out.unpersist(); carrierForm.unpersist()
  }

  test("semdedup: no semantic-duplicate pair survives with both members " +
    "kept, and only pair members are ever dropped") {
    val dropped = Pretrain.d155SemDedup(spark, dir).cache()
    // rebuild the cell-blocked >= 0.98 pair set independently (d33's kernel)
    val base = graft.Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
    val corpus = base.unionByName(
      base.filter(col("vec_id") % 10 === 0)
        .selectExpr("vec_id + 1000000 AS vec_id",
          "transform(v, (x, i) -> x + 0.001D * CAST(i % 3 AS DOUBLE)) AS v"))
    val cells = corpus.selectExpr("vec_id", "v",
      """concat(CAST(CAST(v[0] >= 0 AS INT) AS STRING),
        |       CAST(CAST(v[1] >= 0 AS INT) AS STRING),
        |       CAST(CAST(v[2] >= 0 AS INT) AS STRING)) AS cell""".stripMargin)
      .cache()
    val pairs = cells.as("a").join(cells.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(expr("cosine_sim(a.v, b.v) >= 0.98D"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2")).cache()
    assert(pairs.count() > 0)
    val ids = dropped.select("vec_id").distinct()
    // every pair lost at least one member
    val survivors = pairs
      .join(ids.withColumnRenamed("vec_id", "id1"), Seq("id1"), "left_anti")
      .join(ids.withColumnRenamed("vec_id", "id2"), Seq("id2"), "left_anti")
    assert(survivors.count() == 0)
    // and nothing outside the pair membership was dropped
    val members = pairs.select(col("id1").as("vec_id"))
      .unionByName(pairs.select(col("id2").as("vec_id"))).distinct()
    assert(ids.join(members, Seq("vec_id"), "left_anti").count() == 0)
    dropped.unpersist(); cells.unpersist(); pairs.unpersist()
  }

  test("dsir: exactly 100 selected and selection is the exact-weight head") {
    val out = Pretrain.t156DsirWeights(spark, dir).cache()
    assert(out.filter(col("selected") === 1).count() == 100)
    val minSel = out.filter(col("selected") === 1)
      .agg(min("log_weight")).head().getDouble(0)
    val maxUnsel = out.filter(col("selected") === 0)
      .agg(max("log_weight")).head().getDouble(0)
    assert(minSel >= maxUnsel)
    out.unpersist()
  }
}
