package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("contamination: eval docs score in [0,1] and share grams with train") {
    val out = Curation.t92Contamination(spark, dir).cache()
    val bad = out.filter(col("contamination") < 0 || col("contamination") > 1).count()
    assert(bad == 0)
    // only every-7th doc_ids appear (the eval split)
    assert(out.filter(col("doc_id") % 7 =!= 0).count() == 0)
    // n_hit never exceeds n_grams
    assert(out.filter(col("n_hit") > col("n_grams")).count() == 0)
    out.unpersist()
  }

  test("group sample: exactly min(k, |group|) rows per stratum, and the k " +
    "smallest hashes of each") {
    val out = Curation.q93GroupSample(spark, dir).cache()
    val perGroup = out.groupBy("o_orderpriority").count().collect()
    perGroup.foreach(r => assert(r.getLong(1) <= 20))
    // selected hashes per group are exactly the global bottom-20 of the group
    val all = graft.Tables.orders(spark, dir)
      .selectExpr("o_orderpriority", "poly_hash(CAST(o_orderkey AS STRING)) AS h")
    // (planned without the TopK rewrite: q93 itself runs on TopKPerKey)
    val expect = collectWithoutTopKRewrite(all.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderpriority").orderBy("h")))
      .filter(col("rn") <= 20)
      .groupBy("o_orderpriority").agg(max("h").as("maxh")))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.groupBy("o_orderpriority").agg(max("h").as("maxh")).collect()
      .foreach(r => assert(r.getLong(1) == expect(r.getString(0))))
    out.unpersist()
  }

  test("incremental agg: state + delta merge equals full recompute") {
    val merged = Curation.q94IncrementalAgg(spark, dir)
    val full = graft.Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("2000-07-01"))
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(38,6)")).cast("double").as("total"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_custkey")
    assert(merged.collect().toSeq == full.collect().toSeq)
  }

  test("snapshot diff classifies all four change types with consistent counts") {
    val m = Curation.q95SnapshotDiff(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Set("added", "deleted", "modified", "same").subsetOf(m.keySet))
    val v1 = graft.Tables.orders(spark, dir).count()
    // every v1 row is deleted, modified, or same
    assert(m("deleted") + m("modified") + m("same") == v1)
  }

  test("skew diagnostics: shares sum below 1 over top-10 and skew_x centers on 1") {
    val rows = Curation.q97SkewDiagnostics(spark, dir).collect()
    assert(rows.length == 10)
    val shareSum = rows.map(_.getAs[Double]("share")).sum
    assert(shareSum > 0 && shareSum <= 1.0 + 1e-4) // sf0.001 has only 10 suppliers
    // descending count order
    val cnts = rows.map(_.getAs[Long]("cnt"))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
  }

  test("domain cap: no source exceeds k and kept docs are the longest") {
    val out = Curation.t98DomainCap(spark, dir).cache()
    out.groupBy("source").count().collect().foreach(r => assert(r.getLong(1) <= 10))
    // for one source, min kept length >= max dropped length
    val src = out.select("source").first().getString(0)
    val keptMin = out.filter(col("source") === src)
      .agg(min("n_chars")).first().getLong(0)
    val keptIds = out.filter(col("source") === src)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val droppedMax = graft.Tables.documents(spark, dir)
      .filter(col("source") === src && !col("doc_id").isin(keptIds.toSeq: _*))
      .agg(coalesce(max("n_chars"), lit(Long.MinValue))).first().getLong(0)
    assert(keptMin >= droppedMax)
    out.unpersist()
  }

  test("vocab encode: oov + in-vocab tokens account for every token, and the " +
    "positional checksum detects order changes") {
    val out = Curation.t99VocabEncode(spark, dir).cache()
    val totTokens = out.agg(sum("n_tokens")).first().getLong(0)
    val expected = graft.Tables.documents(spark, dir)
      .selectExpr("size(split(lower(text), ' ')) AS n")
      .agg(sum("n")).first().getLong(0)
    assert(totTokens == expected)
    assert(out.filter(col("n_oov") > col("n_tokens")).count() == 0)
    out.unpersist()
  }

  test("group sample and domain cap route through the TopKPerKey operator") {
    Seq(
      Curation.q93GroupSample(spark, dir),
      Curation.t98DomainCap(spark, dir)
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey"), s"expected TopKPerKey node in:\n$plan")
    }
  }

  test("decontamination splice: a driver-side replica reproduces span " +
    "counts and the cleaned-text hash for every affected doc") {
    val out = Curation.t219Decontaminate(spark, dir).collect()
    assert(out.nonEmpty, "the corpus must contain train/eval contamination")
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def ph(s: String): Long = {
      var a = 7L; s.foreach(c => a = (a * 31 + c.toInt) % 1000000007L); a
    }
    def grams5(toks: Array[String]): Seq[(Int, Long)] =
      (0 to toks.length - 5).map(i => (i + 1, ph(toks.slice(i, i + 5).mkString(" "))))
    val evalSet = docs.filter(_._1 % 7 == 0).values
      .flatMap(t => grams5(t.toLowerCase.split(" ", -1)).map(_._2)).toSet
    out.foreach { r =>
      val id = r.getLong(0)
      assert(id % 7 != 0, "only training docs are spliced")
      val toks = docs(id).toLowerCase.split(" ", -1)
      val covered = grams5(toks).filter(g => evalSet(g._2))
        .flatMap(p => p._1 to p._1 + 4).toSet
      assert(r.getInt(1) == toks.length)
      assert(r.getLong(2) == covered.size, s"doc $id removed-token count")
      val cleaned = toks.zipWithIndex
        .collect { case (t, j) if !covered(j + 1) => t }.mkString(" ")
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(cleaned.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(r.getString(4) == md5, s"doc $id cleaned-text hash")
    }
  }

  test("neyman allocation: integer allocations sum exactly to the budget " +
    "and the heaviest N·S stratum draws at least a mean share") {
    val out = Curation.q220NeymanAlloc(spark, dir).collect()
    assert(out.map(_.getLong(3)).sum == 100L)
    assert(out.forall(_.getLong(3) >= 0L))
    val top = out.maxBy(r => r.getLong(1) * r.getDouble(2))
    assert(top.getLong(3) >= 100L / out.length)
  }
}
