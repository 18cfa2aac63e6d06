package graft.catalyst

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.internal.StaticSQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: fused cosine similarity over two
  * `array<double>` columns — one loop accumulates dot product and both
  * norms, with `doGenCode` emitting a tight Java loop that stays inside
  * whole-stage codegen.
  *
  * This is the (b)-tier extension point from the build guidance (custom
  * `Expression` beats a Scala UDF): the higher-order-function formulation
  * (`aggregate(zip_with(...))`) used by s38/d33 is interpreted per element;
  * this compiles to scalar Java. Each accumulator sums in index order, so
  * results are bit-identical to the sequential-fold formulation and to the
  * DuckDB oracle — the two formulations are interchangeable under the
  * correctness gate (s46 proves it against s38's oracle).
  *
  * Inputs must be `array<double>` (cast `array<float>` embeddings first —
  * Spark 4 hides `AbstractDataType` from external packages, so the
  * implicit-cast trait isn't available to out-of-tree expressions).
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<double>, array<double>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  // Result is NULL for mismatched lengths (truncating to the shorter side
  // would return a plausible-but-wrong similarity — a 384-dim query
  // against a mis-written 768-dim row must surface, not silently rank)
  // and for a null element (the HOF aggregate(zip_with(...)) formulation
  // this expression must be interchangeable with propagates null the same
  // way). A ZERO-NORM side yields NaN, NOT null: the HOF twin and the
  // DuckDB oracles both compute dot/(sqrt(0)·sqrt(ny)) = NaN, and both
  // engines rank NaN as the largest double — swapping in null here would
  // silently flip top-k membership against the gate the first time a zero
  // vector enters a corpus.
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |boolean $bad = ($b.numElements() != $n);
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |  double xi = $a.getDouble($i);
         |  double yi = $b.getDouble($i);
         |  $dot += xi * yi; $nx += xi * xi; $ny += yi * yi;
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {

  /** Extract a foldable long literal (poly_hash's optional seed). */
  private def litLong(e: Expression): Long = e.eval(null) match {
    case l: Long => l
    case i: Int  => i.toLong
    case other   => throw new IllegalArgumentException(
      s"expected an integer literal, got $other")
  }

  /** Extract a foldable array-of-strings literal (the word-set kernels'
    * stopword argument — pinned at plan time like lev_within's k). */
  private def litStrings(e: Expression): Seq[String] = e.eval(null) match {
    case a: org.apache.spark.sql.catalyst.util.ArrayData =>
      (0 until a.numElements()).map(i =>
        a.getUTF8String(i).toString)
    case other => throw new IllegalArgumentException(
      s"expected an array-of-strings literal, got $other")
  }

  /** All graft-native expressions: (name, doc, builder). */
  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", "cosine_sim(a, b) - fused cosine similarity of two double arrays",
      (args: Seq[Expression]) => CosineSimilarity(args.head, args(1))),
    ("l2_sq", "l2_sq(a, b) - fused squared L2 distance of two double arrays",
      (args: Seq[Expression]) => L2SquaredDistance(args.head, args(1))),
    ("poly_hash", "poly_hash(s[, seed]) - polynomial rolling hash mod 1e9+7",
      (args: Seq[Expression]) =>
        PolyHash(args.head, if (args.size > 1) litLong(args(1)) else 7L)),
    ("simhash30", "simhash30(hashes) - 30-bit simhash signature of a hash list",
      (args: Seq[Expression]) => SimHash30(args.head)),
    ("minhash16", "minhash16(hashes) - 16 permutation-min hashes of a hash list",
      (args: Seq[Expression]) => MinHash16(args.head)),
    ("lsh_bucket8", "lsh_bucket8(v) - 8-bit random-hyperplane LSH signature",
      (args: Seq[Expression]) => LshBucket8(args.head)),
    ("pair_structs",
      "pair_structs(ids) - C(n,2) ordered id pairs of a sorted long array",
      (args: Seq[Expression]) => PairStructs(args.head)),
    ("sorted_multiset_common",
      "sorted_multiset_common(a, b) - equi-join row count of two sorted long multisets",
      (args: Seq[Expression]) => SortedMultisetCommon(args.head, args(1))),
    ("lev_within", "lev_within(s1, s2, k) - banded Levenshtein: exact distance if <= k, else k+1",
      (args: Seq[Expression]) =>
        BandedLevenshtein(args.head, args(1), litLong(args(2)).toInt)),
    ("ascii_count", "ascii_count(s, lo, hi) - code points in [lo, hi] (ASCII range)",
      (args: Seq[Expression]) =>
        AsciiRangeCount(args.head, litLong(args(1)).toInt, litLong(args(2)).toInt)),
    ("stop_count", "stop_count(s, words) - space-split segments of s equal to any word",
      (args: Seq[Expression]) => StopSegmentCount(args.head, litStrings(args(1)))),
    ("words_present", "words_present(s, words) - distinct words occurring as a segment of s",
      (args: Seq[Expression]) => WordsPresentCount(args.head, litStrings(args(1)))),
    ("seg_in_range", "seg_in_range(s, lo, hi) - non-empty segments fully inside the code-point range",
      (args: Seq[Expression]) =>
        SegmentsAllInRange(args.head, litLong(args(1)).toInt, litLong(args(2)).toInt)),
    ("gram_hashes", "gram_hashes(toks, k) - poly_hash of every ' '-joined k-gram",
      (args: Seq[Expression]) => GramHashes(args.head, litLong(args(1)).toInt)),
    ("cdc_chunk_hashes", "cdc_chunk_hashes(s, win, mod) - per-chunk poly_hashes of the CDC chunking",
      (args: Seq[Expression]) =>
        CdcChunkHashes(args.head, litLong(args(1)).toInt, litLong(args(2)).toInt)),
    // Spark ships these two for its own runtime row-level filtering
    // (InjectRuntimeFilter) but does not register them publicly; surfacing
    // them keeps a user-declared bloom prefilter fully in-plan — the build
    // is a scalar subquery, the probe codegens — with no driver round-trip.
    ("bloom_filter_agg",
      "bloom_filter_agg(x, est_items, num_bits) - serialized bloom filter of a column",
      (args: Seq[Expression]) =>
        new BloomFilterAggregate(args.head, args(1), args(2))),
    ("might_contain",
      "might_contain(bloom, x) - codegen'd bloom-filter membership probe",
      (args: Seq[Expression]) => BloomFilterMightContain(args.head, args(1))))
}

/** Standard deployment path: `spark.sql.extensions=graft.catalyst.GraftExtensions`
  * installs the WHOLE engine surface at session build time — the native
  * function family, the optimizer rules, and the planner strategies.
  * Sessions built without it get the same surface from
  * [[GraftExtensions.install]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, doc, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[CosineSimilarity].getName, null, name, doc, ""),
        builder))
    }
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftExtensions.strategies.foreach(st => ext.injectPlannerStrategy(_ => st))
  }
}

object GraftExtensions {
  private val rules: Seq[Rule[LogicalPlan]] =
    Seq(graft.plans.TopKRewriteRule, graft.plans.DedupCollapseRule)
  private val strategies: Seq[SparkStrategy] =
    Seq(graft.plans.TopKPerKeyStrategy, graft.sources.v2.GraftDmlStrategy)

  /** Installs on a live session what [[GraftExtensions]] injects at build
    * time: the [[GraftFunctions]], [[rules]] on the public
    * `experimental.extraOptimizations` hook and [[strategies]] on
    * `experimental.extraStrategies`. Idempotent, and a few lookups when
    * everything is already there. A session built with the extensions
    * class already carries all of it, so nothing is added there (the rules
    * would otherwise run twice per optimizer batch). */
  def install(spark: SparkSession): Unit = {
    val builtWith = spark.sessionState.conf
      .getConf(StaticSQLConf.SPARK_SESSION_EXTENSIONS).getOrElse(Nil)
    if (builtWith.contains(classOf[GraftExtensions].getName)) return
    val registry = spark.sessionState.functionRegistry
    GraftFunctions.all.foreach { case (name, _, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
    val em = spark.experimental
    em.extraOptimizations ++= rules.filterNot(em.extraOptimizations.contains)
    em.extraStrategies ++= strategies.filterNot(em.extraStrategies.contains)
  }
}
