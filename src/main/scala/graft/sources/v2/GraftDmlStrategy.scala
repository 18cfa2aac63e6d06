package graft.sources.v2

import graft.sources.TxLog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, V2CommandExec}

/** SQL `UPDATE … SET` and `MERGE INTO` for graft-delta catalog tables.
  *
  * Spark's native row-level path (`RewriteUpdateTable` /
  * `RewriteMergeIntoTable`) rewrites these statements only for
  * `SupportsRowLevelOperations` connectors, whose GROUP-BASED
  * copy-on-write rewrites every scanned group — the WHOLE table unless
  * the connector also implements runtime group filtering. This engine
  * already owns a file-granular transactional kernel
  * ([[graft.sources.TxLog.updateWhere]] / [[graft.sources.TxLog.merge]]:
  * only files containing a matched row rewrite, OCC-safe, partition-
  * aware), so the statements plan straight onto it through this strategy
  * instead: `experimental.extraStrategies` runs BEFORE the built-in
  * planner (whose `BasicOperators` would throw TABLE_OPERATION
  * unsupported), the same precedence contract `injectPlannerStrategy`
  * gives [[graft.plans.TopKPerKeyStrategy]].
  *
  * CLOSED-WORLD like the DELETE path: the WHERE condition goes through
  * Spark's own expression→V2 translator (`DataSourceV2Strategy
  * .translateFilterV2` — the exact translator the DSv2 pushdown trusts)
  * into [[V2PredicateSql]]'s proven SQL renderer, and SET values through
  * [[CatalystSetSql]]'s proven renderer; anything either cannot prove it
  * renders exactly fails the STATEMENT loudly — never a wrong update.
  * The rendered SQL is parsed back by THIS Spark session (TxLog evaluates
  * it with `expr`/`where`), so the round trip is parser-exact, not
  * cross-engine-approximate.
  *
  * MERGE accepts the GENERAL clause vocabulary on `ON t.k1 = s.k1
  * [AND t.k2 = s.k2 ...]` (composite equi-keys) —
  * `WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE` (conditions
  * and values over both sides; partial SET lists keep unassigned
  * columns), `WHEN NOT MATCHED [AND cond] THEN INSERT ...` (source-only;
  * the list must cover every column — no silent NULL fill), and `WHEN
  * NOT MATCHED BY SOURCE [AND cond] THEN UPDATE | DELETE` (target-only)
  * — each condition/value through the same proven renderers, planned
  * onto [[graft.sources.TxLog.mergeClauses]]'s file-granular cascade.
  * Refused loudly: a non-equi/multi-key ON, expressions outside the
  * proven set, a non-last unconditional clause (dead-code shape), an
  * INSERT list that skips columns, and duplicate source join keys when
  * a MATCHED clause exists (SQL MERGE cardinality — delta-spark raises
  * the same error).
  */
object GraftDmlStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case UpdateTable(rel, assignments, condition) =>
      graftTable(rel).map { t =>
        planUpdate(t, assignments, condition)
      }.toSeq
    case m: MergeIntoTable =>
      graftTable(m.targetTable).map { t =>
        planMerge(t, m)
      }.toSeq
    case _ => Nil
  }

  /** The strategy fires only on OUR table; every other relation falls
    * through to the built-in planner untouched. */
  private def graftTable(plan: LogicalPlan): Option[GraftDeltaTable] =
    plan match {
      case SubqueryAlias(_, child) => graftTable(child)
      case r: DataSourceV2Relation => r.table match {
        case t: GraftDeltaTable => Some(t)
        case _                  => None
      }
      // by planning time V2ScanRelationPushDown has turned the relation
      // into its scan form — the original table rides along on .relation
      case s: org.apache.spark.sql.execution.datasources.v2
                .DataSourceV2ScanRelation =>
        graftTable(s.relation)
      case _ => None
    }

  // ------------------------------------------------------------- UPDATE

  private def planUpdate(table: GraftDeltaTable,
                         assignments: Seq[Assignment],
                         condition: Option[Expression]): SparkPlan =
    GraftDmlExec("UPDATE", { spark =>
      table.assertMutable("UPDATE")
      val condSql = condition.map(conditionSql(table, "UPDATE", _))
        .getOrElse("true")
      val set = assignments.map { a =>
        val name = a.key match {
          case ar: AttributeReference => ar.name
          case other => refuse(table, "UPDATE",
            s"SET target $other is not a top-level column")
        }
        val value = CatalystSetSql.toSql(fold(a.value)).getOrElse(refuse(
          table, "UPDATE",
          s"SET value ${a.value.sql} is outside the proven " +
            "expression set (literals, columns, arithmetic, CAST, " +
            "upper/lower/concat/coalesce)"))
        name -> value
      }
      // a duplicate SET target must not silently last-win through toMap
      val dup = set.groupBy(_._1).collect { case (n, vs) if vs.size > 1 => n }
      if (dup.nonEmpty) refuse(table, "UPDATE",
        s"duplicate SET targets ${dup.mkString(",")}")
      TxLog.updateWhere(spark, table.dmlPath, condSql, set.toMap)
    })

  // -------------------------------------------------------------- MERGE

  private def planMerge(table: GraftDeltaTable,
                        m: MergeIntoTable): SparkPlan =
    GraftDmlExec("MERGE", { spark =>
      table.assertMutable("MERGE")
      require(!m.withSchemaEvolution,
        s"MERGE on ${table.name()}: WITH SCHEMA EVOLUTION is not " +
          "supported (the table schema is fixed by the log)")
      val targetOut = m.targetTable.outputSet
      val sourceOut = m.sourceTable.outputSet
      val tableCols = m.targetTable.output.map(_.name)
      // ON t.k1 = s.k1 [AND t.k2 = s.k2 ...] — a conjunction of
      // equi-keys, each the same column name on both sides (the
      // delta-spark composite-key shape)
      def keyOf(e: Expression): AttributeReference = e match {
        case org.apache.spark.sql.catalyst.expressions.EqualTo(
            a: AttributeReference, b: AttributeReference) =>
          val (tk, sk) =
            if (targetOut.contains(a) && sourceOut.contains(b)) (a, b)
            else if (targetOut.contains(b) && sourceOut.contains(a)) (b, a)
            else refuse(table, "MERGE",
              s"ON ${e.sql} must compare one target column with one " +
                "source column")
          if (!tk.name.equalsIgnoreCase(sk.name)) refuse(table, "MERGE",
            s"ON compares ${tk.name} with ${sk.name}; the proven shape " +
              "is the same column name on both sides")
          tk
        case other => refuse(table, "MERGE",
          s"ON conjunct ${other.sql} is outside the proven shape " +
            "(equalities between target and source columns, AND-joined)")
      }
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
          conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
      val keyAttrs = conjuncts(m.mergeCondition).map(keyOf)
      val dupKeys = keyAttrs.groupBy(_.name.toLowerCase)
        .collect { case (n, as) if as.size > 1 => n }
      if (dupKeys.nonEmpty) refuse(table, "MERGE",
        s"ON repeats key column(s) ${dupKeys.mkString(",")}")
      // ---- CLOSED-WORLD clause rendering into TxLog.mergeClauses'
      // namespace: target columns keep their names, source columns render
      // as `__src_<name>` (the kernel's joined-row layout), both through
      // the SAME proven translators as UPDATE/DELETE — anything either
      // cannot prove fails the STATEMENT loudly.
      def namespaced(e: Expression): Expression = fold(e).transformUp {
        case a: AttributeReference if sourceOut.contains(a) =>
          a.withName(s"__src_${a.name}")
      }
      def renderCond(cond: Expression, what: String): String =
        org.apache.spark.sql.GraftSqlBridge.translateFilterV2(namespaced(cond))
          .flatMap(V2PredicateSql.toSql)
          .getOrElse(refuse(table, "MERGE",
            s"$what condition ${cond.sql} is outside the proven " +
              "predicate set"))
      def renderAssigns(as: Seq[Assignment], what: String,
                        allowed: org.apache.spark.sql.catalyst.expressions
                          .AttributeSet): Seq[(String, String)] = {
        val pairs = as.map {
          case Assignment(t: AttributeReference, v) =>
            if (!targetOut.contains(t)) refuse(table, "MERGE",
              s"$what target ${t.name} is not a column of the table")
            if (!v.references.subsetOf(allowed)) refuse(table, "MERGE",
              s"$what value for ${t.name} references columns outside " +
                "the clause's legal namespace")
            t.name -> CatalystSetSql.toSql(namespaced(v)).getOrElse(
              refuse(table, "MERGE",
                s"$what value ${v.sql} is outside the proven " +
                  "expression set"))
          case a => refuse(table, "MERGE",
            s"$what target ${a.key} is not a top-level column")
        }
        val dup = pairs.groupBy(_._1.toLowerCase)
          .collect { case (n, vs) if vs.size > 1 => n }
        if (dup.nonEmpty) refuse(table, "MERGE",
          s"$what has duplicate assignment targets ${dup.mkString(",")}")
        pairs
      }
      // SQL clause-order rule (delta-spark's too): only the LAST clause
      // of each list may omit its AND condition — an earlier
      // unconditional clause would make every later one dead code.
      def lastOnlyUnconditional(conds: Seq[Option[Expression]],
                                what: String): Unit =
        if (conds.dropRight(1).exists(_.isEmpty)) refuse(table, "MERGE",
          s"$what: only the last clause may omit its AND condition " +
            "(an earlier unconditional clause makes later ones dead)")
      val bothSides = targetOut ++ sourceOut
      lastOnlyUnconditional(m.matchedActions.map(_.condition),
        "WHEN MATCHED")
      lastOnlyUnconditional(m.notMatchedActions.map(_.condition),
        "WHEN NOT MATCHED")
      lastOnlyUnconditional(m.notMatchedBySourceActions.map(_.condition),
        "WHEN NOT MATCHED BY SOURCE")
      val matchedClauses: Seq[(Option[String], TxLog.MergeClauseAction)] =
        m.matchedActions.map {
          case UpdateAction(cond, as, _) =>
            (cond.map(renderCond(_, "WHEN MATCHED")),
              TxLog.MergeUpdate(
                renderAssigns(as, "WHEN MATCHED UPDATE", bothSides)))
          case DeleteAction(cond) =>
            (cond.map(renderCond(_, "WHEN MATCHED")),
              TxLog.MergeDelete: TxLog.MergeClauseAction)
          case other => refuse(table, "MERGE",
            s"matched action $other is outside the proven shape " +
              "(UPDATE SET ... / DELETE)")
        }
      val insertClauses: Seq[(Option[String], Seq[(String, String)])] =
        m.notMatchedActions.map {
          case InsertAction(cond, as) =>
            // SQL rule: NOT MATCHED conditions and values see only the
            // source row (there is no target row to reference)
            cond.foreach { c =>
              if (!c.references.subsetOf(sourceOut)) refuse(table, "MERGE",
                "WHEN NOT MATCHED condition may reference only source " +
                  "columns")
            }
            val pairs = renderAssigns(as, "WHEN NOT MATCHED INSERT",
              sourceOut)
            val names = pairs.map(_._1.toLowerCase).toSet
            val all = tableCols.map(_.toLowerCase).toSet
            if (names != all) refuse(table, "MERGE",
              "WHEN NOT MATCHED INSERT must cover every table column " +
                s"(no silent NULL fill); got ${pairs.map(_._1).mkString(",")}" +
                s" of ${tableCols.mkString(",")}")
            (cond.map(renderCond(_, "WHEN NOT MATCHED")), pairs)
          case other => refuse(table, "MERGE",
            s"not-matched action $other is outside the proven shape " +
              "(INSERT ...)")
        }
      val bySourceClauses: Seq[(Option[String], TxLog.MergeClauseAction)] =
        m.notMatchedBySourceActions.map {
          case UpdateAction(cond, as, _) =>
            cond.foreach { c =>
              if (!c.references.subsetOf(targetOut)) refuse(table, "MERGE",
                "WHEN NOT MATCHED BY SOURCE condition may reference only " +
                  "target columns (there is no matched source row)")
            }
            (cond.map(renderCond(_, "WHEN NOT MATCHED BY SOURCE")),
              TxLog.MergeUpdate(renderAssigns(as,
                "WHEN NOT MATCHED BY SOURCE UPDATE", targetOut)))
          case DeleteAction(cond) =>
            cond.foreach { c =>
              if (!c.references.subsetOf(targetOut)) refuse(table, "MERGE",
                "WHEN NOT MATCHED BY SOURCE condition may reference only " +
                  "target columns")
            }
            (cond.map(renderCond(_, "WHEN NOT MATCHED BY SOURCE")),
              TxLog.MergeDelete: TxLog.MergeClauseAction)
          case other => refuse(table, "MERGE",
            s"not-matched-by-source action $other is outside the proven " +
              "shape (UPDATE SET ... / DELETE)")
        }
      // evaluate the source ONCE: the kernel's cardinality probe, hit
      // semi-join, matched join, and insert anti-join would otherwise run
      // an expensive — or non-deterministic — source plan four times
      // (review finding r13)
      val src = org.apache.spark.sql.GraftSqlBridge.ofRows(spark, m.sourceTable)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        TxLog.mergeClauses(spark, src, table.dmlPath,
          keyAttrs.map(_.name), tableCols,
          matchedClauses, insertClauses, bySourceClauses)
      } finally src.unpersist(blocking = false)
    })

  // ---------------------------------------------------------- rendering

  /** Collapse every deterministic foldable subtree to its literal —
    * analyzed commands carry shapes like `cast(1 as bigint)` that the
    * optimizer would fold for ordinary queries; folding first keeps the
    * proven renderer small without losing exactness. */
  private def fold(e: Expression): Expression = e.transformUp {
    case x if x.foldable && x.deterministic =>
      // some foldable shapes only evaluate after their own optimizer
      // rule runs (current_date and friends) — keep the node on any
      // evaluation failure so the CLOSED-WORLD renderer refuses it with
      // its own message instead of an eval stack trace
      try Literal.create(x.eval(null), x.dataType)
      catch { case scala.util.control.NonFatal(_) => x }
  }

  private def conditionSql(table: GraftDeltaTable, verb: String,
                           cond: Expression): String = {
    val v2 = org.apache.spark.sql.GraftSqlBridge.translateFilterV2(fold(cond))
    v2.flatMap(V2PredicateSql.toSql).getOrElse(refuse(table, verb,
      s"WHERE ${cond.sql} is outside the proven predicate set"))
  }

  private def refuse(table: GraftDeltaTable, verb: String,
                     why: String): Nothing =
    throw new UnsupportedOperationException(
      s"$verb on ${table.name()}: $why — rewrite the statement inside " +
        "the proven set, or use the TxLog API directly")
}

/** UPDATE SET values render through ONE closed-world pipeline — Spark's
  * own catalyst→V2 scalar translator ([[org.apache.spark.sql
  * .GraftSqlBridge.translateExpressionV2]], the `V2ExpressionBuilder`
  * the DSv2 pushdown machinery trusts) into [[V2PredicateSql]]'s proven
  * SQL renderer — the exact path WHERE conditions take, so the two
  * surfaces cannot drift (review finding r13: a hand-rolled second
  * renderer had already diverged on ABS/CONCAT). The rendered string is
  * evaluated by the SAME Spark session (TxLog's `expr`), so every
  * accepted form's round trip is parser-exact; None for everything
  * outside the proven set. */
private[v2] object CatalystSetSql {
  def toSql(e: Expression): Option[String] =
    org.apache.spark.sql.GraftSqlBridge.translateExpressionV2(e)
      .flatMap(V2PredicateSql.toSql)
}

/** Eager command execution node (the `V2CommandExec` contract: `run()`
  * fires once, from the driver, when the command result is collected). */
private[v2] case class GraftDmlExec(verb: String,
                                    body: SparkSession => Unit)
  extends V2CommandExec with org.apache.spark.sql.execution.LeafExecNode {
  override def run(): Seq[InternalRow] = {
    body(session.asInstanceOf[SparkSession])
    Nil
  }
  override def output: Seq[Attribute] = Nil
  override def simpleString(maxFields: Int): String = s"GraftDmlExec $verb"
}
