package graft.lake

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, InsertAction, LogicalPlan, MergeIntoTable, OverwritePartitionsDynamic, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftnative.{planToDf, toColumn}

/** Planner strategy serving SQL row-level DML on CATALOG tables —
  * `spark.sql("UPDATE cat.db.t SET ...")`, `MERGE INTO cat.db.t`, and
  * the `DELETE FROM` shapes SupportsDelete declines — with the commit
  * log's own operations.
  *
  * Spark's analyzer fully resolves UpdateTable / MergeIntoTable /
  * DeleteFromTable against a DSv2 relation and only the PLANNER refuses
  * them (BasicOperators: "does not support UPDATE TABLE" — the
  * SupportsRowLevelOperations rewrite is the one built-in execution
  * path, and it forces a connector-managed copy-on-write rewrite
  * through a full DSv2 BatchWrite). Injected strategies run BEFORE the
  * built-ins, so this strategy claims those plans when the relation is
  * a [[GraftCatalogTable]] and executes the native row-level commits
  * instead — stats-pruned rewrites or deletion vectors, the same
  * engines [[TxLogSql]] dispatches to — which at 100 TB touch O(matched
  * files), not a connector-replayed table scan.
  *
  * Wiring: `spark.sql.extensions=graft.plans.GraftExtensions` (cluster),
  * or `GraftExtensions.register(spark)` for an already-running session
  * (adds it to `spark.experimental.extraStrategies`). Semantics match
  * [[TxLogSql]]'s dispatcher exactly: UPDATE takes arbitrary SET
  * expressions and predicates (vector mode honored), MERGE is the
  * whole-row upsert by equi-key (star actions only — the analyzer has
  * expanded them to full-row assignments by planning time, verified
  * here), and subqueries in predicates are rejected loudly (the
  * commit-log predicate evaluates against the snapshot frame).
  */
private[graft] object GraftDmlStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case u: UpdateTable =>
      graftTable(u.table).map { t =>
        exec("graft UPDATE", t)(s => runUpdate(s, t, u))
      }.toSeq
    case m: MergeIntoTable =>
      graftTable(m.targetTable).map { t =>
        exec("graft MERGE", t)(s => runMerge(s, t, m))
      }.toSeq
    case d: DeleteFromTable =>
      graftTable(d.table).map { t =>
        exec("graft DELETE", t)(s => runDelete(s, t, d))
      }.toSeq
    case o: OverwritePartitionsDynamic =>
      // `INSERT OVERWRITE` under partitionOverwriteMode=dynamic: Spark
      // has no V1 fallback exec for this plan (the write builder only
      // ACCEPTS it so V2Writes doesn't refuse), so the strategy executes
      // it as the commit log's partition upsert — the live files of
      // exactly the partitions present in the batch are replaced in ONE
      // snapshot-atomic commit, untouched partitions never read
      graftTable(o.table).map { t =>
        exec("graft dynamic OVERWRITE", t) { s =>
          // the analyzer aligned the query to the table schema by
          // position; re-label positionally so staging partitions by
          // NAME can never depend on the source's own column names
          val df = planToDf(s, o.query)
            .toDF(t.columns().map(_.name).toIndexedSeq: _*)
          if (t.txPartitionCols.isEmpty)
            // Spark's dynamic-overwrite semantics on an UNPARTITIONED
            // table: the one implicit partition is the table — replace
            // it (upsertPartitions would refuse)
            TxLog.overwrite(s, df, t.txRoot, statsCols = t.txStatsCols)
          else
            TxLog.upsertPartitions(s, df, t.txRoot, t.txPartitionCols,
              t.txStatsCols)
        }
      }.toSeq
    case _ => Nil
  }

  private def exec(label: String, t: GraftCatalogTable)(
      body: SparkSession => Long): SparkPlan =
    GraftDmlExec(label, t.name(), body)

  private def graftTable(p: LogicalPlan): Option[GraftCatalogTable] =
    p match {
      case a: SubqueryAlias => graftTable(a.child)
      case r: DataSourceV2Relation => r.table match {
        case t: GraftCatalogTable => Some(t)
        case _ => None
      }
      // V2ScanRelationPushDown has already turned the relation into a
      // scan by planning time — the strategy sees the post-pushdown form
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.relation.table match {
        case t: GraftCatalogTable => Some(t)
        case _ => None
      }
      case _ => None
    }

  /** A RESOLVED expression re-expressed against the snapshot frame: the
    * relation's attribute references become by-name lookups (the frame
    * carries the same columns under fresh ids). Subqueries cannot be
    * re-bound that way — refused, not silently mis-evaluated.
    */
  private def unresolve(e: Expression, what: String): Column = {
    e.foreach {
      case _: SubqueryExpression => throw new IllegalArgumentException(
        s"$what with a subquery is not supported on graft catalog " +
          "tables — materialize the subquery to a view and join, or " +
          "use TxLogSql")
      case _ => ()
    }
    toColumn(e.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    })
  }

  private def runUpdate(spark: SparkSession, t: GraftCatalogTable,
                        u: UpdateTable): Long = {
    val cond = u.condition.map(unresolve(_, "UPDATE WHERE")).getOrElse(lit(true))
    val set = u.assignments.map { a =>
      keyName(a.key, "UPDATE SET") -> unresolve(a.value, "UPDATE SET")
    }.toMap
    require(set.size == u.assignments.size, "duplicate SET column in UPDATE")
    TxLog.sqlUpdate(spark, t.txRoot, cond, set, t.txStatsCols)
  }

  private def runDelete(spark: SparkSession, t: GraftCatalogTable,
                        d: DeleteFromTable): Long =
    TxLog.sqlDelete(spark, t.txRoot, unresolve(d.condition, "DELETE WHERE"),
      t.txStatsCols)

  private def runMerge(spark: SparkSession, t: GraftCatalogTable,
                       m: MergeIntoTable): Long = {
    // the commit log's merge is a whole-row upsert by key. By planning
    // time the analyzer has expanded `UPDATE SET *` / `INSERT *` into
    // explicit full-row assignments — verify that is what they are
    // (clause conditions or partial-column actions are not this shape)
    def wholeRow(asgn: Seq[Assignment], clause: String): Unit =
      asgn.foreach { a =>
        // stripCast: star expansion wraps a type-coerced source column
        // in a Cast (e.g. INT source onto BIGINT target) — still the
        // user's literal `UPDATE SET *`, accepted (TxLog.merge applies
        // the committed schema's store-assignment casts itself)
        val ok = stripCast(a.value) match {
          case v: AttributeReference =>
            v.name.equalsIgnoreCase(keyName(a.key, clause))
          case _ => false
        }
        if (!ok) throw new IllegalArgumentException(
          s"unsupported $clause — the commit-log merge is a whole-row " +
            s"upsert: use UPDATE SET * / INSERT * (got ${a.sql})")
      }
    m.matchedActions match {
      case Seq(UpdateAction(None, asgn, _)) => wholeRow(asgn, "WHEN MATCHED")
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN MATCHED $other — use UPDATE SET *")
    }
    m.notMatchedActions match {
      case Seq(InsertAction(None, asgn)) => wholeRow(asgn, "WHEN NOT MATCHED")
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN NOT MATCHED $other — use INSERT *")
    }
    if (m.notMatchedBySourceActions.nonEmpty)
      throw new IllegalArgumentException(
        "WHEN NOT MATCHED BY SOURCE is not supported")
    val keys = splitConjuncts(m.mergeCondition).map { c =>
      // casts stripped on both sides: type coercion wraps a narrower
      // key column, but the user's condition is still t.k = s.k
      (c match {
        case EqualTo(l, r) => (stripCast(l), stripCast(r)) match {
          case (a: AttributeReference, b: AttributeReference)
              if a.name.equalsIgnoreCase(b.name) => Some(a.name)
          case _ => None
        }
        case _ => None
      }).getOrElse(throw new IllegalArgumentException(
        s"MERGE ON must be a conjunction of t.k = s.k equalities over " +
          s"the same column name; got: ${c.sql}"))
    }.distinct
    TxLog.merge(spark, planToDf(spark, m.sourceTable), t.txRoot, keys,
      t.txPartitionCols, t.txStatsCols)
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case leaf => Seq(leaf)
  }

  private def stripCast(e: Expression): Expression = e match {
    case c: org.apache.spark.sql.catalyst.expressions.Cast =>
      stripCast(c.child)
    case other => other
  }

  private def keyName(e: Expression, what: String): String = e match {
    case a: AttributeReference => a.name
    case other => throw new IllegalArgumentException(
      s"$what target must be a top-level column, got ${other.sql}")
  }
}

/** The physical node: runs the commit once (eager command execution
  * calls executeCollect) and produces no rows — the V2CommandExec shape
  * without the V2 write machinery.
  */
private[graft] final case class GraftDmlExec(label: String,
                                             tableName: String,
                                             body: SparkSession => Long)
    extends LeafExecNode {

  // ONE commit however many times Spark consumes the node
  private lazy val committed: Long = body(session)

  override def output: Seq[Attribute] = Nil

  override def executeCollect(): Array[InternalRow] = {
    committed; Array.empty
  }

  override protected def doExecute(): RDD[InternalRow] = {
    committed; sparkContext.emptyRDD
  }

  override def simpleString(maxFields: Int): String =
    s"GraftDmlExec $label $tableName"
}
