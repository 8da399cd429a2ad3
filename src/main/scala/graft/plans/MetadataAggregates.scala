package graft.plans

import graft.io.{SnapshotFileIndex, SnapshotView}
import graft.operators.Layout
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Metadata-only aggregate answering over snapshot tables — the
  * Delta/Iceberg `OptimizeMetadataOnlyQuery` move reduced to the
  * manifest primitive: a global `count(*)` / `min(c)` / `max(c)` /
  * `sum(c)` (integral columns, from the exact per-file sums the stats
  * pass records) over a registered snapshot view rewrites to a
  * [[LocalRelation]] holding
  * the answer computed from manifest entries, so the query plans with
  * ZERO file scans. At 10⁵ files on an object store that is the
  * difference between one cached manifest read and a full-table scan
  * job — `SELECT count(*)` on a 100 TB table becomes a planning-time
  * constant.
  *
  * Soundness gates (bail → the plan is left untouched and the scan
  * answers normally):
  *  - global aggregates only (no GROUP BY), no FILTER clause, no
  *    DISTINCT, and nothing between the Aggregate and the scan except
  *    a pure column Project;
  *  - `count(*)`/`count(1)` needs every manifest entry to carry a row
  *    count (recorded whenever stats are collected);
  *  - `min`/`max` need the column's stats on EVERY file and an exact
  *    stat domain (numeric/date/timestamp — string bounds may be
  *    truncated: valid for pruning, wrong as an answer; float/double
  *    are excluded too, their stats normalize NaN/-0.0 for pruning);
  *  - every aggregate in the list must be answerable, else none is
  *    (a mixed rewrite would still scan — no point).
  *
  * All-null files record no bounds and drop from the fold; a column
  * null across every file answers SQL-correct NULL. Attach at session
  * build via [[GraftExtensions]] (injectOptimizerRule) or at runtime
  * with [[SnapshotMetadataAggregates.enable]] — the rule object is
  * stateless either way.
  */
class SnapshotMetadataAggRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(Nil, aggExprs, child, _) =>
      scanIndex(child) match {
        case Some(index) =>
          val entries = index.currentEntries
          val answers = aggExprs.map(e => answer(e, entries))
          if (answers.forall(_.isDefined))
            LocalRelation(agg.output.map(_.toAttribute),
              Seq(InternalRow.fromSeq(answers.map(_.get))))
          else agg
        case None => agg
      }
  }

  /** The scan under the aggregate, through at most one pure-attribute
    * Project (column pruning leaves that shape).
    */
  private def scanIndex(p: LogicalPlan): Option[SnapshotFileIndex] =
    p match {
      case Project(exprs, child)
          if exprs.forall(_.isInstanceOf[AttributeReference]) =>
        scanIndex(child)
      case SnapshotView(_, index) => Some(index)
      case _ => None
    }

  /** One aggregate expression's manifest answer, or None = not
    * answerable from metadata.
    */
  private def answer(e: NamedExpression,
                     entries: Seq[Layout.FileEntry]): Option[Any] =
    e match {
      case Alias(ae: AggregateExpression, _) => answerAgg(ae, entries)
      // a user-written CAST around the aggregate (the common
      // cross-engine normalization) — answer inside, cast the constant
      case Alias(c: Cast, _) => c.child match {
        case ae: AggregateExpression => answerAgg(ae, entries).map(v =>
          Cast(Literal(v, ae.dataType), c.dataType,
            Option(SQLConf.get.sessionLocalTimeZone))
            .eval(InternalRow.empty))
        case _ => None
      }
      case _ => None
    }

  private def answerAgg(ae: AggregateExpression,
                        entries: Seq[Layout.FileEntry]): Option[Any] = {
    if (ae.isDistinct || ae.filter.isDefined || ae.mode != Complete)
      return None
    ae.aggregateFunction match {
      case Count(Seq(Literal(_, _))) =>
        if (entries.forall(_.rows.isDefined))
          Some(entries.flatMap(_.rows).sum)
        else None
      case Min(attr: AttributeReference) =>
        bound(attr, entries, isMin = true)
      case Max(attr: AttributeReference) =>
        bound(attr, entries, isMin = false)
      // SUM answers from the per-file exact sums recorded with the
      // stats (integral columns only — the manifest accumulates in
      // decimal(38,0), so the recorded values are overflow-free; the
      // rewrite bails back to the scan if the TOTAL leaves the long
      // domain, leaving overflow semantics to the engine)
      case su: Sum => su.child match {
        case attr: AttributeReference => sumAnswer(attr, entries, su)
        case _ => None
      }
      case _ => None
    }
  }

  private def sumAnswer(attr: AttributeReference,
                        entries: Seq[Layout.FileEntry],
                        su: Sum): Option[Any] = {
    if (entries.isEmpty) return Some(null)
    if (su.dataType != org.apache.spark.sql.types.LongType) return None
    if (!entries.forall(e =>
      e.stats.get(attr.name).exists(_.sum.isDefined))) return None
    val tpe = entries.head.stats(attr.name).tpe
    if (!Set("tinyint", "smallint", "int", "bigint")(tpe) ||
      tpe != attr.dataType.catalogString) return None
    // Some("") marks an all-null file (contributes nothing, like SQL
    // SUM); every-file-null answers NULL
    val vals = entries.flatMap(_.stats(attr.name).sum).filter(_.nonEmpty)
    if (vals.isEmpty) return Some(null)
    val total = vals.map(BigInt(_)).sum
    if (!total.isValidLong) return None
    Some(total.toLong)
  }

  private def bound(attr: AttributeReference,
                    entries: Seq[Layout.FileEntry],
                    isMin: Boolean): Option[Any] = {
    if (entries.isEmpty) return Some(null) // empty table → SQL NULL
    if (!entries.forall(_.stats.contains(attr.name))) return None
    val stats = entries.map(_.stats(attr.name))
    val tpe = stats.head.tpe
    // exact domains only; and the manifest's recorded type must agree
    // with the scan's resolved type (a cast in between changes answers)
    if (!Layout.metadataExactType(tpe) ||
      tpe == "float" || tpe == "double" ||
      tpe != attr.dataType.catalogString) return None
    val picked = stats.flatMap(s => if (isMin) s.min else s.max)
    if (picked.isEmpty) return Some(null) // every file all-null → NULL
    val chosen =
      if (isMin) picked.minBy(v => Layout.statKeyOrder(v, tpe))
      else picked.maxBy(v => Layout.statKeyOrder(v, tpe))
    // canonical stat string → catalyst internal value, session-tz cast
    // (the same arithmetic snapshotMinMax's lit(v).cast(tpe) performs)
    val cast = Cast(Literal(chosen), attr.dataType,
      Option(SQLConf.get.sessionLocalTimeZone))
    Option(cast.eval(InternalRow.empty)) // null-on-unparsable → bail
  }
}

/** Runtime attachment for already-built sessions (analyzer rules need
  * session-build extensions; OPTIMIZER rules do not —
  * `spark.experimental.extraOptimizations` is the public seam).
  */
object SnapshotMetadataAggregates {
  def enable(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[SnapshotMetadataAggRule]))
      spark.experimental.extraOptimizations =
        cur :+ new SnapshotMetadataAggRule
  }
}
