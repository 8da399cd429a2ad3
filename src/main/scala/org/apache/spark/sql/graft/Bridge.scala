package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge: Spark 4's `Column` wraps a ColumnNode
  * and the converters live behind `private[sql]`, so direct-Column
  * native expressions need one accessor inside the sql package — the
  * same well-known pattern open-source Spark extensions use (an
  * sql-package accessor object; see SNIPPETS.md [2], Qbeast's
  * DatasetFactory). Lets `graft.functions` build native expressions as
  * Columns without the per-session function-registry round-trip.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until every posted listener event is delivered (the bus is
    * private[spark]); listener-based probes read their buffers after it.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** LogicalPlan → DataFrame for command implementations (classic
    * `Dataset.ofRows` is private[sql]).
    */
  def ofRows(session: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The micro-batch a DSv1 `Sink.addBatch` receives is backed by an
    * incremental streaming execution — re-planning it through a
    * normal writer fails. The standard sink move is to drop to its
    * executed RDD and rewrap as a plain batch frame (what the built-in
    * file/kafka sinks do); the wrapper is private[sql], hence here.
    */
  def fromBatch(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** An EMPTY micro-batch for a DSv1 streaming `Source.getBatch` —
    * the engine asserts every returned frame has `isStreaming = true`,
    * which no public empty-DataFrame constructor can produce.
    */
  def emptyStreaming(session: org.apache.spark.sql.SparkSession,
                     schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame = {
    val cs = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(
      cs.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow],
      schema, isStreaming = true)
  }

  /** Neutral view of a Column's predicate structure. Spark 4 keeps a
    * user-built Column as a `private[sql]` ColumnNode tree until
    * resolution, so outside-package consumers (Layout.toStatPred's
    * stats-pruning compiler) get this minimal public mirror instead:
    * functions with their argument trees, attribute names, literal
    * values (already external Scala values at this layer), and an
    * opaque marker for everything else.
    */
  sealed trait PredNode
  final case class PredFunc(name: String, args: Seq[PredNode]) extends PredNode
  final case class PredAttr(name: String) extends PredNode
  final case class PredLit(value: Any) extends PredNode
  case object PredOpaque extends PredNode

  def predicateTree(c: Column): PredNode = walk(c.node)

  private def walk(n: org.apache.spark.sql.internal.ColumnNode): PredNode =
    n match {
      case f: org.apache.spark.sql.internal.UnresolvedFunction =>
        PredFunc(f.functionName, f.arguments.map(walk))
      case a: org.apache.spark.sql.internal.UnresolvedAttribute =>
        PredAttr(a.nameParts.mkString("."))
      case l: org.apache.spark.sql.internal.Literal =>
        PredLit(l.value)
      case _ => PredOpaque
    }

  /** RESOLVED-expression mirror of [[predicateTree]]: the filters a
    * `FileIndex.listFiles` receives are post-analysis catalyst
    * Expressions (AttributeReference / Literal-with-internal-value /
    * typed comparison nodes), not the unresolved ColumnNode tree a
    * user-built `Column` carries — so the snapshot source's
    * planning-time pruning needs this second walker. Literal values
    * convert to EXTERNAL Scala values (UTF8String→String, epoch
    * days→Date, micros→Timestamp) so the same Layout.cmp arithmetic
    * serves both entry points. Unknown shapes map to PredOpaque, which
    * the StatPred compiler drops soundly (a skipped conjunct only
    * widens the kept-file set).
    */
  def predicateTree(e: Expression): PredNode = walkExpr(e)

  private def walkExpr(e: Expression): PredNode = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.NumericType
    // Numeric WIDENING casts around the attribute are order-embeddings
    // (int stats compare against a long/decimal probe through the same
    // BigDecimal arithmetic), so unwrapping them is sound for pruning.
    // Any other cast (string↔numeric, date→timestamp) changes the
    // comparison domain and must stay opaque.
    def strip(x: Expression): Expression = x match {
      case Cast(child, dt, _, _)
          if child.dataType.isInstanceOf[NumericType] &&
            dt.isInstanceOf[NumericType] => strip(child)
      case other => other
    }
    e match {
      case And(l, r) => PredFunc("and", Seq(walkExpr(l), walkExpr(r)))
      case Or(l, r) => PredFunc("or", Seq(walkExpr(l), walkExpr(r)))
      case GreaterThan(l, r) => PredFunc(">", Seq(walkExpr(l), walkExpr(r)))
      case GreaterThanOrEqual(l, r) =>
        PredFunc(">=", Seq(walkExpr(l), walkExpr(r)))
      case LessThan(l, r) => PredFunc("<", Seq(walkExpr(l), walkExpr(r)))
      case LessThanOrEqual(l, r) =>
        PredFunc("<=", Seq(walkExpr(l), walkExpr(r)))
      case EqualTo(l, r) => PredFunc("=", Seq(walkExpr(l), walkExpr(r)))
      case In(v, list) => PredFunc("in", walkExpr(v) +: list.map(walkExpr))
      // the optimizer rewrites IN over >10 literals to InSet — without
      // this branch exactly the large lists (where pruning pays most)
      // would stop compiling
      case InSet(v, hset) =>
        val dt = v.dataType
        PredFunc("in", walkExpr(v) +: hset.toSeq.map(x =>
          PredLit(CatalystTypeConverters.convertToScala(x, dt))))
      case a: AttributeReference => PredAttr(a.name)
      case Literal(v, dt) =>
        PredLit(CatalystTypeConverters.convertToScala(v, dt))
      case c: Cast => strip(c) match {
        case same if same eq c => PredOpaque
        case inner => walkExpr(inner)
      }
      case _ => PredOpaque
    }
  }
}
