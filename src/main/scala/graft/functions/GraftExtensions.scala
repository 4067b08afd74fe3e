package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** SQL-function builders for the native expressions, shared by the two
  * registration paths:
  *
  *   - session BUILD time: `.withExtensions(new GraftExtensions)`
  *     when building the session, or `--conf spark.sql.extensions=
  *     graft.functions.GraftExtensions` — the standard library
  *     injection point;
  *   - LIVE session: [[VectorFunctions.registerSqlFunctions]] (used by
  *     [[graft.GraftSql]] so the SQL entry surface always has them).
  *
  * `graft_proj`'s bits/seed must be literals: they parameterize codegen
  * (loop bound and precomputed seed hash), so a non-foldable argument is
  * rejected at analysis time rather than silently mis-planned.
  */
object GraftFunctionDefs {

  def dotBuilder(children: Seq[Expression]): Expression = children match {
    case Seq(a, b) => DotProductExpr(a, b)
    case _ =>
      throw new IllegalArgumentException(
        s"graft_dot expects 2 arguments, got ${children.size}")
  }

  def topkBuilder(children: Seq[Expression]): Expression = children match {
    case Seq(score, id, k) =>
      val kv = k match {
        case Literal(i: Int, IntegerType) => i
        case other =>
          throw new IllegalArgumentException(
            s"graft_topk k must be an INT literal, got $other")
      }
      // an AggregateFunction enters SQL wrapped in its AggregateExpression
      TopKAggExpr(score, id, kv).toAggregateExpression()
    case _ =>
      throw new IllegalArgumentException(
        s"graft_topk expects (score, id, k), got ${children.size} arguments")
  }

  def mgBuilder(children: Seq[Expression]): Expression = children match {
    case Seq(item, cap) =>
      val c = cap match {
        case Literal(i: Int, IntegerType) => i
        case other =>
          throw new IllegalArgumentException(
            s"graft_mg capacity must be an INT literal, got $other")
      }
      MgAggExpr(item, c).toAggregateExpression()
    case _ =>
      throw new IllegalArgumentException(
        s"graft_mg expects (item, capacity), got ${children.size} arguments")
  }

  def nfcBuilder(children: Seq[Expression]): Expression = children match {
    case Seq(s) => NfcNormalizeExpr(s)
    case _ =>
      throw new IllegalArgumentException(
        s"graft_nfc expects 1 argument, got ${children.size}")
  }

  def projBuilder(children: Seq[Expression]): Expression = children match {
    case Seq(v, bits, seed) =>
      val b = bits match {
        case Literal(i: Int, IntegerType) => i
        case other =>
          throw new IllegalArgumentException(
            s"graft_proj bits must be an INT literal, got $other")
      }
      val s = seed match {
        case Literal(l: Long, LongType)   => l
        case Literal(i: Int, IntegerType) => i.toLong
        case other =>
          throw new IllegalArgumentException(
            s"graft_proj seed must be an integral literal, got $other")
      }
      HyperplaneSigExpr(v, b, s)
    case _ =>
      throw new IllegalArgumentException(
        s"graft_proj expects (vec, bits, seed), got ${children.size} arguments")
  }
}

/** Session-extension injector registering graft's native expressions as
  * SQL functions — the `SparkSessionExtensions` path the design brief
  * names for custom-operator registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot"),
      GraftFunctionDefs.dotBuilder _))
    ext.injectFunction((
      FunctionIdentifier("graft_proj"),
      new ExpressionInfo(classOf[HyperplaneSigExpr].getName, "graft_proj"),
      GraftFunctionDefs.projBuilder _))
    ext.injectFunction((
      FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKAggExpr].getName, "graft_topk"),
      GraftFunctionDefs.topkBuilder _))
    ext.injectFunction((
      FunctionIdentifier("graft_mg"),
      new ExpressionInfo(classOf[MgAggExpr].getName, "graft_mg"),
      GraftFunctionDefs.mgBuilder _))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalizeExpr].getName, "graft_nfc"),
      GraftFunctionDefs.nfcBuilder _))
  }
}
