package graft

import graft.functions.DotProductDouble
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.execution.ColumnarRule

/** The engine's `SparkSessionExtensions` hook — the deployment-time way to
  * expose graft's native Catalyst expressions to pure-SQL users:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * Injection happens at session BUILD, so notebooks, Thrift/Connect
  * sessions, and SQL-only jobs get `graft_dot` without touching Scala
  * ([[graft.functions.VectorExpressions.register]] remains the runtime
  * alternative for sessions built elsewhere). [[GraftSession]] wires this
  * in for every session it builds.
  *
  * It also adds one physical-plan rule, [[ParameterizeFilterLiterals]]: a
  * filter's comparison constants become codegen parameters, so a windowed
  * pull whose bounds move every epoch reuses one compiled class. The rule is
  * injected as a pre-columnar-transition rule, the one physical-rule hook
  * that also runs on every adaptive (AQE) re-plan.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(
        classOf[DotProductDouble].getCanonicalName,
        null,
        "graft_dot",
        "graft_dot(a, b) - codegen'd dot product of two array<double> columns; " +
          "null on length mismatch or null elements (zip_with/aggregate parity)",
        ""),
      graft.functions.VectorExpressions.dotBuilder))
    ext.injectFunction((
      new FunctionIdentifier("graft_jaro_winkler"),
      new ExpressionInfo(
        classOf[graft.functions.JaroWinklerSimilarity].getCanonicalName,
        null,
        "graft_jaro_winkler",
        "graft_jaro_winkler(a, b) - codegen'd Jaro-Winkler string similarity in [0,1] " +
          "(standard parameterization: 0.1 prefix scaling, max prefix 4, 0.7 boost threshold)",
        ""),
      graft.functions.JaroWinkler.builder))
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions = ParameterizeFilterLiterals
    })
  }
}
