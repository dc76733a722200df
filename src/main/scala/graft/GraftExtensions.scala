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
  *
  * Every session state it builds also makes the SparkContext's Hadoop conf
  * keep no per-property source ([[HadoopConfSources]]), so the conf every
  * job serializes (scan broadcast, write description, stats tracker) drops
  * from about 114 KB and 5-7 ms to about 70 KB and 0.5 ms:
  *  - dropped: the name of the resource each key came from
  *    (`core-default.xml`, ...); keys and values are unchanged;
  *  - the map that records sources is replaced, not cleared once: Hadoop
  *    re-records every source each time a default resource is registered,
  *    which the HDFS client classes do after start;
  *  - `Configuration.getPropertySources` reads null in graft sessions, and
  *    XML/JSON dumps carry no `<source>`. Spark reads sources only for its
  *    environment report at context start, before this hook runs.
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
    ext.injectColumnar { session =>
      HadoopConfSources.discard(session.sparkContext.hadoopConfiguration)
      new ColumnarRule {
        override def preColumnarTransitions = ParameterizeFilterLiterals
      }
    }
  }
}
