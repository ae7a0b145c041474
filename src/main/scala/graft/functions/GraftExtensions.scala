package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions in the SQL function registry, so `spark.sql("...
  * vec_dot(a, b) ...")` works next to the Column API
  * ([[VectorFunctions.vecDot]]).
  *
  * Wire up either via
  * `spark.sql.extensions=graft.functions.GraftExtensions` or
  * `SparkSession.builder.withExtensions(new GraftExtensions)` —
  * [[graft.Engine.session]] does the latter.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // materialized-aggregate navigation (dormant while MvCatalog is
    // empty — see graft.plans.MaterializedAggregate)
    ext.injectOptimizerRule(session => new graft.plans.AggregateRewriteRule(session))
    GraftFunctions.table.foreach { case (name, info, builder) =>
      ext.injectFunction((new FunctionIdentifier(name), info, builder))
    }
  }
}

object GraftFunctions {

  type Builder = Seq[Expression] => Expression

  /** `(name, info, builder)` for every graft SQL function: the one
    * list [[GraftExtensions]] and [[register]] both read.
    */
  val table: Seq[(String, ExpressionInfo, Builder)] = Seq(
    fn("vec_dot", classOf[FloatVectorDot], 2)(c => FloatVectorDot(c(0), c(1))),
    fn("int_vec_dot", classOf[IntVectorDot], 2)(c => IntVectorDot(c(0), c(1))),
    // bare AggregateFunctions, like Spark's own registry builders —
    // the analyzer wraps them in an AggregateExpression
    fn("sum_at_min", classOf[SumAtMin], 2)(c => SumAtMin(c(0), c(1))),
    fn("kmin_values", classOf[KMinValues], 2)(c => KMinValues(c(0), c(1))),
    fn("count_min", classOf[CountMin], 3)(c => CountMin(c(0), c(1), c(2))),
    fn("hyper_log_log", classOf[HyperLogLog], 2)(c => HyperLogLog(c(0), c(1))),
    // same SQL name as DuckDB's utf8proc-backed builtin — the oracle
    // mirror is the IDENTICAL call text on both engines
    fn("nfc_normalize", classOf[NfcNormalize], 1)(c => NfcNormalize(c(0))),
    fn("reservoir_keys", classOf[ReservoirKeys], 3)(c => ReservoirKeys(c(0), c(1), c(2))),
    fn("top_k_by_score", classOf[TopKByScore], 3)(c => TopKByScore(c(0), c(1), c(2))))

  private def fn(name: String, cls: Class[_], arity: Int)(
      build: Builder): (String, ExpressionInfo, Builder) =
    // 3-arg constructor: the extended one validates usage/since/group
    // formats and throws from a static initializer on empty fields
    (name, new ExpressionInfo(cls.getName, null, name), children => {
      require(children.length == arity, s"$name expects $arity argument" +
        s"${if (arity == 1) "" else "s"}, got ${children.length}")
      build(children)
    })

  /** Register on an already-built session (no withExtensions hook). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    table.foreach { case (name, info, builder) =>
      org.apache.spark.sql.graftbridge.ColumnBridge.registerFunction(
        spark, name, info, builder)
    }
}
