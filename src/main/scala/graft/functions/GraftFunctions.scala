package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.SparkSessionExtensions

/** SQL registration for the engine's native expressions, both as a
  * [[SparkSessionExtensions]] installer (builder-time) and a runtime
  * `register` for sessions the caller doesn't construct. After either,
  * `spark.sql("SELECT vec_dot(a, b) ...")` plans the codegen'd expression.
  */
object GraftFunctions {
  private val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> { exprs => DotProduct(exprs(0), exprs(1)) },
    "vec_cosine" -> { exprs =>
      import org.apache.spark.sql.catalyst.expressions._
      val dot = DotProduct(exprs(0), exprs(1))
      val n = Multiply(
        Sqrt(DotProduct(exprs(0), exprs(0))),
        Sqrt(DotProduct(exprs(1), exprs(1))))
      Divide(dot, n)
    },
    "vec_qdot" -> { exprs => LongDotProduct(exprs(0), exprs(1)) })

  /** Runtime registration on an existing session. */
  def register(spark: SparkSession): Unit = fns.foreach { case (name, b) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, b, "built-in")
  }

  /** Builder-time extension; [[graft.sql.GraftSqlExtensions]] applies it. */
  class Installer extends (SparkSessionExtensions => Unit) {
    def apply(e: SparkSessionExtensions): Unit = fns.foreach { case (name, b) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.DotProduct", name),
        b))
    }
  }
}
