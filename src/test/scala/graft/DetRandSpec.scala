package graft

import graft.functions.DetRand
import graft.operators.Generators
import graft.plans.{DetGauss, DetU01}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

/** Plan-size guard for the `DetRand` draws: each draw is one native
  * expression, not a Column tree that repeats its key (the composed LCG was
  * ~280 analyzed nodes per `u01`, and `linear_sum` was 2,268), and the
  * native expressions stay inside whole-stage codegen.
  */
class DetRandSpec extends SparkSpec {

  private def frame = spark.range(16).select(
    col("id").as("k"), col("id").as("series_id"),
    (col("id") * 0.25).as("time"), (col("id") / 15.0).as("frac"))

  /** The analyzed expression of `c`, selected over [[frame]]. */
  private def analyzed(c: Column): Expression =
    frame.select(c).queryExecution.analyzed.asInstanceOf[Project].projectList.head match {
      case a: Alias => a.child
      case e => e
    }

  private def size(e: Expression): Int = e.collect { case n => n }.size

  test("a draw analyzes to at most 5 nodes plus its key") {
    val key = analyzed(col("k"))
    for (draw <- Seq(DetRand.u01(col("k"), 3), DetRand.gauss(col("k"), 3))) {
      val e = analyzed(draw)
      assert(size(e) - size(key) <= 5, s"draw grew into a tree: $e")
    }
  }

  test("linear_sum analyzes to fewer than 300 nodes") {
    val n = size(analyzed(Generators.signal("linear_sum")))
    assert(n < 300, s"linear_sum is $n nodes")
  }

  test("draws are codegen'd inside a WholeStageCodegen stage") {
    val df = frame.select(DetRand.u01(col("k"), 3).as("u"), DetRand.gauss(col("k"), 1).as("g"))
    df.collect()
    val draws = df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.child.expressions.flatMap(_.collect {
        case d @ (_: DetU01 | _: DetGauss) => d
      })
    }.flatten
    assert(draws.size == 2, df.queryExecution.executedPlan.toString)
    assert(draws.forall(!_.isInstanceOf[CodegenFallback]))
  }
}
