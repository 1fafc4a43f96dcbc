package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** What a thread-local control-plan scope (a cloned `SQLConf` installed
  * through `SQLConf.withExistingConf`, the override the recursion rounds
  * and the batch fixpoint install) really
  * changes on this Spark. Rules that read `SQLConf.get` on the calling
  * thread see the override: whole-stage codegen is off and the planned
  * shuffle takes the scope's partition count. Adaptive execution is NOT
  * off: `InsertAdaptiveSparkPlan` reads the session's conf, not the
  * thread's, so the plan is still an `AdaptiveSparkPlanExec` although
  * `SQLConf.get` reports adaptive execution disabled. */
class TunedControlScopeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = TestSpark.spark

  /** The scope under test: adaptive execution, whole-stage codegen and
    * constraint propagation off, the shuffle-partition count set. */
  private def tunedControl[T](shufflePartitions: Int)(f: => T): T = {
    val c = SQLConf.get.clone()
    c.setConfString("spark.sql.adaptive.enabled", "false")
    c.setConfString("spark.sql.codegen.wholeStage", "false")
    c.setConfString("spark.sql.constraintPropagation.enabled", "false")
    c.setConfString("spark.sql.shuffle.partitions", shufflePartitions.toString)
    SQLConf.withExistingConf(c)(f)
  }

  private def grouped(): DataFrame =
    spark.range(0L, 2000L, 1L, 4).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").count()

  /** Run a shuffle plan to completion; return its executed plan and
    * whether `SQLConf.get` said AQE was on. */
  private def run(): (SparkPlan, Boolean) = {
    val df = grouped()
    assert(df.collect().length == 7)
    (df.queryExecution.executedPlan, SQLConf.get.adaptiveExecutionEnabled)
  }

  // `collect` (AdaptiveSparkPlanHelper) walks the final adaptive plan,
  // query stages included.
  private def shufflePartitions(p: SparkPlan): Seq[Int] =
    collect(p) { case s: ShuffleExchangeLike => s.numPartitions }

  private def codegenStages(p: SparkPlan): Int =
    collect(p) { case w: WholeStageCodegenExec => w }.size

  test("tunedControl keeps adaptive planning, applies codegen and shuffle partitions") {
    val sessionPartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val scoped = sessionPartitions + 3
    val (outExec, outAqe) = run()
    val (inExec, inAqe) = tunedControl(scoped)(run())

    // Outside the scope: the session's settings.
    assert(outAqe)
    assert(outExec.isInstanceOf[AdaptiveSparkPlanExec])
    assert(codegenStages(outExec) > 0)
    assert(shufflePartitions(outExec) == Seq(sessionPartitions))

    // Inside: SQLConf.get says AQE is off, yet the plan is adaptive.
    assert(!inAqe)
    assert(inExec.isInstanceOf[AdaptiveSparkPlanExec],
      s"expected an adaptive plan, got ${inExec.getClass.getSimpleName}")
    // Codegen and the shuffle-partition count do follow the scope.
    assert(codegenStages(inExec) == 0, inExec.treeString)
    assert(shufflePartitions(inExec) == Seq(scoped), inExec.treeString)
  }
}
