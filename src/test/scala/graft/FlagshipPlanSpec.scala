package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TestBus
import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, ArrayTransform, LambdaFunction, NamedLambdaVariable}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-level guards on the flagship corpus queries: their executed
  * plans (every query the build and the run execute, AQE final plans
  * and subqueries included) carry no lambda `CodegenFallback`
  * expression — each one splits a whole-stage-codegen stage and adds
  * generated classes to every pass — and running them leaves no
  * cached relation behind in the session.
  */
class FlagshipPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val flagships = Seq("q143_corpus_shards", "q100_training_corpus_v2")

  /** Every plan the session executes while `body` runs. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    TestBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { body; TestBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toList)
  }

  test("q143 and q100 execute no lambda CodegenFallback expression") {
    flagships.foreach { q =>
      val plans = executedPlans(SparkEntry.queries(q)(spark, sf).collect())
      assert(plans.size > 1, s"$q: expected the build's eager jobs too")
      val lambdas = plans.flatMap(p => collectWithSubqueries(p) { case n =>
        n.expressions.flatMap(_.collect {
          case e @ (_: ArrayFilter | _: ArrayTransform | _: LambdaFunction |
                    _: NamedLambdaVariable) => s"${n.nodeName}: ${e.prettyName}"
        })
      }.flatten)
      assert(lambdas.isEmpty, s"$q: ${lambdas.distinct.mkString("; ")}")
    }
  }

  test("building and running q143 leaves no cached relation in the session") {
    spark.catalog.clearCache()
    SparkEntry.queries("q143_corpus_shards")(spark, sf).collect()
    assert(spark.asInstanceOf[classic.SparkSession]
      .sharedState.cacheManager.isEmpty)
  }
}
