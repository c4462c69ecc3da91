package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for the suite (one JVM-wide session; Spark startup
 * dominates test wall time otherwise). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.spark
  import org.apache.spark.sql.DataFrame

  def edgeDF(edges: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    edges.toDF("src", "dst")
  }
  def vertDF(n: Long): DataFrame = {
    import spark.implicits._
    (0L until n).toDF("vid")
  }

  /** Run `body` and return its result with the executed plan of every
   * query it ran that `keep` accepts, in execution order. */
  def executedPlans[T](keep: String => Boolean)(body: => T): (T, Seq[String]) = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.functions.{count, lit}
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = scala.collection.mutable.ArrayBuffer[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val plan = qe.executedPlan.toString
        if (keep(plan)) plans.synchronized(plans += plan)
      }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      // listener events arrive in order: once this later observation is
      // delivered, every query before it has been recorded
      val flush = Observation()
      spark.range(1).observe(flush, count(lit(1))).collect()
      flush.get
      (result, plans.synchronized(plans.toList))
    } finally spark.listenerManager.unregister(listener)
  }
}
