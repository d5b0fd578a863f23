package perfbench

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Shape of a physical plan: operator count and exchange count, with
  * adaptive plans opened up and subqueries included. */
object PlanShape {
  def count(plan: SparkPlan): (Int, Int) = {
    var nodes = 0
    var exchanges = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case _ =>
        nodes += 1
        if (p.isInstanceOf[Exchange]) exchanges += 1
        (p.children ++ p.subqueries).foreach(walk)
    }
    walk(plan)
    (nodes, exchanges)
  }
}
