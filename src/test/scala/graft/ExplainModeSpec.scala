package graft

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** GraftSession builds the simple plan string Spark attaches to each
  * query-start event (for a SQL UI that is off and an event log that is
  * not written), not the formatted one with its numbered operator
  * sections, which costs driver time on every query. */
class ExplainModeSpec extends SparkSpec {

  test("a query's start event carries the simple plan string") {
    val (_, plans) = eventsDuring {
      case e: SparkListenerSQLExecutionStart if e.jobGroupId.contains(probeGroup) =>
        e.physicalPlanDescription
    } {
      spark.range(0, 100, 1, 2).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    }
    assert(plans.nonEmpty, "no query-start event seen")
    plans.foreach { p =>
      assert(p.contains("== Physical Plan =="), p)
      assert("(?m)^\\(\\d+\\) ".r.findFirstIn(p).isEmpty,
        s"numbered operator sections of the formatted form:\n$p")
    }
  }
}
