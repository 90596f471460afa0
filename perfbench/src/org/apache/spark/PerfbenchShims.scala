/** Reaches `private[spark]` members the benchmark needs. */
package org.apache.spark {

  /** Waits until the listener bus has delivered every posted event, so the
    * benchmark reads complete counters. */
  object PerfbenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }

  package sql.execution {

    /** The plan summary Spark posts for a SQL execution, built from a
      * plan the benchmark holds. */
    object PerfbenchPlans {
      def info(plan: SparkPlan): SparkPlanInfo = SparkPlanInfo.fromSparkPlan(plan)
    }
  }
}
