// The listener bus and the DAG scheduler's job counter are private to
// Spark; the benchmark reaches them from Spark's own packages.
package org.apache.spark {
  /** The benchmark waits on the listener bus so a traced phase's numbers
    * include every event its jobs posted. */
  object PerfbenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
    def jobsSubmitted(sc: SparkContext): Long =
      scheduler.PerfbenchJobs.submitted(sc)
  }
}

package org.apache.spark.scheduler {
  /** Jobs the DAG scheduler has numbered since the context started: the
    * count the traced run checks its listeners against. */
  object PerfbenchJobs {
    def submitted(sc: org.apache.spark.SparkContext): Long =
      sc.dagScheduler.numTotalJobs.toLong
  }
}
