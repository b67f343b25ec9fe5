package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.TaskSchedulerImpl

/** Bridge to the task scheduler's own count of running tasks, which
  * Spark keeps package-private. Unlike the status tracker, which follows
  * the listener bus, it still counts the tasks of a job that has already
  * failed until each of them has ended. */
object TaskBridge {

  /** Tasks the scheduler has launched and not yet seen end. */
  def runningTasks(sc: SparkContext): Int = sc.taskScheduler match {
    case ts: TaskSchedulerImpl => ts.runningTasksByExecutors.values.sum
    case _ => 0
  }
}
