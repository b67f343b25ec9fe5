package graft

import java.util.concurrent.atomic.AtomicBoolean

import graft.operators.Par

class ParSpec extends SparkSpec {

  test("inParallel cancels a failed call's sibling jobs and waits for their threads") {
    val sc = spark.sparkContext
    val group = "par-spec-sibling"
    val siblingReturned = new AtomicBoolean(false)
    def siblingJobs = sc.statusTracker.getJobIdsForGroup(group).toSeq
    def activeSiblingJobs = siblingJobs.filter(id =>
      sc.statusTracker.getJobInfo(id).exists(
        _.status == org.apache.spark.JobExecutionStatus.RUNNING))
    try {
      val thrown = intercept[IllegalStateException] {
        Par.inParallel[Unit](Seq(
          () => {
            // fail once the sibling's long job is running
            val deadline = System.nanoTime() + 60L * 1000000000L
            while (activeSiblingJobs.isEmpty && System.nanoTime() < deadline)
              Thread.sleep(20)
            throw new IllegalStateException("boom")
          },
          () => {
            try {
              sc.setJobGroup(group, "long sibling job")
              // ~250 s per task unless cancelled; a cancelled task stops at
              // its next record
              sc.parallelize(1 to 100000, 2).map { x => Thread.sleep(5); x }.count()
            } finally siblingReturned.set(true)
          }))
      }
      assert(thrown.getMessage == "boom")
      assert(siblingJobs.nonEmpty, "the sibling's job never started")
      assert(siblingReturned.get, "inParallel rethrew while the sibling thread still ran")
      // the job-status view trails the scheduler by a listener-bus hop
      val deadline = System.nanoTime() + 2L * 1000000000L
      while (activeSiblingJobs.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(activeSiblingJobs.isEmpty, "a sibling job is still running after the throw")
    } finally sc.cancelJobGroup(group)
  }

  test("inParallel keeps task order and runs nested calls") {
    val out = Par.inParallel(Seq(
      () => Par.inParallel(Seq(() => 1, () => 2)).sum,
      () => spark.range(10).count().toInt,
      () => 3))
    assert(out == Seq(3, 10, 3))
  }
}
