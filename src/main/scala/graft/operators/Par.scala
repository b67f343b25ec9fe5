package graft.operators

import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService,
  Executors, TimeUnit}

import org.apache.spark.sql.{Dataset, SparkSession}

/** Parallelism helpers the optimizer cannot supply on its own — both are
  * SCALE-ADAPTIVE (identity / same-cost at production scale, a win at
  * small scale) and SEMANTICS-PRESERVING only under conditions the call
  * sites must own (documented per method).
  */
object Par {

  /** Scale-adaptive input widening. A small parquet input (one file, one
    * row group — the local/dev shape) scans as ONE task, and Spark fuses
    * the scan with everything up to the first exchange — so a CPU-dense
    * derivation (regex scoring, shingle hashing, signature votes) runs
    * single-threaded while the rest of the machine idles. When the
    * frame's physical partition count is below the session's default
    * parallelism, repartition it up; on production inputs (scan
    * partitions >= cores) this is the IDENTITY — no added shuffle, no
    * plan change.
    *
    * Round-robin repartition reorders rows across partitions, so this is
    * safe ONLY where downstream arithmetic is partitioning-invariant:
    * per-row maps, exact integer/long/string aggregates, min/max, and
    * order-pinned windows. Callers must NOT spread a frame that feeds a
    * floating-point cross-row SUM/AVG (the add order would change the
    * last bits). Every call site is oracle-gated, which is what proves
    * the invariance held. */
  def spread[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.sparkSession.sparkContext.defaultParallelism
    if (ds.rdd.getNumPartitions >= p) ds else ds.repartition(p)
  }

  /** Run independent thunks as CONCURRENT Spark jobs (guide §2.6: the
    * scheduler happily runs several jobs at once; actions are only
    * sequential because driver code calls them sequentially). Used for
    * independent table writes inside one atomic commit, the tables of an
    * index write, and independent lifecycle phases (build ∥ wave) — each
    * leaves most cores idle, so overlapping them removes the serialized
    * per-job latency AND the driver-side gaps (planning, commit protocol)
    * between them. Results keep task order. Single-task sequences run
    * inline with zero pool cost.
    *
    * FAILURE: every thunk's Spark jobs carry a job tag of its own (child
    * threads inherit tags, so nested calls are covered too). On the first
    * failure, queued thunks never start, the running siblings' jobs are
    * cancelled by tag, and the call waits until every sibling thread has
    * returned before rethrowing. A sibling blocked in a job returns once
    * that job fails, so no sibling job is left writing behind the
    * caller's back (a retried commit would otherwise race it). A sibling
    * that starts a new job after the cancel is cancelled on the next
    * 100 ms poll. */
  def inParallel[A](tasks: Seq[() => A]): Seq[A] = {
    if (tasks.lengthCompare(2) < 0) return tasks.map(_())
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val tags = tasks.map(_ => s"graft-par-${UUID.randomUUID()}")
    val pool = Executors.newFixedThreadPool(math.min(tasks.size, 4))
    val done = new ExecutorCompletionService[A](pool)
    val futs = tasks.zip(tags).map { case (t, tag) =>
      done.submit(new Callable[A] {
        def call(): A = {
          sc.foreach(_.addJobTag(tag))
          try t() finally sc.foreach(_.removeJobTag(tag))
        }
      })
    }
    def cancelSiblings(): Unit = sc.foreach { c =>
      tags.foreach(c.cancelJobsWithTag(_, "a sibling task of Par.inParallel failed"))
    }
    try {
      tasks.foreach { _ =>
        try done.take().get()
        catch { case e: ExecutionException => throw e.getCause }
      }
      futs.map(_.get())
    } catch {
      case e: Throwable =>
        futs.foreach(_.cancel(false))
        pool.shutdown()
        do cancelSiblings() while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS))
        throw e
    } finally pool.shutdown()
  }
}
