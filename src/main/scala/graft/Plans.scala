package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}

/** Plan-capture tool (optimization-round deliverable): writes
  * `.explain("formatted")` for the named queries to
  * `<outDir>/<query>_<tag>.txt`. With SPARK_GRAFT_PLANS_EXEC=1 the
  * query's own physical plan is executed first (its rows are discarded)
  * so AdaptiveSparkPlan prints its FINAL plan (`isFinalPlan=true`) —
  * join strategies and AQE reads as actually chosen, not the static
  * guess.
  *
  * A query that returns an eager checkpoint (every one built on
  * `graft.operators.Curate`, e.g. `doc_curate`) shows only its outer plan
  * over `Scan ExistingRDD`: the stages that did the work ran while the
  * query was built. `graft.Profile` lists those jobs and stages.
  *
  * Usage: Plans <outDir> <tag> <query> [query...]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 4, [[Bench.sessionCpus]]), SPARK_GRAFT_PLANS_EXEC. */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Plans <outDir> <tag> <query> [query...]")
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val exec = sys.env.get("SPARK_GRAFT_PLANS_EXEC").contains("1")
    Files.createDirectories(outDir)
    val spark = Bench.buildSession(Bench.sessionCpus)
    Bench.warm(spark, sfDir)
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      val df = fn(spark, sfDir)
      // run df's OWN plan: an action (count, foreach) plans a new query
      // and leaves this one's AdaptiveSparkPlan un-run
      if (exec) SQLExecution.withNewExecutionId(df.queryExecution, Some("plans"))(
        df.queryExecution.toRdd.foreach(_ => ()))
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.write(outDir.resolve(s"${name}_$tag.txt"), plan.getBytes(UTF_8))
      Bench.release(spark, df)
      System.err.println(s"[plans] wrote ${name}_$tag.txt")
    }
    spark.stop()
  }
}
