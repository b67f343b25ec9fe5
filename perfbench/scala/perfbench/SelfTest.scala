package perfbench

import java.nio.file.Files

/** Checks of the benchmark's own stage-to-module attribution, run by
  * test_perfbench.py: fixed call sites, then a live stage whose call site
  * is known (`CsvExtract.writeRejects` runs the write job itself).
  * Prints `selftest ok` and exits 0, or exits 1 naming the failed check. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val failures = Seq(
      "org.apache.spark.sql.Dataset.count(Dataset.scala:1)\n" +
        "graft.operators.Upsert$.upsertParquet(Upsert.scala:190)\n" +
        "graft.Pipeline$.run(Pipeline.scala:38)" -> "upsert",
      "graft.queries.DocQueries$.$anonfun$txtBm25Compacted$1(DocQueries.scala:1536)" -> "docqueries",
      "  graft.sources.Snapshot$.mergeCommit(Snapshot.scala:1220)" -> "snapshot",
      "graft.Pipeline$.extractTransform(Pipeline.scala:361)" -> "pipeline",
      "org.apache.spark.rdd.RDD.collect(RDD.scala:1)\nperfbench.QueryOp.run(Workloads.scala:1)" -> "other",
    ).collect { case (site, want) if Attribution.moduleOf(site) != want =>
      s"moduleOf gave ${Attribution.moduleOf(site)}, want $want, for: $site"
    }

    val spark = graft.Bench.buildSession("2")
    val dir = Files.createTempDirectory("perfbench-selftest")
    val live = try {
      val t = new Trace(spark)
      def modulesOf(f: => Unit): Set[String] = {
        val t0 = System.currentTimeMillis()
        f
        t.work(t0, System.currentTimeMillis()).byModule.keySet
      }
      val df = spark.range(100).toDF("id").withColumn("v", org.apache.spark.sql.functions.lit(1))
      Seq(
        "csvextract" -> modulesOf(graft.sources.CsvExtract.writeRejects(df, dir.resolve("r").toString)),
        // SQL actions whose stages AQE submits: attributed through the action
        "upsert" -> modulesOf(graft.operators.Upsert.upsertParquet(spark, dir.resolve("t").toString,
          df, Seq("id"))),
      ).collect { case (want, got) if got != Set(want) => s"stages attributed to $got, want Set($want)" }
    } finally {
      spark.stop()
      Main.deleteTree(dir)
    }

    (failures ++ live).foreach(f => System.err.println(s"selftest FAILED: $f"))
    if (failures.nonEmpty || live.nonEmpty) sys.exit(1)
    println("selftest ok")
  }
}
