package graft

import java.nio.file.Files

/** Golden end-to-end run on reference-layout CSVs ([[RefCsvFixture]],
  * shaped like the reference input) asserting the invariants in
  * FIXTURES.md §A. */
class PipelineSpec extends SparkSpec {

  test("pipeline on reference data reproduces golden counts and is idempotent") {
    val out = Files.createTempDirectory("graft-e2e").toString
    val r1 = Pipeline.run(spark, RefCsvFixture.dir, out)
    assert(r1.counts == Map(
      "customer" -> 5000L, "product" -> 2000L,
      "orders" -> 20000L, "order_details" -> 60123L))
    assert(r1.rejectCounts.values.sum == 0L)

    // keep-last golden row: dup key (1010,1332) resolves to TotalPrice 323.05
    val od = spark.read.parquet(s"$out/warehouse/order_details")
    val golden = od.filter("OrderID = 1010 AND ProductID = 1332")
      .collect().map(_.getAs[java.math.BigDecimal]("TotalPrice"))
    assert(golden.length == 1 && golden.head.doubleValue == 323.05)

    // idempotency: a second full run leaves every count unchanged
    val r2 = Pipeline.run(spark, RefCsvFixture.dir, out)
    assert(r2.counts == r1.counts)
  }

  test("keep-last ordinal survives split input files (golden winner unchanged)") {
    // Force the 1.3 MB order_details.csv to split into many partitions:
    // the file-metadata ordinal must still resolve dup key (1010,1332)
    // to the LAST row in file order (TotalPrice 323.05), where a bare
    // monotonically_increasing_id would silently pick a wrong winner.
    val key = "spark.sql.files.maxPartitionBytes"
    // the golden key's two rows sit in different 64 KB splits
    val lines = scala.io.Source.fromFile(s"${RefCsvFixture.dir}/order_details.csv").getLines()
      .toSeq
    val offsets = lines.scanLeft(0L)(_ + _.length + 1L)
    val goldenAt = lines.indices.filter(i => lines(i).startsWith("1010,1332,"))
      .map(i => offsets(i) / 65536L)
    assert(goldenAt.size == 2 && goldenAt.distinct.size == 2, s"golden splits: $goldenAt")
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "65536")
      val out = Files.createTempDirectory("graft-split").toString
      val r = Pipeline.run(spark, RefCsvFixture.dir, out)
      assert(r.counts("order_details") == 60123L)
      val od = spark.read.parquet(s"$out/warehouse/order_details")
      val golden = od.filter("OrderID = 1010 AND ProductID = 1332")
        .collect().map(_.getAs[java.math.BigDecimal]("TotalPrice"))
      assert(golden.length == 1 && golden.head.doubleValue == 323.05)
    } finally spark.conf.set(key, prev)
  }

  test("missing input file degrades to an empty typed table, not an error") {
    val out = Files.createTempDirectory("graft-empty").toString
    val empty = graft.sources.CsvExtract.loadCsvExact(
      spark, "/tmp/definitely-missing.csv", graft.model.Schemas.customer)
    assert(empty.count() == 0)
    assert(empty.schema == graft.model.Schemas.customer)
    assert(out.nonEmpty)
  }
}
