package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

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

  /** A small reference-layout CSV set with every kind of dirt the
    * transform handles, each with a known outcome:
    *  - NULL keys (an empty cell, or one that does not parse as a key)
    *    drop the row; orders also drop on a NULL CustomerID;
    *  - duplicate keys keep the last row in file order: customer 3's
    *    LastName "Last3b", product 4's Price 9.99, order 101's Status
    *    "Shipped", detail (100, 1)'s TotalPrice 50.00;
    *  - FK violations: orders 103 and 106 name absent customers; details
    *    (103, 1) (its order was rejected — the cascade), (104, 9) (absent
    *    product) and (999, 1) (absent order);
    *  - unparseable cells become NULL and the row stays: product 2's
    *    Price, order 104's OrderDate, detail (104, 1)'s Quantity and
    *    (101, 2)'s TotalPrice. */
  private def dirtyCsvDir(): String = {
    val dir = Files.createTempDirectory("graft-dirty")
    def csv(name: String, lines: String*): Unit =
      Files.write(dir.resolve(name), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    csv("customers.csv", "CustomerID,FirstName,LastName,Email,Phone,City,Country",
      "1,F1,Last1,u1@x.com,555.0001,C1,K1",
      "2,F2,Last2,u2@x.com,555.0002,C2,K1",
      "3,F3,Last3,u3@x.com,555.0003,C3,K2",
      ",Fn,NoKey,n@x.com,555.0000,C0,K0",
      "4,F4,Last4,u4@x.com,555.0004,C4,K2",
      "abc,Fx,BadKey,x@x.com,555.0009,C9,K9",
      "3,F3,Last3b,u3b@x.com,555.0033,C3,K2",
      "5,F5,Last5,u5@x.com,555.0005,C5,K3")
    csv("products.csv", "ProductID,ProductName,Category,Price,Stock",
      "1,P1,Books,10.00,5",
      "2,P2,Toys,n/a,6",
      "3,P3,Food,7.50,7",
      "4,P4,Home,3.00,8",
      ",P0,Home,1.00,1",
      "4,P4,Home,9.99,9")
    csv("orders.csv", "OrderID,CustomerID,OrderDate,Status",
      "100,1,2024-01-01,Pending",
      "101,2,2024-01-02,Pending",
      "102,3,2024-01-03,Delivered",
      "103,9,2024-01-04,Pending",
      "104,4,2024-13-45,Pending",
      "105,,2024-01-05,Pending",
      ",1,2024-01-06,Pending",
      "101,2,2024-01-02,Shipped",
      "106,7,2024-01-07,Pending")
    csv("order_details.csv", "OrderID,ProductID,Quantity,TotalPrice",
      "100,1,2,20.00",
      "100,2,1,5.00",
      "101,3,1,7.50",
      "102,4,3,30.00",
      "100,1,5,50.00",
      "103,1,1,10.00",
      "104,9,1,1.00",
      "999,1,1,1.00",
      "104,1,x,12.00",
      ",2,1,1.00",
      "102,,1,1.00",
      "101,2,1,bad")
    dir.toString
  }

  test("dirty inputs: drops, keep-last winners, FK rejects and coercions through both loads") {
    val dirty = dirtyCsvDir()
    val sc = spark.sparkContext
    val plainOut = Files.createTempDirectory("graft-dirty-run").toString
    val txOut = Files.createTempDirectory("graft-dirty-tx").toString
    def persisted = sc.getPersistentRDDs.size
    val cachedBefore = persisted
    val plain = Pipeline.run(spark, dirty, plainOut)
    assert(persisted <= cachedBefore, "run left staging frames cached")
    val cachedBeforeTx = persisted
    val tx = Pipeline.runTransactional(spark, dirty, txOut)
    assert(persisted <= cachedBeforeTx, "runTransactional left staging frames cached")

    val counts = Map("customer" -> 5L, "product" -> 4L, "orders" -> 4L, "order_details" -> 6L)
    val rejects = Map("orders" -> 2L, "order_details" -> 3L)
    Seq(plain -> plainOut, tx -> txOut).foreach { case (r, out) =>
      assert(r.counts == counts)
      assert(r.rejectCounts == rejects)
      // the reject CSVs hold exactly the counted rows
      rejects.keys.foreach { t =>
        val written = spark.read.option("header", "true").csv(s"$out/rejects/$t").count()
        assert(written == r.rejectCounts(t), s"reject CSV rows for $t")
      }
    }
    val rejectedOrders = spark.read.option("header", "true").csv(s"$plainOut/rejects/orders")
      .collect().map(_.getAs[String]("OrderID").toInt).toSet
    assert(rejectedOrders == Set(103, 106))
    val rejectedDetails = spark.read.option("header", "true")
      .csv(s"$plainOut/rejects/order_details")
      .collect().map(r => (r.getAs[String]("OrderID").toInt, r.getAs[String]("ProductID").toInt))
      .toSet
    assert(rejectedDetails == Set((103, 1), (104, 9), (999, 1)))

    // both entry points load identical warehouses
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    counts.keys.foreach { t =>
      assert(rows(spark.read.parquet(s"$plainOut/warehouse/$t")) ==
        rows(graft.sources.Snapshot.read(spark, s"$txOut/snapshots", t)), s"table $t differs")
    }
    def table(t: String) = spark.read.parquet(s"$plainOut/warehouse/$t")
    def one(t: String, where: String) = {
      val got = table(t).filter(where).collect()
      assert(got.length == 1, s"$t where $where: ${got.toSeq}")
      got.head
    }
    // keep-last winners
    assert(one("customer", "CustomerID = 3").getAs[String]("LastName") == "Last3b")
    assert(one("product", "ProductID = 4").getAs[java.math.BigDecimal]("Price").doubleValue == 9.99)
    assert(one("orders", "OrderID = 101").getAs[String]("Status") == "Shipped")
    assert(one("order_details", "OrderID = 100 AND ProductID = 1")
      .getAs[java.math.BigDecimal]("TotalPrice").doubleValue == 50.0)
    // unparseable cells load as NULL
    assert(one("product", "ProductID = 2").isNullAt(3))
    assert(one("orders", "OrderID = 104").isNullAt(2))
    assert(one("order_details", "OrderID = 104 AND ProductID = 1").isNullAt(2))
    assert(one("order_details", "OrderID = 101 AND ProductID = 2").isNullAt(3))
    // NULL and unparseable keys dropped, not rejected
    assert(table("orders").filter("OrderID = 105").count() == 0L)
    assert(table("customer").filter("LastName IN ('NoKey', 'BadKey')").count() == 0L)
  }

  test("a failing MERGE leaves every table as it was, through both loads") {
    // the second load re-sends order 100 under another customer: both rows
    // survive the (OrderID, CustomerID) dedupe, so the orders MERGE fails
    // its uniqueness check, while customer, product and order_details
    // each carry a new row that must not land
    val clean = dirtyCsvDir()
    val resent = dirtyCsvDir()
    def append(name: String, line: String): Unit = Files.write(Paths.get(resent, name),
      s"$line\n".getBytes("UTF-8"), StandardOpenOption.APPEND)
    append("customers.csv", "6,F6,Last6,u6@x.com,555.0006,C6,K3")
    append("products.csv", "5,P5,Toys,2.00,3")
    append("orders.csv", "100,2,2024-02-01,Shipped")
    append("order_details.csv", "102,1,1,10.00")
    val tables = Seq("customer", "product", "orders", "order_details")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    val sc = spark.sparkContext

    val plainOut = Files.createTempDirectory("graft-fail-run").toString
    Pipeline.run(spark, clean, plainOut)
    def warehouse = tables.map(t => rows(spark.read.parquet(s"$plainOut/warehouse/$t")))
    val loaded = warehouse
    val cached = sc.getPersistentRDDs.size
    val ex = intercept[IllegalArgumentException](Pipeline.run(spark, resent, plainOut))
    assert(ex.getMessage.contains("unique on (OrderID)"), ex.getMessage)
    assert(warehouse == loaded, "run swapped a table in although the orders MERGE failed")
    assert(sc.getPersistentRDDs.size <= cached, "the failed run left staging frames cached")
    val leftovers = new java.io.File(s"$plainOut/warehouse").list().filter(_.endsWith(".tmp"))
    assert(leftovers.isEmpty, s"the failed run left merged tables behind: ${leftovers.toSeq}")

    val txOut = Files.createTempDirectory("graft-fail-tx").toString
    val root = s"$txOut/snapshots"
    Pipeline.runTransactional(spark, clean, txOut)
    val head = graft.sources.Snapshot.currentVersion(spark, root)
    def snapshot = tables.map(t => rows(graft.sources.Snapshot.read(spark, root, t)))
    val published = snapshot
    // every path under the root, dirs included: the failed load's
    // written data dirs must be gone, not merely unreferenced
    def listing = {
      val r = Paths.get(root)
      val w = Files.walk(r)
      try w.iterator().asScala.map(p => r.relativize(p).toString).toList.sorted
      finally w.close()
    }
    val files = listing
    intercept[IllegalArgumentException](Pipeline.runTransactional(spark, resent, txOut))
    assert(listing == files, "runTransactional left files of a failed load in the root")
    assert(graft.sources.Snapshot.currentVersion(spark, root) == head)
    assert(snapshot == published, "runTransactional published part of a failed load")
    assert(sc.getPersistentRDDs.size <= cached,
      "the failed transactional run left staging frames cached")
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
