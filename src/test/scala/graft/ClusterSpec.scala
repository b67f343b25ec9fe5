package graft

import org.apache.spark.sql.functions._

import graft.sources.{Cluster, Snapshot}

class ClusterSpec extends SparkSpec {
  import sqlImplicits._

  private def freshRoot(): String = tempDir("cluster-spec")

  test("zValue interleaves bits with known patterns") {
    // 2 dims x 4 bits, identity scaling (domain = [0, 15])
    val df = Seq((0L, 0L), (15L, 0L), (0L, 15L), (15L, 15L), (3L, 5L))
      .toDF("x", "y")
      .withColumn("z", Cluster.zValue(Seq(col("x"), col("y")), Seq(0L, 0L),
        Seq(15L, 15L), bitsPerDim = 4))
    val z = df.orderBy("x", "y").collect().map(_.getLong(2))
    // x occupies even bit positions, y odd — in (x, y) sort order:
    // (0,0)=0; (0,15)=0b10101010=170; (3,5)=interleave(0011,0101)
    //   bits: x0=1,y0=1,x1=1,y1=0,x2=0,y2=1,x3=0,y3=0 -> 0b00100111=39;
    // (15,0)=0b01010101=85; (15,15)=255
    assert(z.toSeq == Seq(0L, 170L, 39L, 85L, 255L))
  }

  test("zValue is monotone per dimension after range scaling") {
    // domain >> 2^bits: scaling is a right shift, order must survive
    val df = spark.range(0, 4096).toDF("x").withColumn("y", lit(7L))
      .withColumn("z", Cluster.zValue(Seq(col("x"), col("y")),
        Seq(0L, 0L), Seq(4095L, 4095L), bitsPerDim = 4))
    val rows = df.orderBy("x").collect().map(_.getLong(2))
    assert(rows.sliding(2).forall(p => p(0) <= p(1)),
      "z must be non-decreasing when only x grows")
    // all 16 scaled x buckets are hit (shift keeps the full width)
    assert(df.select(col("z")).distinct().count() == 16L)
  }

  test("z-clustered layout prunes a 2-D box on BOTH dims; linear sort only on the lead") {
    val n = 4096L
    // two independent uniform dims (bit-reverse decorrelates y from x)
    val data = spark.range(0, n).toDF("x")
      .withColumn("y", expr("reverse(lpad(bin(x), 12, '0'))"))
      .withColumn("y", expr("CAST(conv(y, 2, 10) AS BIGINT)"))
      .withColumn("payload", col("x") * 3)
    val rootZ = freshRoot()
    Cluster.clusteredCommit(spark, rootZ, "t", data,
      zCols = Seq("x", "y"), files = 16)
    val rootL = freshRoot()
    Snapshot.commit(spark, rootL,
      Map("t" -> data.repartitionByRange(16, col("x")).sortWithinPartitions("x")),
      statsCols = Map("t" -> Seq("x", "y")))

    val preds = Seq(("x", 0L, n / 4 - 1), ("y", 0L, n / 4 - 1))
    val zRead = Snapshot.readPrunedMulti(spark, rootZ, "t", preds)
    val lRead = Snapshot.readPrunedMulti(spark, rootL, "t", preds)
    val zFull = Snapshot.read(spark, rootZ, "t").inputFiles.length
    val lFull = Snapshot.read(spark, rootL, "t").inputFiles.length
    // z layout: a 1/4 x 1/4 box touches ~1/16 of the curve; demand < 1/2
    assert(zRead.inputFiles.length * 2 < zFull,
      s"z layout read ${zRead.inputFiles.length}/$zFull files — no multi-dim pruning")
    // linear layout: x prunes to ~1/4, y prunes nothing further — the z
    // layout must beat it (this is the whole point of the curve)
    assert(zRead.inputFiles.length < lRead.inputFiles.length,
      s"z ${zRead.inputFiles.length} files vs linear ${lRead.inputFiles.length}")
    // skipping is lossless on both layouts
    val expect = data.filter(col("x") < n / 4 && col("y") < n / 4)
      .orderBy("x").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def got(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("x").between(0, n / 4 - 1) && col("y").between(0, n / 4 - 1))
        .orderBy("x").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got(zRead) == expect)
    assert(got(lRead) == expect)
  }

  test("clusteredCommit append adds a self-pruning segment; statless columns fall back") {
    val root = freshRoot()
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi).toDF("x")
      .withColumn("y", col("x") % 64)
    Cluster.clusteredCommit(spark, root, "t", mk(0L, 1000L),
      zCols = Seq("x", "y"), files = 4)
    Cluster.clusteredCommit(spark, root, "t", mk(1000L, 2000L),
      zCols = Seq("x", "y"), files = 4, append = true)
    val full = Snapshot.read(spark, root, "t")
    assert(full.count() == 2000L)
    // a box inside the first segment's x domain skips the second segment
    val pruned = Snapshot.readPrunedMulti(spark, root, "t",
      Seq(("x", 0L, 99L), ("y", 0L, 63L)))
    assert(pruned.inputFiles.length < full.inputFiles.length)
    assert(pruned.filter(col("x") < 100).count() == 100L)
    // unknown-stats column prunes nothing (soundness over savings)
    val fallback = Snapshot.readPrunedMulti(spark, root, "t",
      Seq(("payload_missing_stats", 0L, 1L)))
    assert(fallback.inputFiles.length == full.inputFiles.length)
  }

  test("zValue guards misaligned args and Long overflow") {
    intercept[IllegalArgumentException](
      Cluster.zValue(Seq(col("x")), Seq(0L, 0L), Seq(1L), 16))
    intercept[IllegalArgumentException](
      Cluster.zValue(Seq(col("x"), col("y"), col("z"), col("w")),
        Seq.fill(4)(0L), Seq.fill(4)(100L), bitsPerDim = 16))
  }
}
