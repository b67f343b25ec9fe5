package graft

import graft.operators.Profile

class ProfileSpec extends SparkSpec {
  import sqlImplicits._

  private val df = Seq[(java.lang.Long, String, java.lang.Double)](
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", null),
    (4L, null, 5.0), (5L, "c", 20.0), (null, "a", 30.0))
    .toDF("k", "s", "m")

  test("profile: exact counts, null handling, native-type min/max") {
    val out = Profile.profile(df, Seq("k", "s", "m")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("k", "s", "m"))
    out.values.foreach(r => assert(r.getAs[Long]("n_rows") == 6))

    val k = out("k")
    assert(k.getAs[Long]("n_nonnull") == 5 && k.getAs[Long]("n_distinct") == 5)
    assert(k.getAs[String]("min_value") == "1" && k.getAs[String]("max_value") == "5")

    val s = out("s")
    assert(s.getAs[Long]("n_nonnull") == 5 && s.getAs[Long]("n_distinct") == 3)
    assert(s.getAs[String]("min_value") == "a" && s.getAs[String]("max_value") == "c")

    // numeric min/max compare as numbers, not text ("5.0" < "10.0")
    val m = out("m")
    assert(m.getAs[Long]("n_nonnull") == 5 && m.getAs[Long]("n_distinct") == 4)
    assert(m.getAs[String]("min_value") == "5.0" && m.getAs[String]("max_value") == "30.0")

    intercept[IllegalArgumentException](Profile.profile(df, Seq("nope")))
    intercept[IllegalArgumentException](Profile.profile(df, Seq.empty))
  }

  test("profileSketched: exact below k, ~6% above, partition-independent") {
    import sqlImplicits._
    val df = (1L to 5000L).map(i => (i, i % 37, s"v${i % 5}")).toDF("id", "m", "s")
    def byCol(d: org.apache.spark.sql.DataFrame) =
      Profile.profileSketched(d, Seq("id", "m", "s"), k = 256)
        .collect().map(r => r.getAs[String]("col_name") -> r).toMap
    val out = byCol(df)
    // below k=256 the sketch saw every hash → exact
    assert(out("m").getAs[Long]("est_distinct") == 37)
    assert(out("s").getAs[Long]("est_distinct") == 5)
    // above k: KMV error ~1/sqrt(256) ≈ 6%; allow 4 sigma
    val est = out("id").getAs[Long]("est_distinct")
    assert(math.abs(est - 5000) < 1250, s"estimate $est too far from 5000")
    // shared columns of the exact profile agree
    val exact = Profile.profile(df, Seq("m")).collect().head
    assert(out("m").getAs[Long]("n_rows") == exact.getAs[Long]("n_rows"))
    assert(out("m").getAs[Long]("n_nonnull") == exact.getAs[Long]("n_nonnull"))
    assert(out("m").getAs[String]("min_value") == exact.getAs[String]("min_value"))
    assert(out("m").getAs[String]("max_value") == exact.getAs[String]("max_value"))
    // deterministic under repartitioning
    val again = byCol(df.repartition(13))
    assert(again("id").getAs[Long]("est_distinct") == est)
    intercept[IllegalArgumentException](Profile.profileSketched(df, Seq("id"), k = 1))
  }

  test("graft.Profile: job wall is the union of job intervals, so outside is never negative") {
    // two overlapping jobs, a nested one, then one after a gap
    assert(graft.Profile.unionMs(Seq((0L, 100L), (50L, 150L), (60L, 70L), (200L, 250L))) == (200L, 50L))
    assert(graft.Profile.unionMs(Seq((10L, 20L), (10L, 20L))) == (10L, 0L))
    assert(graft.Profile.unionMs(Nil) == (0L, 0L))
  }

  test("graft.Profile attributes every job, AQE stage jobs included, to the graft frame of its SQL execution") {
    assert(graft.Profile.graftFrame("org.apache.spark.sql.Dataset.count(Dataset.scala:1)\n" +
      "app//graft.operators.Par$$anon$1.call(Par.scala:2)\ngraft.Bench$.main(Bench.scala:3)")
      .contains("graft.operators.Par$$anon$1.call(Par.scala:2)"))
    assert(graft.Profile.graftFrame("java.util.concurrent.CompletableFuture.run(CompletableFuture.java:1768)").isEmpty)
    val rec = new graft.Profile.Recorder
    org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(rec)
    try {
      // two shuffles and a join: AQE submits their stages as jobs of its own
      val a = (1 to 200).map(i => (i % 17, i)).toDF("k", "v").groupBy("k").count()
      val b = (1 to 200).map(i => (i % 13, i)).toDF("k", "w").groupBy("k").sum("w")
      a.join(b, "k").collect()
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(rec)
    import scala.jdk.CollectionConverters._
    val sites = rec.jobs.asScala.toSeq.map(_.site)
    assert(sites.size >= 2, s"sites: $sites")
    assert(sites.forall(_.startsWith("graft.ProfileSpec")), s"sites: $sites")
  }
}
