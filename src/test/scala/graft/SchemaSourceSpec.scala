package graft

import java.nio.file.Files

import graft.model.Tables
import graft.operators.{IndexFamily, IndexLifecycle, IndexTable}

/** Where reads get their schema: the inputs the engine only reads from
  * a memo of Spark's own inference, the tables it writes from the schema
  * it recorded — either way no schema-inference job per read. */
class SchemaSourceSpec extends SparkSpec {
  import sqlImplicits._

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  test("Tables.load infers a table's schema once, and again after a rewrite or a reader-conf flip") {
    val dir = Files.createTempDirectory("graft-tables").toString
    Seq((1, "a"), (2, "b")).toDF("a", "b").write.parquet(s"$dir/t.parquet")
    def load() = Tables.load(spark, dir, "t")
    def inferences(body: => Any): Long = {
      val n0 = Tables.schemaInferences.get
      body
      Tables.schemaInferences.get - n0
    }
    assert(inferences(load()) == 1L)
    var again: org.apache.spark.sql.DataFrame = null
    assert(inferences { again = load() } == 0L)
    assert(Actions.jobExecutions(spark)(load()).isEmpty, "a memo hit starts no job")
    assert(again.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(again.as[(Int, String)].collect().toSet == Set((1, "a"), (2, "b")))

    // rewritten in place with another schema: the memo misses
    Seq((3L, 1.5)).toDF("a", "c").write.mode("overwrite").parquet(s"$dir/t.parquet")
    var rewritten: org.apache.spark.sql.DataFrame = null
    assert(inferences { rewritten = load() } == 1L)
    assert(rewritten.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(rewritten.as[(Long, Double)].collect().toSeq == Seq((3L, 1.5)))

    // the parquet reader's confs are part of the key (Tables.events may
    // have set nanosAsLong already in this session: flip whatever it is)
    val prior = spark.conf.getAll.get(NanosAsLong) // set explicitly, or not
    def restore(): Unit = prior.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
    try {
      spark.conf.set(NanosAsLong, if (prior.contains("true")) "false" else "true")
      assert(inferences(load()) == 1L)
      assert(inferences(load()) == 0L)
      restore()
      assert(inferences(load()) == 0L)
    } finally restore()
  }

  test("a persisted index is read through the schema it recorded, partition column included") {
    val dir = Files.createTempDirectory("graft-index-schema").toString
    val f = IndexFamily[Unit]("id", Seq(IndexTable("", Some("p")), IndexTable("_flat")),
      encode = (df, _) => Seq(df, df.drop("p")),
      serve = (ix, _) => ix.tables.head)
    val rows = Seq((1L, 3, "x", Seq(1.0f)), (2L, 7, "y", Seq(2.0f))).toDF("id", "p", "s", "vec")
    IndexLifecycle.build(f, rows, s"$dir/ix")
    var served: org.apache.spark.sql.DataFrame = null
    assert(Actions.jobExecutions(spark) {
      served = IndexLifecycle.serve(spark, f, s"$dir/ix", ())
    }.isEmpty, "reading the stored index starts no job")
    val inferred = spark.read.parquet(s"$dir/ix")
    assert(served.schema == inferred.schema)
    assert(served.collect().toSet == inferred.collect().toSet)
    // an append of the same schema keeps the recorded one; the rows land
    IndexLifecycle.append(f, Seq((3L, 3, "z", Seq(3.0f))).toDF("id", "p", "s", "vec"), s"$dir/ix")
    assert(Actions.jobExecutions(spark)(IndexLifecycle.serve(spark, f, s"$dir/ix", ())).isEmpty)
    assert(IndexLifecycle.serve(spark, f, s"$dir/ix", ()).select("id").as[Long].collect().toSet ==
      Set(1L, 2L, 3L))
  }
}
