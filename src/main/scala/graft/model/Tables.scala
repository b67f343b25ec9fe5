package graft.model

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.StructType

/** Loaders for the harness testdata tables (see TESTDATA.md).
  *
  * Each table is a single parquet file under `dir`. Reads are plain
  * `spark.read.parquet` so Catalyst's parquet source handles column
  * pruning and filter pushdown — at 100 TB these scans are the dominant
  * cost and must stay declarative (no collect).
  *
  * These inputs are read, never written, by the engine, so they carry no
  * schema sidecar. The first read of a table runs Spark's schema
  * inference (one small Spark job over the footers); the inferred schema
  * is kept in a memo and every later read hands it to Spark, which then
  * runs no job until an action. The memo key is the data files' identity
  * (name, length, modification time) plus the session's parquet-reader
  * confs, so a table rewritten in place, or read under another
  * `nanosAsLong` setting ([[events]]), is inferred afresh.
  */
object Tables {
  private final case class SchemaKey(files: Seq[(String, Long, Long)], confs: Map[String, String])
  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()
  private val MaxSchemas = 256

  /** Schema inferences run by [[load]] since process start (memo misses). */
  private[graft] val schemaInferences = new AtomicLong(0L)

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    memoKey(spark, path) match {
      case None => spark.read.parquet(path) // missing or empty: Spark's own error
      case Some(key) =>
        val schema = Option(schemas.get(key)).getOrElse {
          schemaInferences.incrementAndGet()
          val inferred = spark.read.parquet(path).schema
          if (schemas.size >= MaxSchemas) schemas.clear()
          schemas.put(key, inferred)
          inferred
        }
        spark.read.schema(schema).parquet(path)
    }
  }

  private def memoKey(spark: SparkSession, path: String): Option[SchemaKey] = Try {
    val p = new Path(path)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }
    SchemaKey(files, confs)
  }.toOption.filter(_.files.nonEmpty)

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  /** Some testdata generations write `events.ts` as TIMESTAMP(NANOS) —
    * which Spark's parquet reader rejects outright (PARQUET_TYPE_ILLEGAL)
    * unless read as BIGINT via the legacy conf — while others write plain
    * microsecond timestamps (read back as TIMESTAMP_NTZ). Normalize both
    * to a session-TZ TIMESTAMP at microsecond precision: nanos convert by
    * integer division (never a double divide, which would lose precision
    * above 2^53 ns); NTZ casts 1:1 under the UTC session timezone. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    val norm = df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("timestamp_micros(ts div 1000)")
      case _ => expr("CAST(ts AS TIMESTAMP)")
    }
    df.withColumn("ts", norm)
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(load(spark, dir, "events"))
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Session-unique scratch dir for queries that materialize an
    * intermediate file layout (JSONL/ORC round-trips, DPP fact tables).
    * Keyed by the Spark applicationId so two concurrent runs over the
    * SAME dataset dir never race on one path (mode=overwrite would let
    * one run read the other's half-rewritten files). */
  def scratchDir(spark: SparkSession, kind: String, dir: String): String =
    s"/tmp/graft_$kind/${spark.sparkContext.applicationId}/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_")
}
