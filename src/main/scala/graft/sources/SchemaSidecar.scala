package graft.sources

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The `_graft_schema` sidecar: the exact schema a parquet directory was
  * written with, stored next to its data files (the underscore prefix
  * hides it from data reads). A read through it hands Spark the schema,
  * so Spark runs no schema-inference job over the footers. Directories
  * the engine writes carry one: snapshot segments, persisted indexes and
  * merged warehouse tables. For a Hive-partitioned directory it is the
  * schema of the data files; Spark still derives the partition columns
  * from the directory names, as a read without a schema does. */
object SchemaSidecar {
  val Name = "_graft_schema"

  def write(fs: FileSystem, dir: Path, schema: StructType): Unit = {
    val out = fs.create(new Path(dir, Name), true)
    try out.write(schema.json.getBytes(UTF_8)) finally out.close()
  }

  /** The recorded schema, or None when `dir` has no (readable) sidecar. */
  def read(fs: FileSystem, dir: Path): Option[StructType] =
    try {
      val in = fs.open(new Path(dir, Name))
      val text = try scala.io.Source.fromInputStream(in, UTF_8.name()).mkString
                 finally in.close()
      Try(DataType.fromJson(text).asInstanceOf[StructType]).toOption
    } catch { case _: FileNotFoundException => None }

  /** `spark.read.parquet(path)`, through the sidecar when there is one. */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val dir = new Path(path)
    read(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }
}
