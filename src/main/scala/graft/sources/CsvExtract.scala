package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-pinned CSV extraction (reference S1–S3).
  *
  * Reproduces `load_csv_exact` (etl_sales_analytics.py:46-61): the declared
  * schema is an allowlist — extra CSV columns are dropped, missing columns
  * materialize as typed NULLs, columns come out in declared order, string
  * columns are trimmed, and a missing FILE degrades to an empty typed
  * DataFrame with a warning instead of failing the pipeline.
  *
  * Everything is read as string first and coerced with `try_cast`-style
  * expressions so unparseable values become NULL (pandas
  * `errors="coerce"`, etl_sales_analytics.py:164,169,178) rather than
  * erroring — Spark's PERMISSIVE CSV mode would silently null the whole
  * row, which is NOT the reference's per-cell semantics.
  *
  * Scale: the read is a plain distributed CSV scan; coercion expressions
  * are codegen'd per-row ops. Nothing here collects or repartitions. The
  * header names of a single file are read on the driver from its first
  * non-blank line and parsed by Spark's own header rules, so the read
  * carries an explicit all-string schema and starts no schema-inference
  * job; a directory of parts keeps the inferring read.
  */
object CsvExtract {

  /** Read `path` keeping ONLY `schema`'s columns, coercing per-cell to the
    * declared types (parse failure → NULL, never an error). */
  def loadCsvExact(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    // Hadoop FileSystem, not java.io.File: the guard must see
    // hdfs://-s3a://-style paths on a real cluster, where a local-disk
    // check would report every input as missing.
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      System.err.println(s"[WARN] missing input file: $path — empty table")
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    val reader = spark.read.option("header", "true").option("mode", "PERMISSIVE")
    val raw = headerSchema(spark, fs, p).fold(reader)(reader.schema)
      .csv(path) // all columns StringType
    val present = raw.columns.toSet
    val cols = schema.fields.map { f =>
      val base =
        if (present.contains(f.name)) trim(col(f.name))
        else lit(null).cast(StringType)
      coerce(base, f.dataType).as(f.name)
    }
    raw.select(cols.toSeq: _*)
  }

  /** The all-string schema a header read of the FILE `p` would infer,
    * without the Spark job that inference runs. Spark's own header rules
    * run on the driver: its header-line reader (the first non-blank line,
    * decompressed when a codec matches the name), its CSV tokenizer with
    * the read's parser settings, and its header sanitizer, which names
    * empty headers `_c<i>` and suffixes duplicate names with their index.
    * None for a directory or a file with no non-blank line: the caller
    * then takes the inferring read. */
  private def headerSchema(spark: SparkSession, fs: FileSystem, p: Path): Option[StructType] = {
    if (!fs.getFileStatus(p).isFile) return None
    val opts = new CSVOptions(Map("header" -> "true"), false,
      spark.conf.get("spark.sql.session.timeZone"))
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive").toBoolean
    CSVUtils.readHeaderLine(p, opts, spark.sparkContext.hadoopConfiguration)
      .flatMap(line => Option(new CsvParser(opts.asParserSettings).parseLine(line)))
      .map(tokens => StructType(CSVUtils.makeSafeHeader(tokens, caseSensitive, opts)
        .map(StructField(_, StringType))))
  }

  /** Per-cell lenient coercion: parse-or-NULL for every declared type.
    * Every branch must stay NULL-on-failure under Spark 4's default ANSI
    * mode — raw to_timestamp/to_date throw CAST_INVALID_INPUT there, so
    * temporal types go through the try_* variants. */
  private def coerce(c: org.apache.spark.sql.Column, dt: DataType): org.apache.spark.sql.Column =
    dt match {
      case StringType => c
      case _: DecimalType | IntegerType | LongType | DoubleType | FloatType =>
        c.try_cast(dt)
      case TimestampType =>
        // date-only strings (data/orders.csv) or full timestamps
        coalesce(try_to_timestamp(c), try_to_timestamp(c, lit("yyyy-MM-dd")))
      case DateType => c.try_cast(DateType)
      case other => c.try_cast(other)
    }

  /** Reject sink (S3): header CSV, overwrite, one directory per entity —
    * the audit trail the reference writes under data/rejects/
    * (etl_sales_analytics.py:189-205). Returns the number of rows
    * written, observed during the write itself (no second count). */
  def writeRejects(df: DataFrame, dir: String): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").option("header", "true").csv(dir)
    obs.get("rows").asInstanceOf[Long]
  }
}
