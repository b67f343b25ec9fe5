package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._

import graft.sources.JsonLines

/** JSONL ingestion: allowlist schema, per-line corrupt capture, missing
  * file degradation — the corpus-interchange analogue of CsvExtractSpec. */
class JsonLinesSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  private def writeJsonl(lines: Seq[String]): String = {
    val f = Paths.get(tempDir("jsonl"), "in.jsonl")
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  test("declared columns only; extra fields dropped, missing fields NULL") {
    val path = writeJsonl(Seq(
      """{"doc_id": 1, "text": "hello", "lang": "en", "extra": "dropped"}""",
      """{"doc_id": 2, "text": "welt"}"""))
    val (clean, corrupt) = JsonLines.splitCorrupt(JsonLines.loadJsonl(spark, path, schema))
    assert(clean.columns.toSeq == Seq("doc_id", "text", "lang"))
    val rows = clean.orderBy("doc_id").collect()
    assert(rows.length == 2 && corrupt.count() == 0)
    assert(rows(1).getAs[Long]("doc_id") == 2L && rows(1).isNullAt(2))
  }

  test("malformed lines land in the corrupt frame, not the clean one") {
    val path = writeJsonl(Seq(
      """{"doc_id": 1, "text": "good", "lang": "en"}""",
      """{"doc_id": 2, "text": "truncated...""",
      """not json at all"""))
    val (clean, corrupt) = JsonLines.splitCorrupt(JsonLines.loadJsonl(spark, path, schema))
    assert(clean.count() == 1)
    val bad = corrupt.collect().map(_.getString(0)).toSet
    assert(bad.size == 2 && bad.exists(_.contains("truncated")) &&
      bad.contains("not json at all"))
  }

  test("type mismatch in one field corrupts the line (PERMISSIVE row contract)") {
    val path = writeJsonl(Seq("""{"doc_id": "not-a-number", "text": "x", "lang": "en"}"""))
    val (clean, corrupt) = JsonLines.splitCorrupt(JsonLines.loadJsonl(spark, path, schema))
    assert(clean.count() == 0 && corrupt.count() == 1)
  }

  test("missing file degrades to an empty typed frame") {
    val df = JsonLines.loadJsonl(spark, "/tmp/definitely/not/here.jsonl", schema)
    assert(df.count() == 0)
    assert(df.columns.contains(JsonLines.CorruptCol))
  }

  test("round-trips the documents table through JSONL losslessly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text", "lang")
    val dir = tempDir("jsonl_rt")
    docs.coalesce(1).write.mode("overwrite").json(dir)
    val back = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.endsWith(".json")).head
    val (clean, corrupt) = JsonLines.splitCorrupt(JsonLines.loadJsonl(spark, back, schema))
    assert(corrupt.count() == 0)
    assert(clean.count() == docs.count())
    assert(clean.exceptAll(docs).count() == 0 && docs.exceptAll(clean).count() == 0)
  }
}
