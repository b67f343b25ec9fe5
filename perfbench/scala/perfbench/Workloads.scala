package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.model.Schemas
import graft.operators.{Curate, Transform, Upsert}
import graft.sources.{CsvExtract, Snapshot}

/** A workload: its set-up, the op at each index (ops repeat in a fixed
  * rotation, and a run ends only at the end of a rotation), and, in traced
  * runs, isolated per-layer calls. Inputs live under `work`, prepared by
  * run.py: `sf/` tables and `etl/{base,delta_a,delta_b}/` CSVs. */
abstract class Workload(val work: String) {
  val sf: String = s"$work/sf"
  val out: Path = Paths.get(work, "out")
  val check: Path = Paths.get(work, "check")

  def rotation: Int
  /** The fixed warm-up every set-up repeats: one small read of the
    * workload's input format. */
  def setup(spark: SparkSession): Unit
  def op(spark: SparkSession, i: Int): Op
  def isolated(spark: SparkSession, t: Trace): Map[String, Any] = Map.empty
  def oracleSql: Map[String, String] = Map.empty
}

object Workloads {
  /** The lifecycle composites measured after the sales queries: the text
    * index's and one vector index family's follow/compact lifecycle, and
    * the curation pipeline. */
  val Composites = Seq("txt_bm25_compacted", "emb_knn_lsh_compacted", "doc_curate")

  def apply(name: String, work: String): Workload = name match {
    case "etl" => new EtlWorkload(work)
    case "queries_lifecycle" =>
      val all = graft.SparkEntry.queries
      val names = graft.queries.SalesQueries.all.keys.toSeq.sorted ++ Composites
      new QueryWorkload(work, names.map(n => n -> all(n)), graft.SparkEntry.oracleSql)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** The paper's load through both public entry points. One rotation: the
  * base batch cold into a fresh root with runTransactional, then with run
  * (the two write disjoint trees of the root), then delta a MERGEd through
  * runTransactional and delta b through run on top of that load. */
final class EtlWorkload(work: String) extends Workload(work) {
  private val steps = Seq(("txn", "base"), ("plain", "base"), ("txn", "a"), ("plain", "b"))
  def rotation: Int = steps.size

  def setup(spark: SparkSession): Unit =
    CsvExtract.loadCsvExact(spark, s"$work/etl/base/customers.csv", Schemas.customer).count()

  private def resultMap(r: Pipeline.Result): Map[String, Any] =
    Map("counts" -> r.counts, "rejects" -> r.rejectCounts)

  private def input(variant: String) =
    if (variant == "base") s"$work/etl/base" else s"$work/etl/delta_$variant"

  def op(spark: SparkSession, i: Int): Op = new Op {
    private val (entry, variant) = steps(i % rotation)
    private val root = out.resolve(s"rotation${i / rotation}")
    private var result: Pipeline.Result = _
    private var t0Ms = 0L
    val name = s"$entry-$variant"

    override def prepare(): Unit = {
      if (i % rotation == 0) Main.deleteTree(root)
      t0Ms = System.currentTimeMillis()
    }
    def run(): Unit = result =
      if (entry == "txn") Pipeline.runTransactional(spark, input(variant), root.toString)
      else Pipeline.run(spark, input(variant), root.toString)

    /** Every op's warehouse is exported and checked against DuckDB. */
    def verify(): Map[String, Any] = {
      val (files, _) = Main.writtenSince(root.resolve(if (entry == "txn") "snapshots" else "warehouse"), t0Ms)
      val dir = check.resolve(s"op$i-$name").toString
      Schemas.primaryKeys.keys.foreach(t => warehouse(t).coalesce(1).write.parquet(s"$dir/$t"))
      resultMap(result) ++ Map("input" -> variant, "exported" -> dir, "files_written" -> files)
    }
    override def cleanup(): Unit = if (i % rotation == rotation - 1) Main.deleteTree(root)

    private def warehouse(t: String): DataFrame =
      if (entry == "txn") Snapshot.read(spark, s"$root/snapshots", t)
      else spark.read.parquet(s"$root/warehouse/$t")
  }

  /** Each layer called alone on inputs materialized beforehand, so its
    * wall holds no upstream work: extract of the base CSVs, the transform
    * chain on base and delta a, then Upsert and Snapshot MERGEs of delta a
    * into tables the (unmeasured) base MERGE created. */
  override def isolated(spark: SparkSession, t: Trace): Map[String, Any] = {
    val files = Seq("customers" -> Schemas.customer, "products" -> Schemas.product,
      "orders" -> Schemas.orders, "order_details" -> Schemas.orderDetail)
    val keys = Map("customers" -> Seq("CustomerID"), "products" -> Seq("ProductID"),
      "orders" -> Seq("OrderID", "CustomerID"), "order_details" -> Seq("OrderID", "ProductID"))
    def measure(name: String)(f: => Map[String, Any]): Map[String, Any] = {
      t.drain()
      val t0Ms = System.currentTimeMillis(); val t0 = System.nanoTime()
      val extra = t.span(name)(f)
      val s = (System.nanoTime() - t0) / 1e9
      val wk = t.work(t0Ms, System.currentTimeMillis())
      extra ++ Map("s" -> s, "jobs" -> wk.jobs, "input_bytes" -> wk.inputBytes,
        "output_bytes" -> wk.outputBytes, "shuffle_write_bytes" -> wk.shuffleWriteBytes,
        "task_s" -> wk.taskS)
    }
    def extracts(dir: String) = files.map { case (f, schema) =>
      f -> CsvExtract.loadCsvExact(spark, s"$dir/$f.csv", schema) }.toMap
    val extract = measure("csvextract.loadCsvExact") {
      Map("rows" -> extracts(input("base")).values.map(_.count()).sum)
    }
    // the transform chain Pipeline runs, over checkpointed extracts (the
    // scan ordinal stands in for file order): the MERGE stages and counts
    def stage(dir: String): (Map[String, (DataFrame, Seq[String])], Map[String, Any]) = {
      val raw = extracts(dir).map { case (f, df) =>
        f -> df.withColumn("__ord", monotonically_increasing_id()).localCheckpoint(true) }
      val nonNull = raw.map { case (f, df) => f -> Transform.dropNullKeys(df, keys(f)).localCheckpoint(true) }
      val clean = nonNull.map { case (f, df) =>
        f -> Transform.dedupeKeepLast(df, keys(f), Seq(col("__ord"))).drop("__ord").localCheckpoint(true) }
      val (ordValid, ordRej) = Transform.fkSplit(clean("orders"), clean("customers"),
        Seq("CustomerID"), Seq("CustomerID"))
      val (detV1, detRej1) = Transform.fkSplit(clean("order_details"), ordValid, Seq("OrderID"), Seq("OrderID"))
      val (detValid, detRej2) = Transform.fkSplit(detV1, clean("products"), Seq("ProductID"), Seq("ProductID"))
      val stages = Map("customer" -> (clean("customers"), Seq("CustomerID")),
        "product" -> (clean("products"), Seq("ProductID")),
        "orders" -> (ordValid.localCheckpoint(true), Seq("OrderID")),
        "order_details" -> (detValid.localCheckpoint(true), Seq("OrderID", "ProductID")))
      val afterNull = nonNull.values.map(_.count()).sum
      (stages, Map("rows_in" -> raw.values.map(_.count()).sum,
        "rows_out" -> stages.values.map(_._1.count()).sum,
        "dups_dropped" -> (afterNull - clean.values.map(_.count()).sum),
        "rejects" -> (ordRej.count() + detRej1.count() + detRej2.count())))
    }
    var baseStages = Map.empty[String, (DataFrame, Seq[String])]
    val transform = measure("transform") {
      val (stages, counts) = stage(input("base"))
      baseStages = stages
      counts
    }
    val (deltaStages, _) = stage(input("a"))
    val root = out.resolve("isolated")
    Main.deleteTree(root)
    baseStages.foreach { case (tb, (df, ks)) => Upsert.upsertParquet(spark, s"$root/warehouse/$tb", df, ks) }
    Snapshot.mergeCommit(spark, s"$root/snapshots", baseStages)
    val upsert = measure("upsert.upsertParquet") {
      val t0Ms = System.currentTimeMillis()
      val stats = deltaStages.map { case (tb, (df, ks)) =>
        tb -> Upsert.upsertParquet(spark, s"$root/warehouse/$tb", df, ks) }
      Map("inserted" -> stats.values.map(_.inserted).sum, "updated" -> stats.values.map(_.updated).sum,
        "files_written" -> Main.writtenSince(root.resolve("warehouse"), t0Ms)._1)
    }
    val snapshot = measure("snapshot.mergeCommit") {
      val t0Ms = System.currentTimeMillis()
      val before = Snapshot.currentVersion(spark, s"$root/snapshots").getOrElse(0L)
      val (v, _) = Snapshot.mergeCommit(spark, s"$root/snapshots", deltaStages)
      Map("commits" -> (v - before),
        "files_written" -> Main.writtenSince(root.resolve("snapshots"), t0Ms)._1)
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    Main.deleteTree(root)
    Map("csvextract" -> extract, "transform" -> transform, "upsert" -> upsert, "snapshot" -> snapshot)
  }
}

/** A query op: the builder call plus `executedPlan` (planning), then a
  * full `collect` (execution). */
final class QueryOp(spark: SparkSession, val name: String,
    build: (SparkSession, String) => DataFrame, sf: String, exportTo: Option[String],
    scratchRoot: Path) extends Op {
  var planS = 0.0
  var execS = 0.0
  private var df: DataFrame = _
  private var rows: Array[Row] = _

  def run(): Unit = {
    val t0 = System.nanoTime()
    df = build(spark, sf)
    df.queryExecution.executedPlan
    val t1 = System.nanoTime()
    rows = df.collect()
    // lifecycle results may be checkpointed; releasing them is part of the op
    Curate.release(df)
    val t2 = System.nanoTime()
    planS = (t1 - t0) / 1e9; execS = (t2 - t1) / 1e9
  }

  def verify(): Map[String, Any] = {
    exportTo.foreach(d => Main.exportRows(spark, rows, df.schema, d))
    Map("ref" -> name, "fingerprint" -> Main.fingerprint(rows), "exported" -> exportTo.getOrElse(""),
      "files_written" -> scratchDirs.map(d => Main.writtenSince(d, 0L)._1).sum)
  }

  /** The composites keep scratch under a per-application directory of the
    * engine's scratch root: `<root>/graft_<kind>/<appId>`. */
  private def scratchDirs: Seq[Path] = {
    val appId = spark.sparkContext.applicationId
    Option(scratchRoot.toFile.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("graft_"))
      .map(_.toPath.resolve(appId)).filter(Files.exists(_))
  }

  /** Drops this application's scratch, and a kind directory it leaves empty. */
  override def cleanup(): Unit = scratchDirs.foreach { d =>
    Main.deleteTree(d)
    try Files.deleteIfExists(d.getParent)
    catch { case _: java.nio.file.DirectoryNotEmptyException => () }
  }
}

/** Queries in a fixed rotation, one per op, each result fully consumed. */
final class QueryWorkload(work: String, queries: Seq[(String, (SparkSession, String) => DataFrame)],
    oracle: Map[String, String]) extends Workload(work) {
  /** Queries whose result was already exported for the DuckDB check; later
    * runs of a query are checked by fingerprint against that one. */
  private val exported = mutable.Set.empty[String]
  def rotation: Int = queries.size
  def setup(spark: SparkSession): Unit = graft.queries.SalesQueries.q01Counts(spark, sf).collect()
  override def oracleSql: Map[String, String] = oracle.filter { case (k, _) => queries.exists(_._1 == k) }

  def op(spark: SparkSession, i: Int): Op = {
    val (name, build) = queries(i % rotation)
    // the root Tables.scratchDir writes under: <root>/graft_<kind>/<appId>/<dir>
    val probe = Paths.get(graft.model.Tables.scratchDir(spark, "probe", "d"))
    val exportTo = if (exported.add(name)) Some(check.resolve(name).toString) else None
    new QueryOp(spark, name, build, sf, exportTo, probe.getParent.getParent.getParent)
  }
}
