package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Row-level transform operators from the reference's `transform_minimal`
  * (etl_sales_analytics.py:171-209): NOT-NULL key filter, keep-last
  * dedupe, and the FK semi/anti split that routes violations to rejects.
  *
  * Scale notes:
  *  - [[dedupeKeepLast]] shuffles ONCE on the key columns (window
  *    partitioning); at 100 TB this is the minimal-shuffle plan for
  *    "latest version per key" and AQE handles skewed keys.
  *  - [[fkSplit]] is two key-joins against the same dimension; Catalyst
  *    broadcasts the dimension when it is under the broadcast threshold
  *    (the reference's Python-set `isin` is exactly a hand-rolled
  *    broadcast semi-join, etl_sales_analytics.py:193-203).
  */
object Transform {

  /** P2 — drop rows with NULL in any primary-key column
    * (pandas `dropna(subset=pk)`, etl_sales_analytics.py:183-186). */
  def dropNullKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.na.drop("any", keys)

  /** A10 — keep-last dedupe by key: among same-key rows the greatest
    * `ord` wins (pandas `drop_duplicates(keep="last")` with `ord` standing
    * in for file order — see SURVEY.md §7.5 on why the ordinal must be
    * explicit in a distributed read).
    *
    * One hash-partitioning exchange on `keys`; the per-partition sort is
    * local. row_number (not rank) guarantees exactly one survivor per key.
    */
  def dedupeKeepLast(df: DataFrame, keys: Seq[String], ord: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** A10 at scale — keep-last as an AGGREGATE instead of a window:
    * max_by(struct(data...), struct(ord...)) gets partial aggregation
    * (map-side combine), so the shuffle carries one candidate row per
    * key per partition instead of every raw row, and AQE can split a
    * skewed aggregate where it cannot split a window partition. Same
    * winner as [[dedupeKeepLast]] for any totally-ordering `ord` (ties
    * broken by the greatest full ord-tuple in both). Preferred on
    * hot-key data; the window form keeps exact plan parity with the
    * ROW_NUMBER oracle. */
  def dedupeKeepLastAgg(df: DataFrame, keys: Seq[String], ord: Seq[Column]): DataFrame = {
    val dataCols = df.columns.filterNot(keys.contains)
    val packed = df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(dataCols.map(col): _*), struct(ord: _*)).as("__row"))
    packed.select(keys.map(col) ++ dataCols.map(c => col(s"__row.$c").as(c)): _*)
  }

  /** J5/J6 — FK integrity split: rows whose `fkCols` exist in
    * `dim[dimCols]` are valid (semi-join); the rest are rejects
    * (anti-join). NULL FK values never match (reference: `isin` on a
    * non-null key set), so they land in rejects.
    *
    * Returns (valid, rejects). Both sides reuse the same dimension scan;
    * Catalyst plans broadcast-hash semi/anti when `dim` is small. The
    * dimension keys are not de-duplicated: a semi-join emits each left
    * row at most once and an anti-join drops it on any match, so a
    * duplicate dimension key changes neither side, and a `distinct`
    * would only add a shuffle per plan.
    */
  def fkSplit(df: DataFrame, dim: DataFrame, fkCols: Seq[String], dimCols: Seq[String])
      : (DataFrame, DataFrame) = {
    val dimKeys = dim.select(dimCols.map(col): _*).na.drop("any")
    val cond = fkCols.zip(dimCols).map { case (f, d) => df(f) === dimKeys(d) }
      .reduce(_ && _)
    val valid = df.join(dimKeys, cond, "left_semi")
    val rejects = df.join(dimKeys, cond, "left_anti")
    (valid, rejects)
  }

  /** F14 — CHECK-constraint style validation split: rows satisfying
    * `pred` vs violations (Spark enforces no table constraints, so checks
    * become pipeline filters — SURVEY.md §7.5). */
  def checkSplit(df: DataFrame, pred: Column): (DataFrame, DataFrame) =
    (df.filter(pred), df.filter(!coalesce(pred, lit(false))))

  /** The dedup pipeline's final cut: drop every clustered document
    * except its cluster's canonical survivor. `clusters` is
    * NearDup.dupClusters output — (idCol, cluster_id) for clustered docs
    * only, cluster_id = the cluster's minimum doc id — so the non-
    * canonical set is `id != cluster_id` and the corpus keeps everything
    * else via ONE anti-join (broadcastable: the clustered set is tiny
    * next to the corpus). */
  def dropNearDups(df: DataFrame, clusters: DataFrame, idCol: String): DataFrame =
    df.join(
      clusters.filter(col(idCol) =!= col("cluster_id")).select(idCol),
      Seq(idCol), "left_anti")

  /** Context-window chunking: split each document into `size`-character
    * chunks whose starts step by `size - overlap`, so consecutive chunks
    * share `overlap` characters — the doc→model-input map a fixed-context
    * trainer (or RAG indexer) consumes. The last chunk may be shorter;
    * docs shorter than `size` yield one whole-doc chunk; empty/NULL docs
    * yield none. A PURE MAP + in-row explode — chunk starts come from
    * `sequence(0, len-1, stride)`, nothing shuffles, and every output
    * row is a result row, so at 100 TB the cost is exactly one scan and
    * proportional output. Returns (idCol, chunk_id, chunk_start,
    * chunk_text), chunk_id dense from 0 per doc. */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
      size: Int, overlap: Int): DataFrame = {
    require(size > 0, s"size must be positive, got $size")
    require(overlap >= 0 && overlap < size,
      s"overlap must be in [0, size), got $overlap for size $size")
    val stride = (size - overlap).toLong
    df.filter(length(col(textCol)) > 0)
      .select(col(idCol), col(textCol),
        posexplode(sequence(lit(0L), length(col(textCol)).cast("long") - 1,
          lit(stride))))
      .select(col(idCol),
        col("pos").cast("long").as("chunk_id"),
        col("col").as("chunk_start"),
        col(textCol).substr(col("col").cast("int") + 1, lit(size)).as("chunk_text"))
  }
}
