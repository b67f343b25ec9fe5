package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Text

/** PERSISTED BM25 text-serving index — the [[bm25]] [[IndexFamily]]
  * beside the vector families in [[AnnIndex]], closing the retrieval
  * story for the TEXT side of a hybrid-search stack (cf. the in-query
  * [[Bm25.topK]], which re-tokenizes the corpus per call; at 100 TB the
  * tokenize + posting derivation is paid once at ingest and every query
  * reads only its terms' postings).
  *
  * Layout:
  *  - `path`: the postings — one (term, id, tf, dl) row per distinct
  *    (doc, term), Hive-PARTITIONED BY `tb` = xxhash64(term) mod
  *    [[Buckets]]. Query terms are LITERALS at serve time, so their
  *    bucket set is computed up front and the scan statically prunes to
  *    ≤ |terms| bucket directories — a query never touches the rest of
  *    the index. (Partitioning by raw term would create a directory per
  *    vocabulary entry — millions of dirs at corpus scale; the bucket
  *    layer keeps the directory count fixed.)
  *  - `path + "_docs"`: one (id, dl) row per document — including
  *    zero-token and NULL-text docs (dl NULL), because corpus stats (N,
  *    Σdl) count every document exactly as [[Bm25.topK]] does.
  *
  * Corpus statistics (N, Σdl, per-term df) are derived LIVE from the
  * stored rows at serve time — O(docs-table) + O(pruned postings), never
  * a corpus scan — so serve-after-append is hash-identical to a full
  * rebuild by construction (no frozen-stats drift; the
  * txt_bm25_incremental gate). Scoring itself is [[Bm25.rank]] —
  * the SAME pinned-operand-order code path as the in-query operator.
  */
object TextIndex {

  /** Reserved index column names (guarded in [[postingsRows]] and
    * [[bm25]]'s tokenize pass). */
  val TermCol = "term"
  val TfCol = "tf"
  val DlCol = "dl"
  val TbCol = "tb"

  /** Term-bucket fanout: fixed directory count for the partition layer.
    * 64 keeps per-bucket vocabulary slices large enough for fat parquet
    * files at corpus scale while a q-term query still prunes ≥ 98%. */
  val Buckets = 64

  /** A BM25 request: the top `k` documents for `terms`. */
  final case class Query(terms: Seq[String], k: Int)

  /** BM25: postings partitioned by term bucket `tb` plus the per-doc
    * `_docs` table, both derived from ONE tokenized, checkpointed pass
    * (tokenizing twice would double the dominant ingest cost); no side
    * table — corpus stats derive live from the stored rows. */
  def bm25(idCol: String, textCol: String): IndexFamily[Query] =
    IndexFamily(idCol, Seq(IndexTable("", Some(TbCol)), IndexTable("_docs")),
      encode = (tok, _) => Seq(postingsOf(tok, idCol), tok.select(col(idCol), col(DlCol))),
      serve = (ix, q) => bm25ServeFrames(ix.tables(0), ix.tables(1), idCol, q.terms, q.k),
      prepare = Some { df =>
        requireUnreserved(df)
        tokenized(df, idCol, textCol).localCheckpoint(true)
      })

  private def requireUnreserved(df: DataFrame): Unit =
    Seq(TermCol, TfCol, DlCol, TbCol).foreach { c =>
      require(!df.columns.contains(c),
        s"input already has a column named the reserved index column '$c'") }

  /** The postings of a batch: one (term, id, tf, dl, tb) row per
    * distinct (doc, term). One scan, one (id, term) map-side-combinable
    * aggregate — tokenization happens exactly once per doc, here.
    * NULL-text docs tokenize to NULL and contribute no postings (they
    * still count toward N through [[docRows]]). */
  def postingsRows(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    requireUnreserved(df)
    postingsOf(tokenized(df, idCol, textCol), idCol)
  }

  private def postingsOf(tok: DataFrame, idCol: String): DataFrame =
    tok.select(col(idCol), col(DlCol), explode(col("__t")).as(TermCol))
      .groupBy(col(idCol), col(DlCol), col(TermCol))
      .agg(count(lit(1)).as(TfCol))
      .withColumn(TbCol, pmod(xxhash64(col(TermCol)), lit(Buckets.toLong)))

  /** Per-doc (id, dl) rows — EVERY doc, NULL dl for NULL-text docs (they
    * count toward N, not Σdl, matching [[Bm25.topK]]'s stats row). */
  def docRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenized(df, idCol, textCol).select(col(idCol), col(DlCol))

  private def tokenized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // Par.spread: the normalize/tokenize map dominates index builds and
    // would otherwise fuse into a one-task scan; it also sets the
    // checkpoint's partition count for the postings explode downstream
    Par.spread(df)
      .select(col(idCol), Text.tokens(Text.normalize(col(textCol))).as("__t"))
      .withColumn(DlCol, size(col("__t")).cast("long"))

  /** Top-k BM25 over (postings, docs) frames — the stored index or its
    * base+delta resolution: zero tokenization — the query terms' bucket
    * set prunes the postings scan to ≤ |terms| directories, per-term df
    * and the (N, Σdl) corpus stats collapse into ONE broadcast row, and
    * [[Bm25.rank]] scores the ≤ |pruned postings| candidate docs.
    * Hash-identical to [[Bm25.topK]] over the indexed corpus (the
    * txt_bm25_persisted gate shares doc_bm25's oracle). */
  def bm25ServeFrames(postings: DataFrame, docs: DataFrame, idCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    Bm25.requireQuery(terms, k)
    val spark = postings.sparkSession
    import spark.implicits._
    // the terms are literals: their buckets are too — computed through
    // the SAME xxhash64 expression as the write side (one bounded
    // ≤|terms|-row collect), so the scan statically prunes to the
    // query's bucket directories
    val buckets = terms.toDF(TermCol)
      .select(pmod(xxhash64(col(TermCol)), lit(Buckets.toLong)))
      .collect().map(_.getLong(0)).distinct.toSeq
    val posts = postings
      .filter(col(TbCol).isin(buckets: _*) && col(TermCol).isin(terms: _*))
    // per-term df in ONE map-side-combined row: postings are unique on
    // (id, term), so counting rows per term counts matching docs
    val dfAgg = posts.agg(
      coalesce(sum((col(TermCol) === terms.head).cast("long")), lit(0L)).as("__df0"),
      terms.zipWithIndex.tail.map { case (t, i) =>
        coalesce(sum((col(TermCol) === t).cast("long")), lit(0L)).as(s"__df$i")
      }: _*)
    val docStats = docs.agg(count(lit(1)).as("__N"), sum(col(DlCol)).as("__sumdl"))
    val stats = docStats.crossJoin(dfAgg)
    // candidate hits: pivot the ≤|terms| postings of each doc into the
    // __tf0.. columns [[Bm25.rank]] scores
    val hits = posts.groupBy(col(idCol), col(DlCol).as("__dl"))
      .agg(
        coalesce(sum(when(col(TermCol) === terms.head, col(TfCol))), lit(0L)).as("__tf0"),
        terms.zipWithIndex.tail.map { case (t, i) =>
          coalesce(sum(when(col(TermCol) === t, col(TfCol))), lit(0L)).as(s"__tf$i")
        }: _*)
    Bm25.rank(hits, stats, idCol, terms.size, k, k1, b)
  }
}
