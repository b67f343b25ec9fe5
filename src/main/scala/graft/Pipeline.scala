package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.operators.{Curate, Par, Transform, Upsert}
import graft.operators.Upsert.MergeStats
import graft.sources.{CsvExtract, Replica, Snapshot}

/** End-to-end ETL pipeline — the Spark-native equivalent of the
  * reference's `main` (etl_sales_analytics.py:302-333):
  * extract (schema-pinned CSV) → transform (coerce, drop-null-keys,
  * keep-last dedupe, FK split with reject sinks) → load (MERGE-style
  * upsert into a parquet warehouse) → verify counts.
  *
  * The reference's SQL-Server staging tables disappear: staging is the
  * cleaned DataFrames, held in the executors' cache the way the
  * reference holds each cleaned pandas frame in memory
  * (etl_sales_analytics.py:171-283). Each cleaned entity and each
  * FK-split output is computed ONCE (`persist`, so a lost block
  * recomputes with the same file ordinal): the reject CSVs and the four
  * MERGEs all read that cache instead of re-deriving the frames from the
  * CSVs per action. Every output is ONE Spark action that also yields
  * the numbers the load reports, as the reference's T-SQL MERGEs report
  * their row counts while they run: each reject write observes its row
  * count, and each MERGE ([[Upsert.upsertParquet]]'s full-outer-join
  * algorithm, or one [[Snapshot.mergeCommit]]) observes its
  * inserted/updated/total counts and checks its stage keys inside its
  * one write ([[Upsert.writeMerge]]). The four MERGEs run as concurrent
  * Spark jobs ([[Par.inParallel]]: a failing table cancels its siblings'
  * jobs), and nothing is swapped in or published until all four are
  * written. The CSV headers are read without a Spark job
  * ([[CsvExtract.loadCsvExact]]). The cache is released when the load
  * returns, on success and on failure.
  * Re-running on the same inputs is a no-op (idempotent, as the
  * reference claims in README.md:5).
  */
object Pipeline {

  case class Result(counts: Map[String, Long], rejectCounts: Map[String, Long])

  /** Run the pipeline: `dataDir` holds customers/products/orders/
    * order_details CSVs (reference layout); warehouse + rejects are
    * written under `outDir`. Each table swaps on its own (per-table
    * atomic swap). The four merged tables are written concurrently, and
    * only once all four are written do they swap in, one at a time,
    * parents first (customer, product, orders, order_details). So a
    * failing MERGE leaves every table as it was, and a failing swap (a
    * filesystem error) leaves the tables before it swapped and the ones
    * after it untouched: a child table never swaps in without its
    * parents. The merged tables written before a MERGE failed are
    * deleted, so a failed run leaves no `<table>.tmp` behind. See
    * [[runTransactional]] for the all-or-nothing cross-table load. */
  def run(spark: SparkSession, dataDir: String, outDir: String): Result =
    load(spark, dataDir, outDir) { loads =>
      def path(t: String) = s"$outDir/warehouse/$t"
      val swaps =
        try Par.inParallel(loads.map { case (t, df, keys) => () =>
          t -> Upsert.writeMerged(spark, path(t), df, keys)
        })
        catch { case e: Throwable =>
          loads.foreach { case (t, _, _) => Upsert.discardMerged(spark, path(t)) }
          throw e
        }
      val merges = swaps.map { case (t, swap) => t -> swap() }.toMap
      merges.foreach { case (t, m) =>
        println(s"[MERGE] $t: inserted=${m.inserted} updated=${m.updated} total=${m.total}")
      }
      merges
    }

  /** Same pipeline, but the four MERGEs publish as ONE atomic snapshot
    * commit (graft.sources.Snapshot) — the reference's single-transaction
    * load (etl_sales_analytics.py runs all four MERGEs on one connection
    * and commits once): a crash mid-load leaves the previous snapshot
    * fully intact and mutually consistent across tables. */
  def runTransactional(spark: SparkSession, dataDir: String, outDir: String): Result =
    load(spark, dataDir, outDir) { loads =>
      val (version, merges) = Snapshot.mergeCommit(spark, s"$outDir/snapshots",
        loads.map { case (t, df, keys) => t -> (df, keys) }.toMap)
      merges.foreach { case (t, m) =>
        println(s"[MERGE v$version] $t: inserted=${m.inserted} updated=${m.updated} total=${m.total}")
      }
      merges
    }

  /** The documents-side pipeline: curate a raw corpus (language/quality
    * filters, exact + near-dup dedup — graft.operators.Curate) and
    * publish the curated corpus AND its drop audit as ONE atomic
    * snapshot version: readers see a matching (corpus, audit) pair or
    * the previous one, never a mix — the same all-or-nothing contract
    * [[runTransactional]] gives the sales load. Returns the committed
    * version. Re-running on the same input produces an identical new
    * version (the chain is deterministic end to end). */
  def curateCorpus(spark: SparkSession, docsPath: String, snapshotRoot: String,
      idCol: String = "doc_id", textCol: String = "text"): Long =
    withCurated(spark, docsPath, idCol, textCol) { (tables, statsCols) =>
      Snapshot.commit(spark, snapshotRoot, tables, statsCols = statsCols)
    }

  /** WRITE-AUDIT-PUBLISH curation: [[curateCorpus]] with the publish
    * gated on validation — the production discipline for a corpus that
    * trainers read continuously. The curated output and its drop audit
    * commit to a BRANCH (invisible to main readers), the `audit`
    * function examines the staged corpus AS STORED (read back through
    * the branch head — what main readers would see after publish), and
    * only a passing audit fast-forwards main ([[Snapshot.mergeBranch]]);
    * a failing audit drops the branch and main is byte-untouched.
    * Returns Right(new main version) or Left(audit failure reason).
    *
    * The default audit ([[auditCurated]]) rejects an empty corpus,
    * NULL/empty surviving text, and duplicate ids — the invariants
    * downstream training jobs assume; real deployments pass their own. */
  def curateCorpusWap(spark: SparkSession, docsPath: String,
      snapshotRoot: String, branch: String = "wap_curate",
      idCol: String = "doc_id", textCol: String = "text")(
      audit: DataFrame => Option[String] = auditCurated(idCol, textCol)
  ): Either[String, Long] =
    withCurated(spark, docsPath, idCol, textCol) { (tables, statsCols) =>
      Snapshot.createBranch(spark, snapshotRoot, branch)
      Snapshot.commitBranch(spark, snapshotRoot, branch, tables, statsCols = statsCols)
      val staged = Snapshot.readBranch(spark, snapshotRoot, branch, "corpus_curated")
      audit(staged) match {
        case Some(reason) =>
          Snapshot.dropBranch(spark, snapshotRoot, branch)
          Left(reason)
        case None =>
          val v = Snapshot.mergeBranch(spark, snapshotRoot, branch)
          // post-publish the branch shares every data dir with main —
          // dropping it is pure bookkeeping, no data becomes sweepable
          Snapshot.dropBranch(spark, snapshotRoot, branch)
          Right(v)
      }
    }

  /** [[curateCorpusWap]]'s default audit: the staged corpus is non-empty,
    * every surviving `textCol` is non-blank, and `idCol` is unique. */
  private def auditCurated(idCol: String, textCol: String)(staged: DataFrame): Option[String] = {
    val agg = staged.agg(count(lit(1)),
      count(when(col(textCol).isNull || length(trim(col(textCol))) === 0, 1)),
      countDistinct(col(idCol))).head()
    val (n, badText, distinctIds) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    if (n == 0L) Some("audit: curated corpus is empty")
    else if (badText > 0L) Some(s"audit: $badText surviving rows have NULL/empty text")
    else if (distinctIds != n) Some(s"audit: ${n - distinctIds} duplicate ids survived")
    else None
  }

  /** The curation step [[curateCorpus]] and [[curateCorpusWap]] publish:
    * reads and curates the corpus (graft.operators.Curate) and hands
    * `publish` the curated corpus and its drop audit by table name, with
    * their stats columns. The curated frame's blocks are released when
    * `publish` returns or throws. */
  private def withCurated[A](spark: SparkSession, docsPath: String, idCol: String,
      textCol: String)(publish: (Map[String, DataFrame], Map[String, Seq[String]]) => A): A = {
    val docs = spark.read.parquet(docsPath)
    val curated = Curate.curate(docs, idCol, textCol)
    try {
      // drop audit: every input id that didn't survive, joined back cheaply
      // (curated ids broadcast in the common case — survivors ≈ corpus, but
      // the audit is what reject CSVs are to the sales pipeline)
      val dropped = docs.join(curated.select(idCol), Seq(idCol), "left_anti")
        .select(idCol)
      // id-range stats per file: selective doc_id reads on the published
      // corpus skip files via Snapshot.readPruned (the L62 layer)
      publish(Map("corpus_curated" -> curated, "corpus_dropped" -> dropped),
        Map("corpus_curated" -> Seq(idCol), "corpus_dropped" -> Seq(idCol)))
    } finally Curate.release(curated)
  }

  /** EXACTLY-ONCE incremental curation over a snapshot store's change
    * feed — the consumer that keeps a CURATED corpus current against a
    * mutating raw corpus at O(changes + state), never re-reading the
    * corpus body. The production answer to "new crawl batches land
    * every hour into a 100 TB documents table; keep the training
    * corpus curated": [[curateCorpus]] re-curates the world,
    * this follows it.
    *
    * All tables live in ONE snapshot root, so every round is one
    * atomic, mutually-consistent commit: the raw `srcTable` (written
    * by ingest), the curated `dstTable` (src columns + lang_pred +
    * quality_score), the frozen model artifacts (`<dst>_profiles`,
    * `<dst>_vocab` — trained once at bootstrap, the CCNet
    * fixed-yardstick contract), the dedup signature state
    * (`<dst>_sig`, [[graft.operators.DedupState]]), and the per-app
    * cursor (`_curate`).
    *
    * Each call:
    *   1. reads the cursor; `cursor >= head` no-ops (a replayed call
    *      after a crash-past-commit changes nothing — exactly-once
    *      under at-least-once driving, the [[graft.sources.Replica]]
    *      contract);
    *   2. BOOTSTRAP (no cursor): trains profiles/vocab on the corpus
    *      at `head`, starts from empty state, and curates the whole
    *      corpus as the first delta;
    *   3. otherwise pulls [[Snapshot.changesBetween]] over
    *      (cursor, head] and NETS it per key (last event wins);
    *   4. evicts touched keys: netted deletes AND re-upserted keys
    *      leave the signature state (their old text no longer
    *      suppresses anything — delete-then-reingest resurrects, the
    *      MERGE contract) and are queued as dst deletes;
    *   5. [[graft.operators.Curate.curateDelta]] gates the netted
    *      inserts against the frozen artifacts and dedups them against
    *      state-minus-evicted;
    *   6. publishes ONE [[Snapshot.applyChanges]] commit: survivor
    *      upserts + failed/deleted-key deletes on `dstTable`
    *      (O(batch) merge-on-read, zero rewrite), the absorbed state
    *      (replace — the state is signatures, not corpus text; a
    *      deployment with a huge state would make it a second
    *      merge-on-read table), and the advanced cursor. The cursor
    *      records `base + 1` — this commit's own version, which never
    *      touches `srcTable` — so a quiet source reads as current, not
    *      as a feed to re-net forever.
    *
    * Returns Some(committed version), or None when already current.
    * Concurrent root writers fail the CAS loudly — re-call to retry.
    * Source compaction inside the unsynced range throws
    * (changesBetween's contract); vacuum the source only past the
    * cursor. */
  def curateFollow(spark: SparkSession, root: String,
      srcTable: String = "documents", dstTable: String = "documents_curated",
      idCol: String = "doc_id", textCol: String = "text", langCol: String = "lang",
      keepLangs: Seq[String] = Seq("en", "es", "de", "fr"),
      minQuality: Double = 0.5, maxAvgNllMicro: Long = 3410000L,
      minJaccard: Double = 0.5, profileK: Int = 64,
      appId: String = "curate"): Option[Long] = {
    import graft.operators.{DedupState, LangModel, LangProfile, NearDup}
    val profTable = dstTable + "_profiles"
    val vocabTable = dstTable + "_vocab"
    val sigTable = DedupState.stateTable(dstTable)
    val (head, marks) = Replica.CurateMark.pinned(spark, root)
    if (head == 0L) return None // nothing committed yet
    val tables = Snapshot.tables(spark, root).keySet
    require(tables.contains(srcTable), s"curateFollow: no table '$srcTable' at $root")
    val cursor = marks.get(appId)
    if (cursor.exists(_ >= head)) return None // already current
    val bootstrap = cursor.isEmpty
    // ---- the delta: netted inserts + deletes over (cursor, head] ----
    // (the netted frame is checkpointed and must outlive the commit —
    // freed in the outermost finally)
    var netted: Option[DataFrame] = None
    val (ins, delKeys) =
      if (bootstrap) (Snapshot.readAt(spark, root, srcTable, head),
        Snapshot.read(spark, root, srcTable).limit(0).select(col(idCol)))
      else {
        val last = Replica.net(Snapshot.changesBetween(spark, root, srcTable, cursor.get, head),
          Seq(idCol)).localCheckpoint(true)
        netted = Some(last)
        (last.filter(col(Snapshot.ChangeTypeCol) === "insert")
          .drop(Snapshot.ChangeTypeCol, Snapshot.CommitVersionCol),
          last.filter(col(Snapshot.ChangeTypeCol) === "delete").select(col(idCol)))
      }
    // ---- frozen artifacts (trained at bootstrap, read ever after) ----
    val (profiles, vocab) =
      if (bootstrap)
        (LangProfile.profiles(ins, langCol, textCol, profileK).localCheckpoint(true),
          LangModel.train(ins, textCol, col(langCol) === "en").localCheckpoint(true))
      else (Snapshot.read(spark, root, profTable), Snapshot.read(spark, root, vocabTable))
    try {
      // ---- evict touched keys from state (resurrect semantics) ----
      val touched = delKeys.unionByName(ins.select(col(idCol))).distinct()
      val state0 =
        if (bootstrap) {
          import spark.implicits._
          // empty state with the exact persisted schema
          DedupState.stateOf(ins.limit(0), idCol, textCol)
        } else Snapshot.read(spark, root, sigTable)
      val state = (if (bootstrap) state0 else state0.join(touched, Seq(idCol), "left_anti"))
        .localCheckpoint(true)
      try {
        val survivors = Curate.curateDelta(profiles, vocab, state, ins,
          idCol, textCol, keepLangs, minQuality, maxAvgNllMicro, minJaccard)
        try {
          val survRows = survivors.drop(DedupState.StateCols: _*)
          val newState = state.unionByName(survivors.select(col(idCol),
            col(DedupState.FpCol), col(DedupState.ShCol), col(DedupState.SigCol)))
          // dst deletes: touched keys whose new text no longer survives
          // curation AND that actually sit in the curated table — the
          // semi-join keeps the tombstone shadow at O(really-deleted
          // curated rows); tombstoning every gate-failed key would grow
          // the shadow corpus-sized and tax every later dst read. The
          // dst id scan is one column-pruned pass. At bootstrap there is
          // no dst yet — nothing to delete. A missing dstTable on a
          // NON-bootstrap round is the same case: a bootstrap whose
          // training slice yielded zero survivors commits cursor and
          // artifacts without ever creating dst (applyChanges with no
          // upserts is replaces-only), so later rounds must treat the
          // absent table as empty instead of throwing forever.
          val dels =
            if (bootstrap || !tables.contains(dstTable)) touched.limit(0)
            else touched.join(survRows.select(col(idCol)), Seq(idCol), "left_anti")
              .join(Snapshot.read(spark, root, dstTable).select(col(idCol)),
                Seq(idCol), "left_semi")
          // the cursor records base+1: this very commit, which never
          // touches srcTable
          val replaces = Map(sigTable -> newState,
            Replica.CurateMark.advanced(spark, marks, appId, head + 1L)) ++
            (if (bootstrap) Map(profTable -> profiles, vocabTable -> vocab)
             else Map.empty)
          val nUps = survRows.limit(1).count()
          val nDels = dels.limit(1).count()
          val v = Snapshot.applyChanges(spark, root, dstTable, Seq(idCol),
            upserts = if (nUps > 0) Some(survRows) else None,
            deleteKeys = if (nDels > 0) Some(dels) else None,
            replaces = replaces,
            expectBase = Some(head))
          Some(v)
        } finally Curate.release(survivors)
      } finally NearDup.freeCheckpoint(state)
    } finally {
      if (bootstrap) {
        NearDup.freeCheckpoint(profiles); NearDup.freeCheckpoint(vocab)
      }
      netted.foreach(NearDup.freeCheckpoint)
    }
  }

  /** Extract and transform `dataDir` into cached staging frames, write
    * the reject CSVs under `outDir`, and hand the load set — table,
    * cleaned FK-valid frame, MERGE keys, parents first — to `merge`.
    * Every frame cached here is released before this returns or throws. */
  private def load(spark: SparkSession, dataDir: String, outDir: String)(
      merge: Seq[(String, DataFrame, Seq[String])] => Map[String, MergeStats]): Result = {
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def once(df: DataFrame): DataFrame = { cached += df.persist(); df }
    try {
      // -- extract (S1-S2): schema-pinned, trimmed, coerce-to-NULL
      val customers = CsvExtract.loadCsvExact(spark, s"$dataDir/customers.csv", Schemas.customer)
      val products  = CsvExtract.loadCsvExact(spark, s"$dataDir/products.csv", Schemas.product)
      val orders    = CsvExtract.loadCsvExact(spark, s"$dataDir/orders.csv", Schemas.orders)
      val details   = CsvExtract.loadCsvExact(spark, s"$dataDir/order_details.csv", Schemas.orderDetail)

      // -- transform: NOT-NULL PK filter + keep-last dedupe. "Last" means
      // file order, as in pandas keep="last" (etl_sales_analytics.py:183-186).
      // The ordinal is reconstructed from scan metadata so it SURVIVES
      // SPLIT FILES: (file, block offset, row-in-partition). Blocks of one
      // file sort by their byte offset and rows within a block are emitted
      // in file order, so the triple is totally ordered by file position —
      // monotonically_increasing_id alone is only partition-ordered and
      // breaks silently the moment a file splits into >1 partition.
      def withFileOrdinal(df: DataFrame): DataFrame =
        try df
          .withColumn("__f", col("_metadata.file_path"))
          .withColumn("__b", col("_metadata.file_block_start"))
          .withColumn("__r", pmod(monotonically_increasing_id(), lit(1L << 33)))
        catch { case _: org.apache.spark.sql.AnalysisException =>
          // missing-file degradation path: an in-memory empty frame has no
          // scan metadata; any ordinal is vacuously correct on zero rows.
          df.withColumn("__f", lit(""))
            .withColumn("__b", lit(0L))
            .withColumn("__r", monotonically_increasing_id())
        }

      def clean(df: DataFrame, keys: Seq[String]): DataFrame = once(
        Transform.dedupeKeepLast(
          Transform.dropNullKeys(withFileOrdinal(df), keys),
          keys, Seq(col("__f"), col("__b"), col("__r")))
          .drop("__f", "__b", "__r"))

      val cust = clean(customers, Seq("CustomerID"))
      val prod = clean(products, Seq("ProductID"))
      // reference drops orders with NULL OrderID *or* NULL CustomerID
      // before dedupe (dropna subset, etl_sales_analytics.py:183-185) —
      // such rows vanish rather than landing in the reject CSV.
      val ord0 = clean(orders, Seq("OrderID", "CustomerID"))
      val det0 = clean(details, Seq("OrderID", "ProductID"))

      // -- FK integrity (J5/J6): violations → reject CSVs, like
      // data/rejects/*.csv in the reference. Each split output is cached
      // too: the valid side feeds a MERGE (and, for orders, the detail
      // split), the reject side is written (and counted in that write).
      val (ordValid, ordRej) = Transform.fkSplit(ord0, cust, Seq("CustomerID"), Seq("CustomerID"))
      once(ordValid); once(ordRej)
      val (detV1, detRej1) = Transform.fkSplit(det0, ordValid, Seq("OrderID"), Seq("OrderID"))
      val (detValid, detRej2) = Transform.fkSplit(detV1, prod, Seq("ProductID"), Seq("ProductID"))
      val detRej = once(detRej1.unionByName(detRej2))
      once(detValid)
      val rejectCounts = Par.inParallel(Seq("orders" -> ordRej, "order_details" -> detRej).map {
        case (t, rej) => () => t -> CsvExtract.writeRejects(rej, s"$outDir/rejects/$t")
      }).toMap

      // -- load set (M1-M5): table, cleaned frame, MERGE keys — telemetry
      // per branch as in the reference (etl_sales_analytics.py:241-283).
      val merges = merge(Seq(
        ("customer", cust, Seq("CustomerID")),
        ("product", prod, Seq("ProductID")),
        ("orders", ordValid, Seq("OrderID")),
        ("order_details", detValid, Seq("OrderID", "ProductID"))))
      Result(merges.map { case (t, m) => t -> m.total }, rejectCounts)
    } finally cached.foreach(_.unpersist())
  }
}
