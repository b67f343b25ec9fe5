package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.operators.{Bloom, Diff, IncrementalAgg, Salt, Transform, Upsert}

/** The reference's ETL transform/load operators (SURVEY.md §2: P2-P8, A10,
  * J5/J6, M1-M5) exposed as driver-checkable queries over the testdata.
  * Each has an equivalent ANSI-SQL oracle so the semantics — not just row
  * counts — are gated.
  */
object EtlQueries {

  /** Order count and exact cents total per group of `groups`, in group
    * order: the aggregate the snapshot gates compare with their oracles
    * (a lost, duplicated or resurrected row shifts one of the two). */
  private def orderTotals(groups: String*)(df: DataFrame): DataFrame =
    df.groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents_total"))
      .orderBy(groups.map(col): _*)

  /** A10 — keep-last dedupe by (l_orderkey, l_partkey). The harness data
    * carries duplicate keys (55 groups at sf0.01); "last" is defined by a
    * deterministic ordinal (l_linenumber, then full-row tie-breaks) since
    * file order is meaningless in a distributed read. */
  def dedupeKeepLast(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice")
    Transform.dedupeKeepLast(l,
      keys = Seq("l_orderkey", "l_partkey"),
      ord = Seq(col("l_linenumber"), col("l_suppkey"), col("l_quantity"),
        col("l_extendedprice")))
      .orderBy("l_orderkey", "l_partkey")
  }

  /** A10 (scale form) — same dedupe through the max_by aggregate (map-
    * side combine; the plan that wins on hot keys at 100 TB). Gated
    * against the SAME oracle as the window form: identical winners. */
  def dedupeKeepLastAgg(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice")
    Transform.dedupeKeepLastAgg(l,
      keys = Seq("l_orderkey", "l_partkey"),
      ord = Seq(col("l_linenumber"), col("l_suppkey"), col("l_quantity"),
        col("l_extendedprice")))
      .orderBy("l_orderkey", "l_partkey")
  }

  private def finishedOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey")

  /** J5 — FK semi-join: lineitem rows whose order exists in the (filtered)
    * orders dimension. */
  def fkSemi(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
    val (valid, _) = Transform.fkSplit(l, finishedOrders(spark, dir),
      Seq("l_orderkey"), Seq("o_orderkey"))
    valid.orderBy("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
  }

  /** J6 — FK anti-join: the reject side of the same split. */
  def fkAnti(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
    val (_, rejects) = Transform.fkSplit(l, finishedOrders(spark, dir),
      Seq("l_orderkey"), Seq("o_orderkey"))
    rejects.orderBy("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
  }

  /** M1-M5 — MERGE upsert: target = even-keyed orders, stage = every third
    * order with a bumped o_totalprice. Stage wins on match (including its
    * NULLs), inserts on miss, never deletes. */
  def upsertOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val target = o.filter(col("o_orderkey") % 2 === 0)
    val stage = o.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    Upsert.upsert(target, stage, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** CDC apply — the reference's MERGE extended with the delete branch
    * real CDC feeds need (Upsert.applyCdc): target = even-keyed orders;
    * the change batch mixes upserts (every third order, bumped price)
    * with deletes (multiples of 5 not already upserted — so the batch is
    * unique per key). Deletes of absent keys (odd multiples of 5) are
    * no-ops; matched deletes drop the row; upserts update-or-insert. */
  def applyCdcOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val target = o.filter(col("o_orderkey") % 2 === 0)
    val upserts = o.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .withColumn("op", lit("upsert"))
    val deletes = o.filter(col("o_orderkey") % 5 === 0 && col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), lit("delete").as("op"))
    val changes = upserts.unionByName(deletes, allowMissingColumns = true)
    Upsert.applyCdc(target, changes, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** Table-version diff (graft.operators.Diff): classify every order key
    * of the MERGE result against its pre-merge target — matched+bumped
    * keys read `updated`, stage-only keys `inserted`, untouched keys
    * `unchanged`, and nothing is `deleted` (upsert never deletes — the
    * diff PROVES the merge contract on real output). */
  def tableDiffOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val target = o.filter(col("o_orderkey") % 2 === 0)
    val stage = o.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    val merged = Upsert.upsert(target, stage, Seq("o_orderkey"))
    Diff.tableDiff(target, merged, Seq("o_orderkey"), includeUnchanged = true)
      .orderBy("o_orderkey")
  }

  /** Skew-salted fact⋈dim join (graft.operators.Salt): row-identical to
    * the plain join — which is exactly what the oracle checks. */
  def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    Salt.saltedJoin(l, o, Seq("l_orderkey"), factor = 8)
      .orderBy("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
  }

  /** P5/P7 — predicate + projection pushdown: quantity and half-open
    * date-range filters that must reach the parquet scan. */
  def filterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 45 &&
        col("l_shipdate") >= lit("1998-01-01").cast("date") &&
        col("l_shipdate") <  lit("1999-01-01").cast("date"))
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")

  /** J5 through the Bloom runtime-filter path: same finished-order
    * semi-join as etl_fk_semi — and gated against the SAME oracle, which
    * is the operator's whole contract (the Bloom filter only prunes;
    * the exact join removes its false positives). */
  def bloomSemi(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
    Bloom.bloomSemiJoin(l, finishedOrders(spark, dir),
        "l_orderkey", "o_orderkey", expectedItems = 200000L)
      .orderBy("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity")
  }

  /** Incremental rollup maintenance: history (pre-1997 orders) folded
    * into state once, then the 1997+ "new batch" merged as a delta —
    * gated against the full recompute, which is exactly the invariant
    * that makes delta refresh sound (state is a commutative monoid). */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val split = lit("1997-01-01").cast("timestamp")
    val keys = Seq("o_orderstatus")
    val measures = Seq("o_totalprice")
    // The two filters must EXHAUST the table (NULL dates fail both `<`
    // and `>=`) or the merged state silently drops rows vs the oracle.
    val history = IncrementalAgg.state(
      o.filter(col("o_orderdate") < split || col("o_orderdate").isNull), keys, measures)
    val batch = IncrementalAgg.state(o.filter(col("o_orderdate") >= split), keys, measures)
    IncrementalAgg.finish(
        IncrementalAgg.merge(keys, measures)(history, batch), keys, measures)
      .orderBy("o_orderstatus")
  }

  /** etl_dpp_join — DYNAMIC partition pruning over the partitioned
    * warehouse layout: orders land as a status-partitioned parquet table
    * (Warehouse.writePartitioned's Hive layout); the fact scan's
    * partition filter arrives at RUNTIME from the broadcast dim side
    * (statuses labeled, filtered to 'closed') as a
    * dynamicpruningexpression — the plan shape that keeps a 100 TB
    * fact scan from reading partitions the dim filter will drop anyway.
    * The dim predicate must be genuinely UNKNOWABLE at plan time or
    * Catalyst folds it into a static partition filter instead (a
    * label CASE over the key constant-folds straight through the join
    * — static pruning, tested and observed); here the dim keeps the
    * RAREST status, a rank over an aggregate no optimizer can fold.
    * PlanSpec asserts the dynamic filter reaches PartitionFilters. */
  def dppJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val path = Tables.scratchDir(spark, "dpp", dir)
    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    val fact = spark.read.parquet(path)
    val dim = Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus").as("status")).agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(lit(0)).orderBy(col("n"), col("status"))))
      .filter(col("rk") === 1)
      .select("status")
    fact.join(broadcast(dim), fact("o_orderstatus") === dim("status"))
      .transform(orderTotals("o_orderstatus"))
  }

  /** etl_schema_evolution — SCHEMA-EVOLVED snapshot read
    * (graft.sources.Snapshot): the orders table arrives in two commits
    * with DIFFERENT schemas — the initial load has no `o_year`, a later
    * commitAppend ADDS it (the most common table change a training-data
    * store sees). Nothing is rewritten: each segment records its schema
    * in a sidecar, the reader unions them in commit order and
    * NULL-backfills the old segment's rows (SnapshotSpec also pins the
    * old version's ORIGINAL schema via time travel and the loud
    * type-change reject). The gate aggregates across both segments —
    * rows grouped under o_year IS NULL are exactly the pre-evolution
    * ingest — against an oracle that derives the same split
    * relationally. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val root = Tables.freshScratch(spark, "snapevo", dir)
    val o = Tables.orders(spark, dir)
    Snapshot.commit(spark, root, Map("orders_evo" ->
      o.filter(col("o_orderkey") % 3 =!= 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")))
    Snapshot.commitAppend(spark, root, appends = Map("orders_evo" ->
      o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).cast("long").as("o_year"))))
    Snapshot.read(spark, root, "orders_evo")
      .transform(orderTotals("o_orderstatus", "o_year"))
  }

  /** etl_delete_merge_read — MERGE-ON-READ DELETE gate
    * (graft.sources.Snapshot.deleteWhere): the orders table is loaded,
    * a key-set is deleted by tombstone (O(deleted keys) — zero data
    * files rewritten, SnapshotSpec asserts the byte-identical
    * fingerprint), and a later ingest RE-APPENDS some of the deleted
    * keys — which must stay suppressed (the by-key contract: a
    * tombstone outlives appends until a compaction folds it). The gate
    * aggregates the resolved read against an oracle that never saw a
    * delete: plain `WHERE key NOT IN deleted-set` relational algebra.
    * If the engine resurrected the re-appended rows, both n_orders and
    * cents_total would shift. */
  def deleteMergeRead(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val root = Tables.freshScratch(spark, "snapdel", dir)
    val o = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    Snapshot.commit(spark, root, Map("orders_del" -> o))
    Snapshot.deleteWhere(spark, root, "orders_del",
      col("o_orderkey") % 7 === 3, Seq("o_orderkey"))
    // an ingest re-appends a slice of the DELETED keys (tweaked prices
    // make any resurrection visible in cents_total, not just counts)
    Snapshot.commitAppend(spark, root, appends = Map("orders_del" ->
      o.filter(col("o_orderkey") % 21 === 3)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))))
    Snapshot.read(spark, root, "orders_del")
      .transform(orderTotals("o_orderstatus"))
  }

  /** etl_upsert_mor — MERGE-ON-READ UPSERT gate
    * (graft.sources.Snapshot.upsertMergeOnRead): a base table is
    * committed, a key-set erased by tombstone, then a batch row-level
    * MERGEs in — existing keys updated, new keys inserted, erased keys
    * resurrected — with ZERO stored data read or rewritten (the upsert
    * appends one segment and reshapes the O(tombstones) shadow;
    * SnapshotSpec asserts the untouched part-file fingerprints). The
    * gate aggregates the resolved read against an oracle computing the
    * same final relation in plain algebra: base rows that neither the
    * delete nor the batch touched, union the batch. */
  def upsertMor(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val root = Tables.freshScratch(spark, "snapmor", dir)
    val o = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    Snapshot.commit(spark, root, Map("orders_mor" ->
      o.filter(col("o_orderkey") % 2 === 0)))
    Snapshot.deleteWhere(spark, root, "orders_mor",
      col("o_orderkey") % 5 === 1, Seq("o_orderkey"))
    // the batch (keys %3==0) UPDATEs live even keys, INSERTs odd keys,
    // and RESURRECTS deleted ones (keys ≡ 6 mod 30 were erased above);
    // tweaked prices make every path visible in cents_total
    Snapshot.upsertMergeOnRead(spark, root, "orders_mor",
      o.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
      Seq("o_orderkey"))
    Snapshot.read(spark, root, "orders_mor")
      .transform(orderTotals("o_orderstatus"))
  }

  /** etl_change_feed — incremental CDC gate
    * (graft.sources.Snapshot.changesBetween): a table goes through
    * append → merge-on-read delete → merge-on-read upsert, and the feed
    * over that range is aggregated per (version, change type, status).
    * The feed reads ONLY the appended segments and tombstone shadows —
    * SnapshotSpec asserts the base segment's files never appear in the
    * plan's inputs — while the oracle reconstructs every event from the
    * raw table: v2's appended rows as inserts, v3's erased keys as
    * deletes, v4's batch as delete+insert pairs (minus the
    * already-erased keys, whose coverage did not increase). */
  def changeFeed(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val root = Tables.freshScratch(spark, "snapcdf", dir)
    val o = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val v1 = Snapshot.commit(spark, root, Map("orders_cdf" ->
      o.filter(col("o_orderkey") % 5 =!= 0)))
    Snapshot.commitAppend(spark, root, appends = Map("orders_cdf" ->
      o.filter(col("o_orderkey") % 5 === 0)))
    Snapshot.deleteWhere(spark, root, "orders_cdf",
      col("o_orderkey") % 7 === 2, Seq("o_orderkey"))
    val v4 = Snapshot.upsertMergeOnRead(spark, root, "orders_cdf",
      o.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
      Seq("o_orderkey"))
    Snapshot.changesBetween(spark, root, "orders_cdf", v1, v4)
      .groupBy(col(Snapshot.CommitVersionCol), col(Snapshot.ChangeTypeCol),
        col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents_total"))
      .orderBy(Snapshot.CommitVersionCol, Snapshot.ChangeTypeCol, "o_orderstatus")
  }

  /** etl_sync_replica — EXACTLY-ONCE incremental replication gate
    * (graft.sources.Replica.sync over Snapshot.changesBetween +
    * applyChanges): a source table lives through append → erase →
    * row-level MERGE, and a downstream replica catches up in TWO sync
    * steps — the first bootstraps through the feed, the second applies
    * only the erase+upsert delta (O(changes): the feed never reads the
    * source body). The gate aggregates the REPLICA and compares against
    * an oracle computing the source's final state directly — any
    * mis-netted event (a delete applied over its own version's insert,
    * a resurrected key missed, a double-applied upsert) shifts
    * n_orders or cents_total. A third sync call must no-op (replay
    * safety), asserted inline. */
  def syncReplica(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Replica, Snapshot}
    val src = Tables.freshScratch(spark, "snapsrc", dir)
    val dst = Tables.freshScratch(spark, "snapdst", dir)
    val o = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    Snapshot.commit(spark, src, Map("orders_src" ->
      o.filter(col("o_orderkey") % 5 =!= 0)))
    Snapshot.commitAppend(spark, src, appends = Map("orders_src" ->
      o.filter(col("o_orderkey") % 5 === 0)))
    // sync #1: bootstrap the replica through the feed (cursor 0 → v2)
    require(Replica.sync(spark, src, "orders_src", dst, "orders_rep",
      Seq("o_orderkey")).contains(2L), "bootstrap sync did not publish")
    Snapshot.deleteWhere(spark, src, "orders_src",
      col("o_orderkey") % 7 === 2, Seq("o_orderkey"))
    Snapshot.upsertMergeOnRead(spark, src, "orders_src",
      o.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0)),
      Seq("o_orderkey"))
    // sync #2: the erase+upsert delta only
    require(Replica.sync(spark, src, "orders_src", dst, "orders_rep",
      Seq("o_orderkey")).contains(4L), "delta sync did not publish")
    // sync #3: already current — exactly-once replay no-op
    require(Replica.sync(spark, src, "orders_src", dst, "orders_rep",
      Seq("o_orderkey")).isEmpty, "replayed sync must no-op")
    Snapshot.read(spark, dst, "orders_rep")
      .transform(orderTotals("o_orderstatus"))
  }

  /** etl_point_lookup — per-file BLOOM skipping gate
    * (graft.sources.Snapshot.{commit bloomCols, readPrunedEq}): the
    * orders table is committed HASH-partitioned on the key, the layout
    * where min/max range stats prune nothing (every file spans the full
    * key range) but a per-file Bloom filter still answers "might this
    * file hold key k?" — the point-lookup skipping layer a 100 TB
    * id-keyed corpus needs (SnapshotSpec asserts the pruned file
    * counts; this gate pins the VALUE contract: skip-then-exact-filter
    * returns precisely the key's rows). The probe key is the table's
    * MIN key — one bounded 1-row aggregate, deterministic at any scale
    * factor. */
  def pointLookup(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val root = Tables.freshScratch(spark, "snapbloom", dir)
    val o = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val minKey = o.agg(min(col("o_orderkey"))).head().getLong(0)
    Snapshot.commit(spark, root,
      Map("orders_pt" -> o.repartition(8, col("o_orderkey"))),
      bloomCols = Map("orders_pt" -> Seq("o_orderkey")))
    Snapshot.readPrunedEq(spark, root, "orders_pt", "o_orderkey", minKey)
      .filter(col("o_orderkey") === minKey)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .orderBy("o_orderkey")
  }

  /** etl_rollback — O(1) RESTORE-TO-VERSION gate
    * (graft.sources.Snapshot.rollbackTo): a table lives through a good
    * load, a bad load (appended rows with corrupted prices), a bad
    * delete, and a table created by mistake — then ONE manifest-only
    * commit rolls the store back to the good version: the bad rows and
    * the mistaken table vanish, the bad tombstones vanish, zero data
    * files are touched (SnapshotSpec asserts byte-identical part files
    * and the preserved history), and life continues — a post-rollback
    * append lands on the restored state. The gate aggregates the final
    * table against an oracle that only ever saw good-load ∪
    * post-rollback-append; any bad row or lost tombstone-clear shifts
    * n_orders/cents_total. */
  def rollbackRestore(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val root = Tables.freshScratch(spark, "snaprb", dir)
    val o = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val good = Snapshot.commit(spark, root, Map("orders_rb" ->
      o.filter(col("o_orderkey") % 3 === 1)))
    // the bad epoch: corrupted append, erroneous erase, mistaken table
    Snapshot.commitAppend(spark, root, appends = Map("orders_rb" ->
      o.filter(col("o_orderkey") % 3 === 2)
        .withColumn("o_totalprice", col("o_totalprice") * lit(-1.0))))
    Snapshot.deleteWhere(spark, root, "orders_rb",
      col("o_orderkey") % 5 === 1, Seq("o_orderkey"))
    Snapshot.commit(spark, root, Map("orders_rb_oops" -> o.limit(10)))
    val restored = Snapshot.rollbackTo(spark, root, good)
    require(restored > good, s"rollback must be a NEW version, got $restored")
    require(Snapshot.tables(spark, root).keySet == Set("orders_rb"),
      "rollback must drop tables created after the restore point")
    // life continues on the restored state
    Snapshot.commitAppend(spark, root, appends = Map("orders_rb" ->
      o.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(2000.0))))
    Snapshot.read(spark, root, "orders_rb")
      .transform(orderTotals("o_orderstatus"))
  }

  /** etl_time_travel — PINNED-VERSION reads next to the moving head
    * (graft.sources.Snapshot.readAt): the audit/repro primitive every
    * versioned store owes its users — "what did this table say WHEN the
    * model trained?" — gated as values, not just specs. A base commit
    * is followed by an erasure and a merge-on-read MERGE; the gate then
    * reads BOTH the pinned base version and the current head in one
    * result (per-status counts + exact cent sums per snapshot tag).
    * Version resolution is O(manifests); the pinned read plans exactly
    * like a head read of that version — same segment scans, same
    * tombstone shadow as of then — so time travel costs nothing extra
    * at any scale. The oracle reconstructs both states relationally. */
  def timeTravelGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val root = Tables.freshScratch(spark, "snaptt", dir)
    val o = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val v1 = Snapshot.commit(spark, root, Map("orders_tt" ->
      o.filter(col("o_orderkey") % 3 === 1)))
    Snapshot.deleteWhere(spark, root, "orders_tt",
      col("o_orderkey") % 5 === 1, Seq("o_orderkey"))
    Snapshot.upsertMergeOnRead(spark, root, "orders_tt",
      o.filter(col("o_orderkey") % 3 === 2)
        .withColumn("o_totalprice", col("o_totalprice") + lit(500.0)),
      Seq("o_orderkey"))
    val asof = Snapshot.readAt(spark, root, "orders_tt", v1)
      .withColumn("snap", lit("v1"))
    val head = Snapshot.read(spark, root, "orders_tt")
      .withColumn("snap", lit("head"))
    asof.unionByName(head)
      .transform(orderTotals("snap", "o_orderstatus"))
  }

  /** etl_stats_agg — METADATA-ONLY aggregate gate
    * (graft.sources.Snapshot.statsAgg): the orders table is committed in
    * two stats-bearing segments and `COUNT(*) / MIN / MAX` are answered
    * WITHOUT opening a single data file — O(segments) sidecar reads
    * folded on the driver, the lakehouse fast path that turns a 100 TB
    * freshness probe (`max(ingest_date)`, row count) into milliseconds
    * (SnapshotSpec proves the zero-data-read claim by deleting the part
    * files and asking again, and pins the loud paths: tombstoned tables,
    * untracked columns, count-less legacy sidecars all throw). The
    * oracle computes the same aggregates from the raw rows. */
  def statsAggGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val root = Tables.freshScratch(spark, "snapstats", dir)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderdate").cast("date").as("o_date"))
    val statsCols = Map("orders_st" -> Seq("o_orderkey", "o_date", "o_orderstatus"))
    Snapshot.commit(spark, root,
      Map("orders_st" -> o.filter(col("o_orderkey") % 4 =!= 0)),
      statsCols = statsCols)
    Snapshot.commitAppend(spark, root,
      appends = Map("orders_st" -> o.filter(col("o_orderkey") % 4 === 0)),
      statsCols = statsCols)
    Snapshot.statsAgg(spark, root, "orders_st",
      Seq("o_orderkey", "o_date", "o_orderstatus"))
  }

  /** etl_stats_agg_money — the decimal/timestamp extension of
    * etl_stats_agg: o_totalprice is committed AS `decimal(18,2)` (money
    * kept exact — no cents cast) and o_orderdate as a raw timestamp,
    * in two stats-bearing segments; `COUNT(*) / MIN / MAX` again answer
    * metadata-only, exercising the serialized-bound comparator
    * (BigDecimal re-parse, `Timestamp.valueOf` re-parse) across the
    * segment fold for both newly supported stats types. The oracle
    * recomputes from the raw rows with the same casts. */
  def statsAggMoney(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val root = Tables.freshScratch(spark, "snapstats_money", dir)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("o_price"),
        // parquet NTZ → session-TZ TIMESTAMP (1:1 under the UTC session;
        // the engine also stats NTZ directly — SnapshotSpec)
        col("o_orderdate").cast("timestamp").as("o_ts"))
    val statsCols = Map("orders_money" -> Seq("o_price", "o_ts"))
    Snapshot.commit(spark, root,
      Map("orders_money" -> o.filter(col("o_orderkey") % 4 =!= 0)),
      statsCols = statsCols)
    Snapshot.commitAppend(spark, root,
      appends = Map("orders_money" -> o.filter(col("o_orderkey") % 4 === 0)),
      statsCols = statsCols)
    // decimal stays exact inside the store; the gate output casts to
    // double at the boundary (the repo-wide dsum convention — both
    // engines round the same decimal to the same nearest double)
    Snapshot.statsAgg(spark, root, "orders_money", Seq("o_price", "o_ts"))
      .select(col("table_rows"),
        col("min_o_price").cast("double").as("min_o_price"),
        col("min_o_ts"),
        col("max_o_price").cast("double").as("max_o_price"),
        col("max_o_ts"))
  }

  /** etl_zorder_box — Z-ORDER clustering + MULTI-DIM skipping gate
    * (graft.sources.Cluster.clusteredCommit +
    * graft.sources.Snapshot.readPrunedMulti): orders are committed
    * Morton-clustered on (o_custkey, o_orderkey) into 16 files with
    * per-file min/max sidecars, then a 2-D box (the bottom ~1/8 of each
    * key domain) is read through the multi-predicate pruner — the layout
    * where BOTH box sides prune files, vs a linear sort where only the
    * leading column does (ClusterSpec measures the two layouts'
    * survivor counts side by side). This gate pins the VALUE contract:
    * skip-then-exact-filter returns precisely the box's rows. Bounds
    * derive from the table's own min/max (one bounded 1-row aggregate),
    * deterministic at any scale factor. */
  def zorderBox(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Cluster, Snapshot}
    val root = Tables.freshScratch(spark, "snapzorder", dir)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    val b = o.agg(min(col("o_custkey")), max(col("o_custkey")),
      min(col("o_orderkey")), max(col("o_orderkey"))).head()
    val (cLo, cHi) = (b.getLong(0), b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 8L)
    val (kLo, kHi) = (b.getLong(2), b.getLong(2) + (b.getLong(3) - b.getLong(2)) / 8L)
    Cluster.clusteredCommit(spark, root, "orders_z", o,
      zCols = Seq("o_custkey", "o_orderkey"), files = 16)
    Snapshot.readPrunedMulti(spark, root, "orders_z",
      Seq(("o_custkey", cLo, cHi), ("o_orderkey", kLo, kHi)))
      .filter(col("o_custkey").between(cLo, cHi) &&
        col("o_orderkey").between(kLo, kHi))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .orderBy("o_orderkey")
  }

  /** etl_ivm_agg — RETRACTABLE incremental view maintenance gate
    * (graft.operators.ViewMaintenance): a per-status (count, cent-sum)
    * rollup is materialized once from the table's creation version and
    * then kept current through an UPSERT (price changes + new rows) and
    * a DELETE — each refresh folds only the version-step's SIGNED
    * changes (feed inserts as +1, preimage rows of feed deletes as -1)
    * into the state, O(changes) instead of the O(table) re-aggregation
    * the insert-only etl_incremental_agg cannot avoid under updates.
    * The oracle recomputes the final rollup from the mutation
    * definitions; any missed retraction or double-fold shifts a sum. */
  def ivmAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ViewMaintenance
    import graft.sources.Snapshot
    val root = Tables.freshScratch(spark, "snapivm", dir)
    val gk = Seq("o_orderstatus"); val ms = Seq("o_totalprice")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val v1 = Snapshot.commit(spark, root,
      Map("orders_iv" -> o.filter(col("o_orderkey") % 3 =!= 0)))
    val state1 = IncrementalAgg.state(
      Snapshot.readAt(spark, root, "orders_iv", v1), gk, ms)
    // upsert: +500.00 on every %5 key already present, plus the %3 rows
    val batch = o.filter(col("o_orderkey") % 3 =!= 0 && col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(500.0))
      .unionByName(o.filter(col("o_orderkey") % 3 === 0))
    val v2 = Snapshot.applyChanges(spark, root, "orders_iv", Seq("o_orderkey"),
      upserts = Some(batch), deleteKeys = None)
    val state2 = ViewMaintenance.applySigned(state1,
      ViewMaintenance.signedState(
        ViewMaintenance.signedStep(spark, root, "orders_iv", v1, v2,
          Seq("o_orderkey")), gk, ms), gk, ms)
    val v3 = Snapshot.deleteWhere(spark, root, "orders_iv",
      col("o_orderkey") % 7 === 3, Seq("o_orderkey"))
    ViewMaintenance.applySigned(state2,
      ViewMaintenance.signedState(
        ViewMaintenance.signedStep(spark, root, "orders_iv", v2, v3,
          Seq("o_orderkey")), gk, ms), gk, ms)
      .orderBy("o_orderstatus")
  }

  /** etl_ivm_join — incremental maintenance of a JOIN view
    * (graft.operators.ViewMaintenance.signedJoinDelta): a per-status
    * rollup over orders ⋈ lineitem is bootstrapped on partial data,
    * then BOTH sides change at once — orders via a snapshot upsert
    * (status rewrites + new keys, signed through the change feed's
    * preimage join) and lineitem via an append batch — and the view
    * refreshes with the bilinear delta rule Δ(A⋈B) = ΔA⋈B_new ∪
    * A_old⋈ΔB: two delta-sized joins, never a re-join of the bodies.
    * At 100 TB this is the difference between touching the changed
    * orders' lines and re-shuffling two fact tables per refresh. The
    * oracle recomputes the final join rollup from scratch. */
  def ivmJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.ViewMaintenance
    import graft.sources.Snapshot
    val root = Tables.freshScratch(spark, "snapivmj", dir)
    val gk = Seq("o_orderstatus"); val ms = Seq("l_extendedprice")
    val a = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderstatus"))
    val bAll = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
    val a0 = a.filter(col("o_orderkey") % 4 =!= 1)
    val b0 = bAll.filter(col("l_linenumber") <= 3)
    val dB = bAll.filter(col("l_linenumber") > 3)
    val v1 = Snapshot.commit(spark, root, Map("orders_ivj" -> a0))
    val state0 = IncrementalAgg.state(a0.join(b0, Seq("o_orderkey")), gk, ms)
    // ΔA: new %4==1 keys + a status rewrite of every %4==2 key
    val batch = a.filter(col("o_orderkey") % 4 === 1)
      .unionByName(a.filter(col("o_orderkey") % 4 === 2)
        .withColumn("o_orderstatus", lit("X")))
    val v2 = Snapshot.applyChanges(spark, root, "orders_ivj", Seq("o_orderkey"),
      upserts = Some(batch), deleteKeys = None)
    val dA = ViewMaintenance.signedStep(spark, root, "orders_ivj", v1, v2,
      Seq("o_orderkey"))
    val dBs = dB.withColumn(ViewMaintenance.SignCol, lit(1))
    val dJoin = ViewMaintenance.signedJoinDelta(
      dA, bNew = b0.unionByName(dB), aOld = a0, dB = dBs,
      joinKeys = Seq("o_orderkey"))
    ViewMaintenance.applySigned(state0,
      ViewMaintenance.signedState(dJoin, gk, ms), gk, ms)
      .orderBy("o_orderstatus")
  }

  /** etl_optimize — INCREMENTAL small-file OPTIMIZE gate
    * (graft.sources.Snapshot.optimizeTable): micro-batch ingestion
    * leaves one undersized segment per append; the optimize pass
    * bin-packs ONLY those into a right-sized segment while segments
    * already at target stay in the manifest byte-untouched
    * (SnapshotSpec asserts the byte identity and the no-op repeat) —
    * O(small bytes) maintenance where compactTable would pay O(table).
    * This gate pins the VALUE contract across the rewrite: the
    * optimized table aggregates exactly like the raw rows. */
  def optimizeGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val root = Tables.freshScratch(spark, "snapopt", dir)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    Snapshot.commit(spark, root,
      Map("orders_opt" -> o.filter(col("o_orderkey") % 4 =!= 0).repartition(4)))
    (0L until 5L).foreach { k =>
      Snapshot.commitAppend(spark, root, appends = Map("orders_opt" ->
        o.filter(col("o_orderkey") % 4 === 0 && col("o_orderkey") % 5 === k)
          .repartition(1)))
    }
    val before = Snapshot.read(spark, root, "orders_opt").inputFiles.length
    Snapshot.optimizeTable(spark, root, "orders_opt", targetBytes = 1L << 20)
    val after = Snapshot.read(spark, root, "orders_opt")
    require(after.inputFiles.length < before,
      s"optimize must shrink the file count ($before -> ${after.inputFiles.length})")
    after.transform(orderTotals("o_orderstatus"))
  }

  /** etl_scd2 — TYPE-2 slowly-changing-dimension gate
    * (graft.operators.Scd): a per-customer status dimension is built
    * from the pre-1995 order events, then the 1995+ events apply as an
    * incremental batch — delta-scoped version-chain rebuilds (only
    * batch keys re-window; untouched history passes through) with
    * consecutive no-change suppression. The oracle builds the SAME
    * history from scratch in one pass, so the gate pins the composition
    * law: incremental apply == from-scratch build, bit for bit —
    * including validity ranges that SPAN the batch boundary. */
  def scd2Gate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Scd
    val perDay = Window.partitionBy("cust_key", "valid_from")
      .orderBy(desc("o_orderkey"))
    val e = Tables.orders(spark, dir)
      .select(col("o_custkey").as("cust_key"),
        col("o_orderdate").cast("date").as("valid_from"),
        col("o_orderstatus").as("status"), col("o_orderkey"))
      .withColumn("__rn", row_number().over(perDay))
      .filter(col("__rn") === 1)
      .select("cust_key", "valid_from", "status")
    val split = lit("1995-01-01").cast("date")
    val hist = Scd.scd2Build(e.filter(col("valid_from") < split),
      Seq("cust_key"), Seq("status"), "valid_from")
    Scd.scd2Apply(hist, e.filter(col("valid_from") >= split),
        Seq("cust_key"), Seq("status"), "valid_from")
      .select(col("cust_key"), col("valid_from"), col("status"),
        col("valid_to"), col("is_current"))
      .orderBy("cust_key", "valid_from")
  }

  /** etl_clone — O(1) SHALLOW CLONE gate
    * (graft.sources.Snapshot.cloneTable): orders are committed once,
    * cloned with one manifest write (zero data IO — SnapshotSpec
    * asserts both names resolve the same part files), then the clone
    * alone is mutated: a delete wave and an append of +9999.00 price
    * replicas. The gate reads BOTH sides into one frame; the oracle
    * recomputes each side's expected rollup from the mutation
    * definitions — any write leaking across the clone boundary (shared
    * segments torn, shadow cross-talk) shifts a side's sums. */
  def cloneGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val root = Tables.freshScratch(spark, "snapclone", dir)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    Snapshot.commit(spark, root, Map("orders_cl" -> o))
    Snapshot.cloneTable(spark, root, "orders_cl", "orders_cl2")
    // mutate ONLY the clone: erase %6==1, append a +9999.00 replica wave
    Snapshot.deleteWhere(spark, root, "orders_cl2",
      col("o_orderkey") % 6 === 1, Seq("o_orderkey"))
    Snapshot.commitAppend(spark, root, appends = Map("orders_cl2" ->
      o.filter(col("o_orderkey") % 11 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(9999.0))))
    def side(t: String, label: String) = Snapshot.read(spark, root, t).withColumn("side", lit(label))
    side("orders_cl", "src").unionByName(side("orders_cl2", "clone"))
      .transform(orderTotals("side", "o_orderstatus"))
  }

  /** etl_expectations — the declarative DATA-QUALITY AUDIT
    * ([[graft.operators.Expectations]]) over the reference's four-table
    * contract surface: NOT-NULL keys, CHECK-style non-negativity,
    * key uniqueness, and FK coverage — as a queryable report instead of
    * the reference's silent drops. Scale shape: all of a table's row
    * checks share ONE aggregate scan; uniqueness is count−distinct
    * (no self-join); FK checks are counted anti joins. The oracle
    * recomputes every count from first principles. */
  def expectationsReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Expectations
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val c = Tables.customer(spark, dir)
    Expectations.report(Seq(
      Expectations.rowChecks(o, "orders", Seq(
        "o_orderkey_not_null" -> col("o_orderkey").isNull,
        "o_custkey_not_null" -> col("o_custkey").isNull,
        "o_totalprice_non_negative" -> (col("o_totalprice") < 0),
        "o_orderdate_not_null" -> col("o_orderdate").isNull)),
      Expectations.uniqueCheck(o, "orders", Seq("o_orderkey"), "o_orderkey_unique"),
      Expectations.fkCheck(o, "orders", "o_custkey", c, "c_custkey",
        "o_custkey_fk_customer"),
      Expectations.rowChecks(l, "lineitem", Seq(
        "l_quantity_non_negative" -> (col("l_quantity") < 0),
        "l_extendedprice_non_negative" -> (col("l_extendedprice") < 0),
        "l_linenumber_positive" -> (col("l_linenumber") <= 0))),
      Expectations.uniqueCheck(l, "lineitem",
        Seq("l_orderkey", "l_linenumber"), "l_order_line_unique"),
      Expectations.fkCheck(l, "lineitem", "l_orderkey", o, "o_orderkey",
        "l_orderkey_fk_orders")))
  }

  /** etl_forget — RIGHT-TO-BE-FORGOTTEN across the store
    * ([[graft.sources.Snapshot.forgetKeys]]): one data subject (the
    * lowest custkey holding orders — deterministic) is erased from
    * customer, orders, AND lineitem in ONE atomic commit — key
    * tombstones only, zero data rewritten, the victim key set flowing
    * as semi-join frames (never a driver collect). The gate reads all
    * three tables back post-erasure and emits their surviving
    * counts/sums; the oracle recomputes them as plain exclusion
    * queries — a resurrected row in any table shifts its sums. */
  def forgetSubject(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val root = Tables.freshScratch(spark, "snapforget", dir)
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val o = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val l = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
    Snapshot.commit(spark, root,
      Map("customer_f" -> c, "orders_f" -> o, "lineitem_f" -> l))
    val tgt = o.agg(min(col("o_custkey")).as("k"))
    val custKeys = c.join(broadcast(tgt), col("c_custkey") === col("k"), "left_semi")
      .select("c_custkey")
    val ordKeys = o.join(broadcast(tgt), col("o_custkey") === col("k"), "left_semi")
      .select("o_orderkey")
    val liKeys = l.join(ordKeys.withColumnRenamed("o_orderkey", "l_orderkey"),
        Seq("l_orderkey"), "left_semi")
      .select("l_orderkey", "l_linenumber")
    Snapshot.forgetKeys(spark, root, Map(
      "customer_f" -> (Seq("c_custkey"), custKeys),
      "orders_f" -> (Seq("o_orderkey"), ordKeys),
      "lineitem_f" -> (Seq("l_orderkey", "l_linenumber"), liKeys)))
    def after(t: String, cents: Option[org.apache.spark.sql.Column]) =
      Snapshot.read(spark, root, t).agg(
        count(lit(1)).as("rows_after"),
        cents.map(e => sum(round(e * 100).cast("long")))
          .getOrElse(lit(null).cast("long")).as("cents_after"))
        .select(lit(t).as("table_name"), col("rows_after"), col("cents_after"))
    after("customer_f", None)
      .unionByName(after("orders_f", Some(col("o_totalprice"))))
      .unionByName(after("lineitem_f", Some(col("l_extendedprice"))))
      .orderBy("table_name")
  }

  /** etl_history — DESCRIBE HISTORY over a scripted commit sequence
    * ([[graft.sources.Snapshot.history]]): create → append → MoR delete
    * → compact → clone, then read the version log back from manifests
    * alone (zero data IO). Every cell is deterministic by the commit
    * protocol — version numbers, table inventories, segment and shadow
    * counts — so the oracle is the expected log SPELLED OUT as a VALUES
    * literal: any drift in commit semantics (an extra version, a shadow
    * that failed to clear on compact, a clone rewriting data) breaks
    * the gate. */
  def historyGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshot
    val root = Tables.freshScratch(spark, "snaphist", dir)
    val o = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    Snapshot.commit(spark, root, Map("orders_h" -> o, "customer_h" -> c)) // v1
    Snapshot.commitAppend(spark, root, appends = Map("orders_h" ->      // v2
      o.filter(col("o_orderkey") % 11 === 0)))
    Snapshot.deleteWhere(spark, root, "orders_h",                       // v3
      col("o_orderkey") % 7 === 3, Seq("o_orderkey"))
    Snapshot.compactTable(spark, root, "orders_h")                      // v4
    Snapshot.cloneTable(spark, root, "orders_h", "orders_h2")           // v5
    Snapshot.history(spark, root)
  }

  val oracle: Map[String, String] = Map(
    "etl_history" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(2 AS BIGINT), 'customer_h,orders_h', CAST(0 AS BIGINT), CAST(2 AS BIGINT)),
        |  (CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(2 AS BIGINT), 'customer_h,orders_h', CAST(0 AS BIGINT), CAST(3 AS BIGINT)),
        |  (CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(2 AS BIGINT), 'customer_h,orders_h', CAST(1 AS BIGINT), CAST(4 AS BIGINT)),
        |  (CAST(4 AS BIGINT), CAST(0 AS BIGINT), CAST(2 AS BIGINT), 'customer_h,orders_h', CAST(0 AS BIGINT), CAST(2 AS BIGINT)),
        |  (CAST(5 AS BIGINT), CAST(0 AS BIGINT), CAST(3 AS BIGINT), 'customer_h,orders_h,orders_h2', CAST(0 AS BIGINT), CAST(3 AS BIGINT))
        |) AS t(version, is_branch, n_tables, tables, n_shadow_tables, n_segments)
        |ORDER BY version""".stripMargin,
    "etl_expectations" ->
      """WITH rc AS (
        |  SELECT 'orders' AS table_name, 'o_orderkey_not_null' AS check_name,
        |         CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
        |         CAST(COUNT(*) AS BIGINT) AS total FROM orders
        |  UNION ALL
        |  SELECT 'orders', 'o_custkey_not_null',
        |         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(COUNT(*) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'orders', 'o_totalprice_non_negative',
        |         CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(COUNT(*) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'orders', 'o_orderdate_not_null',
        |         CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(COUNT(*) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'orders', 'o_orderkey_unique',
        |         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
        |         CAST(COUNT(*) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'orders', 'o_custkey_fk_customer',
        |         CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NOT NULL
        |               AND o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT),
        |         CAST(COUNT(*) AS BIGINT) FROM orders
        |  UNION ALL
        |  SELECT 'lineitem', 'l_quantity_non_negative',
        |         CAST(SUM(CASE WHEN l_quantity < 0 THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(COUNT(*) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem', 'l_extendedprice_non_negative',
        |         CAST(SUM(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(COUNT(*) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem', 'l_linenumber_positive',
        |         CAST(SUM(CASE WHEN l_linenumber <= 0 THEN 1 ELSE 0 END) AS BIGINT),
        |         CAST(COUNT(*) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem', 'l_order_line_unique',
        |         CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
        |         CAST(COUNT(*) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem', 'l_orderkey_fk_orders',
        |         CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL
        |               AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT),
        |         CAST(COUNT(*) AS BIGINT) FROM lineitem
        |)
        |SELECT table_name, check_name, violations, total,
        |       CAST(CASE WHEN violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
        |FROM rc ORDER BY table_name, check_name""".stripMargin,
    "etl_forget" ->
      """WITH t AS (SELECT MIN(o_custkey) AS k FROM orders),
        |vo AS (SELECT o_orderkey FROM orders CROSS JOIN t WHERE o_custkey = k)
        |SELECT 'customer_f' AS table_name,
        |       CAST((SELECT COUNT(*) FROM customer CROSS JOIN t WHERE c_custkey <> k) AS BIGINT) AS rows_after,
        |       CAST(NULL AS BIGINT) AS cents_after
        |UNION ALL
        |SELECT 'lineitem_f',
        |       CAST((SELECT COUNT(*) FROM lineitem
        |             WHERE l_orderkey NOT IN (SELECT o_orderkey FROM vo)) AS BIGINT),
        |       CAST((SELECT SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) FROM lineitem
        |             WHERE l_orderkey NOT IN (SELECT o_orderkey FROM vo)) AS BIGINT)
        |UNION ALL
        |SELECT 'orders_f',
        |       CAST((SELECT COUNT(*) FROM orders CROSS JOIN t WHERE o_custkey <> k) AS BIGINT),
        |       CAST((SELECT SUM(CAST(round(o_totalprice * 100) AS BIGINT))
        |             FROM orders CROSS JOIN t WHERE o_custkey <> k) AS BIGINT)
        |ORDER BY table_name""".stripMargin,
    "etl_clone" ->
      """WITH src AS (
        |  SELECT 'src' AS side, o_orderstatus, o_totalprice FROM orders
        |), clone AS (
        |  SELECT 'clone' AS side, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 6 <> 1
        |  UNION ALL
        |  -- deleteWhere tombstones suppress a key EVERYWHERE, including
        |  -- later appends (re-insertion needs an upsert or a compaction
        |  -- fold) — so the appended %6==1 replicas stay invisible
        |  SELECT 'clone', o_orderstatus, o_totalprice + 9999.0
        |  FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey % 6 <> 1
        |)
        |SELECT side, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS cents_total
        |FROM (SELECT * FROM src UNION ALL SELECT * FROM clone)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "etl_scd2" ->
      """WITH e0 AS (
        |  SELECT o_custkey AS cust_key, CAST(o_orderdate AS DATE) AS valid_from,
        |         o_orderstatus AS status,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
        |           ORDER BY o_orderkey DESC) AS rn
        |  FROM orders
        |), e AS (SELECT cust_key, valid_from, status FROM e0 WHERE rn = 1),
        |c AS (
        |  SELECT *, LAG(status) OVER (PARTITION BY cust_key ORDER BY valid_from) AS prev,
        |         LAG(valid_from) OVER (PARTITION BY cust_key ORDER BY valid_from) AS prev_from
        |  FROM e
        |), ch AS (
        |  SELECT cust_key, valid_from, status FROM c
        |  WHERE prev_from IS NULL OR status IS DISTINCT FROM prev
        |), f AS (
        |  SELECT cust_key, valid_from, status,
        |         LEAD(valid_from) OVER (PARTITION BY cust_key ORDER BY valid_from) AS valid_to
        |  FROM ch
        |)
        |SELECT cust_key, valid_from, status, valid_to,
        |       valid_to IS NULL AS is_current
        |FROM f ORDER BY cust_key, valid_from""".stripMargin,
    "etl_optimize" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS cents_total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "etl_ivm_agg" ->
      """WITH final AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 500.0
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0
        |)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS o_totalprice_cents
        |FROM final WHERE o_orderkey % 7 <> 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "etl_ivm_join" ->
      """WITH a1 AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 4 = 2 THEN 'X' ELSE o_orderstatus END
        |           AS o_orderstatus
        |  FROM orders
        |), b1 AS (
        |  SELECT l_orderkey AS o_orderkey, l_extendedprice FROM lineitem
        |)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |         AS l_extendedprice_cents
        |FROM a1 JOIN b1 USING (o_orderkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "etl_zorder_box" ->
      """WITH b AS (
        |  SELECT MIN(o_custkey) AS clo,
        |         MIN(o_custkey) + (MAX(o_custkey) - MIN(o_custkey)) // 8 AS chi,
        |         MIN(o_orderkey) AS klo,
        |         MIN(o_orderkey) + (MAX(o_orderkey) - MIN(o_orderkey)) // 8 AS khi
        |  FROM orders
        |)
        |SELECT o_orderkey, o_custkey, o_orderstatus,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders, b
        |WHERE o_custkey BETWEEN clo AND chi AND o_orderkey BETWEEN klo AND khi
        |ORDER BY 1""".stripMargin,
    "etl_rollback" ->
      """WITH final AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 1
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 2000.0
        |  FROM orders WHERE o_orderkey % 3 = 0
        |)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_total
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin,
    "etl_time_travel" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 1
        |), head AS (
        |  SELECT * FROM v1 WHERE o_orderkey % 5 <> 1
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 500.0
        |  FROM orders WHERE o_orderkey % 3 = 2
        |), tagged AS (
        |  SELECT 'v1' AS snap, o_orderstatus, o_totalprice FROM v1
        |  UNION ALL
        |  SELECT 'head', o_orderstatus, o_totalprice FROM head
        |)
        |SELECT snap, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_total
        |FROM tagged GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "etl_stats_agg" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS table_rows,
        |       MIN(o_orderkey) AS min_o_orderkey,
        |       MIN(CAST(o_orderdate AS DATE)) AS min_o_date,
        |       MIN(o_orderstatus) AS min_o_orderstatus,
        |       MAX(o_orderkey) AS max_o_orderkey,
        |       MAX(CAST(o_orderdate AS DATE)) AS max_o_date,
        |       MAX(o_orderstatus) AS max_o_orderstatus
        |FROM orders""".stripMargin,
    "etl_stats_agg_money" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS table_rows,
        |       CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_o_price,
        |       MIN(o_orderdate) AS min_o_ts,
        |       CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_o_price,
        |       MAX(o_orderdate) AS max_o_ts
        |FROM orders""".stripMargin,
    "etl_point_lookup" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders
        |WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM orders)
        |ORDER BY 1""".stripMargin,
    "etl_sync_replica" ->
      """WITH final AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 7 <> 2 AND o_orderkey % 3 <> 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0
        |  FROM orders WHERE o_orderkey % 3 = 0
        |)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_total
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin,
    "etl_upsert_mor" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
        |), batch AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0
        |), final AS (
        |  SELECT * FROM base
        |  WHERE o_orderkey % 5 <> 1 AND o_orderkey NOT IN (SELECT o_orderkey FROM batch)
        |  UNION ALL SELECT * FROM batch
        |)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_total
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin,
    "etl_change_feed" ->
      """WITH feed AS (
        |  SELECT 2 AS v, 'insert' AS ct, o_orderstatus, o_orderkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT 3, 'delete', CAST(NULL AS VARCHAR), o_orderkey, CAST(NULL AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 7 = 2
        |  UNION ALL
        |  SELECT 4, 'insert', o_orderstatus, o_orderkey, o_totalprice + 1000.0
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 4, 'delete', CAST(NULL AS VARCHAR), o_orderkey, CAST(NULL AS DOUBLE)
        |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 <> 2
        |)
        |SELECT CAST(v AS BIGINT) AS _commit_version, ct AS _change_type, o_orderstatus,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_total
        |FROM feed GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "etl_delete_merge_read" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_total
        |FROM orders WHERE o_orderkey % 7 <> 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "etl_schema_evolution" ->
      """SELECT o_orderstatus,
        |       CASE WHEN o_orderkey % 3 = 0 THEN CAST(year(o_orderdate) AS BIGINT) END AS o_year,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_total
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "etl_dpp_join" ->
      """WITH c AS (
        |  SELECT o_orderstatus AS status, COUNT(*) AS n FROM orders GROUP BY 1
        |), dim AS (
        |  SELECT status FROM (
        |    SELECT status, ROW_NUMBER() OVER (ORDER BY n, status) AS rk FROM c
        |  ) WHERE rk = 1
        |)
        |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_total
        |FROM orders JOIN dim ON dim.status = orders.o_orderstatus
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "etl_dedupe_keep_last" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice
        |FROM (
        |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        |         ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_partkey
        |           ORDER BY l_linenumber DESC, l_suppkey DESC, l_quantity DESC, l_extendedprice DESC) AS rn
        |  FROM lineitem
        |) WHERE rn = 1 ORDER BY l_orderkey, l_partkey""".stripMargin,
    "etl_dedupe_keep_last_agg" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice
        |FROM (
        |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        |         ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_partkey
        |           ORDER BY l_linenumber DESC, l_suppkey DESC, l_quantity DESC, l_extendedprice DESC) AS rn
        |  FROM lineitem
        |) WHERE rn = 1 ORDER BY l_orderkey, l_partkey""".stripMargin,
    "etl_fk_semi" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity
        |FROM lineitem l WHERE EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F')
        |ORDER BY l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity""".stripMargin,
    "etl_fk_anti" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity
        |FROM lineitem l WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F')
        |ORDER BY l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity""".stripMargin,
    "etl_upsert_orders" ->
      """WITH target AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
        |     stage AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |                      o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
        |               FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
        |       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey ELSE t.o_custkey END AS o_custkey,
        |       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
        |       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
        |       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderdate ELSE t.o_orderdate END AS o_orderdate,
        |       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderpriority ELSE t.o_orderpriority END AS o_orderpriority
        |FROM target t FULL OUTER JOIN stage s ON t.o_orderkey = s.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "etl_apply_cdc" ->
      """WITH target AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
        |     stage AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |                      o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
        |               FROM orders WHERE o_orderkey % 3 = 0),
        |     kept AS (SELECT t.* FROM target t WHERE NOT EXISTS (
        |       SELECT 1 FROM orders d WHERE d.o_orderkey = t.o_orderkey
        |         AND d.o_orderkey % 5 = 0 AND d.o_orderkey % 3 <> 0))
        |SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
        |       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey ELSE t.o_custkey END AS o_custkey,
        |       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
        |       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
        |       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderdate ELSE t.o_orderdate END AS o_orderdate,
        |       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderpriority ELSE t.o_orderpriority END AS o_orderpriority
        |FROM kept t FULL OUTER JOIN stage s ON t.o_orderkey = s.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "etl_table_diff" ->
      """WITH target AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
        |     stage AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |                      o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
        |               FROM orders WHERE o_orderkey % 3 = 0),
        |     merged AS (
        |  SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
        |         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey ELSE t.o_custkey END AS o_custkey,
        |         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
        |         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
        |         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderdate ELSE t.o_orderdate END AS o_orderdate,
        |         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderpriority ELSE t.o_orderpriority END AS o_orderpriority
        |  FROM target t FULL OUTER JOIN stage s ON t.o_orderkey = s.o_orderkey
        |)
        |SELECT COALESCE(t.o_orderkey, m.o_orderkey) AS o_orderkey,
        |       CASE WHEN t.o_orderkey IS NULL THEN 'inserted'
        |            WHEN m.o_orderkey IS NULL THEN 'deleted'
        |            WHEN t.o_custkey IS NOT DISTINCT FROM m.o_custkey
        |             AND t.o_orderstatus IS NOT DISTINCT FROM m.o_orderstatus
        |             AND t.o_totalprice IS NOT DISTINCT FROM m.o_totalprice
        |             AND t.o_orderdate IS NOT DISTINCT FROM m.o_orderdate
        |             AND t.o_orderpriority IS NOT DISTINCT FROM m.o_orderpriority
        |            THEN 'unchanged'
        |            ELSE 'updated' END AS change_type
        |FROM target t FULL OUTER JOIN merged m ON m.o_orderkey = t.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "etl_filter_project" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity > 45 AND l_shipdate >= DATE '1998-01-01' AND l_shipdate < DATE '1999-01-01'
        |ORDER BY l_orderkey, l_partkey, l_suppkey, l_linenumber""".stripMargin,
    "etl_salted_join" ->
      """SELECT l.l_orderkey, l.l_partkey, l.l_linenumber, l.l_quantity, o.o_custkey
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |ORDER BY l_orderkey, l_partkey, l_linenumber, l_quantity""".stripMargin,
    "etl_bloom_semi" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity
        |FROM lineitem l WHERE EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F')
        |ORDER BY l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity""".stripMargin,
    "etl_incremental_agg" ->
      """SELECT o_orderstatus, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |         AS o_totalprice_sum
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
  )

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_dedupe_keep_last" -> dedupeKeepLast _,
    "etl_dedupe_keep_last_agg" -> dedupeKeepLastAgg _,
    "etl_fk_semi" -> fkSemi _,
    "etl_fk_anti" -> fkAnti _,
    "etl_upsert_orders" -> upsertOrders _,
    "etl_apply_cdc" -> applyCdcOrders _,
    "etl_table_diff" -> tableDiffOrders _,
    "etl_filter_project" -> filterProject _,
    "etl_salted_join" -> saltedJoin _,
    "etl_incremental_agg" -> incrementalAgg _,
    "etl_dpp_join" -> dppJoin _,
    "etl_bloom_semi" -> bloomSemi _,
    "etl_schema_evolution" -> schemaEvolution _,
    "etl_delete_merge_read" -> deleteMergeRead _,
    "etl_point_lookup" -> pointLookup _,
    "etl_upsert_mor" -> upsertMor _,
    "etl_change_feed" -> changeFeed _,
    "etl_sync_replica" -> syncReplica _,
    "etl_rollback" -> rollbackRestore _,
    "etl_stats_agg" -> statsAggGate _,
    "etl_stats_agg_money" -> statsAggMoney _,
    "etl_time_travel" -> timeTravelGate _,
    "etl_zorder_box" -> zorderBox _,
    "etl_ivm_agg" -> ivmAgg _,
    "etl_ivm_join" -> ivmJoin _,
    "etl_optimize" -> optimizeGate _,
    "etl_scd2" -> scd2Gate _,
    "etl_clone" -> cloneGate _,
    "etl_expectations" -> expectationsReport _,
    "etl_forget" -> forgetSubject _,
    "etl_history" -> historyGate _,
  )
}
