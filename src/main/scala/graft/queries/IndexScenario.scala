package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.model.Tables
import graft.operators.{IndexFamily, IndexLifecycle, Par}
import graft.sources.{Replica, Snapshot}

/** The oracle-gated scenarios every persisted-index family runs, one
  * driver for all six families. */
object IndexScenario {

  /** The persisted gate: build the index over `rows` and serve `q` from
    * the stored tables alone. With `incremental`, the rows arrive in two
    * ingests (id % 5 != 3, then the rest): the first builds — a side
    * table training on all `rows` — and the second APPENDS, so the gate
    * shares the one-shot build's oracle. */
  def persisted[Q](spark: SparkSession, dir: String, kind: String,
      f: IndexFamily[Q], rows: DataFrame, q: Q, incremental: Boolean): DataFrame = {
    val path = Tables.scratchDir(spark, kind, dir)
    if (incremental) {
      val id = col(f.idCol)
      IndexLifecycle.build(f, rows.filter(id % 5 =!= 3), path, trainOn = Some(rows))
      IndexLifecycle.append(f, rows.filter(id % 5 === 3), path)
    } else IndexLifecycle.build(f, rows, path)
    IndexLifecycle.serve(spark, f, path, q)
  }

  /** The follow gate, and with `compacted` the compacted gate, over a
    * MUTATING snapshot corpus (`table`, committed from `rows`).
    *
    *  1. The corpus commits the rows with id % 5 != 3: the build version.
    *  1. The base index BUILDS from that version ∥ wave 1 mutates the
    *     corpus — erase id % 7 == 0, then MERGE id % 5 == 3 (inserts) ∪
    *     id % 9 == 1 (re-upserts of indexed ids, whose base rows must
    *     not double-serve; resurrections of erased ones) — and syncs a
    *     delta seeded at the build version. The two phases run as
    *     concurrent driver jobs: the build reads the build-version frame
    *     (constructed before the mutations; data dirs are write-once),
    *     the wave only writes the corpus root.
    *  1. Follow: serve base + delta.
    *  1. Compacted: FOLD base + delta into a fresh base ∥ wave 2 — erase
    *     id % 11 == 0, MERGE id % 13 == 2. The fold reads base and delta
    *     only, never the corpus. The wave-2 sync runs strictly after the
    *     fold, seeded at the cursor it returns (a sync landing mid-fold
    *     would fail it), and the serve composes the new base with that
    *     fresh delta.
    *
    * `wave(batch, n)` shapes wave n's MERGE batch: BM25 appends tokens to
    * the text it re-upserts; the vector families re-upsert rows
    * unchanged. `request` builds the serve request from the corpus's
    * final state. Each gate's oracle runs the family's selection over
    * that final state directly: green means the index lost nothing,
    * duplicated nothing and handed the cursor off exactly-once. Scratch
    * roots are `scratch` + "f" (follow) or "c" (compacted) + the root's
    * role. */
  def follow[Q](spark: SparkSession, dir: String, scratch: String,
      f: IndexFamily[Q], rows: DataFrame, table: String, compacted: Boolean,
      request: (=> DataFrame) => Q,
      wave: (DataFrame, Int) => DataFrame = (batch, _) => batch): DataFrame = {
    val id = col(f.idCol)
    val keys = Seq(f.idCol)
    val deltaTable = s"${table}_delta"
    val kind = scratch + (if (compacted) "c" else "f")
    def root(role: String) = Tables.scratchDir(spark, kind + role, dir)
    def freshRoot(role: String) = Tables.freshScratch(spark, kind + role, dir)
    val corpus = freshRoot("src")
    val deltas = (if (compacted) Seq("d1", "d2") else Seq("d1")).map(freshRoot)
    def mutate(n: Int, erase: Column, merge: Column): Long = {
      Snapshot.deleteWhere(spark, corpus, table, erase, keys)
      Snapshot.upsertMergeOnRead(spark, corpus, table, wave(rows.filter(merge), n), keys)
    }
    def sync(n: Int, from: Long): Unit =
      require(Replica.sync(spark, corpus, table, deltas(n - 1), deltaTable, keys,
        initialCursor = from).isDefined, s"$kind gate: wave-$n sync did not publish")
    val buildV = Snapshot.commit(spark, corpus, Map(table -> rows.filter(id % 5 =!= 3)))
    val base = root("base")
    val atBuild = Snapshot.read(spark, corpus, table)
    Par.inParallel[Unit](Seq(
      () => IndexLifecycle.build(f, atBuild, base),
      () => {
        mutate(1, id % 7 === 0, id % 5 === 3 || id % 9 === 1)
        sync(1, buildV)
      }))
    val served =
      if (!compacted) base
      else {
        val base2 = root("base2")
        val Seq(cur, _) = Par.inParallel(Seq(
          () => IndexLifecycle.fold(spark, f, base, deltas(0), deltaTable, base2),
          () => mutate(2, id % 11 === 0, id % 13 === 2)))
        sync(2, cur)
        base2
      }
    IndexLifecycle.serveFollow(spark, f, served, deltas.last, deltaTable,
      request(Snapshot.read(spark, corpus, table)))
  }
}
