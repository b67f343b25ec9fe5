package graft

import org.apache.spark.sql.DataFrame

import graft.queries.{DocQueries, EventQueries}

/** Semantics of the round-7 composite queries on hand-built fixtures:
  * the funnel's sequential stage windows, retention's next-day
  * semi-join, tf-idf's exact-integer ranking, and the curation chain's
  * filter → exact-dedup → near-dup-drop ordering. Fixtures are written
  * as parquet table dirs because the query surface is (spark, dir). */
class CurationSpec extends SparkSpec {
  import sqlImplicits._

  private def fixtureDir(tables: (String, DataFrame)*): String = {
    val dir = tempDir("fix")
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    dir
  }

  private def persistedIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private val hourNs = 3600L * 1000 * 1000 * 1000
  private val dayNs = 24 * hourNs

  test("events_funnel: stage windows open at the previous stage's first event") {
    // u1 full funnel in order; u2 clicked only BEFORE its first view (no
    // stage-2); u3 purchase lands before its first click (stage 2, not 3);
    // u4 views only.
    val events = Seq(
      (1L, 1L * hourNs, 1L, "view", 0.0, ""),
      (2L, 2L * hourNs, 1L, "click", 0.0, ""),
      (3L, 3L * hourNs, 1L, "purchase", 0.0, ""),
      (4L, 5L * hourNs, 2L, "view", 0.0, ""),
      (5L, 4L * hourNs, 2L, "click", 0.0, ""), // pre-view click: ignored
      (6L, 1L * hourNs, 3L, "view", 0.0, ""),
      (7L, 3L * hourNs, 3L, "click", 0.0, ""),
      (8L, 2L * hourNs, 3L, "purchase", 0.0, ""), // pre-click purchase: ignored
      (9L, 1L * hourNs, 4L, "view", 0.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = fixtureDir("events" -> events)
    val out = EventQueries.eventsFunnel(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("funnel_stage")).toMap
    assert(out == Map(1L -> 3L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("events_retention: counts users returning exactly the next day") {
    // day0: users 1,2,3; day1: users 1,3 (retained from day0: 1,3);
    // day2: user 3 only (retained from day1: 3); user 2 returns day2 —
    // a 2-day gap, NOT retained for day0.
    val events = Seq(
      (1L, 1L * hourNs, 1L, "view", 0.0, ""),
      (2L, 2L * hourNs, 2L, "view", 0.0, ""),
      (3L, 3L * hourNs, 3L, "view", 0.0, ""),
      (4L, dayNs + hourNs, 1L, "view", 0.0, ""),
      (5L, dayNs + 2 * hourNs, 3L, "view", 0.0, ""),
      (6L, 2 * dayNs + hourNs, 3L, "view", 0.0, ""),
      (7L, 2 * dayNs + 2 * hourNs, 2L, "view", 0.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = fixtureDir("events" -> events)
    val rows = EventQueries.eventsRetention(spark, dir).collect()
      .map(r => (r.getAs[java.sql.Date]("day").toString,
        r.getAs[Long]("n_active"), r.getAs[Long]("n_retained")))
    assert(rows.toSeq == Seq(
      ("1970-01-01", 3L, 2L), ("1970-01-02", 2L, 1L), ("1970-01-03", 2L, 0L)))
    val ppm = EventQueries.eventsRetention(spark, dir).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString -> r.getAs[Long]("retention_ppm")).toMap
    assert(ppm("1970-01-01") == 2L * 1000000 / 3)
  }

  test("doc_tfidf: corpus-rare terms outrank common ones, exact-integer scores") {
    // "shared" appears in every doc (df=3); "unique" only in doc 1.
    val docs = Seq(
      (1L, "shared unique unique", "en", "s", 3L),
      (2L, "shared common", "en", "s", 2L),
      (3L, "shared common", "en", "s", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = fixtureDir("documents" -> docs)
    val out = DocQueries.docTfidf(spark, dir).collect()
    val doc1 = out.filter(_.getAs[Long]("doc_id") == 1L)
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("token"), r.getAs[Long]("score")))
    // unique: tf=2, df=1 → 2_000_000; shared: tf=1, df=3 → 333_333
    assert(doc1.toSeq == Seq((1L, "unique", 2000000L), (2L, "shared", 333333L)))
    // doc 2: common (tf=1, df=2 → 500_000) above shared (333_333)
    val doc2 = out.filter(_.getAs[Long]("doc_id") == 2L).map(_.getAs[String]("token"))
    assert(doc2.toSeq == Seq("common", "shared"))
  }

  test("curateCorpus commits the curated corpus and drop audit atomically") {
    import graft.sources.Snapshot
    val root = tempDir("curate_snap")
    val docsPath = "/root/testdata/sf0.001/documents.parquet"
    val total = spark.read.parquet(docsPath).count()
    // neither call leaves a block persisted (the curated checkpoint is
    // released once it is committed)
    def leftPersisted(call: => Long): Long = {
      val before = persistedIds()
      val v = call
      assert((persistedIds() -- before).isEmpty, "curateCorpus left blocks persisted")
      v
    }
    val v = leftPersisted(Pipeline.curateCorpus(spark, docsPath, root))
    val kept = Snapshot.read(spark, root, "corpus_curated")
    val dropped = Snapshot.read(spark, root, "corpus_dropped")
    // the two tables partition the corpus, and they publish together
    assert(kept.count() + dropped.count() == total)
    assert(kept.columns.contains("lang_pred") && kept.columns.contains("quality_score"))
    // the committed corpus is exactly the gated doc_curate surface
    val gated = DocQueries.docCurate(spark, "/root/testdata/sf0.001").count()
    assert(kept.count() == gated)
    // re-running publishes a new, identical version (deterministic chain)
    val v2 = leftPersisted(Pipeline.curateCorpus(spark, docsPath, root))
    assert(v2 == v + 1)
    val again = Snapshot.readAt(spark, root, "corpus_curated", v2)
    assert(again.exceptAll(kept).count() == 0 && kept.exceptAll(again).count() == 0)
  }

  test("curate is idempotent: re-curating survivors is the identity") {
    // Structural property, not luck: survivors are one canonical per
    // near-dup cluster plus unclustered docs — any verified pair at or
    // above the threshold would have merged its endpoints into ONE
    // cluster, so no such pair can exist among survivors, and the
    // filters/exact-dedup already passed them.
    import graft.operators.Curate
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val once = Curate.curate(docs, "doc_id", "text")
    val twice = Curate.curate(once.drop("lang_pred", "quality_score"), "doc_id", "text")
    assert(once.exceptAll(twice).count() == 0 && twice.exceptAll(once).count() == 0)
  }

  test("curateV2: trained lang gate, LM gate, dedups and DSIR compose") {
    import graft.operators.Curate
    import org.apache.spark.sql.functions.col
    // a 12-word shared vocabulary, heavily repeated, so in-vocab docs
    // score low average NLL against the en reference model
    val base = "the cat and the dog walk to the old park near the river " +
      "and the cat sees the dog by the park gate under the old tree"
    val other = "under the old tree by the river gate the dog and the cat " +
      "rest near the park and the dog walks to the river with the cat"
    // en-looking trigrams (the/ing/ove...) but OUT-OF-VOCAB words: the
    // trained classifier calls it 'en', the LM gate rejects it
    val gibberish = "thering overing quickle foxed jumper thering overing " +
      "quickle foxed jumper thering overing quickle foxed jumper"
    val zz = "zzz qqq vvv www zzz qqq vvv www zzz qqq vvv www zzz qqq vvv www"
    val docs = Seq(
      (1L, "en", "src0", base),                      // kept
      (2L, "en", "src1", base),                      // exact dup of 1 → dropped
      (3L, "en", "src0", base + " extra tail words"),// near dup of 1 → dropped
      (4L, "en", "src1", other),                     // kept
      (5L, "en", "src0", gibberish),                 // LM gate → dropped
      (6L, "xx", "src2", zz),                        // predicted xx → dropped
      (7L, "xx", "src2", zz + " more")               // predicted xx → dropped
    ).toDF("doc_id", "lang", "source", "text")
    def run(maxNll: Long) = Curate.curateV2(docs, "doc_id", "text", "lang",
      dsirTargetPred = col("source") === "src0", dsirK = 10,
      maxAvgNllMicro = maxNll)
    val out = run(3500000L)
    val rows = out.collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 4L))
    assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq == Seq(1L, 2L))
    assert(rows.forall(_.getAs[String]("lang_pred") == "en"))
    // the gibberish doc was dropped by the LM gate specifically: with
    // the gate relaxed it survives every other stage
    val relaxed = run(Long.MaxValue / 4096)
    assert(relaxed.collect().map(_.getAs[Long]("doc_id")).toSet == Set(1L, 4L, 5L))
    // deterministic: identical rerun
    val again = run(3500000L).collect()
    assert(again.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
    Curate.release(out)
  }

  test("curateV3: the trained classifier replaces the heuristic quality floor") {
    import graft.operators.Curate
    import org.apache.spark.sql.functions.col
    // reference slice (src0) vs raw: the perceptron learns the src0
    // vocabulary; a doc sharing it scores positive margin, a doc of
    // off-reference words scores negative — regardless of its clean
    // heuristic shape (the v2/v3 behavioral split)
    val refA = "the cat and the dog walk to the old park near the river " +
      "and the cat sees the dog by the park gate under the old tree"
    val refB = "under the old tree by the river gate the dog and the cat " +
      "rest near the park and the dog walks to the river with the cat"
    // fluent, heuristically clean English that shares NO content words
    // with the reference slice: v2's hand-tuned floor would keep it,
    // the trained gate rejects it (negative margin)
    val offRef = "some other people often write many long letters about " +
      "music and painting while they travel across several busy cities " +
      "because they enjoy sharing those stories with friends everywhere"
    // duplicates stay in the reference slice: a verbatim copy labeled
    // raw would make the corpus inseparable (same features, flipped y)
    val docs = Seq(
      (1L, "en", "src0", refA),                       // reference → kept
      (2L, "en", "src0", refA),                       // exact dup of 1 → dropped
      (3L, "en", "src0", refA + " extra tail words"), // near dup → dropped
      (4L, "en", "src0", refB),                       // reference → kept
      (5L, "en", "src1", offRef),                     // negative margin → dropped
      (6L, "en", "src0", refB + " by the park")       // near dup of 4 → dropped
    ).toDF("doc_id", "lang", "source", "text")
    // 256 hash buckets: at this toy vocabulary 64 buckets collide the
    // off-reference words into heavy reference mass (the corpus-scale
    // default stays 64, where collisions average out)
    val out = Curate.curateV3(docs, "doc_id", "text", "lang",
      dsirTargetPred = col("source") === "src0", dsirK = 10,
      maxAvgNllMicro = Long.MaxValue / 4096, clsFeatures = 256)
    val rows = out.collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 4L))
    assert(rows.forall(_.getAs[Long]("margin") > 0))
    // the off-reference doc was rejected by the CLASSIFIER: the frozen
    // standalone gate agrees doc 5's margin is negative
    val wts = graft.operators.QualityClassifier.train(
      docs, "doc_id", "text", col("source") === "src0", numFeatures = 256)
    val m5 = graft.operators.QualityClassifier
      .scoreWith(wts, docs.filter(col("doc_id") === 5L), "doc_id", "text",
        numFeatures = 256)
      .collect().head
    assert(m5.getAs[Long]("margin") <= 0 && !m5.getAs[Boolean]("keep"))
    // margins in the composed pipeline match the standalone artifact's
    val solo = graft.operators.QualityClassifier
      .scoreWith(wts, docs, "doc_id", "text", numFeatures = 256)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("margin")).toMap
    rows.foreach(r =>
      assert(r.getAs[Long]("margin") == solo(r.getAs[Long]("doc_id"))))
    // deterministic: identical rerun
    val again = Curate.curateV3(docs, "doc_id", "text", "lang",
      dsirTargetPred = col("source") === "src0", dsirK = 10,
      maxAvgNllMicro = Long.MaxValue / 4096, clsFeatures = 256)
    assert(again.collect().map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
    Curate.release(out); Curate.release(again)
  }

  test("curateV2/V3: a stage failing after the token scan frees every checkpoint") {
    import graft.operators.Curate
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "en", "src0", "the cat and the dog walk to the old park near the river"),
      (2L, "en", "src1", "some other people often write many long letters about music"),
      (3L, "en", "src0", "under the old tree by the river gate the dog and the cat rest")
    ).toDF("doc_id", "lang", "source", "text")
    def freesAll(call: => DataFrame): Unit = {
      val before = persistedIds()
      intercept[IllegalArgumentException](call)
      assert((persistedIds() -- before).isEmpty, "the failed call left blocks persisted")
    }
    // clsIters = 0 fails the classifier's training (require(iters >= 1))
    // while language-ID runs beside it, after the token scan is
    // checkpointed: the scan and any finished language-ID result must
    // be freed on the way out
    freesAll(Curate.curateV3(docs, "doc_id", "text", "lang",
      dsirTargetPred = col("source") === "src0", dsirK = 2, clsIters = 0))
    // dsirK = 0 fails the last stage (DSIR's require(k > 0)), after the
    // scan, language-ID, the scored frame, the near-dup clusters and the
    // survivors all exist
    freesAll(Curate.curateV2(docs, "doc_id", "text", "lang",
      dsirTargetPred = col("source") === "src0", dsirK = 0))
  }

  test("curateDelta: frozen gates + state dedup curate a batch; absorb is idempotent") {
    import graft.operators.{Curate, DedupState, LangModel, LangProfile}
    import org.apache.spark.sql.functions.col
    val base = "the cat and the dog walk to the old park near the river " +
      "and the cat sees the dog by the park gate under the old tree"
    val other = "under the old tree by the river gate the dog and the cat " +
      "rest near the park and the dog walks to the river with the cat"
    val fresh = "the dog and the cat walk by the gate and the river to the " +
      "old tree near the park and rest under the tree by the gate"
    val gibberish = "thering overing quickle foxed jumper thering overing " +
      "quickle foxed jumper thering overing quickle foxed jumper"
    val corpus = Seq(
      (2L, "en", base),
      (4L, "en", other)
    ).toDF("doc_id", "lang", "text")
    // frozen artifacts, trained once on the corpus
    val profiles = LangProfile.profiles(corpus, "lang", "text", 64).localCheckpoint(true)
    val vocab = LangModel.train(corpus, "text", col("lang") === "en").localCheckpoint(true)
    val state = DedupState.stateOf(corpus, "doc_id", "text").localCheckpoint(true)
    val batch = Seq(
      (11L, "en", base),                              // exact dup of corpus 2 → dropped
      (13L, "en", other + " extra tail words"),       // near dup of corpus 4 → dropped
      (15L, "en", fresh),                             // kept
      (17L, "en", fresh),                             // exact dup of 15 IN-batch → dropped
      (19L, "en", gibberish),                         // frozen LM gate → dropped
      (21L, "en", "zzz qqq vvv www zzz qqq vvv www")  // not latin-profiled → dropped
    ).toDF("doc_id", "lang", "text")
    val out = Curate.curateDelta(profiles, vocab, state, batch, "doc_id", "text",
      maxAvgNllMicro = 3500000L)
    assert(out.collect().map(_.getAs[Long]("doc_id")).toSet == Set(15L))
    // survivors carry their own state rows — absorbing is one append,
    // nothing recomputed
    val absorbed = state.unionByName(
      out.select(col("doc_id"), col(DedupState.FpCol), col(DedupState.ShCol),
        col(DedupState.SigCol))).localCheckpoint(true)
    Curate.release(out)
    // replaying the same batch against the absorbed state is a no-op:
    // every doc is now a duplicate of state or gate-dropped
    val replay = Curate.curateDelta(profiles, vocab, absorbed, batch,
      "doc_id", "text", maxAvgNllMicro = 3500000L)
    assert(replay.count() == 0)
    Curate.release(replay)
    Seq(profiles, vocab, state, absorbed).foreach(Curate.release)
  }

  test("curateFollow: exactly-once incremental curation over the change feed") {
    import graft.Pipeline
    import graft.sources.Snapshot
    import org.apache.spark.sql.functions.col
    val root = tempDir("cfollow")
    val base = "the cat and the dog walk to the old park near the river " +
      "and the cat sees the dog by the park gate under the old tree"
    val other = "under the old tree by the river gate the dog and the cat " +
      "rest near the park and the dog walks to the river with the cat"
    val fresh = "the dog and the cat walk by the gate and the river to the " +
      "old tree near the park and rest under the tree by the gate"
    val gibberish = "thering overing quickle foxed jumper thering overing " +
      "quickle foxed jumper thering overing quickle foxed jumper"
    def docs(rows: (Long, String)*) =
      rows.map { case (id, t) => (id, "en", t) }.toDF("doc_id", "lang", "text")
    def follow() = Pipeline.curateFollow(spark, root, maxAvgNllMicro = 3500000L)
    def curated(): Set[Long] = Snapshot.read(spark, root, "documents_curated")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    def stateIds(): Set[Long] = Snapshot.read(spark, root, "documents_curated_sig")
      .collect().map(_.getAs[Long]("doc_id")).toSet

    // v1: initial corpus → bootstrap trains the frozen models and
    // curates the whole table as the first delta
    Snapshot.commit(spark, root, Map("documents" -> docs(2L -> base, 4L -> other)))
    assert(follow().isDefined)
    assert(curated() == Set(2L, 4L))
    assert(stateIds() == Set(2L, 4L))
    // exactly-once: replaying against an unchanged source is a no-op
    assert(follow().isEmpty)

    // a new ingest batch: dup of corpus, fresh doc, LM-gated noise —
    // only the fresh doc joins the curated table; corpus never re-read
    Snapshot.commitAppend(spark, root,
      Map("documents" -> docs(11L -> base, 15L -> fresh, 19L -> gibberish)))
    assert(follow().isDefined)
    assert(curated() == Set(2L, 4L, 15L))
    assert(follow().isEmpty)

    // source delete propagates to the curated table and EVICTS the
    // signature state
    Snapshot.deleteWhere(spark, root, "documents", col("doc_id") === 2L, Seq("doc_id"))
    assert(follow().isDefined)
    assert(curated() == Set(4L, 15L))
    assert(stateIds() == Set(4L, 15L))

    // resurrect: the deleted doc's text re-ingested under a new id is
    // no longer anyone's duplicate — it survives
    Snapshot.commitAppend(spark, root, Map("documents" -> docs(21L -> base)))
    assert(follow().isDefined)
    assert(curated() == Set(4L, 15L, 21L))

    // an upsert that degrades a curated doc's text below the gates
    // removes it from the curated table (and state) on the next sync
    Snapshot.upsertMergeOnRead(spark, root, "documents",
      docs(15L -> gibberish), Seq("doc_id"))
    assert(follow().isDefined)
    assert(curated() == Set(4L, 21L))
    assert(stateIds() == Set(4L, 21L))
    assert(follow().isEmpty)
  }

  test("vacuum honors the _curate cursor: a lagging follower survives the sweep") {
    import graft.Pipeline
    import graft.sources.Snapshot
    val base = "the cat and the dog walk to the old park near the river " +
      "and the cat sees the dog by the park gate under the old tree"
    val fresh = "the dog and the cat walk by the gate and the river to the " +
      "old tree near the park and rest under the tree by the gate"
    def docs(rows: (Long, String)*) =
      rows.map { case (id, t) => (id, "en", t) }.toDF("doc_id", "lang", "text")
    def build(): String = {
      val root = tempDir("cfvac")
      Snapshot.commit(spark, root, Map("documents" -> docs(2L -> base))) // v1
      Pipeline.curateFollow(spark, root, maxAvgNllMicro = 3500000L)      // v2, cursor=2
      Snapshot.commitAppend(spark, root, Map("documents" -> docs(15L -> fresh))) // v3
      Snapshot.commitAppend(spark, root, Map("documents" -> docs(21L -> base)))  // v4
      root
    }
    // cursor-aware sweep: the lagging follower's (cursor, head] range is
    // retained even at keepLast=1 — the next sync still replays the feed
    val root = build()
    Snapshot.vacuum(spark, root, keepLast = 1)
    intercept[Exception](Snapshot.readAt(spark, root, "documents", 1).collect())
    assert(Snapshot.readAt(spark, root, "documents", 3).count() == 2L)
    assert(Pipeline.curateFollow(spark, root, maxAvgNllMicro = 3500000L).isDefined)
    assert(Snapshot.read(spark, root, "documents_curated")
      .collect().map(_.getAs[Long]("doc_id")).toSet == Set(2L, 15L)) // 21 dups 2
    // once current, a second sweep reclaims everything but head
    Snapshot.vacuum(spark, root, keepLast = 1)
    assert(Pipeline.curateFollow(spark, root, maxAvgNllMicro = 3500000L).isEmpty)
    // opting out sweeps regardless; the lagging follower then fails
    // LOUDLY (never silently skips the gap)
    val root2 = build()
    Snapshot.vacuum(spark, root2, keepLast = 1, respectCursors = false)
    intercept[Exception](Pipeline.curateFollow(spark, root2, maxAvgNllMicro = 3500000L))
  }

  test("doc_curate: filters, exact-dedup canonical, and near-dup drop compose") {
    val en = "the quick brown fox jumps over the lazy dog and runs to the forest " +
      "with a pack of hounds chasing it through the trees of the old park"
    val zh = "中文文档" // CJK → lang_pred=zh, quality exempt
    val docs = Seq(
      (1L, en, "en", "s", 100L),               // kept: canonical of the near-dup pair
      (2L, en + " extra tail words here today", "en", "s", 100L), // near-dup of 1 → dropped
      (3L, en, "en", "s", 100L),               // exact dup of 1 → dropped (id 1 wins)
      (4L, zh, "zh", "s", 10L),                // kept via CJK exemption
      (5L, "zzz qqq xxx", "xx", "s", 10L))     // lang unknown → dropped
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = fixtureDir("documents" -> docs)
    val kept = DocQueries.docCurate(spark, dir).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(1L, 4L))
    val langs = DocQueries.docCurate(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    assert(langs(4L) == "zh")
  }
}
