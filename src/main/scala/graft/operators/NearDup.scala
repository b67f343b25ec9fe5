package graft.operators

import scala.annotation.tailrec

import org.apache.spark.OneToOneDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.Text

/** Near-duplicate detection operators for document corpora: exact
  * (fingerprint hash-groupBy), MinHash+LSH band candidates with verified
  * n-gram Jaccard, and SimHash. All hashing is md5-hex (identical in Spark
  * and DuckDB/ANSI SQL), so every operator is oracle-checkable.
  *
  * Scale design (the reason these shapes were chosen for 100 TB):
  *  - nothing here is all-pairs: candidate pairs come from an equi-join on
  *    (band, band-hash) buckets — the shuffle carries one row per
  *    (doc, band), and only docs agreeing on a full band ever meet;
  *  - shingle dedup is IN-ROW (array_distinct) — no corpus-wide distinct
  *    exchange; signatures are one hash-aggregate over exploded shingles
  *    (map-side partial min per seed, so the shuffle carries k mins per
  *    doc, not the shingle set);
  *  - Jaccard verification attaches one distinct-shingle ARRAY row per
  *    candidate doc and intersects in-row — O(|candidate docs|) shuffled
  *    rows, not O(n²) and not shingle-level.
  */
object NearDup {

  /** The persisted RDD behind an eagerly localCheckpoint'd frame (the
    * LogicalRDD leaf survives projections/filters layered on top). A leaf
    * that is not persisted itself but re-wraps a checkpoint
    * ([[resetStats]], e.g. [[connectedComponents]]' result) resolves
    * through its one-to-one lineage to the checkpointed RDD it reads. */
  private def checkpointRdd(df: DataFrame): Option[RDD[_]] = {
    @tailrec def checkpointed(rdd: RDD[_]): Option[RDD[_]] =
      if (rdd.isCheckpointed) Some(rdd)
      else rdd.dependencies match {
        case Seq(d: OneToOneDependency[_]) => checkpointed(d.rdd)
        case _ => None
      }
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.map { leaf =>
      if (leaf.getStorageLevel != StorageLevel.NONE) leaf
      else checkpointed(leaf).getOrElse(leaf)
    }
  }

  /** Release a localCheckpoint's storage blocks NOW instead of waiting
    * for the driver's ContextCleaner to notice the RDD is unreachable —
    * on a long-lived session the lazy path leaves MEMORY_AND_DISK blocks
    * resident for minutes and degrades every subsequent job. Shared with
    * the other checkpoint-stepped pipelines (e.g. DocQueries.docCurate). */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    checkpointRdd(df).foreach(_.unpersist(blocking = false))

  /** Rebuild a checkpointed frame as a leaf with DEFAULT statistics.
    *
    * Spark's (eager) checkpoint rewrites the child plan's ESTIMATED
    * Statistics onto the LogicalRDD leaf it returns. In a checkpoint-
    * stepped loop whose round plan joins the previous leaf in k places,
    * the stored sizeInBytes is ~ prev^k per round: the BigInt's bit
    * length compounds geometrically, and once rounds reach ~8-10 the
    * driver burns MINUTES inside stats estimation multiplying million-
    * bit integers (observed: emb_dup_clusters at 10× sf0.1 pinned one
    * core in BigInteger.multiplyToomCook3 under Dataset.checkpoint).
    * Re-wrapping the checkpointed data through createDataFrame yields a
    * fresh LogicalRDD with defaultSizeInBytes — constant-size numbers
    * every round, so estimation stays O(plan) forever. Cost: one extra
    * Row deser/ser pass over the frame per downstream job — only ever
    * applied to O(|V|) label frames. The caller keeps the ORIGINAL
    * frame as the freeCheckpoint handle (the wrapper's LogicalRDD is a
    * derived RDD, not the persisted blocks). */
  private def resetStats(ck: DataFrame): DataFrame =
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)

  /** Exact-duplicate groups by normalized-text fingerprint: one row per
    * distinct fingerprint with the canonical (minimum) id and group size.
    * Single hash-aggregate — the classic exact-dedup plan at any scale. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // NO Par.spread (r15): one fingerprint regex+md5 per row is not
    // dense enough to repay shuffling the text — r14 measured spread
    // costing 0.56 → 0.64 s on doc_dedupe_exact (1.4x over baseline)
    df
      .select(col(idCol), Text.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_docs"))

  /** One row per document with its DISTINCT word-`n`-gram shingle array
    * (same semantics as Text.shingles + array_distinct): a PURE MAP —
    * dedup happens inside the row, nothing shuffles. Docs with fewer
    * than `n` tokens get an empty array.
    *
    * The token array is materialized as its own projection first: inlined
    * into the transform() lambda it would be re-evaluated (normalize
    * regexes included) once per window element — measured 8× slower at
    * sf0.1. CollapseProject leaves the projection alone because the
    * array is referenced more than once and is not cheap. */
  def shingleArrays(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n > 0, s"shingle size must be positive, got $n")
    val toks = col("__toks")
    df.select(col(idCol),
        filter(Text.tokens(Text.normalize(col(textCol))), t => length(t) > 0).as("__toks"))
      .select(col(idCol),
        array_distinct(
          when(size(toks) >= n,
            transform(sequence(lit(0), size(toks) - n),
              i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
          .otherwise(array().cast("array<string>"))).as("shingles"))
  }

  /** Exploded (id, shingle) rows — [[shingleArrays]] flattened, distinct
    * within each document (in-row dedup, so the frame is globally
    * distinct without any shuffle — ids never repeat a shingle).
    *
    * explode_OUTER + null post-filter, not plain explode: for a plain
    * explode the optimizer infers `size(arr) > 0 AND isnotnull(arr)` and
    * predicate pushdown inlines the WHOLE normalize→tokenize→shingle
    * tree into that Filter (twice — once per conjunct), evaluating it
    * 3× per row interpreted (measured 25 s vs 0.9 s at sf0.1). The
    * outer variant admits no inferred filter; dropping the one null row
    * an empty array produces costs a scan of the OUTPUT attribute. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingleArrays(df, idCol, textCol, n)
      .select(col(idCol), explode_outer(col("shingles")).as("shingle"))
      .filter(col("shingle").isNotNull)

  /** The Mersenne prime 2^31 - 1 — modulus of the min-hash family. */
  private[graft] val MinhashPrime = 2147483647L

  /** Deterministic universal-hash family parameters (a_i odd/nonzero,
    * b_i) from a fixed LCG — any engine (including the DuckDB oracle,
    * which embeds these as literals) derives the identical family. */
  private[graft] def hashParams(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { i =>
      val a = ((1103515245L * (i + 1) + 12345L) & 0x7fffffffL) | 1L
      val b = (1103515245L * (2 * i + 1) + 12345L) & 0x7fffffffL
      (a, b)
    }

  /** MinHash signatures: ONE md5 per shingle reduced to a 31-bit base
    * hash, then numHashes draws from the 2-universal family
    * `(a_i·h + b_i) mod (2^31-1)`; sig_i = the per-doc min of draw i.
    * One groupBy with numHashes partial-min aggregates (map-side combine
    * keeps the shuffle at numHashes longs per doc per partition).
    *
    * The family replaces the previous per-seed md5("i|"+shingle): at
    * 100 TB the map phase hashes every shingle ONCE instead of k times —
    * the k derivations are a codegen'd multiply-add-mod each. All values
    * stay under 2^62 (31-bit h × 31-bit a), so the arithmetic is exact
    * in any BIGINT engine — no dependence on Long wrap-around, which
    * DuckDB would reject rather than reproduce. */
  def minhashSignatures(shingles: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    // The base hash is its OWN projected column: referenced by all
    // numHashes derivations, so CollapseProject keeps it evaluated once
    // (inlined it would md5 per derivation — the round-3 12× pitfall).
    val base = shingles.select(col(idCol),
      conv(substring(md5(col("shingle").cast("binary")), 1, 8), 16, 10)
        .cast("long").bitwiseAND(lit(0x7fffffffL)).as("__h"))
    val hashed = base.select(
      col(idCol) +: hashParams(numHashes).zipWithIndex.map { case ((a, b), i) =>
        ((col("__h") * a + b) % MinhashPrime).as(s"__h$i") }: _*)
    hashed.groupBy(col(idCol))
      .agg(
        min(col("__h0")).as("sig_0"),
        (1 until numHashes).map(i => min(col(s"__h$i")).as(s"sig_$i")): _*)
  }

  /** LSH band-bucket candidate pairs: signatures are cut into `bands`
    * bands of numHashes/bands rows; docs sharing any band hash become a
    * candidate pair (id_a < id_b). The join is an equi-join on
    * (band, bandHash) — never a cartesian product. */
  def candidatePairs(sigs: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame = {
    val banded = bandedSigs(sigs, idCol, numHashes, bands)
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b,
        col(s"a.band") === col(s"b.band") &&
        col(s"a.band_hash") === col(s"b.band_hash") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .distinct()
  }

  /** (id, band, band_hash) rows of a signature frame — the LSH bucket
    * keys both the self-join ([[candidatePairs]]) and the cross-corpus
    * join ([[dedupeAgainst]]) equi-join on. */
  private def bandedSigs(sigs: DataFrame, idCol: String,
      numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    val rows = numHashes / bands
    val bandHashes = (0 until bands).map { b =>
      md5(concat_ws("|",
          (b * rows until (b + 1) * rows).map(i => col(s"sig_$i").cast("string")): _*)
        .cast("binary"))
    }
    sigs.select(col(idCol), posexplode(array(bandHashes: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
  }

  /** Full near-dup pipeline: shingle → minhash → band candidates →
    * verified exact Jaccard over the candidates' shingle sets.
    * Returns (doc_a, doc_b, jaccard) for every candidate pair.
    *
    * EXECUTION SEMANTICS: the result is localCheckpoint'd, so the full
    * job runs EAGERLY at call time (not at the caller's first action)
    * and the returned frame is a scan of in-memory/disk blocks whose
    * lineage is truncated — if an executor holding blocks is lost (e.g.
    * under dynamic allocation), later actions fail instead of
    * recomputing. Callers needing durability should write the result to
    * a table immediately; the pair set is tiny relative to the input. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 12, bands: Int = 6): DataFrame =
    verifiedPairs(df, idCol, textCol, shingleN, numHashes, bands)(
      (arrs, cand) => verifyJaccard(arrs, cand, idCol))

  /** MinHash-candidate pairs with CONTAINMENT metrics: containment_a =
    * |A∩B| / |A| and containment_b = |A∩B| / |B| next to the symmetric
    * jaccard. Containment is the asymmetric near-dup notion — a short
    * document quoted or templated inside a longer one scores near 1.0
    * on the short side while jaccard (diluted by the union) stays low —
    * the right detector for quote/boilerplate/subset duplication.
    * `minContainment` keeps pairs whose GREATER side reaches it (0.0 =
    * all candidates). Same LSH candidate generation, shuffle inventory,
    * and eager-checkpoint execution semantics as [[minhashPairs]];
    * candidates where one side's shingles vanish can't occur (shingle-
    * free docs never produce signatures). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      minContainment: Double = 0.0,
      shingleN: Int = 3, numHashes: Int = 12, bands: Int = 6): DataFrame =
    verifiedPairs(df, idCol, textCol, shingleN, numHashes, bands) { (arrs, cand) =>
      verifyOverlap(arrs, cand, idCol)
        .select(col("doc_a"), col("doc_b"),
          (col("__nc").cast("double") / col("__na")).as("containment_a"),
          (col("__nc").cast("double") / col("__nb")).as("containment_b"),
          (col("__nc").cast("double") /
            (col("__na") + col("__nb") - col("__nc"))).as("jaccard"))
        .filter(greatest(col("containment_a"), col("containment_b")) >= minContainment)
    }

  /** Shared LSH front half + verify scaffold of [[minhashPairs]] /
    * [[containmentPairs]]: shingle → minhash → band candidates, then
    * `verify(candidate shingle arrays, candidate pairs)`.
    *
    * Shuffle inventory of this pipeline (the 100 TB story):
    *   1. signature aggregate — map-side combined, ships numHashes mins
    *      per doc per partition (the shingle rows themselves NEVER cross
    *      the wire: in-row array_distinct replaced the old corpus-wide
    *      explode→distinct exchange, which was the dominant cost);
    *   2. band self-join — bands rows per doc;
    *   3. verify joins — ONE distinct-shingle-ARRAY row per candidate
    *      doc (not per shingle); the set metrics are in-row.
    * The signatures feed both sides of the band self-join → persist
    * EAGERLY (count) or the subtree executes twice and concurrent
    * subtrees race the unpopulated cache (MLlib's ALS pattern).
    * CACHE LIFECYCLE: scoped to this call — the final pair result is
    * materialized with localCheckpoint (lineage truncated off the
    * cache), so the persist is released before returning. Lost blocks
    * of the (tiny) result can't recompute; durability-critical callers
    * should write it to a table. */
  private def verifiedPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int)
      (verify: (DataFrame, DataFrame) => DataFrame): DataFrame =
    verifiedPairsImpl(df, shingleArrays(_, idCol, textCol, shingleN),
      idCol, numHashes, bands)(verify)

  /** [[verifiedPairs]] parameterized over HOW a (subset of the) source
    * frame becomes per-doc shingle arrays — the seam that lets a
    * pipeline holding a pre-tokenized corpus scan (Curate's shared
    * frame) feed the SAME minhash/LSH/verify machinery without paying
    * the normalize+split text pass a second time. `mkArrays` must
    * return (idCol, shingles) for any row subset of `src`. */
  private def verifiedPairsImpl(src: DataFrame,
      mkArrays: DataFrame => DataFrame, idCol: String,
      numHashes: Int, bands: Int)
      (verify: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    // spread ONCE at entry: the signature pass and the pruned verify
    // pass both tokenize from this frame, and a one-row-group scan
    // would fuse that CPU-dense derivation into a single task (see
    // [[Par.spread]] — identity on production inputs; every aggregate
    // below is an exact integer min/count, so results are unchanged)
    val srcS = Par.spread(src)
    val shingles = mkArrays(srcS)
      .select(col(idCol), explode_outer(col("shingles")).as("shingle"))
      .filter(col("shingle").isNotNull)
    val sigs = minhashSignatures(shingles, idCol, numHashes)
      .persist(StorageLevel.MEMORY_AND_DISK)
    sigs.count()
    try {
      // Materialize the (small) candidate set once: it feeds both the
      // broadcast doc-pruning semi-join and the verify joins, and an
      // unmaterialized subtree would run the band self-join twice.
      val cand = candidatePairs(sigs, idCol, numHashes, bands).localCheckpoint(true)
      try {
        // One array row per candidate doc, referenced by both verify
        // sides — checkpoint so the pruned scan runs once.
        val candDocs = cand.select(col("doc_a").as(idCol))
          .union(cand.select(col("doc_b").as(idCol)))
          .distinct()
        val arrs = mkArrays(srcS.join(broadcast(candDocs), Seq(idCol), "left_semi"))
          .localCheckpoint(true)
        try verify(arrs, cand).localCheckpoint(true)
        finally freeCheckpoint(arrs)
      } finally freeCheckpoint(cand)
    } finally sigs.unpersist(false)
  }

  /** [[shingleArrays]] over a pre-tokenized frame carrying `idCol` and
    * a raw `__toks` array (the [[graft.functions.Text.tokens]] ∘
    * normalize ∘ coalesce('') chain, UNFILTERED — the empty-token
    * filter applies here, so the arrays are element-for-element the
    * ones the text path builds). */
  private def shingleArraysFromTokens(tokArrays: DataFrame, idCol: String,
      n: Int): DataFrame = {
    require(n > 0, s"shingle size must be positive, got $n")
    val toks = col("__ftoks")
    tokArrays
      .select(col(idCol),
        filter(col("__toks"), t => length(t) > 0).as("__ftoks"))
      .select(col(idCol),
        array_distinct(
          when(size(toks) >= n,
            transform(sequence(lit(0), size(toks) - n),
              i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
          .otherwise(array().cast("array<string>"))).as("shingles"))
  }

  /** [[minhashPairs]] over a pre-tokenized (`idCol`, `__toks`) frame —
    * same pairs, same jaccard, no second text pass. */
  def minhashPairsFromTokens(tokArrays: DataFrame, idCol: String,
      shingleN: Int = 3, numHashes: Int = 12, bands: Int = 6): DataFrame =
    verifiedPairsImpl(tokArrays, shingleArraysFromTokens(_, idCol, shingleN),
      idCol, numHashes, bands)((arrs, cand) => verifyJaccard(arrs, cand, idCol))

  /** [[dupClusters]] over a pre-tokenized (`idCol`, `__toks`) frame. */
  def dupClustersFromTokens(tokArrays: DataFrame, idCol: String,
      minJaccard: Double = 0.5, shingleN: Int = 3, numHashes: Int = 12,
      bands: Int = 6): DataFrame = {
    val pairs = minhashPairsFromTokens(tokArrays, idCol, shingleN, numHashes, bands)
      .filter(col("jaccard") >= minJaccard)
    val cc = connectedComponents(pairs, "doc_a", "doc_b")
    freeCheckpoint(pairs)
    cc.select(col("id").as(idCol), col("component").as("cluster_id"))
  }

  /** Edit-distance-verified near-dup pairs: the SAME banded minhash
    * candidate generation as [[minhashPairs]], but candidates verified
    * with `levenshtein(normalize(a), normalize(b)) <= maxDist` — the
    * right verifier when "near duplicate" means character-level edits
    * (OCR noise, template fills, small insertions) rather than token-set
    * overlap, which Jaccard can under-read for short docs. The O(len²)
    * DP runs ONLY on LSH candidates — never all pairs — and each side's
    * normalized text attaches through one equi-join row per candidate
    * doc (the corpus scan is pruned by a broadcast semi-join, like the
    * Jaccard verify path). Normalized text is ASCII by construction, so
    * Spark's codepoint-level levenshtein and any oracle's
    * character-level one agree exactly.
    *
    * Same execution semantics as [[minhashPairs]]: eager, checkpointed
    * result, internal caches scoped to the call. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, shingleN: Int = 3, numHashes: Int = 12, bands: Int = 6): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    import org.apache.spark.storage.StorageLevel
    // spread once: feeds the signature tokenize AND the pruned
    // normalize pass below (see [[Par.spread]]; exact aggregates only)
    val dfS = Par.spread(df)
    val sigs = minhashSignatures(shingleSets(dfS, idCol, textCol, shingleN),
        idCol, numHashes)
      .persist(StorageLevel.MEMORY_AND_DISK)
    sigs.count()
    try {
      val cand = candidatePairs(sigs, idCol, numHashes, bands).localCheckpoint(true)
      try {
        val candDocs = cand.select(col("doc_a").as(idCol))
          .union(cand.select(col("doc_b").as(idCol)))
          .distinct()
        val norms = dfS.join(broadcast(candDocs), Seq(idCol), "left_semi")
          .select(col(idCol), Text.normalize(col(textCol)).as("__nt"))
          .localCheckpoint(true)
        try {
          cand
            .join(norms.select(col(idCol).as("doc_a"), col("__nt").as("__na")), "doc_a")
            .join(norms.select(col(idCol).as("doc_b"), col("__nt").as("__nb")), "doc_b")
            .select(col("doc_a"), col("doc_b"),
              levenshtein(col("__na"), col("__nb")).cast("long").as("edit_distance"))
            .filter(col("edit_distance") <= maxDist)
            .localCheckpoint(true)
        } finally freeCheckpoint(norms)
      } finally freeCheckpoint(cand)
    } finally sigs.unpersist(false)
  }

  /** The un-checkpointed pair pipeline behind [[minhashPairs]]: band
    * candidates from the in-row shingle signatures, exact Jaccard
    * verified on candidate docs' shingle arrays. Exposed package-private
    * so plan-shape tests can assert the no-cartesian invariant on the
    * REAL join tree — the public method's localCheckpoint collapses its
    * executedPlan to a scan of checkpointed blocks, where a cartesian
    * regression would be invisible. */
  private[graft] def verifiedJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int): DataFrame = {
    val sigs = minhashSignatures(shingleSets(df, idCol, textCol, shingleN),
      idCol, numHashes)
    val cand = candidatePairs(sigs, idCol, numHashes, bands)
    verifyJaccard(candShingleArrays(df, cand, idCol, textCol, shingleN), cand, idCol)
  }

  /** Distinct-shingle arrays for exactly the docs appearing in `pairs`:
    * the corpus is PRUNED with a broadcast semi-join before shingling
    * (the candidate doc set is orders of magnitude smaller than the
    * corpus — that asymmetry is the whole point of LSH), so the verify
    * path scans the corpus but shuffles one array row per candidate doc.
    * (If a pathological parameter choice ever made the candidate set
    * corpus-sized, drop the broadcast hint and the planner falls back
    * to a shuffled semi-join — correctness is unaffected.) */
  private def candShingleArrays(df: DataFrame, pairs: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val candDocs = pairs.select(col("doc_a").as(idCol))
      .union(pairs.select(col("doc_b").as(idCol)))
      .distinct()
    shingleArrays(df.join(broadcast(candDocs), Seq(idCol), "left_semi"),
      idCol, textCol, n)
  }

  /** Exact set-overlap sizes for the candidate pairs from per-doc
    * distinct shingle arrays: two equi-joins attach each side's array,
    * then intersection and side sizes are computed IN THE ROW
    * (array_intersect — no shingle-level join, no per-pair aggregate).
    * Returns (doc_a, doc_b, __nc, __na, __nb). */
  private def verifyOverlap(arrs: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    pairs
      .join(arrs.select(col(idCol).as("doc_a"), col("shingles").as("__sha")), "doc_a")
      .join(arrs.select(col(idCol).as("doc_b"), col("shingles").as("__shb")), "doc_b")
      // the intersection size is projected ONCE (referenced repeatedly
      // downstream — CollapseProject won't re-inline a multiply-
      // referenced non-cheap expression, so array_intersect runs once)
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("__sha"), col("__shb"))).cast("long").as("__nc"),
        size(col("__sha")).cast("long").as("__na"),
        size(col("__shb")).cast("long").as("__nb"))

  /** Exact Jaccard from the overlap sizes. */
  private def verifyJaccard(arrs: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    verifyOverlap(arrs, pairs, idCol)
      .select(col("doc_a"), col("doc_b"),
        (col("__nc").cast("double") /
          (col("__na") + col("__nb") - col("__nc"))).as("jaccard"))

  /** EXACT set-similarity SELF-JOIN with PREFIX FILTERING (the
    * SSJoin/PPJoin candidate scheme — Chaudhuri et al. ICDE'06, Xiao et
    * al. WWW'08): every document pair whose distinct-hashed-shingle
    * Jaccard is ≥ τ, with a COMPLETENESS GUARANTEE the LSH pipelines
    * ([[minhashPairs]], [[simhashPairsCombo]]) structurally cannot give
    * — banding can miss a qualifying pair; the prefix filter cannot.
    *
    * The pigeonhole argument: order every doc's shingles by one GLOBAL
    * total order (corpus frequency ascending, then shingle — rarest
    * first) and keep each doc's first |x| − ⌈τ·|x|⌉ + 1 shingles as its
    * PREFIX. Two sets with Jaccard ≥ τ overlap in ≥ ⌈τ·max(|a|,|b|)⌉
    * elements, which is more than both suffixes can hide — so their
    * prefixes share a shingle, and the prefix equi-join finds the pair.
    * τ is a RATIONAL tauNum/tauDen so every bound is exact BIGINT
    * arithmetic (⌈τn⌉ = (tauNum·n + tauDen − 1) div tauDen) — no float
    * decides candidacy in either engine.
    *
    * Scale shape: the join explodes PREFIXES, not shingle sets — at
    * τ=0.5 half the rows, at τ=0.9 a tenth — and rarest-first ordering
    * is the anti-skew lever: corpus-hot shingles land in suffixes, so
    * join keys are the RARE shingles (bounded fan-out) rather than the
    * templated-boilerplate hot keys an unordered shingle join would
    * shuffle. The size filter τ·max(|a|,|b|) ≤ min(|a|,|b|) prunes
    * before the distinct; verification is in-row array_intersect over
    * the checkpointed per-doc arrays (built once — freq join, sort,
    * prefix, and verify all read the same materialized frame). Docs
    * with fewer than `shingleN` tokens have no shingles and join
    * nothing. Output: (doc_a, doc_b, n_common, n_union, jaccard) with
    * jaccard the one pinned IEEE division.
    *
    * PRODUCTION SIZING — the knobs that bound the candidate front at
    * corpus scale (measured decades in artifacts/SCALING_sf01_sf1.md):
    * τ is quadratic leverage (prefix length |x| − ⌈τ|x|⌉ + 1, so the
    * prefix-key collision mass scales ~(1−τ)² — τ=4/5 explodes 2.5×
    * fewer keys and ~6× fewer candidate pairs than the τ=1/2 anchor);
    * `minShingles` is the min-length cut — a doc with fewer distinct
    * hashed shingles joins NOTHING (tiny docs pair promiscuously:
    * nearly their whole set is prefix, and their pairs are the least
    * meaningful at a near-dup τ); rarest-first ordering is fixed (it
    * is what keeps join keys off the boilerplate-hot shingles). The
    * doc_jaccard_join gate anchors τ=1/2 with no cut;
    * doc_jaccard_join_scaled gates the production configuration. */
  def jaccardJoinExact(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, tauNum: Long = 1L, tauDen: Long = 2L,
      minShingles: Long = 0L): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"tau must be a rational in (0, 1]: $tauNum/$tauDen")
    // sets of 31-bit HASHED shingles (the DedupState representation):
    // the frame that shuffles three times below carries 8-byte longs,
    // not 25-byte shingle strings — measured 2.5× faster end-to-end.
    // Hashing + dedup happen IN THE ROW (transform + array_distinct —
    // a rare post-hash collision merges identically in the oracle,
    // which applies the same md5&2^31-1 then DISTINCT).
    // Par.spread: a one-row-group corpus scan otherwise fuses the whole
    // normalize→tokenize→shingle→md5 derivation into ONE task (identity
    // on production inputs whose scans split); downstream aggregates
    // are exact integer counts/sorts, so partitioning cannot change
    // results. The hashed-shingle rows are then CHECKPOINTED so the
    // text pass runs ONCE — lazily, `freq` and the `ordered` join each
    // re-derived it (two full tokenize passes, the dominant map cost).
    val sh = shingleArrays(Par.spread(df), idCol, textCol, shingleN)
      .select(col(idCol), explode_outer(array_distinct(
        transform(col("shingles"), s =>
          conv(substring(md5(s), 1, 8), 16, 10).cast("long")
            .bitwiseAND(lit(MinhashPrime))))).as("__hb"))
      .filter(col("__hb").isNotNull)
      .localCheckpoint(true)
    // the min-length cut applies AFTER the frequency join (global
    // shingle frequencies count the whole corpus — the rare-first order
    // must not depend on which docs clear the cut) and BEFORE the
    // checkpoint, so prefix explode AND verify both see only kept docs
    val ordered = try {
      val freq = sh.groupBy("__hb").agg(count(lit(1)).as("__df"))
      sh.join(freq, "__hb")
        .groupBy(col(idCol))
        .agg(sort_array(collect_list(struct(col("__df"), col("__hb")))).as("__o"))
        .select(col(idCol),
          expr("transform(__o, s -> s.__hb)").as("__sh"),
          size(col("__o")).cast("long").as("__n"))
        .filter(col("__n") >= lit(minShingles))
        .localCheckpoint(true)
    } finally freeCheckpoint(sh)
    try {
      val prefLen = expr(
        s"CAST(__n - (($tauNum * __n + $tauDen - 1) div $tauDen) + 1 AS INT)")
      val pref = ordered.select(col(idCol), col("__n"),
        explode(slice(col("__sh"), lit(1), prefLen)).as("__hb"))
      val cand = pref
        .select(col(idCol).as("doc_a"), col("__n").as("__pa"), col("__hb"))
        .join(pref.select(col(idCol).as("doc_b"), col("__n").as("__pb"),
          col("__hb")), Seq("__hb"))
        .filter(col("doc_a") < col("doc_b") &&
          least(col("__pa"), col("__pb")) * tauDen >=
            greatest(col("__pa"), col("__pb")) * tauNum)
        .select("doc_a", "doc_b").distinct()
      cand
        .join(ordered.select(col(idCol).as("doc_a"), col("__sh").as("__sha"),
          col("__n").as("__na")), "doc_a")
        .join(ordered.select(col(idCol).as("doc_b"), col("__sh").as("__shb"),
          col("__n").as("__nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("__sha"), col("__shb"))).cast("long").as("n_common"),
          col("__na"), col("__nb"))
        .withColumn("n_union", col("__na") + col("__nb") - col("n_common"))
        .filter(col("n_common") * tauDen >= col("n_union") * tauNum)
        .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_union"),
          (col("n_common").cast("double") / col("n_union").cast("double"))
            .as("jaccard"))
        .localCheckpoint(true)
    } finally freeCheckpoint(ordered)
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS algorithm): hash every k-gram IN POSITION, slide a window of
    * `w` consecutive hashes, keep each window's minimum, emit the
    * distinct kept hashes. Any shared token run of length >= w+k-1
    * between two documents is guaranteed to share a fingerprint, which
    * is the local-match property a flat min-hash lacks. Docs with fewer
    * than w k-grams emit nothing (too short to fingerprint).
    *
    * One window over a hash-partitioned (id, pos) frame — shuffle by
    * doc, local sort; scales like any per-document window. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    require(k > 0 && w > 0, s"k and w must be positive, got k=$k w=$w")
    import org.apache.spark.sql.expressions.Window
    val toks = col("__toks")
    // spread: tokenize + per-position k-gram md5 is the dense map; the
    // downstream window is keyed (id, pos) — order-pinned, so
    // partitioning cannot change fingerprints
    val positioned = Par.spread(df)
      .select(col(idCol),
        filter(Text.tokens(Text.normalize(col(textCol))), t => length(t) > 0).as("__toks"))
      .select(col(idCol),
        // outer + post-filter: a plain posexplode's inferred
        // size/isnotnull filter would re-evaluate the k-gram transform
        // per row (see shingleSets)
        posexplode_outer(
          when(size(toks) >= k,
            transform(sequence(lit(0), size(toks) - k),
              i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
          .otherwise(array().cast("array<string>"))))
      .filter(col("col").isNotNull)
      .select(col(idCol), col("pos"), md5(col("col").cast("binary")).as("__h"))
    val win = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(-(w - 1), Window.currentRow)
    positioned
      .withColumn("__m", min(col("__h")).over(win))
      .filter(col("pos") >= w - 1)
      .select(col(idCol), col("__m").as("fingerprint"))
      .distinct()
  }

  /** MOSS cross-document match pairs over [[winnowFingerprints]]
    * (Schleimer/Wilkerson/Aiken, SIGMOD'03 §4 — the "report documents
    * sharing fingerprints" half of the system): every doc pair sharing
    * >= `minShared` surviving fingerprints, scored
    * `overlap = shared / min(|fpA|, |fpB|)` — the containment-style
    * ratio MOSS ranks matches by, near 1.0 when one doc's fingerprinted
    * content sits inside the other. Catches LOCAL copies (a paragraph
    * lifted into an otherwise-different doc) that whole-doc jaccard
    * dilutes away — the plagiarism/provenance notion of near-duplicate,
    * next to minhash's token-set one and edit-distance's character one.
    *
    * Fingerprints shared by more than `maxDf` docs are dropped FIRST
    * (both from pairing and from the per-doc totals, keeping the ratio's
    * universe consistent): they are boilerplate — headers, licenses,
    * templates — and each would fan out C(df,2) pairs. The cap is the
    * standard stop-fingerprint cut, and it bounds the pair join's
    * worst-case fan-out per fingerprint at C(maxDf,2); the join itself
    * is a fingerprint-keyed EQUI-join (the inverted-index shape), never
    * doc×doc. The filtered postings frame feeds three consumers, so it
    * is checkpointed once and freed before returning. */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, maxDf: Int = 50, minShared: Long = 2L,
      minOverlap: Double = 0.0): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2 to pair at all, got $maxDf")
    require(minShared >= 1L, s"minShared must be >= 1, got $minShared")
    val live = winnowFingerprints(df, idCol, textCol, k, w)
      .withColumn("__df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fingerprint"))))
      .filter(col("__df") <= maxDf)
      .select(col(idCol), col("fingerprint"))
      .localCheckpoint(true)
    try {
      val counts = live.groupBy(col(idCol)).agg(count(lit(1)).as("__nf"))
      val shared = live.select(col(idCol).as("doc_a"), col("fingerprint"))
        .join(live.select(col(idCol).as("doc_b"), col("fingerprint")), Seq("fingerprint"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= minShared)
      shared
        .join(counts.select(col(idCol).as("doc_a"), col("__nf").as("__na")), Seq("doc_a"))
        .join(counts.select(col(idCol).as("doc_b"), col("__nf").as("__nb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("shared"),
          (col("shared").cast("double") /
            least(col("__na"), col("__nb")).cast("double")).as("overlap"))
        .filter(col("overlap") >= minOverlap)
        .localCheckpoint(true)
    } finally freeCheckpoint(live)
  }

  /** Connected components over an undirected edge list by iterative
    * min-label propagation: every vertex starts labeled with its own id;
    * each round every vertex takes the minimum of its label and its
    * neighbors' labels; at fixpoint each component is labeled by its
    * minimum vertex id. Returns one row per vertex: (id, component).
    *
    * Scale shape: each round is an edge⋈label equi-join +
    * map-side-combined min aggregate, then a POINTER JUMP
    * (label ← label[label], one more equi-join on the tiny label frame)
    * — all over O(|V|) rows, orders of magnitude smaller than the
    * corpus for a dedup graph. The jump squares the propagation
    * distance per round, so rounds ≈ log2(diameter) instead of
    * diameter; per round the dominant cost on shallow LSH graphs is
    * fixed job overhead, so halving rounds halves wall-clock. The
    * fixpoint is unchanged: labels are monotone non-increasing, every
    * value is a reachable vertex's label, and at the fixpoint
    * label[label(v)] = label(v) by construction. Each round's result is
    * localCheckpoint'd EAGERLY: the per-round job runs at call time,
    * lineage is truncated so plans stay O(1) deep across rounds
    * (un-truncated iterative plans grow exponentially in Catalyst
    * analysis time).
    *
    * Converges when a full round changes no label; throws if `maxIter`
    * rounds don't reach fixpoint (diameter > maxIter — raise it). */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50): DataFrame = {
    require(maxIter > 0, s"maxIter must be positive, got $maxIter")
    val sym = edges.select(col(srcCol).as("__u"), col(dstCol).as("__v"))
      .union(edges.select(col(dstCol).as("__u"), col(srcCol).as("__v")))
      .distinct()
      .localCheckpoint(true)
    // ck* frames are the checkpoint handles (blocks freed per round);
    // plans build on stats-reset wrappers so each round's estimated
    // sizeInBytes starts from constants — see resetStats.
    var ckLabels = sym.select(col("__u").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    var labels = resetStats(ckLabels)
    var iter = 0
    var changed = true
    while (changed) {
      if (iter >= maxIter)
        throw new IllegalStateException(
          s"connectedComponents: no fixpoint after $maxIter rounds (component diameter exceeds maxIter)")
      val nbrMin = sym
        .join(labels.select(col("id").as("__v"), col("component").as("__nl")), "__v")
        .groupBy(col("__u").as("id"))
        .agg(min(col("__nl")).as("__cand"))
      val prop = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("component").as("__old"),
          least(col("component"), coalesce(col("__cand"), col("component"))).as("__p"))
      // pointer jump: follow the propagated label one hop through the
      // round-entry labels (label values are vertex ids, so the lookup
      // is an equi-join on the same tiny frame)
      val hop = least(col("__p"), coalesce(col("__pc"), col("__p")))
      val next = prop
        .join(labels.select(col("id").as("__pl"), col("component").as("__pc")),
          col("__p") === col("__pl"), "left")
        .select(col("id"), hop.as("component"), (hop < col("__old")).as("__changed"))
        .localCheckpoint(true)
      changed = !next.filter(col("__changed")).isEmpty
      // `next` is materialized: the previous round's blocks are now dead.
      // Without this the loop leaks one label frame per round and `sym`
      // forever (measured in a 52-query bench session: queries AFTER a
      // clustering call degraded 2-25× from the accumulated blocks).
      freeCheckpoint(ckLabels)
      ckLabels = next
      labels = resetStats(next).drop("__changed")
      iter += 1
    }
    freeCheckpoint(sym)
    // The returned frame stays backed by the final round's (tiny — one
    // row per vertex) checkpoint blocks: freeCheckpoint on it (or on a
    // frame derived from it) frees them.
    labels
  }

  /** Near-dup clusters: minhash candidate pairs verified at
    * `jaccard >= minJaccard`, grouped into connected components. One row
    * per clustered doc: (idCol, cluster_id) where cluster_id is the
    * minimum doc id of the cluster — the canonical survivor a dedup
    * pipeline keeps. Docs with no qualifying near-dup don't appear
    * (they're their own implicit singleton). */
  def dupClusters(df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.5, shingleN: Int = 3, numHashes: Int = 12,
      bands: Int = 6): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, shingleN, numHashes, bands)
      .filter(col("jaccard") >= minJaccard)
    // connectedComponents copies the edges into its own checkpoint (sym)
    // on entry, so the pair frame's blocks are dead once it returns.
    val cc = connectedComponents(pairs, "doc_a", "doc_b")
    freeCheckpoint(pairs)
    cc.select(col("id").as(idCol), col("component").as("cluster_id"))
  }

  /** Cluster-canonical KEEP-BEST dedup — the near-dup removal policy
    * production curation actually wants: where [[dupClusters]] (and the
    * curate chains) keep each cluster's MINIMUM id, here the survivor is
    * the cluster's highest-`score` member (ties to the lowest id), so a
    * near-dup family keeps its cleanest copy instead of its oldest.
    * Every input row comes back labeled: (idCol, cluster_id, score,
    * keep) — singletons are their own cluster and always keep.
    *
    * Scale shape: pair generation + pointer-jump CC are [[dupClusters]]
    * unchanged (band equi-joins, candidate-bounded verify, O(log d)
    * rounds); the label join is per-doc against the (small) clustered
    * subset, left-outer so singletons never enter the shuffle twice; the
    * survivor pick is a window partitioned BY CLUSTER — millions of
    * tiny partitions, the shape that spreads, never a global sort. */
  def keepBestByScore(df: DataFrame, idCol: String, textCol: String,
      score: Column, minJaccard: Double = 0.5, shingleN: Int = 3,
      numHashes: Int = 12, bands: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = dupClusters(df, idCol, textCol, minJaccard, shingleN, numHashes, bands)
    // spread BEFORE the score projection so the dense score expression
    // (quality regexes at the doc_dedupe_keep_best call site) evaluates
    // after the exchange, across all cores — not fused into the scan
    val lab = Par.spread(df).select(col(idCol), score.as("score"))
      .join(clusters, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"), col("score"))
    val w = Window.partitionBy("cluster_id").orderBy(col("score").desc, col(idCol))
    lab.withColumn("keep", row_number().over(w) === lit(1))
  }

  /** INCREMENTAL dedup: the rows of `batch` that are neither exact nor
    * near duplicates of anything in `corpus` — how a continuously-built
    * corpus absorbs new data WITHOUT recomputing its own internal pairs
    * (the corpus-internal C(n,2) work of [[dupClusters]] never happens;
    * only CROSS candidates are generated and verified).
    *
    *  1. exact: batch rows whose normalized fingerprint exists in the
    *     corpus are dropped via one anti-join (the corpus side reduces
    *     to its distinct fingerprint set — broadcastable);
    *  2. near: corpus and surviving-batch minhash signatures meet in an
    *     LSH band EQUI-JOIN (corpus bands × batch bands — never a self-
    *     join over the union, so candidate volume is driven by cross
    *     collisions only), candidates are verified with exact in-row
    *     Jaccard, and batch docs with any partner >= `minJaccard` drop.
    *
    * Batch-INTERNAL duplicates are out of scope by design — run the
    * batch through exact dedup / [[dupClusters]] first (the curation
    * order); this operator is the cross-corpus gate that follows.
    * The PERSISTED-state variant is [[DedupState.dedupeAgainstState]] —
    * the streaming ingest paths bootstrap and incrementally maintain its
    * signature table so corpus text is never re-scanned; this text-based
    * variant remains for one-shot use where no state exists.
    * Same eager-checkpoint execution semantics as [[minhashPairs]]. */
  def dedupeAgainst(corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.5,
      shingleN: Int = 3, numHashes: Int = 12, bands: Int = 6): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // spread both inputs once at entry: fingerprint + shingle tokenize
    // are the dense maps and each side feeds several passes (see
    // [[Par.spread]]; aggregates below are exact integer min/count)
    val corpusS = Par.spread(corpus)
    val cfp = corpusS.select(Text.fingerprint(col(textCol)).as("__fp")).distinct()
    // persisted: the exact-dedup side (one corpus scan + distinct + one
    // anti-join) feeds THREE consumers — the batch signature build, the
    // candidate shingle arrays, and the returned anti-join — and would
    // otherwise re-run the corpus scan per consumer
    val survivors = Par.spread(batch)
      .withColumn("__fp", Text.fingerprint(col(textCol)))
      .join(cfp, Seq("__fp"), "left_anti")
      .drop("__fp")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cSigs = minhashSignatures(shingleSets(corpusS, idCol, textCol, shingleN),
        idCol, numHashes).persist(StorageLevel.MEMORY_AND_DISK)
    val bSigs = minhashSignatures(shingleSets(survivors, idCol, textCol, shingleN),
        idCol, numHashes).persist(StorageLevel.MEMORY_AND_DISK)
    cSigs.count(); bSigs.count()
    try {
      val cand = bandedSigs(cSigs, idCol, numHashes, bands)
        .withColumnRenamed(idCol, "__corpus_id")
        .join(bandedSigs(bSigs, idCol, numHashes, bands)
            .withColumnRenamed(idCol, "__batch_id"),
          Seq("band", "band_hash"))
        .select(col("__corpus_id"), col("__batch_id"))
        .distinct()
        .localCheckpoint(true)
      try {
        val cArrs = shingleArrays(
          corpusS.join(broadcast(cand.select(col("__corpus_id").as(idCol)).distinct()),
            Seq(idCol), "left_semi"), idCol, textCol, shingleN)
        val bArrs = shingleArrays(
          survivors.join(broadcast(cand.select(col("__batch_id").as(idCol)).distinct()),
            Seq(idCol), "left_semi"), idCol, textCol, shingleN)
        val dupIds = cand
          .join(cArrs.select(col(idCol).as("__corpus_id"), col("shingles").as("__sha")),
            "__corpus_id")
          .join(bArrs.select(col(idCol).as("__batch_id"), col("shingles").as("__shb")),
            "__batch_id")
          .select(col("__batch_id"),
            size(array_intersect(col("__sha"), col("__shb"))).cast("long").as("__nc"),
            size(col("__sha")).cast("long").as("__na"),
            size(col("__shb")).cast("long").as("__nb"))
          .filter(col("__nc").cast("double") /
            (col("__na") + col("__nb") - col("__nc")) >= minJaccard)
          .select(col("__batch_id").as(idCol))
          .distinct()
        survivors.join(dupIds, Seq(idCol), "left_anti").localCheckpoint(true)
      } finally freeCheckpoint(cand)
    } finally {
      cSigs.unpersist(false); bSigs.unpersist(false); survivors.unpersist(false)
    }
  }

  /** SimHash: `bits`-bit locality-sensitive fingerprint over the doc's
    * distinct normalized tokens. Bit b is the sign of Σ ±1 where each
    * token votes +1 if the hash hex digit for b has its high bit set,
    * else -1. Near-identical token sets differ in few bits. One explode
    * + one groupBy with `bits` conditional sums.
    *
    * Up to 64 bits: one md5 supplies 32 hex-digit votes, so bit b draws
    * digit b%32 of hash word b/32, where word 0 = md5(token) (the
    * original construction, unchanged for bits <= 32) and word w>0 =
    * md5(token || "~w") — an independent, engine-portable second hash.
    * At bits=64 the sign bit participates like any other bit: the
    * fingerprint is an ordinary signed long and every downstream op
    * (band shift+mask, XOR, bit_count, ordering) is sign-agnostic. */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame = {
    require(bits > 0 && bits <= 64, s"bits must be in 1..64, got $bits")
    // spread: the tokenize map and (post-distinct) the 2-md5 + 64-vote
    // derivation are per-row-expensive; votes are exact integer sums,
    // so partitioning cannot change the fingerprint
    val tok = Par.spread(df)
      // outer + post-filter: a plain explode's inferred filter would
      // inline the normalize chain twice (see shingleSets)
      .select(col(idCol), explode_outer(Text.tokens(Text.normalize(col(textCol)))).as("tk"))
      .filter(col("tk").isNotNull)
      .distinct()
    val words = (bits + 31) / 32
    val hashed = (0 until words).foldLeft(tok) { (d, w) =>
      d.withColumn(s"__h$w",
        if (w == 0) md5(col("tk").cast("binary"))
        else md5(concat(col("tk"), lit(s"~$w")).cast("binary")))
    }
    def vote(b: Int) =
      sum(when(substring(col(s"__h${b / 32}"), b % 32 + 1, 1) >= "8", 1).otherwise(-1))
    val sums = hashed.groupBy(col(idCol))
      .agg(vote(0).as("b0"), (1 until bits).map(b => vote(b).as(s"b$b")): _*)
    sums.select(col(idCol),
      (0 until bits).map(b =>
        when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs, LSH-banded: fingerprints are cut into
    * `bands` contiguous bit-bands; docs agreeing on any whole band meet
    * through an equi-join on (band, band bits) — never all-pairs — and
    * survive if full Hamming distance <= `maxHamming`. Pigeonhole makes
    * the bucketing LOSSLESS here: fewer than `bands` differing bits
    * cannot dirty every band, so any pair within maxHamming < bands
    * shares at least one band verbatim. Hamming itself is
    * `bit_count(a XOR b)` on the candidates — two codegen'd integer ops.
    * Same shuffle shape (and scale story) as [[candidatePairs]].
    *
    * Band width sets the bucket keyspace (2^(bits/bands) values) and
    * buckets fill as the corpus grows: candidate volume per band is
    * Σ C(bucket,2). The 32/4 default gives 256-value bands — right for
    * ~10⁵-doc corpora; at larger scale WIDEN the fingerprint (the
    * construction generalizes to 64 bits) rather than cutting bands,
    * since maxHamming < bands is what keeps the bucketing lossless.
    * For the same reason use the FEWEST lossless bands, maxHamming + 1:
    * each extra band both adds a candidate source and narrows every
    * band's keyspace (64 bits in 6 bands → 11-bit ≈ 2k-value buckets;
    * in 8 bands → 256-value buckets that fill quadratically 8× sooner).
    * Bands need not divide bits evenly — the first bits % bands bands
    * are one bit wider, and pigeonhole cares only about the band COUNT.
    *
    * The band self-join runs over DISTINCT fingerprints, not documents:
    * a near-dup corpus collapses many docs onto one fingerprint, and
    * identical fingerprints land in identical buckets, so doc-level
    * banding pays C(docs,2) per bucket where fingerprint-level pays
    * C(fps,2) (measured 10× fewer candidate rows at sf0.1, where one
    * band bucket held 83% of the corpus). Qualifying fingerprint pairs
    * then expand back to doc pairs through two equi-joins (output-bound
    * — every produced row is a result row), and same-fingerprint doc
    * pairs (Hamming 0) come from one group self-join. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 32, bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(bands > 0 && bands <= bits, s"bands ($bands) must be in 1..$bits")
    require(maxHamming >= 0 && maxHamming < bands,
      s"maxHamming ($maxHamming) must be < bands ($bands) for lossless banding")
    // contiguous bands covering all bits; the first (bits % bands) bands
    // are one bit wider. (offset, width) per band, low bits first.
    val widths = (0 until bands).map(b => bits / bands + (if (b < bits % bands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    // (id, simhash) feeds four subtrees (fps, both expansion sides, the
    // intra-group join); localCheckpoint materializes it ONCE — one
    // (id, long) row per doc, small enough that letting the
    // ContextCleaner reclaim it when the caller drops the result frame
    // is fine, which keeps the returned pair frame itself lazy (the
    // pair set can be orders of magnitude bigger than the input).
    val sh = simhash(df, idCol, textCol, bits).localCheckpoint(true)
    val banded = sh.select(col("simhash")).distinct()
      .select(col("simhash"),
        posexplode(array((0 until bands).map { b =>
          val mask = if (widths(b) == 64) -1L else (1L << widths(b)) - 1
          shiftright(col("simhash"), offsets(b)).bitwiseAND(lit(mask))
        }: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_val"))
    pairsFromBandedFps(sh, banded, idCol, maxHamming)
  }

  /** SimHash near-dup pairs via COMBINATION banding (Manku, Jain &
    * Sarma, WWW 2007 — the web-scale simhash dedup construction): the
    * fingerprint splits into `blocks` contiguous blocks, and a pair
    * within Hamming distance `maxHamming` must agree EXACTLY on some
    * (blocks − maxHamming) of them (pigeonhole: d flips dirty at most d
    * blocks), so each fingerprint emits one key per
    * C(blocks, blocks−maxHamming) block-combination and near pairs meet
    * in a (combo, key) equi-join. Same exact-Hamming verify, distinct,
    * and doc-expansion tail as [[simhashPairs]] — IDENTICAL output, the
    * banding only generates candidates.
    *
    * Why this is the at-scale form: [[simhashPairs]]' minimal 6-band
    * layout caps band keys at ~2k values, and once fingerprints exceed
    * ~50k every bucket holds dozens — candidate volume grows
    * QUADRATICALLY (measured: 34.6 s at 50k docs → 357 s at 150k,
    * 10.3× for 3× data). Here the key is (blocks − maxHamming) blocks
    * wide — 24 bits at the 64/8/5 default, a ~16.7M-value keyspace —
    * so buckets stay near-singleton far past 10⁷ fingerprints and
    * candidate volume is near-dups + n²/2²⁴ random collisions per
    * combo: linear-regime until n approaches the keyspace root. The
    * price is C(8,3) = 56 exploded rows per fingerprint instead of 6 —
    * a bigger but still fingerprint-sized (never pair-sized) exchange,
    * the classic candidate-volume-for-band-rows trade, measured 15×
    * faster at 150k docs and crossing over vs the 6-band form at
    * roughly the bucket-saturation point (~50k). */
  def simhashPairsCombo(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 64, blocks: Int = 8, maxHamming: Int = 5): DataFrame =
    hammingPairsCombo(simhash(df, idCol, textCol, bits), idCol, "simhash",
      bits, blocks, maxHamming)

  /** [[simhashPairsCombo]]'s combination-banded candidate machinery over
    * an ARBITRARY precomputed `bits`-bit fingerprint column — for
    * fingerprints that do not come from text simhash (image perceptual
    * hashes — [[MediaPipeline.imagePHash]] — or any other Hamming-space
    * signature). Contract, scale shape, and output
    * (doc_a, doc_b, hamming) are identical: banding is candidate
    * generation only, lossless for Hamming ≤ maxHamming, and the input
    * frame is materialized once (eager checkpoint, reclaimed by the
    * ContextCleaner when the caller drops the result). */
  def hammingPairsCombo(fps: DataFrame, idCol: String, fpCol: String,
      bits: Int, blocks: Int, maxHamming: Int): DataFrame = {
    require(blocks > 0 && blocks <= bits, s"blocks ($blocks) must be in 1..$bits")
    require(maxHamming >= 0 && maxHamming < blocks,
      s"maxHamming ($maxHamming) must be < blocks ($blocks) for lossless banding")
    val keep = blocks - maxHamming
    // fail fast on combination explosion BEFORE materializing the combos
    val nCombos = (1 to keep).foldLeft(BigInt(1))((a, i) => a * (blocks - keep + i) / i)
    require(nCombos <= 512,
      s"C($blocks, $keep) = $nCombos combination keys — too many; use fewer blocks")
    val combos = (0 until blocks).combinations(keep).toSeq
    val widths = (0 until blocks).map(b => bits / blocks + (if (b < bits % blocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    require(combos.forall(_.map(widths).sum <= 63),
      "a combination key must fit a signed long")
    val sh = fps.select(col(idCol), col(fpCol).cast("long").as("simhash"))
      .localCheckpoint(true)
    val keyExprs = combos.map { idxs =>
      idxs.foldLeft((lit(0L), 0)) { case ((acc, shift), b) =>
        val mask = (1L << widths(b)) - 1
        (acc + shiftright(col("simhash"), offsets(b)).bitwiseAND(lit(mask))
          * lit(1L << shift),
          shift + widths(b))
      }._1
    }
    val banded = sh.select(col("simhash")).distinct()
      .select(col("simhash"), posexplode(array(keyExprs: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_val"))
    pairsFromBandedFps(sh, banded, idCol, maxHamming)
  }

  /** Shared tail of the simhash pair generators: candidate fingerprint
    * pairs from the (band, band_val) self-join, exact Hamming verify
    * BEFORE the pair-distinct shuffle, expansion back to doc pairs, and
    * the Hamming-0 intra-fingerprint self-join. */
  private def pairsFromBandedFps(sh: DataFrame, banded: DataFrame,
      idCol: String, maxHamming: Int): DataFrame = {
    val fa = banded.alias("fa")
    val fb = banded.alias("fb")
    val fpPairs = fa.join(fb,
        col("fa.band") === col("fb.band") &&
        col("fa.band_val") === col("fb.band_val") &&
        col("fa.simhash") < col("fb.simhash"))
      .select(col("fa.simhash").as("__fpa"), col("fb.simhash").as("__fpb"),
        bit_count(col("fa.simhash").bitwiseXOR(col("fb.simhash"))).cast("long").as("hamming"))
      // Hamming BEFORE distinct: the filter is two codegen'd integer
      // ops evaluated in the join stage, so only qualifying pairs (≈
      // output-sized) reach the dedup shuffle — candidates that fail
      // the filter never leave their partition. Filter-then-distinct
      // equals distinct-then-filter for a per-row deterministic
      // predicate; at 50k docs this removes a ~19M-row shuffle.
      .filter(col("hamming") <= maxHamming)
      .distinct()
    val cross = fpPairs
      .join(sh.select(col(idCol).as("__ida"), col("simhash").as("__fpa")), "__fpa")
      .join(sh.select(col(idCol).as("__idb"), col("simhash").as("__fpb")), "__fpb")
      .select(least(col("__ida"), col("__idb")).as("doc_a"),
        greatest(col("__ida"), col("__idb")).as("doc_b"), col("hamming"))
    val x = sh.alias("x")
    val y = sh.alias("y")
    val intra = x.join(y,
        col("x.simhash") === col("y.simhash") &&
        col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("doc_a"), col(s"y.$idCol").as("doc_b"),
        lit(0L).as("hamming"))
    cross.unionByName(intra)
  }

  /** N-gram NOVELTY scoring — the memorization/provenance analytic:
    * each document's share of n-gram shingles that appear in NO other
    * document. Boilerplate, templates, and near-copies score low;
    * genuinely novel text scores ~1. The per-shingle pass reuses
    * [[shingleSets]]' in-row-distinct frame.
    *
    * Scale shape: the tempting plan — join every (doc, shingle) row back
    * to a shingle→doc-frequency map — shuffles the corpus shingle stream
    * TWICE. Instead one groupBy(shingle) computes (count, min(doc_id))
    * together: a shingle with count=1 belongs to exactly the doc
    * min(doc_id) names, so per-doc unique counts come from the SMALL
    * singleton side, and the corpus-sized frame shuffles once. Docs too
    * short to have shingles report (0, 0, 0.0). Returns (idCol,
    * n_shingles, n_unique, novelty). */
  def noveltyScores(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val sh = shingleSets(df, idCol, textCol, n)
    val tot = sh.groupBy(col(idCol)).agg(count(lit(1)).as("__tot"))
    val uniq = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("__dfn"), min(col(idCol)).as("__owner"))
      .filter(col("__dfn") === 1)
      .groupBy(col("__owner").as(idCol))
      .agg(count(lit(1)).as("__uniq"))
    df.select(col(idCol))
      .join(tot, Seq(idCol), "left_outer")
      .join(uniq, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("__tot"), lit(0L)).as("n_shingles"),
        coalesce(col("__uniq"), lit(0L)).as("n_unique"))
      .withColumn("novelty",
        when(col("n_shingles") > 0,
          col("n_unique").cast("double") / col("n_shingles").cast("double"))
          .otherwise(lit(0.0)))
  }
}
