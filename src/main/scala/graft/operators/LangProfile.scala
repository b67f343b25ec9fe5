package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TRAINED n-gram language identification (Cavnar & Trenkle 1994,
  * "N-Gram-Based Text Categorization" — the classic rank-profile
  * method behind textcat/langid tools): each language's profile is its
  * `k` most frequent character trigrams RANKED; a document is classified
  * by building its own trigram rank profile and picking the language
  * with the smallest "out-of-place" distance — Σ over the doc's profile
  * grams of |doc rank − language rank|, with a fixed penalty of `k` for
  * grams absent from the language profile. The trained upgrade of the
  * marker-word heuristic in [[graft.functions.Text.langId]]: profiles
  * come from the labeled corpus itself, no hand-picked markers, and new
  * languages are a retrain away.
  *
  * Trigrams run over RAW lowercased text (not the [a-z0-9] normalizer,
  * which would strip every CJK codepoint): the corpus is BMP-only, so
  * Spark's UTF-16 `substr` positions, DuckDB's character positions, and
  * lexicographic gram comparisons all agree engine-for-engine.
  *
  * Scale shape: training is ONE corpus-scan trigram count into a
  * (lang × gram) aggregate (map-side combined) topped by a per-language
  * WindowGroupLimit — the profile table is ≤ langs·k rows and
  * BROADCASTS. Per-doc profiles rank inside millions of tiny doc_id
  * window partitions (the TF-IDF-approved row_number shape); scoring is
  * doc-profile (≤k rows/doc) × languages (a broadcast handful) with the
  * broadcast profile left-joined — never a corpus-sized shuffle beyond
  * the one (doc, gram) count. Everything is integer arithmetic: counts,
  * ranks, |Δrank| sums — no transcendental anywhere, bit-identical on
  * any engine by construction. */
object LangProfile {

  /** Character trigrams over a CHAR-ARRAY column (`split(text, "")`) in
    * order (positions 1..len−2); empty below 3 chars. Takes the split
    * array, not the string: `substr` on UTF-8 bytes is O(position) per
    * call (no random access), so extracting every trigram of an n-char
    * doc by substring is O(n²) — three O(1) `element_at` lookups per
    * gram keep it linear. Callers must PROJECT the split array first
    * (the shingleSets HOF pitfall: an inlined split would re-run per
    * gram). */
  private[operators] def charTrigrams(ch: Column): Column =
    when(size(ch) >= 3,
      transform(sequence(lit(0), size(ch) - 3),
        i => concat(element_at(ch, i + 1), element_at(ch, i + 2), element_at(ch, i + 3))))
      .otherwise(array().cast("array<string>"))

  /** Language profiles: (lang, gram, rank) — each label's top-`k`
    * trigrams by frequency, rank 1-based, ties broken lexically. */
  def profiles(df: DataFrame, langCol: String, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"profile size k must be positive, got $k")
    Par.spread(df)
      .select(col(langCol).as("lang"), split(lower(col(textCol)), "").as("__ch"))
      .select(col("lang"), explode(charTrigrams(col("__ch"))).as("gram"))
      .groupBy(col("lang"), col("gram")).agg(count(lit(1)).as("__c"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("__c").desc, col("gram")))
        .cast("long"))
      .filter(col("rank") <= k)
      .select(col("lang"), col("gram"), col("rank"))
  }

  /** Classify every doc with >= 1 trigram: (idCol, lang_pred, dist)
    * by minimal out-of-place distance against [[profiles]] trained on
    * (`langCol`, `textCol`) of the same frame — ties prefer the
    * lexically smallest language. Docs too short to produce a trigram
    * are unscorable and excluded.
    *
    * The corpus explodes ONCE into a checkpointed (doc, lang, gram)
    * count frame feeding both models: the language profile re-aggregates
    * it per (lang, gram) — summing per-doc counts equals counting the
    * raw stream — and the doc profiles window it directly. Without the
    * checkpoint each consumer would re-run the trigram explode over the
    * whole corpus (measured ~2× on the gated query); the frame is freed
    * before returning, the result is an eager checkpoint (release via
    * [[Curate.release]]). */
  def classify(df: DataFrame, idCol: String, langCol: String, textCol: String,
      k: Int = 64): DataFrame =
    // Par.spread: the char-split + trigram explode is the dense map and
    // would otherwise fuse into a one-task scan; all downstream
    // aggregates are exact integer counts/ranks
    classifyFromCounts(Par.spread(df)
      .select(col(idCol), col(langCol).as("lang"), split(lower(col(textCol)), "").as("__ch"))
      .select(col(idCol), col("lang"), explode(charTrigrams(col("__ch"))).as("gram")),
      idCol, k)

  /** [[classify]] over a pre-built (idCol, lang, __grams) frame — ONLY
    * sound when the arrays are MATERIALIZED (an eager checkpoint /
    * stored table, the token scan [[Curate]]'s model configurations
    * share): on a lazy frame the optimizer may substitute the
    * char-split into the trigram lambda's three element_at references,
    * re-running the O(len) split per gram (O(len²)/doc — measured 36× on
    * doc_lang_trained at sf0.1, which is why [[classify]] keeps the
    * inline generator form). Result is bit-identical to [[classify]]
    * on the frame the arrays came from. */
  def classifyFromArrays(gramArrays: DataFrame, idCol: String,
      k: Int = 64): DataFrame =
    classifyFromCounts(gramArrays
      .select(col(idCol), col("lang"), explode(col("__grams")).as("gram")),
      idCol, k)

  /** Classify with a FROZEN profile table — the serve side of the
    * train-once/apply-forever split an incremental pipeline needs: the
    * rank profiles come from [[profiles]] run at model-build time (on a
    * 100 TB corpus, persisted as a ≤ langs·k-row table and broadcast
    * ever after), and each arriving batch is classified against them
    * WITHOUT touching the training corpus. Distance, tie-breaking, and
    * the unscorable-short-doc exclusion are identical to [[classify]] —
    * a batch classified against `profiles(df, …, k)` gets bit-identical
    * (lang_pred, dist) to a self-trained [[classify]] whose training
    * slice was `df` (spec-asserted in LangProfileSpec).
    *
    * Unlike [[classify]] (whose corpus counts feed BOTH the profile
    * aggregate and the doc profiles, and so checkpoint), the frozen
    * form's (doc, gram) counts have ONE consumer — the frame stays lazy
    * and fuses into the scoring join. `prof` must carry (lang, gram,
    * rank) and be trained with the same `k`. */
  def classifyWith(prof: DataFrame, df: DataFrame, idCol: String,
      textCol: String, k: Int = 64): DataFrame =
    classifyWithFromGrams(prof, Par.spread(df)
      .select(col(idCol), split(lower(col(textCol)), "").as("__ch"))
      .select(col(idCol), explode(charTrigrams(col("__ch"))).as("gram")),
      idCol, k)

  /** [[classifyWith]] over a pre-built (idCol, `__grams`) trigram-array
    * frame — the shared-corpus-scan form, with [[classifyFromArrays]]'s
    * caveat: the arrays must be MATERIALIZED or the optimizer re-runs
    * the char split per gram. */
  def classifyWithFromArrays(prof: DataFrame, gramArrays: DataFrame,
      idCol: String, k: Int = 64): DataFrame =
    classifyWithFromGrams(prof,
      gramArrays.select(col(idCol), explode(col("__grams")).as("gram")), idCol, k)

  private def classifyWithFromGrams(prof: DataFrame, grams: DataFrame,
      idCol: String, k: Int): DataFrame = {
    val counts = grams
      .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("__c"))
    val profCols = prof.select(col("lang"), col("gram"), col("rank"))
    val langs = profCols.select(col("lang")).distinct()
    val docProf = counts
      .withColumn("__drank", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("__c").desc, col("gram")))
        .cast("long"))
      .filter(col("__drank") <= k)
      .select(col(idCol), col("gram"), col("__drank"))
    docProf
      .crossJoin(broadcast(langs))
      .join(broadcast(profCols), Seq("lang", "gram"), "left_outer")
      .groupBy(col(idCol), col("lang"))
      .agg(sum(coalesce(abs(col("__drank") - col("rank")), lit(k.toLong))).as("__dist"))
      .groupBy(col(idCol))
      .agg(min(struct(col("__dist"), col("lang"))).as("__m"))
      .select(col(idCol), col("__m.lang").as("lang_pred"), col("__m.__dist").as("dist"))
  }

  private def classifyFromCounts(grams: DataFrame, idCol: String,
      k: Int): DataFrame = {
    val counts = grams
      .groupBy(col(idCol), col("lang"), col("gram")).agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    try {
      val prof = counts.groupBy(col("lang"), col("gram")).agg(sum(col("__c")).as("__lc"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("__lc").desc, col("gram")))
          .cast("long"))
        .filter(col("rank") <= k)
        .select(col("lang"), col("gram"), col("rank"))
      val langs = prof.select(col("lang")).distinct()
      val docProf = counts
        .withColumn("__drank", row_number().over(
          Window.partitionBy(col(idCol)).orderBy(col("__c").desc, col("gram")))
          .cast("long"))
        .filter(col("__drank") <= k)
        .select(col(idCol), col("gram"), col("__drank"))
      docProf
        .crossJoin(broadcast(langs))
        .join(broadcast(prof), Seq("lang", "gram"), "left_outer")
        .groupBy(col(idCol), col("lang"))
        .agg(sum(coalesce(abs(col("__drank") - col("rank")), lit(k.toLong))).as("__dist"))
        .groupBy(col(idCol))
        .agg(min(struct(col("__dist"), col("lang"))).as("__m"))
        .select(col(idCol), col("__m.lang").as("lang_pred"), col("__m.__dist").as("dist"))
        .localCheckpoint(true)
    } finally NearDup.freeCheckpoint(counts)
  }
}
