package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * language-ID, quality scoring, token counting, document fingerprinting.
  *
  * Everything is built from codegen'd native/higher-order functions — no
  * UDFs — so at 100 TB each document is processed in one whole-stage-codegen
  * pass over the scan with zero shuffles until the (optional) aggregate.
  * Every score is deterministic arithmetic mirrored 1:1 in the DuckDB oracle.
  */
object TextAnalysis {

  /** Whitespace tokenization, shared by all text operators. */
  val toksExpr = "split(trim(text), '\\\\s+')"

  /** Per-language marker-word lists for the n-gram/stopword language-ID
    * heuristic. Mirrored in the oracle SQL — keep in sync with
    * [[graft.Oracle.langMarkers]]. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "and", "of", "is"),
    "es" -> Seq("el", "la", "los", "y", "un"),
    "fr" -> Seq("le", "la", "et", "est", "un"),
    "zh" -> Seq("de", "shi", "zai", "le", "wo"))

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documentsWide(spark, sfDir).withColumn("toks", expr(toksExpr))

  private[ops] def markerCount(lang: String): Column = {
    val list = LangMarkers.toMap.apply(lang).map(w => s"'$w'").mkString(", ")
    expr(s"size(filter(toks, x -> x IN ($list)))").cast("long")
  }

  /** Language ID: score each candidate language by marker-word hits, pick the
    * argmax (ties resolved alphabetically by the CASE order — deterministic). */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = docs(spark, sfDir)
      .select(col("doc_id") +: col("lang").as("actual_lang") +:
        LangMarkers.map { case (l, _) => markerCount(l).as(s"s_$l") }: _*)
    val best = greatest(LangMarkers.map { case (l, _) => col(s"s_$l") }: _*)
    val predicted = LangMarkers.foldRight(lit("und")) { case ((l, _), rest) =>
      when(col(s"s_$l") === col("best_score"), l).otherwise(rest)
    }
    scored.withColumn("best_score", best)
      .withColumn("predicted_lang", predicted)
      .withColumn("is_match", col("predicted_lang") === col("actual_lang"))
      .orderBy("doc_id")
  }

  /** Quality scoring: word/char counts, average word length, stopword ratio,
    * and a composite [0,1] score — length-normalized and stopword-penalized. */
  def quality(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        expr("size(toks)").cast("long").as("n_words"),
        expr("aggregate(transform(toks, x -> length(x)), 0L, (a, x) -> a + x)")
          .as("sum_word_len"),
        markerCount("en").as("n_stopwords"))
      .withColumn("avg_word_len",
        col("sum_word_len").cast("double") / col("n_words").cast("double"))
      .withColumn("stop_ratio",
        col("n_stopwords").cast("double") / col("n_words").cast("double"))
      .withColumn("quality_score",
        round(least(lit(1.0), col("n_words").cast("double") / 20.0)
          * (lit(1.0) - lit(0.5) * col("stop_ratio")), 6))
      .orderBy("doc_id")

  /** Token counting: whitespace tokens plus a BPE-ish regex segmentation
    * (letter runs / digit runs / single other chars). */
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"),
        expr("size(toks)").cast("long").as("n_ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
          .cast("long").as("n_bpe_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id")

  /** End-to-end corpus filter — the composed LLM-training-data use case:
    * keep one survivor per exact-duplicate group, drop short and
    * stopword-heavy documents. Genuinely ONE scan: quality features and the
    * content hash come off the same projection, and the keeper choice is a
    * min-over-hash window on that frame (no second read, no pair work). */
  def trainingCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy("h")
    Tables.documentsWide(spark, sfDir)
      .withColumn("toks", expr(toksExpr))
      .select(col("doc_id"), md5(col("text")).as("h"),
        expr("size(toks)").cast("long").as("n_words"),
        markerCount("en").as("n_stopwords"))
      .withColumn("keeper", min("doc_id").over(byHash))
      .filter(col("doc_id") === col("keeper"))
      .withColumn("quality_score",
        round(least(lit(1.0), col("n_words").cast("double") / 20.0)
          * (lit(1.0) - lit(0.5) * col("n_stopwords").cast("double")
            / col("n_words").cast("double")), 6))
      .filter(col("n_words") >= 20 && col("quality_score") >= 0.5)
      .select("doc_id", "n_words", "quality_score")
      .orderBy("doc_id")
  }

  /** Gopher-family document quality rules (Rae et al. 2021, "Scaling
    * Language Models: … Gopher", appendix A1.1): per document, the measured
    * statistic AND the pass/fail flag for each rule, plus the composed
    * `keep` decision — the rule-based pre-filter every web-scale corpus
    * runs before dedup. Rules (thresholds calibrated to this corpus; the
    * STRUCTURE is Gopher's):
    *   1. word count within [[GopherMinWords]]..[[GopherMaxWords]]
    *   2. mean word length within 3..10
    *   3. distinct-token ratio ≥ 0.5 (repetition guard)
    *   4. top-token dominance ≤ 0.1 (boilerplate guard)
    *   5. alphabetic-word fraction ≥ 0.8 (symbol-soup guard)
    *
    * Scale shape: every statistic — including the per-doc mode frequency —
    * is computed INSIDE the row over the token array (O(distinct·len) per
    * doc), so the whole operator is one narrow codegen'd projection: no
    * explode, no shuffle, at any corpus size. Fractions are single IEEE
    * divisions of exact integers (bit-equal in DuckDB). */
  val GopherMinWords = 20L
  val GopherMaxWords = 100L

  def gopherRules(spark: SparkSession, sfDir: String): DataFrame =
    gopherSignals(docs(spark, sfDir)
      // NULL-text docs have NULL toks: Spark's size/aggregate and DuckDB's
      // len/list_* disagree on null propagation, so exclude them explicitly
      // (mirrored in the oracle); they carry no text to rule on anyway
      .filter(col("text").isNotNull))
      .select(col("doc_id"), col("n_words"),
        round(col("mean_word_len"), 6).as("mean_word_len"),
        round(col("distinct_ratio"), 6).as("distinct_ratio"),
        round(col("top_tok_frac"), 6).as("top_tok_frac"),
        round(col("alpha_frac"), 6).as("alpha_frac"),
        col("r_words"), col("r_word_len"), col("r_distinct"),
        col("r_top_tok"), col("r_alpha"), col("keep"))
      .orderBy("doc_id")

  /** The Gopher statistics + rule flags as a reusable TRANSFORM over any
    * frame carrying (doc_id, toks) — row-local projections only, so it is
    * streaming-legal (the quality-routing stream applies it per
    * micro-batch) and never shuffles. `keep` is null for null `toks`;
    * callers decide whether to pre-filter ([[gopherRules]]) or
    * null-coalesce (the stream router quarantines them). */
  def gopherSignals(docsWithToks: DataFrame): DataFrame =
    docsWithToks
      .select(col("*"),
        expr("size(toks)").cast("long").as("n_words"),
        expr("aggregate(transform(toks, x -> length(x)), 0L, (a, x) -> a + x)")
          .as("sum_len"),
        expr("size(array_distinct(toks))").cast("long").as("n_distinct"),
        expr("""array_max(transform(array_distinct(toks),
                 t -> size(filter(toks, x -> x = t))))""").cast("long")
          .as("top_tok_n"),
        expr("size(filter(toks, x -> x rlike '[a-zA-Z]'))").cast("long")
          .as("n_alpha"))
      .withColumn("mean_word_len",
        col("sum_len").cast("double") / col("n_words").cast("double"))
      .withColumn("distinct_ratio",
        col("n_distinct").cast("double") / col("n_words").cast("double"))
      .withColumn("top_tok_frac",
        col("top_tok_n").cast("double") / col("n_words").cast("double"))
      .withColumn("alpha_frac",
        col("n_alpha").cast("double") / col("n_words").cast("double"))
      .withColumn("r_words",
        col("n_words") >= GopherMinWords && col("n_words") <= GopherMaxWords)
      .withColumn("r_word_len",
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("r_distinct", col("distinct_ratio") >= 0.5)
      .withColumn("r_top_tok", col("top_tok_frac") <= 0.1)
      .withColumn("r_alpha", col("alpha_frac") >= 0.8)
      .withColumn("keep",
        col("r_words") && col("r_word_len") && col("r_distinct") &&
          col("r_top_tok") && col("r_alpha"))

  /** Gopher-style repetition signals: per document, the fraction of n-grams
    * that are repeats of an earlier identical n-gram (`dup{2,3}_frac`) and
    * the share of the single most frequent bigram (`top2_frac`) — the
    * signals web-corpus curation uses to drop boilerplate and looped text.
    *
    * One scan: bigrams and trigrams are tagged (`2#`/`3#`) and emitted from
    * a single projection, so the per-(doc, gram) count and the per-doc
    * rollup are two map-side-combinable aggregates over one exchange.
    * Fractions are a single IEEE division of exact integer counts — no
    * accumulation-order or libm concerns, so the DuckDB oracle reproduces
    * every bit. */
  def repetitionSignals(spark: SparkSession, sfDir: String): DataFrame = {
    val base = docs(spark, sfDir)
    val grams = base
      .filter(expr("size(toks) >= 2"))
      .select(col("doc_id"), explode(expr(
        """concat(
          |  transform(sequence(0, size(toks) - 2),
          |    i -> concat('2#', toks[i], ' ', toks[i+1])),
          |  CASE WHEN size(toks) >= 3 THEN
          |    transform(sequence(0, size(toks) - 3),
          |      i -> concat('3#', toks[i], ' ', toks[i+1], ' ', toks[i+2]))
          |  ELSE array() END)""".stripMargin)).as("gram"))
    val perGram = grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
    val two = col("gram").startsWith("2#")
    val stats = perGram.groupBy("doc_id").agg(
      sum(when(two, col("c"))).as("n2"),
      count(when(two, lit(1))).as("d2"),
      max(when(two, col("c"))).as("top2"),
      sum(when(!two, col("c"))).as("n3"),
      count(when(!two, lit(1))).as("d3"))
    def frac(num: Column, den: Column): Column =
      when(coalesce(den, lit(0L)) > 0,
        num.cast("double") / den.cast("double")).otherwise(lit(0.0))
    base.select("doc_id").join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        frac(col("n2") - col("d2"), col("n2")).as("dup2_frac"),
        frac(col("top2"), col("n2")).as("top2_frac"),
        coalesce(col("n3"), lit(0L)).as("n3"),
        frac(col("n3") - col("d3"), col("n3")).as("dup3_frac"))
      .orderBy("doc_id")
  }

  /** Curriculum staging: partition the corpus into [[CurriculumStages]]
    * quality quartiles (stage 1 = highest-quality quarter — what a
    * quality-ordered training curriculum feeds first) and report each
    * stage's size and score range.
    *
    * NOT an `ntile` over documents — a global row-ntile is a single-task
    * sort at 100 TB, and its tie behavior splits equal scores across
    * stages nondeterministically. Instead the stage boundary is defined on
    * the score DISTRIBUTION: all docs sharing a score share a stage, and
    * `stage(s) = 1 + ⌊4·|docs with score > s| / n⌋` — exact integer
    * arithmetic over the distinct-score frame (bounded by the 6-dp score
    * quantization at ≤ 1e6+1 rows), so the whole operator is one map-side
    * combinable count plus window work on the distribution frame. The
    * cumulative count itself is TWO-PHASE (256-way range buckets + a
    * prefix sum over bucket totals) so even the 1e6-row worst case never
    * sorts through one partition. Per-stage mean scores sum the 6-dp
    * scores as DECIMAL — order-independent. */
  val CurriculumStages = 4

  def curriculum(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = docs(spark, sfDir)
      .filter(col("text").isNotNull && expr("size(toks) >= 1"))
      .select(col("doc_id"),
        expr("size(toks)").cast("long").as("n_words"),
        markerCount("en").as("n_stopwords"))
      .withColumn("quality_score",
        round(least(lit(1.0), col("n_words").cast("double") / 20.0)
          * (lit(1.0) - lit(0.5) * col("n_stopwords").cast("double")
            / col("n_words").cast("double")), 6))
    // persistTracked: the distribution frame feeds THREE consumers below
    // (bounds agg, bucket offsets, the bucketed cum join) — uncached, each
    // would recompute the tokenize-heavy document scan above (measured
    // +1.0 s at sf0.1 when the two-phase restructure first landed without
    // this; the frame itself is ≤ 1e6+1 rows by the 6-dp quantization)
    val dist = graft.ops.QueryLocal.persistTracked(
      scored.groupBy("quality_score").agg(count(lit(1)).as("c")))
    // Two-phase cumulative count over the distinct-score frame: the 6-dp
    // quantization bounds it at ≤ 1e6+1 rows, but that worst case is
    // still a million-row SinglePartition sort under a globally-ordered
    // window — shard by a monotone 256-way range bucket over the EXACT
    // integer 6-dp score instead (the Corpus.tfidfTopK /
    // Behavior.timeToConvert pattern); only the 256-row bucket-total
    // frame crosses SinglePartition. Buckets index s6 DESCENDING so
    // bucket order matches the cumulative direction (stage 1 = highest
    // scores), and the full-frame total rides the same broadcast bounds
    // row instead of a partitionBy() window.
    val w = org.apache.spark.sql.expressions.Window
    val withS6 = dist.withColumn("s6",
      expr("CAST(round(quality_score * 1000000, 0) AS BIGINT)"))
    val bounds = withS6.agg(min("s6").as("smn"), max("s6").as("smx"),
      sum("c").as("n"))
    val bucketed = withS6.crossJoin(broadcast(bounds))
      .withColumn("rb",
        expr("CAST((smx - s6) * 256 div (smx - smn + 1) AS INT)"))
    val offs = bucketed.groupBy("rb").agg(sum("c").as("bc"))
      .withColumn("boff", coalesce(sum("bc").over(
        w.orderBy("rb").rowsBetween(w.unboundedPreceding, -1)), lit(0L)))
      .select("rb", "boff")
    bucketed.join(broadcast(offs), Seq("rb"))
      .withColumn("cum_before", coalesce(sum("c").over(
        w.partitionBy("rb").orderBy(col("s6").desc)
          .rowsBetween(w.unboundedPreceding, -1)), lit(0L)) + col("boff"))
      .withColumn("stage",
        expr(s"1 + ($CurriculumStages * cum_before) div n"))
      .groupBy("stage")
      .agg(sum("c").as("n_docs"),
        min("quality_score").as("min_score"),
        max("quality_score").as("max_score"),
        (sum(col("quality_score")
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)) * col("c"))
          .cast("double") / sum("c").cast("double")).as("avg_raw"))
      .select(col("stage"), col("n_docs"), col("min_score"), col("max_score"),
        round(col("avg_raw"), 6).as("avg_score"))
      .orderBy("stage")
  }

  /** BPE merge-candidate table (Sennrich et al. 2016, "Neural Machine
    * Translation of Rare Words with Subword Units"): corpus-wide counts of
    * adjacent CHARACTER pairs inside words — the statistic one BPE training
    * step ranks to pick its next merge. Top-[[BpeTopK]] pairs, ties broken
    * by pair text, so the emitted set is deterministic.
    *
    * Scale shape: pair enumeration runs over the DISTINCT-WORD frame
    * weighted by word frequency (a Zipf corpus has orders of magnitude
    * fewer distinct words than word occurrences), so the expensive
    * character explode touches |vocab| rows, not |corpus| tokens. Both
    * aggregations combine map-side; the final TakeOrdered moves K rows. */
  val BpeTopK = 50

  def bpePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val words = docs(spark, sfDir)
      .select(explode(col("toks")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("c"))
    val top = words
      .select(col("c"), explode(expr(
        """transform(sequence(1, length(w) - 1),
          |  i -> concat(substring(w, i, 1), ' ', substring(w, i + 1, 1)))"""
          .stripMargin)).as("pair"))
      .groupBy("pair").agg(sum("c").as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(BpeTopK)
    top.withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("pair").asc)).cast("long"))
      .select("rnk", "pair", "n")
      .orderBy("rnk")
  }

  /** Merge rounds [[bpeMerges]] trains — tiny so the unrolled DuckDB
    * oracle stays readable; the Spark loop is the same at 32k. */
  val BpeMergeRounds = 3

  /** Iterative BPE TRAINING (Sennrich et al. 2016): [[BpeMergeRounds]]
    * actual merge steps, not just the first round's candidate table
    * ([[bpePairs]]) — each round counts adjacent symbol pairs over the
    * weighted distinct-word vocabulary, picks the top pair (count desc,
    * pair text asc — total order, deterministic), applies the merge to
    * every word, and recounts. Output: the merge table (rank, pair, n),
    * i.e. the tokenizer's learned merges.
    *
    * Merge application is pure string arithmetic shared with the oracle:
    * symbols live space-joined, and the merge rewrites the DOUBLE-SPACED
    * form (`' a  b '` → `' ab '`). Double spacing means adjacent
    * occurrences never share a delimiter character, so any left-to-right
    * non-overlapping `replace` — Spark's and DuckDB's — produces the
    * textbook greedy BPE result, including on runs (`a a a` → `aa a`);
    * with single spaces the two engines' scan-resume behavior would be
    * load-bearing and unverifiable.
    *
    * Scale: every round is |vocab|-sized (the explode runs over distinct
    * words weighted by count, not corpus tokens), the top-1 is a
    * TakeOrdered of one row, and the merge applies as a broadcast 1-row
    * crossJoin + projection — 3 tiny jobs. This is the shape a real 100 TB
    * tokenizer train takes: the weighted vocabulary is the working set,
    * and it SHRINKS as merges apply. */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, rounds) = bpeTrain(spark, sfDir)
    rounds.reduce(_ unionByName _).orderBy("merge_rank")
  }

  /** Shared BPE training loop: the fully-merged word table `(w, c, sym)`
    * after [[BpeMergeRounds]] rounds, plus the per-round winning-pair
    * frames `(merge_rank, pair, n)`. [[bpeMerges]] publishes the merge
    * table; [[bpeEncode]] consumes the merged words as its encode
    * dictionary. */
  private def bpeTrain(spark: SparkSession, sfDir: String)
      : (DataFrame, Seq[DataFrame]) = {
    var words = docs(spark, sfDir)
      .select(explode(col("toks")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .withColumn("sym", expr("trim(regexp_replace(w, '(.)', '$1 '))"))
    val rounds = (1 to BpeMergeRounds).map { k =>
      val pairs = words
        .filter(expr("size(split(sym, ' ')) >= 2")) // a fully-merged word
        // has no pairs; Spark's sequence(1, 0) would throw where DuckDB's
        // range(1, 1) is just empty
        .select(col("c"), explode(expr(
          """transform(sequence(1, size(split(sym, ' ')) - 1),
            |  i -> concat(element_at(split(sym, ' '), i), ' ',
            |              element_at(split(sym, ' '), i + 1)))"""
            .stripMargin)).as("pair"))
        .groupBy("pair").agg(sum("c").as("n"))
      val top = pairs.orderBy(col("n").desc, col("pair").asc).limit(1)
      words = words.crossJoin(broadcast(top.select(col("pair").as("mp"))))
        .withColumn("sym", expr(
          """replace(trim(replace(
            |  concat(' ', replace(sym, ' ', '  '), ' '),
            |  concat(' ', replace(mp, ' ', '  '), ' '),
            |  concat(' ', replace(mp, ' ', ''), ' '))), '  ', ' ')"""
            .stripMargin))
        .drop("mp")
      top.select(lit(k.toLong).as("merge_rank"), col("pair"), col("n"))
    }
    (words, rounds)
  }

  /** BPE ENCODING — the application half of [[bpeMerges]]: every document
    * rendered as the symbol-id sequence the trained tokenizer produces.
    * The merged word table already holds each distinct word's final
    * symbol split, so encoding is a dictionary LOOKUP, not a re-merge:
    * single-char words (excluded from training, trivially unmergeable)
    * map to themselves, and the token stream joins the dictionary by
    * word. Symbol ids rank the corpus-frequency-weighted symbol
    * vocabulary (count desc, symbol asc — total order).
    *
    * Scale: the merge loop stays |vocab|-sized; the corpus-sized work is
    * one equi-join of the positional token stream against the dictionary
    * (same shape as [[graft.ops.Clean]]'s vocab-id join) plus a per-doc
    * re-sort of (token_pos, symbol_pos) pairs. The id-assigning global
    * window runs over the symbol vocabulary — alphabet + merges, dozens
    * of rows — never over the corpus. */
  def bpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val (trained, _) = bpeTrain(spark, sfDir)
    val singles = docs(spark, sfDir)
      .select(explode(col("toks")).as("w"))
      .filter(length(col("w")) === 1)
      .distinct()
      .withColumn("sym", col("w"))
    val enc = trained.select("w", "sym").unionByName(singles)
    // the symbol stream feeds BOTH the vocabulary count and the final
    // render; persisting it runs the training chain + dictionary join
    // once (at cluster scale this is the frame you'd checkpoint)
    val symOcc = docs(spark, sfDir)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("p", "w")))
      .join(enc, Seq("w"))
      .select(col("doc_id"), col("p"),
        posexplode(split(col("sym"), " ")).as(Seq("q", "sy")))
      // session-shared, NOT QueryLocal: q_bpe_encode and
      // q_tokenizer_fertility both build this exact plan (CacheManager
      // dedupes to one entry) — a per-query release here cold-starts the
      // other consumer, measured 1.3 s -> 3.0 s warm in BENCH pass 2
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = symOcc.groupBy("sy").agg(count(lit(1)).as("n"))
      .withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("sy").asc)).cast("long"))
      .select("sy", "id")
    symOcc.join(broadcast(vocab), Seq("sy"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_syms"),
        expr("transform(array_sort(collect_list(struct(p, q, id))), x -> x.id)")
          .as("sym_ids"))
      .select(col("doc_id"), col("n_syms"), col("sym_ids"))
      .orderBy("doc_id")
  }

  /** Tokenizer FERTILITY by source — the standard tokenizer-evaluation
    * metric (symbols emitted per word; chars carried per symbol): high
    * fertility on a source means the learned merges serve it poorly and
    * its token budget inflates. Builds on [[bpeEncode]]'s per-doc symbol
    * counts; word/char counts cover exactly the encodable tokens
    * (length ≥ 1), so the ratios are conservation-consistent with the
    * encoder. All-integer sums; two final IEEE divisions. */
  def tokenizerFertility(spark: SparkSession, sfDir: String): DataFrame = {
    val enc = bpeEncode(spark, sfDir).select("doc_id", "n_syms")
    val meta = docs(spark, sfDir).select(col("doc_id"), col("source"),
      expr("size(filter(toks, t -> length(t) >= 1))").cast("long")
        .as("n_words"),
      expr("""aggregate(filter(toks, t -> length(t) >= 1),
        |  CAST(0 AS BIGINT), (a, t) -> a + length(t))""".stripMargin)
        .cast("long").as("n_chars"))
    enc.join(meta, Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_syms").as("n_syms"),
        sum("n_words").as("n_words"), sum("n_chars").as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_syms"), col("n_words"),
        round(col("n_syms").cast("double") / col("n_words").cast("double"), 6)
          .as("fertility"),
        round(col("n_chars").cast("double") / col("n_syms").cast("double"), 6)
          .as("chars_per_sym"))
      .orderBy("source")
  }

  /** Unigram-LM quality signals, self-trained on the corpus itself (the
    * log-free core of a CCNet-style perplexity filter): per document, the
    * average corpus frequency of its tokens, the rare-token share
    * (corpus count ≤ [[RareCount]]), and the rarest token's count — low
    * averages + high rare share mark gibberish and OCR noise, the documents
    * a perplexity filter would drop.
    *
    * No logarithms by design (`ln` is not exactly rounded — house rule);
    * each output is exact integer aggregates joined by one IEEE division,
    * so the oracle matches bit-for-bit.
    *
    * Scale shape: tokens collapse to per-(doc, token) counts BEFORE the
    * vocabulary join, so the join input is distinct doc-terms, not token
    * occurrences, and hot stopwords amplify nothing. Both the vocabulary
    * count and the per-doc rollup combine map-side. */
  val RareCount = 2L

  def unigramQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val docTok = docs(spark, sfDir)
      .filter(col("text").isNotNull && expr("size(toks) >= 1"))
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("k"))
    val vocab = docTok.groupBy("tok").agg(sum("k").as("cnt"))
    docTok.join(vocab, Seq("tok"))
      .groupBy("doc_id")
      .agg(sum("k").as("n_toks"),
        sum(col("k") * col("cnt")).as("sum_cnt"),
        sum(when(col("cnt") <= RareCount, col("k")).otherwise(0L)).as("n_rare"),
        min("cnt").as("min_cnt"))
      .select(col("doc_id"), col("n_toks"), col("min_cnt"),
        round(col("sum_cnt").cast("double") / col("n_toks").cast("double"), 6)
          .as("avg_tok_count"),
        round(col("n_rare").cast("double") / col("n_toks").cast("double"), 6)
          .as("rare_frac"))
      .orderBy("doc_id")
  }

  /** Distinct 3-word shingles per document, one ARRAY row per doc — the
    * compact cacheable form; consumers re-explode from cache so
    * multi-consumer plans tokenize once. Docs shorter than 3 tokens are
    * excluded (both engines).
    *
    * Session-SHARED (not query-local): this is the spine input of the
    * whole text-dedup family — a dozen catalog entries (MinHash
    * signatures/pairs/clusters, set-sim join, containment, Jaccard,
    * n-gram novelty, LSH tuning, fingerprints, decontamination) all start
    * from the same tokenize+shingle pass, and per-query release made each
    * of them re-pay it (r8 bench: 3-6× on every shingle consumer). One
    * compact array row per doc (MEMORY_AND_DISK — spills, never OOMs), on
    * a cluster an explicitly managed scan-once cache of the corpus. */
  def shinglesArr(spark: SparkSession, sfDir: String): DataFrame =
    Shared.frame(spark, sfDir, "shingles_arr")(
      docs(spark, sfDir)
        .filter(expr("size(toks) >= 3"))
        .select(col("doc_id"), expr(
          """array_distinct(transform(sequence(0, size(toks) - 3),
            |  i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))""".stripMargin)
          .as("shs")))

  /** Distinct 3-word shingles per document, exploded — the base for
    * fingerprinting and MinHash ([[Dedup]]). */
  def shingles(spark: SparkSession, sfDir: String): DataFrame =
    shinglesArr(spark, sfDir)
      .select(col("doc_id"), explode(col("shs")).as("sh"))

  /** Document fingerprint: min-hash-of-shingles (winnowing-style content
    * signature — equal fingerprints ⇒ near-identical leading content) plus
    * the distinct-shingle count. */
  def fingerprints(spark: SparkSession, sfDir: String): DataFrame =
    shingles(spark, sfDir)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), min(md5(col("sh"))).as("fingerprint"))
      .orderBy("doc_id")

  /** N-gram novelty screen: per document, the share of its distinct
    * 3-shingles that occur in NO other document (corpus df = 1), in
    * integer per-mille. High novelty marks original content worth
    * upweighting; near-zero novelty marks boilerplate/templated text — the
    * memorization-risk complement to the dedup family (a doc can evade
    * near-dup joins while still being assembled from corpus-common
    * n-grams).
    *
    * One inverted-index df aggregation + one join back on the shingle key
    * — the same shuffle shape as the Jaccard index build, O(shingles). */
  def ngramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingles(spark, sfDir)
    val df = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    sh.join(df, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty_pml", expr("n_unique * 1000 div n_shingles"))
      .orderBy("doc_id")
  }

  // ── WordPiece-style greedy longest-match tokenizer ──

  /** Longest piece the WordPiece vocabulary may contain. */
  val WpMaxPiece = 4

  /** Multi-char vocabulary budget (singles ride along for totality). */
  val WpVocabK = 60

  /** Words longer than this map to `[UNK]` — WordPiece's
    * max_input_chars_per_word guard, scaled to this corpus. */
  val WpMaxWord = 16

  /** Weighted distinct-word table `(w, c)` — the working set every
    * tokenizer op here iterates over (corpus-sized work collapses to
    * vocabulary-sized work before any loop runs). */
  private def wpWords(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(explode(col("toks")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("c"))

  /** WordPiece-style vocabulary TRAINING, frequency-ranked: the top
    * [[WpVocabK]] substrings of length 2..[[WpMaxPiece]] over the
    * count-weighted distinct-word table, plus every single character
    * (rank 0) so greedy matching is total. Real WordPiece scores merges
    * by likelihood gain; the frequency proxy keeps the whole train
    * integer-exact and oracle-checkable while producing the same KIND of
    * vocabulary (common stems/affixes beat rare long strings). The `##`
    * continuation marking is deliberately dropped — one shared piece
    * table instead of position-split ones; documented divergence, not an
    * accident.
    *
    * Scale shape: substring enumeration runs over DISTINCT words weighted
    * by count — |vocab|·len·[[WpMaxPiece]] rows, not corpus tokens; one
    * map-side-combined groupBy + a [[WpVocabK]]-row TakeOrdered. */
  def wordpieceVocab(spark: SparkSession, sfDir: String): DataFrame = {
    val words = wpWords(spark, sfDir)
    val multis = words
      .filter(length(col("w")) >= 2)
      .select(col("c"), explode(expr(
        s"""flatten(transform(sequence(2, least($WpMaxPiece, length(w))),
           |  L -> transform(sequence(1, length(w) - L + 1),
           |       i -> substring(w, i, L))))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum("c").as("n"))
      .orderBy(col("n").desc, col("piece").asc)
      .limit(WpVocabK)
    multis
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("piece").asc)).cast("long"))
      .select("rnk", "piece", "n")
      .orderBy("rnk")
  }

  /** The full matching table: ranked multis plus every observed single
    * character (always matchable, so segmentation cannot dead-end). */
  private def wpMatchTable(spark: SparkSession, sfDir: String): DataFrame = {
    val words = wpWords(spark, sfDir)
    val singles = words
      .select(explode(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
        .as("piece"))
      .distinct()
    wordpieceVocab(spark, sfDir).select("piece")
      .unionByName(singles).distinct()
  }

  /** WordPiece-style ENCODING — greedy longest-match-first segmentation
    * of every distinct word against [[wordpieceVocab]] (the WordPiece
    * inference algorithm; Devlin et al. 2019, tokenization appendix).
    * Words longer than [[WpMaxWord]] become `[UNK]` like real WordPiece's
    * per-word char guard. Greedy is deterministic: at each position take
    * the LONGEST vocabulary piece; singles guarantee progress, so exactly
    * `len(w)` rounds bound any word.
    *
    * The loop is state-table iteration, not recursion: `(w, c, pos, acc,
    * np)` rows advance one piece per round; done rows pass through.
    * Per round: one explode into ≤[[WpMaxPiece]] candidate substrings,
    * one broadcast semi-join against the piece table, one max-length
    * groupBy keyed by the word — all vocabulary-sized. Every 4th round is
    * lineage-cut ([[graft.ops.LineageCut]]) so the 16-round plan tree
    * stays linear. Corpus-sized cost appears nowhere: encoding a document
    * stream would be one dictionary join against this table, exactly like
    * [[bpeEncode]]'s lookup. */
  def wordpieceEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = wpMatchTable(spark, sfDir)
    val words = wpWords(spark, sfDir)
    val unk = words.filter(length(col("w")) > WpMaxWord)
      .select(col("w"), col("c"), lit(1L).as("n_pieces"),
        lit("[UNK]").as("pieces"))
    var state = words.filter(length(col("w")) <= WpMaxWord)
      .select(col("w"), col("c"), lit(1).as("pos"), lit("").as("acc"),
        lit(0L).as("np"))
    for (r <- 1 to WpMaxWord) {
      val active = state.filter(col("pos") <= length(col("w")))
      val done = state.filter(col("pos") > length(col("w")))
      val best = active
        .select(col("w"), col("pos"), explode(expr(
          s"transform(sequence(1, least($WpMaxPiece, length(w) - pos + 1))," +
            " L -> substring(w, pos, L))")).as("piece"))
        .withColumn("len_l", length(col("piece")))
        .join(broadcast(vocab), Seq("piece"), "left_semi")
        .groupBy("w").agg(max(col("len_l")).as("bl"))
      val stepped = active.join(best, Seq("w"))
        .select(col("w"), col("c"), (col("pos") + col("bl")).as("pos"),
          concat(col("acc"),
            when(col("acc") === "", lit("")).otherwise(lit(" ")),
            expr("substring(w, pos, bl)")).as("acc"),
          (col("np") + 1L).as("np"))
      state = stepped.unionByName(done)
      if (r % 4 == 0) state = LineageCut.cut(state)
    }
    state
      .select(col("w"), col("c"), col("np").as("n_pieces"),
        col("acc").as("pieces"))
      .unionByName(unk)
      .orderBy("w")
  }

  /** WordPiece ENCODING of the document stream — the corpus-sized half,
    * exactly [[bpeEncode]]'s shape: the trained per-word segmentation is
    * a dictionary, encoding is one equi-join of the positional token
    * stream against it (never a re-scan), and piece ids rank the
    * frequency-weighted piece table (count desc, piece asc; `[UNK]` is
    * id 0). Output per doc: piece count + the id sequence in
    * (token_pos, piece_pos) order. */
  def wordpieceDocs(spark: SparkSession, sfDir: String,
      enc: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val encode = enc.getOrElse(wordpieceEncode(spark, sfDir))
    val ids = unigramPieceCounts(spark, sfDir)
      .withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("piece").asc)).cast("long"))
      .select("piece", "id")
      .unionByName(Seq(("[UNK]", 0L)).toDF("piece", "id"))
    docs(spark, sfDir)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("p", "w")))
      .join(encode.select("w", "pieces"), Seq("w"))
      .select(col("doc_id"), col("p"),
        posexplode(split(col("pieces"), " ")).as(Seq("q", "piece")))
      .join(broadcast(ids), Seq("piece"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pieces"),
        expr("transform(array_sort(collect_list(struct(p, q, id)))," +
          " x -> x.id)").as("piece_ids"))
      .orderBy("doc_id")
  }

  // ── Unigram-style OPTIMAL segmentation (the DP contrast to greedy) ──

  /** Piece table with frequencies: the ranked multis of
    * [[wordpieceVocab]] plus every single character weighted by its
    * corpus occurrence count (disjoint by construction — multis are
    * length ≥ 2). The score source for [[unigramSegment]]. */
  def unigramPieceCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val singles = wpWords(spark, sfDir)
      .select(col("c"), explode(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
        .as("piece"))
      .groupBy("piece").agg(sum("c").as("n"))
    wordpieceVocab(spark, sfDir).select("piece", "n")
      .unionByName(singles)
  }

  /** OPTIMAL segmentation over the same piece vocabulary WordPiece scans
    * greedily: per distinct word, the segmentation with the FEWEST
    * pieces, ties broken by the HIGHEST total piece frequency, then by
    * lexicographically-smallest piece sequence (a total order, so both
    * engines pick the identical optimum). This is the dynamic program a
    * unigram-LM tokenizer (Kudo 2018 / SentencePiece) runs at inference,
    * with integer piece frequencies standing in for log-probabilities —
    * the house log-free spelling (same move as the KN-LM doc scorer);
    * the ranking intent (prefer fewer, more frequent pieces) is the
    * same, the arithmetic is exactly reproducible. Oversized words map
    * to `[UNK]` as in [[wordpieceEncode]].
    *
    * Shape: suffix-DP as bounded relaxation — `best(w, pos)` = optimal
    * segmentation of the suffix from `pos`, relaxed [[WpMaxWord]]
    * rounds (a word of length L converges after L rounds; singles make
    * every position reachable). State is Σ len(w) rows over DISTINCT
    * words; each round is one candidate explode (≤[[WpMaxPiece]] per
    * position), one broadcast join against the piece table, one
    * min_by-keyed aggregation — all vocabulary-sized, nothing
    * corpus-sized. The composite order key is a fixed-width string
    * (zero-padded k, zero-padded inverted score, then the piece string)
    * so ONE `min_by` implements the three-level comparator identically
    * in both engines. */
  def unigramSegment(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = unigramPieceCounts(spark, sfDir)
    val words = wpWords(spark, sfDir)
    val unk = words.filter(length(col("w")) > WpMaxWord)
      .select(col("w"), col("c"), lit(1L).as("n_pieces"),
        lit(0L).as("score"), lit("[UNK]").as("pieces"))
    val inWords = words.filter(length(col("w")) <= WpMaxWord)
    val positions = inWords
      .select(col("w"), explode(expr("sequence(1, length(w))")).as("pos"))
    val keyExpr = "concat(lpad(CAST(k AS STRING), 2, '0')," +
      " lpad(CAST(1000000000000 - score AS STRING), 13, '0'), acc)"
    var best = inWords
      .select(col("w"), (length(col("w")) + 1).as("pos"),
        lit(0L).as("k"), lit(0L).as("score"), lit("").as("acc"))
    for (r <- 1 to WpMaxWord) {
      val stepped = positions
        .select(col("w"), col("pos"),
          explode(expr(s"transform(sequence(1," +
            s" least($WpMaxPiece, length(w) - pos + 1))," +
            s" L -> struct(L AS l, substring(w, pos, L) AS piece))"))
            .as("cl"))
        .select(col("w"), col("pos"), col("cl.l").as("l"),
          col("cl.piece").as("piece"))
        .join(broadcast(vocab), Seq("piece"))
        .join(best.select(col("w"), col("pos").as("bpos"),
          col("k").as("bk"), col("score").as("bscore"),
          col("acc").as("bacc")), Seq("w"))
        .filter(col("bpos") === col("pos") + col("l"))
        .select(col("w"), col("pos"), (col("bk") + 1L).as("k"),
          (col("bscore") + col("n")).as("score"),
          concat(col("piece"),
            when(col("bacc") === "", lit("")).otherwise(lit(" ")),
            col("bacc")).as("acc"))
      val merged = best.unionByName(stepped)
        .withColumn("okey", expr(keyExpr))
        .groupBy("w", "pos")
        .agg(min_by(col("k"), col("okey")).as("k"),
          min_by(col("score"), col("okey")).as("score"),
          min_by(col("acc"), col("okey")).as("acc"))
      best = if (r % 4 == 0) LineageCut.cut(merged) else merged
    }
    best.filter(col("pos") === 1)
      .join(inWords, Seq("w"))
      .select(col("w"), col("c"), col("k").as("n_pieces"),
        col("score"), col("acc").as("pieces"))
      .unionByName(unk)
      .orderBy("w")
  }

  /** Language-ID confusion rollup: the n-gram classifier's predictions
    * against the corpus's ground-truth `lang` labels — per (actual,
    * predicted) cell count and its share of the actual language's docs in
    * exact ppm. The lang-ID counterpart of the centroid classifier's
    * confusion matrix; what a corpus builder checks before trusting the
    * detector to route languages. */
  def langIdEval(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    langId(spark, sfDir)
      .groupBy("actual_lang", "predicted_lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("n_actual",
        sum(col("n")).over(Window.partitionBy("actual_lang")))
      .withColumn("share_ppm", expr("n * 1000000 div n_actual"))
      .orderBy("actual_lang", "predicted_lang")
  }
}
