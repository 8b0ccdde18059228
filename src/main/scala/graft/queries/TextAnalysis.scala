package graft.queries

import graft.Tables
import graft.text.TextOps
import graft.text.TextOps.P
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize.Ops

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, stopword-profile language ID, and rolling-hash document
  * fingerprinting. All per-row narrow transforms (zero shuffles before the
  * final deterministic order-by), codegen'd native functions only — at
  * 100 TB these run at scan speed, embarrassingly parallel.
  *
  * Every computed number is integer/decimal so the DuckDB oracle matches
  * bit-exactly (double ratios are emitted as exact DECIMAL divisions).
  */
object TextAnalysis extends graft.GateFamily {

  private def idiv(a: Column, b: Column): Column = TextOps.idiv(a, b)

  /** Token counting + quality metrics, per document. Ratios are emitted as
    * ×10000 scaled integers — identical in any engine, no decimal-division
    * scale/rounding divergence.
    */
  def qTextStats(s: SparkSession, d: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), toks.as("toks"), col("text"))
      .select(
        col("doc_id"), col("lang"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct_tokens"),
        length(col("text")).as("n_chars_computed"),
        TextOps.markerCount(col("toks"), TextOps.LangMarkers("en")).as("n_stopwords"),
        idiv(sum_chars(col("toks")) * 10000L, size(col("toks"))).as("avg_token_len_x10000"),
        idiv(size(array_distinct(col("toks"))) * lit(10000L), size(col("toks"))).as("ttr_x10000"))
      .orderBy(col("doc_id"))
  }

  /** Sum of token lengths (chars excluding separators). */
  private def sum_chars(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => acc + length(t))

  /** BPE-ish subword pattern: letter runs capped at 4 chars (crude merge
    * budget), digit runs, or single non-space symbols — a stand-in with
    * the same shape as a real BPE pre-tokenizer, expressible identically
    * in both engines.
    */
  val BpePattern = "[a-z]{1,4}|[A-Z][a-z]{0,3}|[0-9]{1,3}|[^a-zA-Z0-9\\s]"

  /** Token counting, whitespace vs BPE-ish regex, per document: the
    * token-budget accounting pass of a corpus pipeline.
    */
  def qTokenCounts(s: SparkSession, d: String): DataFrame = {
    val ws = TextOps.tokens(col("text"))
    val bpe = regexp_extract_all(col("text"), lit(BpePattern), lit(0))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(ws).as("n_ws_tokens"),
        size(bpe).as("n_bpe_tokens"),
        size(array_distinct(bpe)).as("n_bpe_distinct"),
        idiv(size(bpe) * 10000L, greatest(size(ws), lit(1))).as("bpe_per_word_x10000"))
      .orderBy(col("doc_id"))
  }

  /** Integer 0–100 quality score over a frame with (text, n_chars) —
    * SHARED by [[qQualityScore]] and [[Curation.qCurationPipeline]] so the
    * band thresholds cannot drift between the stage query and the
    * composed pipeline.
    */
  private[queries] def qualityScoreExpr: Column = {
    val toks = TextOps.tokens(col("text"))
    val nTok = size(toks)
    val ttrPct = idiv(size(array_distinct(toks)) * lit(100L), nTok)
    val stopPct = idiv(TextOps.markerCount(toks, TextOps.LangMarkers("en")) * lit(100L), nTok)
    val lenScore = when(col("n_chars") >= 200 && col("n_chars") <= 450, lit(40))
      .when(col("n_chars") >= 100, lit(25)).otherwise(lit(10))
    val divScore = when(ttrPct >= 60, lit(30)).when(ttrPct >= 40, lit(20)).otherwise(lit(5))
    val stopScore = when(stopPct >= 2 && stopPct <= 20, lit(30)).otherwise(lit(10))
    lenScore + divScore + stopScore
  }

  /** DuckDB twin of [[qualityScoreExpr]] over CTE columns
    * (n_chars, toks) — shared with the pipeline oracle.
    */
  private[queries] lazy val qualityScoreSql: String =
    s"""(CASE WHEN n_chars >= 200 AND n_chars <= 450 THEN 40
       |        WHEN n_chars >= 100 THEN 25 ELSE 10 END)
       |  + (CASE WHEN len(list_distinct(toks))*100//len(toks) >= 60 THEN 30
       |          WHEN len(list_distinct(toks))*100//len(toks) >= 40 THEN 20
       |          ELSE 5 END)
       |  + (CASE WHEN len(list_filter(toks, x -> x IN ($enMarkers)))*100//len(toks)
       |          BETWEEN 2 AND 20 THEN 30 ELSE 10 END)""".stripMargin

  /** Quality scoring: integer 0–100 from length / stopword / diversity
    * bands, then per-(lang, band) distribution. Demonstrates the
    * scan→narrow-score→tiny-shuffle aggregate shape a corpus filter runs at
    * scale: the groupBy output is O(bands × langs), so partial aggregation
    * collapses nearly everything map-side.
    */
  def qQualityScore(s: SparkSession, d: String): DataFrame = {
    val score = qualityScoreExpr
    Tables.documents(s, d)
      .select(col("lang"),
        when(score >= 80, "high").when(score >= 50, "medium").otherwise("low").as("band"))
      .groupBy(col("lang"), col("band"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("band"))
  }

  /** Stopword-profile language identification: count marker hits per
    * language profile, classify by max count (deterministic tie-break on
    * language name), "und" when nothing matches. The marker lists live in
    * the plan as literals — the classic broadcast-free approach.
    */
  def qLangId(s: SparkSession, d: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val scoreCols = Seq(col("doc_id"), col("lang").as("labeled_lang")) ++
      TextOps.LangMarkers.toSeq.sortBy(_._1).map { case (l, m) =>
        TextOps.markerCount(toks, m).as(s"s_$l")
      }
    val scored = Tables.documents(s, d).select(scoreCols: _*)
    val langs = TextOps.LangMarkers.keys.toSeq.sorted
    val best = langs.map(l => col(s"s_$l")).reduce((a, b) => greatest(a, b))
    // first language (alphabetical) achieving the max, else und
    val pred = langs.foldRight(lit("und"): Column) { (l, acc) =>
      when(col(s"s_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    scored
      .select(col("doc_id"), col("labeled_lang"), pred.as("pred_lang"),
        best.cast("int").as("marker_hits"))
      .orderBy(col("doc_id"))
  }

  // Gopher-style rule thresholds (shared with the spec). Word-count and
  // mean-length bands are tuned to the corpus so both outcomes occur;
  // alpha/symbol rules are the published ≥80% / ≤10% bounds.
  val RuleMinWords = 20L
  val RuleMaxWords = 80L
  val RuleMinMeanLenX100 = 400L
  val RuleMaxMeanLenX100 = 520L
  val RuleMinAlphaX10000 = 8000L
  val RuleMaxSymbolX10000 = 1000L
  val RuleMinStopwords = 2

  /** Gopher-style rule-set document filter: per-document booleans for the
    * classic quality rules (word count band, mean word length band,
    * ≥80% alphabetic words, ≤10% pure-symbol words, ≥2 stopword hits) and
    * their conjunction. Unlike [[qQualityScore]]'s banded score, this is
    * the keep/drop *rule* form curation pipelines compose. Entirely
    * per-row — one narrow scan, zero shuffles before the presentation
    * sort; at 100 TB it runs at scan speed.
    */
  def qGopherRules(s: SparkSession, d: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        idiv(sum_chars(col("toks")) * 100L, size(col("toks"))).as("mean_len_x100"),
        idiv(size(filter(col("toks"), t => t.rlike("[a-zA-Z]"))) * lit(10000L),
          size(col("toks"))).as("alpha_x10000"),
        idiv(size(filter(col("toks"), t => t.rlike("^[^a-zA-Z0-9]+$"))) * lit(10000L),
          size(col("toks"))).as("symbol_x10000"),
        TextOps.markerCount(col("toks"), TextOps.LangMarkers("en")).as("stop_hits"))
      .withColumn("r_word_count",
        col("n_tokens").between(RuleMinWords, RuleMaxWords))
      .withColumn("r_mean_len",
        col("mean_len_x100").between(RuleMinMeanLenX100, RuleMaxMeanLenX100))
      .withColumn("r_alpha", col("alpha_x10000") >= RuleMinAlphaX10000)
      .withColumn("r_symbol", col("symbol_x10000") <= RuleMaxSymbolX10000)
      .withColumn("r_stopwords", col("stop_hits") >= RuleMinStopwords)
      .withColumn("passes",
        col("r_word_count") && col("r_mean_len") && col("r_alpha") &&
          col("r_symbol") && col("r_stopwords"))
      .orderBy(col("doc_id"))
  }

  /** Repetition / boilerplate signals per document (the Gopher-rules family
    * of repetition filters): duplicate-token fraction and most-frequent-
    * 2-gram share. Shape at scale: ENTIRELY per-row — the 2-gram mode is a
    * run-length fold over the row's own sorted gram array, so the whole
    * operator is one narrow scan with zero shuffles before the
    * presentation sort (the explode+groupBy formulation pays a corpus-wide
    * (doc,gram) shuffle for what is a within-row statistic).
    */
  def qRepetition(s: SparkSession, d: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    // adjacent (non-distinct) 2-grams; sequence(1,0) is DESCENDING in
    // Spark, so the <2-token case must be guarded to an empty list
    val grams = when(size(col("toks")) >= 2,
      transform(sequence(lit(1), size(col("toks")) - 1),
        i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1))))
      .otherwise(typedLit(Seq.empty[String]))
    // mode of the sorted array: equal grams are adjacent, so one fold
    // tracking (prev, run, best_n, best_g) finds the longest run; a later
    // gram replaces only on a STRICTLY longer run, so ties keep the
    // lexicographically smallest gram — exactly row_number()=1 under
    // (count DESC, gram ASC) in the oracle's formulation
    val zero = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("best_n"), lit("").as("best_g"))
    val mode = aggregate(array_sort(col("grams")), zero,
      (acc, g) => {
        val run = when(g === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(g.as("prev"), run.as("run"),
          when(run > acc.getField("best_n"), run)
            .otherwise(acc.getField("best_n")).as("best_n"),
          when(run > acc.getField("best_n"), g)
            .otherwise(acc.getField("best_g")).as("best_g"))
      })
    Tables.documents(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        grams.as("grams"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        mode.getField("best_g").as("top_2gram"),
        mode.getField("best_n").as("top_2gram_n"))
      .select(
        col("doc_id"), col("n_tokens"),
        idiv((col("n_tokens") - col("n_distinct")) * 10000L, col("n_tokens"))
          .as("dup_token_x10000"),
        col("top_2gram"),
        col("top_2gram_n"),
        coalesce(
          idiv(col("top_2gram_n") * 10000L,
            nullif((col("n_tokens") - 1).cast("long"), lit(0L))), lit(0L))
          .as("top_2gram_x10000"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprinting: md5 of the normal form plus an order-sensitive
    * polynomial rolling hash over token hashes (mod 2^31-1) — two documents
    * with the same token multiset in different order fingerprint differently.
    */
  def qDocFingerprint(s: SparkSession, d: String): DataFrame = {
    val toks = TextOps.tokens(TextOps.normText(col("text")))
    val rolling = aggregate(
      toks, lit(0L),
      (acc, t) => pmod(acc * lit(31L) + TextOps.hashP(t), lit(P)))
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        md5(TextOps.normText(col("text"))).as("md5_fp"),
        rolling.as("rolling_fp"))
      .orderBy(col("doc_id"))
  }

  /** Corpus vocabulary statistics: per-term document frequency and
    * collection frequency, top 50 by collection frequency — the input
    * table of a tokenizer-training (BPE/unigram) run and of idf weights.
    *
    * Scale shape: two shuffles, both shrinking — (term, doc) partial
    * counts combine map-side before the first exchange (a doc's repeats
    * of a term never leave the mapper), then the per-term rollup groups
    * the already-deduplicated pairs. The top-50 is
    * TakeOrderedAndProject, never a global sort of the vocabulary.
    */
  def qVocabStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("doc_freq"), sum(col("n")).as("coll_freq"))
      .orderBy(col("coll_freq").desc, col("token"))
      .limit(50)

  /** Vocabulary size for the OOV-rate check. */
  val OovVocabSize = 1000

  /** Vocabulary coverage / OOV rate: build the corpus's own top-
    * [[OovVocabSize]] token vocabulary (by collection frequency,
    * deterministic tie-break on token), then report per document how many
    * token positions fall outside it — the "will my tokenizer fragment
    * this document" health check run before committing a vocab, and a
    * quality signal in its own right (gibberish is OOV-dense).
    *
    * Scale shape: the vocabulary aggregate is map-side combined and its
    * top-k is TakeOrderedAndProject (never a global sort of the term
    * space); the resulting k-row table broadcasts into the coverage join,
    * so the scoring pass is one narrow scan + one doc-keyed aggregate.
    * The corpus is tokenized twice (vocab pass, coverage pass) — at scale
    * that beats materializing the exploded (doc, token) frame, which is
    * tokens-×-8-bytes of shuffle/cache traffic.
    */
  def qOovRate(s: SparkSession, d: String): DataFrame = {
    def exploded = Tables.documents(s, d)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
    val vocab = exploded.groupBy(col("token"))
      .agg(count(lit(1)).as("cf"))
      .orderBy(col("cf").desc, col("token"))
      .limit(OovVocabSize)
      .select(col("token"), lit(1).as("in_vocab"))
    exploded
      .join(broadcast(vocab), Seq("token"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        idiv(col("n_oov") * 10000L, col("n_tokens")).as("oov_x10000"))
      .orderBy(col("doc_id"))
  }

  /** Bigram-LM fluency score (the CCNet-style "perplexity proxy" pass of
    * a corpus filter), integer-exact: the corpus itself is the LM.
    *
    *   score(doc) = ⌊ Σ_{bigram occurrences g} ⌊B(g)·10000 / U(first(g))⌋
    *                  / n_bigrams ⌋
    *
    * where B is the corpus bigram count and U the corpus unigram count —
    * a scaled conditional-probability average, monotone in the real
    * bigram log-likelihood's per-gram ratios but engine-exact (no log,
    * no float sums). Repetitive/common word sequences score high;
    * unusual sequences score low.
    *
    * Scale shape: both LM tables are map-side-combined aggregates keyed
    * by gram/token (partial counts collapse within each task); scoring
    * joins the exploded doc bigrams against them — un-hinted, so AQE
    * broadcasts the LM tables while they fit and degrades to key-
    * partitioned joins on an open-vocabulary corpus — then one doc-keyed
    * aggregate. No corpus self-join anywhere.
    */
  def qLmScore(s: SparkSession, d: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val grams = when(size(col("toks")) >= 2,
      transform(sequence(lit(1), size(col("toks")) - 1),
        i => struct(
          element_at(col("toks"), i).as("w1"),
          concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1)).as("gram"))))
      .otherwise(typedLit(Seq.empty[(String, String)])
        .cast("array<struct<w1:string,gram:string>>"))
    val docGrams = Tables.documents(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), explode(grams).as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"), col("g.gram").as("gram"))
      .stage() // feeds the B table AND the scoring join
    val bTab = docGrams.groupBy(col("gram")).agg(count(lit(1)).as("b"))
    val uTab = Tables.documents(s, d)
      .select(explode(TextOps.tokens(col("text"))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("u"))
    docGrams
      .join(bTab, "gram")
      .join(uTab, "w1")
      .select(col("doc_id"), idiv(col("b") * 10000L, col("u")).as("fx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("fx")).as("sum_fx"))
      .select(col("doc_id"), col("n_bigrams"),
        idiv(col("sum_fx"), col("n_bigrams")).as("lm_score_x10000"))
      .orderBy(col("doc_id"))
  }

  /** Held-out split selector for [[qKnHeldoutLm]]: doc_id % KnTrainMod
    * == KnTrainRem trains the LM, everything else is scored. The slice
    * is deliberately SMALL (≈0.1% of docs) so the held-out side really
    * contains bigrams the train slice never saw — the regime where
    * smoothing is load-bearing, not decorative (the corpus's 31-word
    * stock saturates bigram coverage under any large train split).
    */
  val KnTrainMod = 1000L
  val KnTrainRem = 7L
  /** Probability scale for the KN scores (×10⁶). */
  val KnScale = 1000000L

  /** HELD-OUT Kneser–Ney-smoothed bigram LM scoring — the CCNet corpus-
    * filter design (Wenzek et al. 2020): train a small clean LM, score
    * the rest of the corpus with it, keep what the LM finds fluent.
    * Unlike [[qLmScore]] (the corpus is its own LM, so every scored
    * bigram is seen by construction), the held-out split genuinely
    * contains UNSEEN bigrams and unseen first-words, so the smoothing
    * arms carry real mass:
    *
    *   P(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁)
    *              + D·N₁₊(w₁,·)/c(w₁) · N₁₊(·,w₂)/N₁₊(··)      (c(w₁)>0)
    *   P(w₂|w₁) = N₁₊(·,w₂)/N₁₊(··)                            (c(w₁)=0)
    *
    * with absolute discount D = 3/4 (the standard KN value, exact in
    * quarters: 4c−3 over 4·c(w₁)) and the continuation distribution
    * N₁₊(·,w₂)/N₁₊(··) as the backoff — "how many contexts does w₂
    * follow", the KN insight. All arithmetic is exact int64: each term
    * is a separately floored scaled ratio mirrored term-for-term in the
    * oracle, so both engines floor identically (the [[Curation
    * .qDsirSample]] convention — cross-engine exactness over algebraic
    * elegance). `n_unseen` rides in the output as the smoothing
    * witness: rows where the scored bigram has no train count.
    *
    * Scale shape: the LM tables are vocab²-bounded aggregates of the
    * TRAIN slice only (map-side combined); scoring is one pass over the
    * held-out bigrams with broadcast LM joins (un-hinted — AQE degrades
    * to key-partitioned joins on an open vocabulary) and one doc-keyed
    * aggregate. The train/score asymmetry is the production shape: the
    * LM is small and clean, the scored corpus is the 100 TB side.
    */
  def qKnHeldoutLm(s: SparkSession, d: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val grams = when(size(col("toks")) >= 2,
      transform(sequence(lit(1), size(col("toks")) - 1),
        i => struct(
          element_at(col("toks"), i).as("w1"),
          element_at(col("toks"), i + 1).as("w2"))))
      .otherwise(typedLit(Seq.empty[(String, String)])
        .cast("array<struct<w1:string,w2:string>>"))
    def bigrams(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), explode(grams).as("g"))
      .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"))
    val docs = Tables.documents(s, d)
    val isTrain = col("doc_id") % KnTrainMod === KnTrainRem
    val tb = bigrams(docs.filter(isTrain))
      .stage() // all four LM tables fold from it
    // loud guard (the DSIR-budget convention): an empty train slice
    // would put a zero continuation total in every backoff denominator
    // — NULL in Spark's non-ANSI div but an ERROR in DuckDB, an opaque
    // engine divergence. Impossible while doc_id ≡ 7 (mod 1000) exists
    // (true at every gated SF); the cliff names itself if the fixture
    // is ever regenerated without it.
    require(!tb.isEmpty,
      s"KN train slice empty: no doc with doc_id % $KnTrainMod == " +
        s"$KnTrainRem and >= 2 tokens in $d")
    val c12 = tb.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .stage() // the bigram join + nf/np/nbb rollups read it
    // c(w₁) = count of w₁ as bigram-FIRST (= Σ_w₂ c12), so term1+term2
    // is a true conditional distribution per seen w₁
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"),
      count(lit(1)).as("nf")) // N₁₊(w₁,·) rides the same rollup
    val np = c12.groupBy(col("w2")).agg(count(lit(1)).as("np"))
    val nbb = c12.agg(count(lit(1)).as("nbb"))
    val S = KnScale
    // every null (unseen bigram / first-word / second-word) coalesces to
    // a zero COUNT before the arithmetic, so each term floors exactly as
    // the oracle's COALESCE-mirrored expression does
    val term1 =
      expr(s"(greatest(4 * coalesce(c12, 0) - 3, 0) * $S) div (4 * c1)")
    val term2 = expr(s"(3 * nf * coalesce(np, 0) * $S) div (4 * c1 * nbb)")
    val backoff = expr(s"(coalesce(np, 0) * $S) div nbb")
    bigrams(docs.filter(!isTrain))
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .join(np, Seq("w2"), "left")
      .crossJoin(broadcast(nbb))
      .select(col("doc_id"),
        when(col("c12").isNull, 1L).otherwise(0L).as("unseen"),
        when(col("c1").isNotNull, term1 + term2)
          .otherwise(backoff).as("px"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("unseen")).as("n_unseen"),
        sum(col("px")).as("sum_px"))
      .select(col("doc_id"), col("n_bigrams"), col("n_unseen"),
        expr("sum_px div n_bigrams").as("kn_score_x1e6"))
      .orderBy(col("doc_id"))
  }

  /** Hashed-feature range for the classifier weights: 2001 buckets mapped
    * to integer weights in [-1000, 1000].
    */
  val ClassifierBuckets = 2001L

  /** Classifier-based quality filtering — the fasttext-shaped linear pass
    * a production corpus runs after the rule-based filters (the
    * GPT-3/LLaMA "quality classifier" stage): score(doc) = mean over
    * token occurrences of a per-token weight, keep iff score ≥ 0. The
    * feature-hashing trick is real (token → hash bucket → weight, no
    * vocabulary table shipped anywhere); the weight VALUES are a
    * deterministic stand-in derived from the same engine-agnostic md5
    * hash both engines compute, standing in for trained parameters the
    * same way the ANN hyperplanes stand in for a trained quantizer.
    *
    * Scale shape: pure narrow scan + one doc-keyed aggregate (map-side
    * combined) — no vocabulary broadcast, no join: the "model" is O(1)
    * code, which is exactly why production filters hash features instead
    * of joining an embedding table. Integer weights make the mean exact.
    */
  def qClassifierFilter(s: SparkSession, d: String): DataFrame = {
    val weight = TextOps.hash56(col("token")) % ClassifierBuckets - 1000L
    Tables.documents(s, d)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .select(col("doc_id"), weight.as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("sum_w"))
      // sum_w can be negative: truncate toward zero like DuckDB `//` does
      // for signed dividends (floor-idiv would round -0.4 down to -1)
      .withColumn("score_x1000",
        (col("sum_w") * 1000L / col("n_tokens")).cast("long"))
      .withColumn("verdict",
        when(col("score_x1000") >= 0, "keep").otherwise("drop"))
      .orderBy(col("doc_id"))
  }

  /** Score-band width (×1000 scale) for [[qQualityCalibration]]. */
  val CalibrationBand = 50000L

  /** Calibration of the learned quality filter against the rule-based
    * gold standard — the validation every production classifier filter
    * gets before rollout (the CCNet/LLaMA-style check: bucket the
    * classifier score, measure the rule-pass rate per bucket; a healthy
    * filter shows the rate rising with the score). Composes the two
    * gated stages verbatim; integer band + rate arithmetic keeps the
    * hash exact (`div` truncates toward zero, matching DuckDB `//`).
    *
    * Scale shape: both stages are one narrow scan + a doc-keyed
    * map-side-combined aggregate; the calibration join is doc-keyed
    * equi; the output is O(bands).
    */
  def qQualityCalibration(s: SparkSession, d: String): DataFrame =
    qClassifierFilter(s, d).select(col("doc_id"), col("score_x1000"))
      .join(qGopherRules(s, d).select(col("doc_id"), col("passes")),
        "doc_id")
      .select(expr(s"score_x1000 div $CalibrationBand").as("band"),
        col("passes"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("passes"), 1L).otherwise(0L)).as("n_gold_pass"))
      .withColumn("gold_rate_x10000",
        expr("n_gold_pass * 10000 div n_docs"))
      .orderBy(col("band"))

  /** Top-k for the BPE pair-count table. */
  val BpePairTopK = 50

  /** BPE pair counting — the inner loop of byte-pair-encoding tokenizer
    * training: count adjacent symbol pairs (here: character bigrams
    * within whitespace tokens, the iteration-0 alphabet) across the
    * corpus and surface the top merge candidates. A full BPE trainer
    * runs this repeatedly with merged symbols; one distributed iteration
    * is the primitive that makes corpus-scale training feasible.
    *
    * Scale shape: narrow explode → one pair-keyed aggregate whose
    * partials combine map-side (a shard's repeats of "th" collapse to
    * one row before the shuffle); the top-k is TakeOrderedAndProject,
    * never a global sort of the pair space.
    */
  def qBpePairs(s: SparkSession, d: String): DataFrame = {
    val pairs = transform(
      sequence(lit(1), length(col("token")) - 1),
      i => col("token").substr(i, lit(2)))
    Tables.documents(s, d)
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .filter(length(col("token")) >= 2) // guards sequence(1,0) descending
      .select(explode(pairs).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(BpePairTopK)
  }

  /** Per-SOURCE crawl scorecard: doc count, exact-dup rate, size, mean
    * quality, high-band share — the table a curation pipeline ranks its
    * ingestion sources by (keep/deprioritize/drop decisions). One
    * fingerprint window (the exact-dedup shuffle) + one source-keyed
    * aggregate; sources are few, so the aggregate collapses map-side.
    */
  def qSourceScorecard(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"),
        md5(TextOps.normText(col("text"))).as("fp"),
        qualityScoreExpr.as("q"))
      .withColumn("is_dup",
        (col("doc_id") =!= min(col("doc_id")).over(w)).cast("long"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("is_dup")).as("n_dups"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("q").cast("long")).as("qsum"),
        sum(when(col("q") >= 80, 1L).otherwise(0L)).as("n_high"))
      .select(col("source"), col("n_docs"), col("n_dups"),
        idiv(col("n_dups") * 10000L, col("n_docs")).as("dup_rate_x10000"),
        col("total_chars"),
        idiv(col("qsum") * 100L, col("n_docs")).as("mean_quality_x100"),
        col("n_high"))
      .orderBy(col("source"))
  }

  /** Merge rounds for [[qBpeTrain]] — the K of a BPE trainer, fixed so
    * the oracle unrolls to exactly K stages.
    */
  val BpeMerges = 6

  /** The training loop shared by [[qBpeTrain]] (emits the merge table)
    * and [[qBpeEncode]] (applies the merges). Returns the K merges in
    * order: (round, pair, merged token, weighted pair count).
    */
  private def bpeTrainMerges(s: SparkSession, d: String): Seq[(Int, String, String, Long)] = {
    var seg = Tables.documents(s, d)
      .select(explode(
        regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(
        concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("seg"),
        col("cnt"))
      .barrier() // vocab is the spine all K rounds re-scan
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (round <- 1 to BpeMerges) {
      val toks = split(trim(col("seg")), " ")
      val pairs = zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (x, y) => concat(x, lit(" "), y))
      val top = seg
        .select(explode(pairs).as("pair"), col("cnt"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("pair"))
        .limit(1).collect()
      if (top.nonEmpty) {
        val pair = top(0).getString(0)
        val c = top(0).getLong(1)
        merges += ((round, pair, pair.replace(" ", ""), c))
        seg = seg.select(
          replace(col("seg"), lit(s" $pair "),
            lit(s" ${pair.replace(" ", "")} ")).as("seg"),
          col("cnt"))
          .barrier() // O(K) round cost, not O(K²) replay chains
      }
    }
    merges.toSeq
  }

  /** Iterative BPE tokenizer TRAINING (Sennrich et al. 2016): K greedy
    * merge rounds, each picking the globally most frequent adjacent
    * symbol pair (count desc, pair asc tie-break) and merging it across
    * the vocabulary. [[qBpePairs]] is one round's counting; this is the
    * training loop a tokenizer pipeline actually runs.
    *
    * Scale shape: the corpus collapses ONCE to the counted vocabulary
    * (the only aggregation that sees corpus volume — standard for BPE
    * trainers); each round is then one explode+sum over O(vocab) rows
    * plus a 1-row argmax. The driver holds exactly K chosen pairs (the
    * model being trained — the justified O(K) materialization, same
    * pattern as PageRank's convergence flag), never data.
    *
    * Engine-parity trick: words are space-joined symbol strings and a
    * merge is a plain `replace(seg, ' x y ', ' xy ')` — leftmost
    * non-overlapping with scan continuing after the replacement,
    * identical in Spark and DuckDB, so the oracle replays training
    * bit-exactly as K unrolled CTE stages. KNOWN DEVIATION from
    * Sennrich's reference implementation: on an immediately repeated
    * pair the single replace pass consumes the shared delimiter
    * (`' a b a b '` → `' ab a b '`, not `' ab ab '`), so the second
    * occurrence merges only if the pair is selected in a LATER round —
    * a deterministic variant (the deviation can only under-merge, never
    * corrupt), accepted because a fixpoint/lookahead merge has no
    * bounded-depth SQL unrolling for the oracle to replay.
    */
  def qBpeTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeTrainMerges(s, d).toDF("round", "pair", "new_token", "pair_count")
      .select(col("round").cast("int").as("round"), col("pair"),
        col("new_token"), col("pair_count"))
      .orderBy(col("round"))
  }

  /** Tokenizer APPLY: encode every document with the K trained merges and
    * emit per-doc compression stats — the pass a pipeline runs over the
    * full corpus once the tokenizer is trained. Pure narrow after the
    * (vocab-sized) training: one scan, K chained `replace`s per row, no
    * shuffle before the presentation sort — scan speed at 100 TB.
    *
    * Word boundaries are ` | ` sentinels (never part of an alpha-only
    * merge pair), so one replace chain over the whole document equals
    * per-word application.
    */
  def qBpeEncode(s: SparkSession, d: String): DataFrame = {
    // suite runs (Bench) seed QueryMemo with q_bpe_train's merge table —
    // the most expensive BPE cost (vocab collapse + K argmax rounds)
    // then runs once per suite, not once per twin; Verify never seeds,
    // so the gate still trains from scratch there
    val merges = QueryMemo.lookup("q_bpe_train", d)
      .map(_.collect().sortBy(_.getInt(0))
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq)
      .getOrElse(bpeTrainMerges(s, d))
    val seg0 = concat(lit(" "), regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z]+", " | "),
      "([a-z])", "$1 "))
    val segN = merges.foldLeft(seg0) { case (acc, (_, pair, tok, _)) =>
      replace(acc, lit(s" $pair "), lit(s" $tok "))
    }
    val toks = filter(split(trim(segN), " "),
      t => t =!= lit("") && t =!= lit("|"))
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
          .cast("long").as("n_words"),
        length(regexp_replace(lower(col("text")), "[^a-z]", ""))
          .cast("long").as("n_chars"),
        size(toks).cast("long").as("n_bpe_tokens"))
      .withColumn("compression_x10000",
        TextOps.idiv(col("n_chars") * 10000L, greatest(col("n_bpe_tokens"), lit(1L))))
      .orderBy(col("doc_id"))
  }

  /** Re-replace passes per merge round in [[qBpeEncodeFixpoint]]. Each
    * pass at least halves the unmerged occurrences of the round's pair
    * within a word (the single-pass deviation only arises when two
    * occurrences share a delimiter space, and a pass always merges at
    * least every other one), so F passes suffice for words with up to
    * 2^F occurrences of one pair — far beyond any [a-z]+ word here. The
    * bound is not trusted: the gate re-applies every merge once more
    * after the F passes and emits `all_converged` (fixpoint reached ⇔
    * the extra pass changes nothing), computed identically by the
    * oracle, and a spec asserts it is true.
    */
  val BpeFixpointPasses = 4

  /** Tokenizer APPLY, FIXPOINT variant (round-6 verdict item #6): the
    * same K trained merges as [[qBpeEncode]], but each merge replays
    * until no occurrence remains ([[BpeFixpointPasses]] statically
    * unrolled `replace`s — Sennrich's per-word semantics, which the
    * single-pass chain under-merges when occurrences share a delimiter).
    * The gate emits BOTH chains' token counts per source plus the
    * diverging-doc count, so the deviation the single-pass doc block
    * describes qualitatively is MEASURED inside the hash gate, and
    * `all_converged` proves the unroll depth reached the fixpoint.
    *
    * Scale shape: identical to [[qBpeEncode]] — narrow per-row replace
    * chains (K·(F+2) string scans) after the vocab-sized training, one
    * tiny per-source aggregate. Scan speed at 100 TB.
    */
  def qBpeEncodeFixpoint(s: SparkSession, d: String): DataFrame = {
    val merges = QueryMemo.lookup("q_bpe_train", d)
      .map(_.collect().sortBy(_.getInt(0))
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSeq)
      .getOrElse(bpeTrainMerges(s, d))
    val seg0 = concat(lit(" "), regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z]+", " | "),
      "([a-z])", "$1 "))
    def one(acc: Column, pair: String, tok: String): Column =
      replace(acc, lit(s" $pair "), lit(s" $tok "))
    val segSingle = merges.foldLeft(seg0) { case (acc, (_, pair, tok, _)) =>
      one(acc, pair, tok)
    }
    val segFix = merges.foldLeft(seg0) { case (acc, (_, pair, tok, _)) =>
      (1 to BpeFixpointPasses).foldLeft(acc)((a, _) => one(a, pair, tok))
    }
    val segExtra = merges.foldLeft(segFix) { case (acc, (_, pair, tok, _)) =>
      one(acc, pair, tok)
    }
    def nTok(c: Column) = size(filter(split(trim(c), " "),
      t => t =!= lit("") && t =!= lit("|"))).cast("long")
    Tables.documents(s, d)
      .select(col("source"), nTok(segSingle).as("nts"),
        nTok(segFix).as("ntf"), (segFix === segExtra).as("conv"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nts")).as("sum_tokens_single"),
        sum(col("ntf")).as("sum_tokens_fix"),
        sum(when(col("nts") =!= col("ntf"), 1L).otherwise(0L))
          .as("n_docs_diverging"),
        expr("bool_and(conv)").as("all_converged"))
      .orderBy(col("source"))
  }

  /** The K unrolled training stages (w0 vocabulary + per-round
    * pair-count/argmax/merge CTEs) shared by both BPE oracles.
    */
  private def bpeStagesSql(k: Int): String = {
    val stages = (1 to k).map { r =>
      s"""p$r AS (SELECT pair, CAST(sum(cnt) AS BIGINT) AS c FROM (
         |  SELECT cnt, unnest(list_transform(
         |    range(1, len(string_split(trim(seg), ' '))),
         |    i -> string_split(trim(seg), ' ')[i] || ' ' ||
         |         string_split(trim(seg), ' ')[i+1])) AS pair
         |  FROM w${r - 1}) GROUP BY 1),
         |m$r AS (SELECT $r AS round, pair, replace(pair, ' ', '') AS new_token,
         |              c AS pair_count
         |        FROM p$r ORDER BY c DESC, pair LIMIT 1),
         |w$r AS (SELECT replace(w.seg, ' ' || m.pair || ' ',
         |                       ' ' || m.new_token || ' ') AS seg, w.cnt
         |        FROM w${r - 1} w, m$r m)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seg,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |        FROM documents)
       |  GROUP BY 1),
       |$stages""".stripMargin
  }

  /** Oracle twin of [[qBpeTrain]]: the K training rounds unrolled as CTE
    * stages (built programmatically so Spark's K and the oracle's K can
    * never drift).
    */
  private def bpeTrainOracle(k: Int): String = {
    val union = (1 to k).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")
    s"""WITH ${bpeStagesSql(k)}
       |SELECT CAST(round AS INT) AS round, pair, new_token, pair_count
       |FROM ($union) ORDER BY round""".stripMargin
  }

  /** Oracle twin of [[qBpeEncode]]: training stages, then the document
    * replace chain applied via scalar subqueries on each round's merge.
    */
  private def bpeEncodeOracle(k: Int): String = {
    val nTok =
      "CAST(len(list_filter(string_split(trim(seg), ' '), " +
        "t -> t <> '' AND t <> '|')) AS BIGINT)"
    val docStages = (1 to k).map { r =>
      s"""d$r AS (SELECT doc_id, n_words, n_chars,
         |  replace(seg, ' ' || (SELECT pair FROM m$r) || ' ',
         |          ' ' || (SELECT new_token FROM m$r) || ' ') AS seg
         |  FROM d${r - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bpeStagesSql(k)},
       |d0 AS (SELECT doc_id,
       |  ' ' || regexp_replace(regexp_replace(lower(text), '[^a-z]+', ' | ', 'g'),
       |                        '([a-z])', '\\1 ', 'g') AS seg,
       |  CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_words,
       |  CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS n_chars
       |  FROM documents),
       |$docStages
       |SELECT doc_id, n_words, n_chars, $nTok AS n_bpe_tokens,
       |  n_chars * 10000 // greatest($nTok, 1) AS compression_x10000
       |FROM d$k ORDER BY doc_id""".stripMargin
  }

  /** Oracle twin of [[qBpeEncodeFixpoint]]: training stages, then both
    * replace chains (single-pass and F-unrolled fixpoint) carried as two
    * columns through one CTE ladder, an extra-pass ladder for the
    * convergence proof, and the per-source fold.
    */
  private def bpeFixpointOracle(k: Int, f: Int): String = {
    def rep(expr: String, r: Int, times: Int): String =
      (1 to times).foldLeft(expr)((acc, _) =>
        s"replace($acc, ' ' || (SELECT pair FROM m$r) || ' ', " +
          s"' ' || (SELECT new_token FROM m$r) || ' ')")
    val chain = (1 to k).map { r =>
      s"""b$r AS (SELECT doc_id, source,
         |  ${rep("ssg", r, 1)} AS ssg,
         |  ${rep("fsg", r, f)} AS fsg
         |  FROM b${r - 1})""".stripMargin
    }.mkString(",\n")
    val extra = (1 to k).map { r =>
      s"""c$r AS (SELECT doc_id, source, ssg, fsg,
         |  ${rep("esg", r, 1)} AS esg FROM c${r - 1})""".stripMargin
    }.mkString(",\n")
    def nTok(col: String) =
      s"CAST(len(list_filter(string_split(trim($col), ' '), " +
        s"t -> t <> '' AND t <> '|')) AS BIGINT)"
    s"""WITH ${bpeStagesSql(k)},
       |b0 AS (SELECT doc_id, source,
       |  ' ' || regexp_replace(regexp_replace(lower(text), '[^a-z]+', ' | ', 'g'),
       |                        '([a-z])', '\\1 ', 'g') AS ssg,
       |  ' ' || regexp_replace(regexp_replace(lower(text), '[^a-z]+', ' | ', 'g'),
       |                        '([a-z])', '\\1 ', 'g') AS fsg
       |  FROM documents),
       |$chain,
       |c0 AS (SELECT doc_id, source, ssg, fsg, fsg AS esg FROM b$k),
       |$extra
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(${nTok("ssg")}) AS BIGINT) AS sum_tokens_single,
       |  CAST(sum(${nTok("fsg")}) AS BIGINT) AS sum_tokens_fix,
       |  CAST(sum(CASE WHEN ${nTok("ssg")} <> ${nTok("fsg")}
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_diverging,
       |  bool_and(fsg = esg) AS all_converged
       |FROM c$k GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // DuckDB oracles. NOTE: DuckDB lists are 1-indexed; Spark arrays 0-indexed.
  // hash56 twin: CAST('0x'||substr(md5(x),1,14) AS BIGINT).
  /** Max piece length for the unigram segmenter's vocabulary. */
  val UnigramMaxPiece = 3
  /** Multi-char vocabulary budget, cut by (freq desc, piece asc); every
    * single character seen in the corpus is ALWAYS kept, which makes the
    * Viterbi lattice total (no word can fail to segment).
    */
  val UnigramVocabTopK = 200
  /** Gate coverage bound: the oracle unrolls the DP positionally, so
    * BOTH engines filter to words of at most this length — longer words
    * are out of the gate's contract (corpus max is 8, so nothing is
    * excluded in practice; a spec pins the exclusion behavior). The HOF
    * DP construction itself has no length limit.
    */
  val UnigramUnroll = 16
  /** DP state packs (total cost, piece count) into one integer:
    * combined = cost·1024 + n_pieces. Minimizing combined is exactly
    * lexicographic (cost, fewer pieces); remaining ties break on the
    * segmentation string itself, so the argmin is total in both engines.
    */
  val UnigramTieScale = 1024L

  /** Corpus word rollup the unigram gate runs over: distinct [a-z]+
    * words with counts — the tokenizer-cache move (segment each VALUE
    * once, weight by corpus frequency) that makes subword inference a
    * vocabulary-sized problem instead of a corpus-sized one.
    */
  private def unigramWords(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(regexp_extract_all(
        lower(col("text")), lit("[a-z]+"), lit(0))).as("word"))
      .filter(length(col("word")) <= UnigramUnroll)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** UNIGRAM-LM subword segmentation (the SentencePiece/Kudo-2018 family
    * — BPE's sibling and the other tokenizer algorithm in real-world
    * use): score every candidate piece by corpus frequency, then Viterbi-
    * segment each word into the minimum-cost piece sequence. BPE greedily
    * MERGES; unigram globally OPTIMIZES over a piece lattice — given the
    * same corpus they produce genuinely different segmentations, which is
    * why pipelines ship both.
    *
    * Integer-exact cross-engine trick: piece cost is the QUANTIZED
    * negative log2 probability `bitlen(T) − bitlen(freq) + 1` (bitlen via
    * `length(bin(x))`, exact in both engines — no float log anywhere),
    * and the DP minimizes `cost·1024 + n_pieces` with the segmentation
    * string as the final tiebreak — a total order, so Spark's `array_min`
    * over transform-built structs and the oracle's `row_number` pick the
    * SAME segmentation everywhere.
    *
    * Scale shape: one corpus scan collapses to the distinct-word rollup
    * (the only aggregation that sees corpus volume); piece counting and
    * the DP run over VALUES. The vocabulary (≤ [[UnigramVocabTopK]] +
    * alphabet) is the model being trained — the justified vocab-bounded
    * driver boundary, same as BPE's merge table — and rides into the DP
    * as one map literal inside a codegen'd HOF: no joins, no shuffles,
    * no per-position stages. Applying the tokenizer to a 100 TB corpus
    * is then one broadcast hash join of this per-value table onto the
    * raw words.
    */
  def qUnigramSegment(s: SparkSession, d: String): DataFrame = {
    val wd = unigramWords(s, d).stage() // vocab rollup + the DP scan
    // candidate pieces: every (start, len≤MaxPiece) substring occurrence,
    // weighted by word count — multiplicity within a word counts, exactly
    // as the oracle's (st, ln) cross-join enumerates
    val pieceArr = flatten(transform(
      sequence(lit(1), length(col("word"))),
      st => transform(
        sequence(lit(1),
          least(lit(UnigramMaxPiece), length(col("word")) - st + 1)),
        ln => col("word").substr(st, ln))))
    val freqs = wd.select(explode(pieceArr).as("piece"), col("cnt"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("freq"))
      .stage() // the single-char spine and the top-K cut both read it
    val vocabRows: Seq[(String, Long)] =
      (freqs.filter(length(col("piece")) === 1).collect() ++
        freqs.filter(length(col("piece")) >= 2)
          .orderBy(col("freq").desc, col("piece"))
          .limit(UnigramVocabTopK).collect())
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    def bitlen(x: Long): Int = java.lang.Long.toBinaryString(x).length
    val t = vocabRows.map(_._2).sum
    val costMap = map(vocabRows.sortBy(_._1).flatMap { case (p, f) =>
      Seq(lit(p), lit(bitlen(t) - bitlen(f) + 1L))
    }: _*)
    // Viterbi over positions 0..n, state per position = (combined, seg),
    // built as ONE aggregate HOF — the PQ lesson's shape: nested-array
    // literals + argmin-by-struct keep the expression O(1) in vocab size
    // and the scan codegen-friendly
    val dp = aggregate(
      sequence(lit(1), length(col("word"))),
      array(struct(lit(0L).as("c"), lit("").as("seg"))),
      (acc, i) => concat(acc, array(array_min(filter(
        transform(
          sequence(greatest(i - lit(UnigramMaxPiece), lit(0)), i - lit(1)),
          j => {
            val piece = col("word").substr(j + lit(1), i - j)
            struct(
              (element_at(acc, j + lit(1))("c")
                + element_at(costMap, piece) * lit(UnigramTieScale)
                + lit(1L)).as("c"),
              concat(element_at(acc, j + lit(1))("seg"), lit(" "), piece)
                .as("seg"))
          }),
        st => st("c").isNotNull)))))
    val fin = element_at(dp, length(col("word")) + 1)
    wd.select(col("word"), col("cnt"),
        (fin("c") % UnigramTieScale).as("n_pieces"),
        idiv(fin("c"), lit(UnigramTieScale)).as("cost_bits"),
        trim(fin("seg")).as("pieces"))
      .orderBy(col("word"))
  }

  /** Oracle twin of [[qUnigramSegment]]: vocabulary + costs in SQL, then
    * the Viterbi DP unrolled as [[UnigramUnroll]] CTE stages (each stage
    * extends the lattice by one position and keeps the per-word argmin
    * row — `row_number` ordered exactly like Spark's struct `array_min`).
    * Stages are MATERIALIZED: each references its predecessor twice, and
    * DuckDB's default CTE inlining would otherwise expand the chain into
    * 2^[[UnigramUnroll]] scans.
    */
  private def unigramOracle: String = {
    val stages = (1 to UnigramUnroll).map { k =>
      s"""b$k AS MATERIALIZED (SELECT * FROM b${k - 1} UNION ALL
         |  SELECT word, cnt, $k AS pos, c2 AS c, seg2 AS seg FROM (
         |    SELECT b.word, b.cnt,
         |      b.c + v.cost * $UnigramTieScale + 1 AS c2,
         |      b.seg || ' ' || substring(b.word, b.pos + 1, $k - b.pos)
         |        AS seg2,
         |      row_number() OVER (PARTITION BY b.word
         |        ORDER BY b.c + v.cost * $UnigramTieScale + 1,
         |          b.seg || ' ' || substring(b.word, b.pos + 1, $k - b.pos))
         |        AS rk
         |    FROM b${k - 1} b JOIN vc v
         |      ON v.piece = substring(b.word, b.pos + 1, $k - b.pos)
         |    WHERE b.pos >= $k - $UnigramMaxPiece AND b.pos <= ${k - 1}
         |      AND length(b.word) >= $k)
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH wd AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+'))
       |          AS word FROM documents)
       |  WHERE length(word) <= $UnigramUnroll GROUP BY 1),
       |pc AS MATERIALIZED (SELECT substring(word, st, ln) AS piece,
       |         CAST(sum(cnt) AS BIGINT) AS freq
       |  FROM wd
       |  CROSS JOIN unnest(range(1, ${UnigramUnroll + 1})) s(st)
       |  CROSS JOIN unnest(range(1, ${UnigramMaxPiece + 1})) l(ln)
       |  WHERE st + ln <= length(word) + 1
       |  GROUP BY 1),
       |mult AS (SELECT piece, freq FROM (
       |  SELECT piece, freq,
       |    row_number() OVER (ORDER BY freq DESC, piece) AS rk
       |  FROM pc WHERE length(piece) >= 2) WHERE rk <= $UnigramVocabTopK),
       |vb AS (SELECT piece, freq FROM pc WHERE length(piece) = 1
       |  UNION ALL SELECT piece, freq FROM mult),
       |tt AS (SELECT CAST(sum(freq) AS BIGINT) AS t FROM vb),
       |vc AS MATERIALIZED (SELECT piece,
       |  CAST(length(bin(t)) - length(bin(freq)) + 1 AS BIGINT) AS cost
       |  FROM vb CROSS JOIN tt),
       |b0 AS MATERIALIZED (SELECT word, cnt, 0 AS pos, CAST(0 AS BIGINT) AS c,
       |         '' AS seg FROM wd),
       |$stages
       |SELECT word, cnt,
       |  CAST(c % $UnigramTieScale AS BIGINT) AS n_pieces,
       |  CAST(c // $UnigramTieScale AS BIGINT) AS cost_bits,
       |  trim(seg) AS pieces
       |FROM b$UnigramUnroll
       |WHERE pos = length(word)
       |ORDER BY word""".stripMargin
  }

  /** WordPiece geometry: longest candidate piece and per-FORM vocabulary
    * cut. Two forms because WordPiece's defining feature vs BPE/unigram
    * is the word-INITIAL vs CONTINUATION (`##`) distinction — the same
    * letters are different vocabulary entries depending on position, and
    * their corpus frequencies are counted separately.
    */
  val WpMaxPiece = 4
  val WpVocabTopK = 150

  /** WORDPIECE tokenization (Schuster & Nakajima 2012; the BERT-family
    * tokenizer) — the third real-world subword algorithm beside BPE
    * (greedy pair MERGING) and unigram-LM (global Viterbi OPTIMIZATION):
    * WordPiece applies GREEDY LONGEST-MATCH-FIRST (maximal munch) — at
    * each position consume the longest vocabulary piece that matches,
    * with continuations drawn from the separate `##` inventory. Given
    * the same corpus the three produce genuinely different
    * segmentations, which is why all three ship in production.
    *
    * Vocabulary: every single character in BOTH forms (so the encoder is
    * total — no UNK path to gate) plus the top [[WpVocabTopK]]
    * multi-char pieces PER FORM by (corpus frequency, piece) — start
    * pieces counted at word position 1, continuation pieces at
    * positions > 1, weighted by the word rollup's counts.
    *
    * Determinism: the greedy choice is an argmax over piece LENGTH with
    * at most one candidate per length — no tie to break; membership is
    * a map-literal lookup in Spark and a vocab equi-join + `row_number
    * ... ORDER BY l DESC` in the oracle, which agree exactly.
    *
    * Scale shape: the same tokenizer-cache spine as
    * [[qUnigramSegment]] — one corpus scan collapses to the distinct-
    * word rollup; piece counting is a value-level explode; the
    * vocabulary is the model (two collects, vocab-sized driver
    * boundary) and rides into the greedy scan as ONE map literal inside
    * a codegen'd HOF: no joins, no shuffles, no per-position stages.
    * Applying the trained tokenizer to a 100 TB corpus is one broadcast
    * hash join of this per-value table onto the raw words.
    */
  def qWordpieceEncode(s: SparkSession, d: String): DataFrame = {
    val wd = unigramWords(s, d).stage() // vocab rollup + the greedy scan
    // piece occurrences with their FORM: position 1 = start, else cont
    val pieceArr = flatten(transform(
      sequence(lit(1), length(col("word"))),
      st => transform(
        sequence(lit(1),
          least(lit(WpMaxPiece), length(col("word")) - st + 1)),
        ln => struct(col("word").substr(st, ln).as("txt"),
          (st === 1).as("is_start")))))
    val freqs = wd
      .select(explode(pieceArr).as("p"), col("cnt"))
      .groupBy(col("p.txt").as("txt"), col("p.is_start").as("is_start"))
      .agg(sum(col("cnt")).as("freq"))
      .stage() // the single-char spine and both top-K cuts read it
    def collectForm(isStart: Boolean): Seq[String] = {
      val f = freqs.filter(col("is_start") === isStart)
      (f.filter(length(col("txt")) === 1).collect() ++
        f.filter(length(col("txt")) >= 2)
          .orderBy(col("freq").desc, col("txt"))
          .limit(WpVocabTopK).collect())
        .map(_.getString(0)).toSeq
    }
    val rendered = collectForm(isStart = true) ++
      collectForm(isStart = false).map("##" + _)
    val vocabMap = map(rendered.distinct.sorted
      .flatMap(p => Seq(lit(p), lit(1))): _*)
    // greedy maximal munch as ONE aggregate HOF: state = (pos, seg, np);
    // step i advances only when it sits at the consumed frontier
    val step: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
        => org.apache.spark.sql.Column = (acc, i) => {
      val p = acc("pos")
      val cands = filter(
        transform(sequence(lit(WpMaxPiece), lit(1), lit(-1)), l => {
          val piece = col("word").substr(p + 1, l)
          val key = when(p === 0, piece)
            .otherwise(concat(lit("##"), piece))
          when(length(piece) === l &&
            element_at(vocabMap, key).isNotNull,
            struct(l.as("l"), key.as("k")))
        }), x => x.isNotNull)
      val best = element_at(cands, 1) // lengths descend: first = longest
      when(i - 1 === p,
        struct((p + best("l")).as("pos"),
          concat(acc("seg"), lit(" "), best("k")).as("seg"),
          (acc("np") + 1).as("np")))
        .otherwise(acc)
    }
    val fin = aggregate(
      sequence(lit(1), length(col("word"))),
      struct(lit(0).as("pos"), lit("").as("seg"), lit(0).as("np")),
      step)
    wd.select(col("word"), col("cnt"),
        fin("np").cast("long").as("n_pieces"),
        trim(fin("seg")).as("pieces"))
      .orderBy(col("word"))
  }

  /** Oracle twin of [[qWordpieceEncode]]: the per-form vocabulary in
    * SQL, then the greedy scan unrolled as [[UnigramUnroll]] stages —
    * stage k admits exactly the rows whose LONGEST match from their
    * current position lands at k (`row_number … ORDER BY l DESC = 1`
    * picks the munch; the landing filter places it).
    */
  private def wordpieceOracle: String = {
    val stages = (1 to UnigramUnroll).map { k =>
      s"""w$k AS MATERIALIZED (SELECT * FROM w${k - 1} UNION ALL
         |  SELECT word, cnt, pos + l AS pos,
         |    seg || ' ' || key AS seg, np + 1 AS np
         |  FROM (
         |    SELECT b.word, b.cnt, b.pos, u.l,
         |      CASE WHEN b.pos = 0 THEN v.txt ELSE '##' || v.txt END
         |        AS key,
         |      b.seg, b.np,
         |      row_number() OVER (PARTITION BY b.word, b.pos
         |        ORDER BY u.l DESC) AS rn
         |    FROM w${k - 1} b
         |    CROSS JOIN unnest(range(1, ${WpMaxPiece + 1})) u(l)
         |    JOIN wv v ON v.is_start = (b.pos = 0)
         |      AND v.txt = substring(b.word, b.pos + 1, CAST(u.l AS INT))
         |    WHERE b.pos + u.l <= length(b.word)
         |      AND b.pos >= $k - $WpMaxPiece AND b.pos <= ${k - 1})
         |  WHERE rn = 1 AND pos + l = $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH wd AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+'))
       |          AS word FROM documents)
       |  WHERE length(word) <= $UnigramUnroll GROUP BY 1),
       |pc AS MATERIALIZED (SELECT substring(word, st, ln) AS txt,
       |    st = 1 AS is_start, CAST(sum(cnt) AS BIGINT) AS freq
       |  FROM wd
       |  CROSS JOIN unnest(range(1, ${UnigramUnroll + 1})) s(st)
       |  CROSS JOIN unnest(range(1, ${WpMaxPiece + 1})) l(ln)
       |  WHERE st + ln <= length(word) + 1
       |  GROUP BY 1, 2),
       |mult AS (SELECT txt, is_start FROM (
       |  SELECT txt, is_start,
       |    row_number() OVER (PARTITION BY is_start
       |      ORDER BY freq DESC, txt) AS rk
       |  FROM pc WHERE length(txt) >= 2) WHERE rk <= $WpVocabTopK),
       |wv AS MATERIALIZED (SELECT txt, is_start FROM pc
       |    WHERE length(txt) = 1
       |  UNION ALL SELECT txt, is_start FROM mult),
       |w0 AS MATERIALIZED (SELECT word, cnt, 0 AS pos, '' AS seg,
       |    0 AS np FROM wd),
       |$stages
       |SELECT word, cnt, CAST(np AS BIGINT) AS n_pieces,
       |  trim(seg) AS pieces
       |FROM w$UnigramUnroll
       |WHERE pos = length(word)
       |ORDER BY word""".stripMargin
  }

  // ---------------------------------------------------------------------

  private val enMarkers = TextOps.LangMarkers("en").map(w => s"'$w'").mkString(", ")

  private def markerSql(toksExpr: String, lang: String): String = {
    val list = TextOps.LangMarkers(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter($toksExpr, t -> t IN ($list)))"
  }

  private val oracleBase: Map[String, String] = Map(
    "q_lm_score" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |dg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |           i -> {'w1': toks[i], 'gram': toks[i] || ' ' || toks[i+1]}),
        |           recursive := true)
        |       FROM t),
        |b AS (SELECT gram, count(*) AS b FROM dg GROUP BY 1),
        |u AS (SELECT unnest(toks) AS w1 FROM t),
        |uc AS (SELECT w1, count(*) AS u FROM u GROUP BY 1),
        |fx AS (SELECT doc_id, b.b * 10000 // uc.u AS fx
        |       FROM dg JOIN b USING (gram) JOIN uc USING (w1))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(CAST(sum(fx) AS BIGINT) // count(*) AS BIGINT)
        |    AS lm_score_x10000
        |FROM fx GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // term-for-term mirror of the KN gate: each scaled ratio floors
    // separately with DuckDB `//` == Spark `div` (positive operands);
    // train-slice LM tables, held-out scoring, continuation backoff
    "q_kn_heldout_lm" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |           FROM documents),
         |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |           i -> {'w1': toks[i], 'w2': toks[i+1]}),
         |           recursive := true)
         |       FROM t),
         |tb AS (SELECT w1, w2 FROM bg
         |       WHERE doc_id % $KnTrainMod = $KnTrainRem),
         |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
         |        FROM tb GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
         |         CAST(count(*) AS BIGINT) AS nf
         |       FROM c12 GROUP BY 1),
         |np AS (SELECT w2, CAST(count(*) AS BIGINT) AS np
         |       FROM c12 GROUP BY 1),
         |nbb AS (SELECT CAST(count(*) AS BIGINT) AS nbb FROM c12),
         |px AS (SELECT sc.doc_id,
         |    CASE WHEN c12.c12 IS NULL THEN 1 ELSE 0 END AS unseen,
         |    CASE WHEN c1.c1 IS NOT NULL THEN
         |      (greatest(4 * coalesce(c12.c12, 0) - 3, 0) * $KnScale)
         |        // (4 * c1.c1)
         |      + (3 * c1.nf * coalesce(np.np, 0) * $KnScale)
         |        // (4 * c1.c1 * nbb.nbb)
         |    ELSE (coalesce(np.np, 0) * $KnScale) // nbb.nbb END AS px
         |  FROM bg sc
         |  LEFT JOIN c12 ON c12.w1 = sc.w1 AND c12.w2 = sc.w2
         |  LEFT JOIN c1 ON c1.w1 = sc.w1
         |  LEFT JOIN np ON np.w2 = sc.w2
         |  CROSS JOIN nbb
         |  WHERE sc.doc_id % $KnTrainMod <> $KnTrainRem)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(unseen) AS BIGINT) AS n_unseen,
         |  CAST(CAST(sum(px) AS BIGINT) // count(*) AS BIGINT)
         |    AS kn_score_x1e6
         |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_oov_rate" ->
      s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |            FROM documents),
         |v AS (SELECT token FROM (
         |        SELECT token, count(*) AS cf FROM tk GROUP BY 1
         |        ORDER BY cf DESC, token LIMIT $OovVocabSize)),
         |a AS (SELECT doc_id, count(*) AS n_tokens,
         |        count(*) FILTER (WHERE v.token IS NULL) AS n_oov
         |      FROM tk LEFT JOIN v ON tk.token = v.token
         |      GROUP BY 1)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(n_oov AS BIGINT) AS n_oov,
         |  CAST(n_oov * 10000 // n_tokens AS BIGINT) AS oov_x10000
         |FROM a ORDER BY doc_id""".stripMargin,

    "q_vocab_stats" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |           FROM documents),
        |p AS (SELECT token, doc_id, count(*) AS n FROM t GROUP BY 1, 2)
        |SELECT token, CAST(count(*) AS BIGINT) AS doc_freq,
        |  CAST(sum(n) AS BIGINT) AS coll_freq
        |FROM p GROUP BY token
        |ORDER BY coll_freq DESC, token LIMIT 50""".stripMargin,

    "q_text_stats" ->
      s"""WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS toks
         |           FROM documents)
         |SELECT doc_id, lang,
         |  CAST(len(toks) AS INT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
         |  CAST(length(text) AS INT) AS n_chars_computed,
         |  CAST(len(list_filter(toks, t -> t IN ($enMarkers))) AS INT) AS n_stopwords,
         |  CAST(list_aggregate(list_transform(toks, t -> CAST(length(t) AS BIGINT)), 'sum')
         |       * 10000 // len(toks) AS BIGINT) AS avg_token_len_x10000,
         |  CAST(len(list_distinct(toks)) * 10000 // len(toks) AS BIGINT) AS ttr_x10000
         |FROM t ORDER BY doc_id""".stripMargin,

    "q_gopher_rules" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |           FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(toks) AS INT) AS n_tokens,
         |  CAST(list_aggregate(list_transform(toks, x -> CAST(length(x) AS BIGINT)),
         |       'sum') * 100 // len(toks) AS BIGINT) AS mean_len_x100,
         |  CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
         |       * 10000 // len(toks) AS BIGINT) AS alpha_x10000,
         |  CAST(len(list_filter(toks, x -> regexp_matches(x, '^[^a-zA-Z0-9]+$$')))
         |       * 10000 // len(toks) AS BIGINT) AS symbol_x10000,
         |  CAST(len(list_filter(toks, x -> x IN ($enMarkers))) AS INT) AS stop_hits
         |FROM t)
         |SELECT *,
         |  n_tokens BETWEEN $RuleMinWords AND $RuleMaxWords AS r_word_count,
         |  mean_len_x100 BETWEEN $RuleMinMeanLenX100 AND $RuleMaxMeanLenX100
         |    AS r_mean_len,
         |  alpha_x10000 >= $RuleMinAlphaX10000 AS r_alpha,
         |  symbol_x10000 <= $RuleMaxSymbolX10000 AS r_symbol,
         |  stop_hits >= $RuleMinStopwords AS r_stopwords,
         |  (n_tokens BETWEEN $RuleMinWords AND $RuleMaxWords)
         |    AND (mean_len_x100 BETWEEN $RuleMinMeanLenX100 AND $RuleMaxMeanLenX100)
         |    AND alpha_x10000 >= $RuleMinAlphaX10000
         |    AND symbol_x10000 <= $RuleMaxSymbolX10000
         |    AND stop_hits >= $RuleMinStopwords AS passes
         |FROM m ORDER BY doc_id""".stripMargin,

    "q_quality_score" ->
      s"""WITH t AS (SELECT lang, n_chars, string_split(text, ' ') AS toks
         |           FROM documents),
         |s AS (SELECT lang,
         |  $qualityScoreSql AS score
         |  FROM t)
         |SELECT lang,
         |  CASE WHEN score >= 80 THEN 'high' WHEN score >= 50 THEN 'medium'
         |       ELSE 'low' END AS band,
         |  count(*) AS n_docs
         |FROM s GROUP BY 1, 2 ORDER BY lang, band""".stripMargin,

    "q_lang_id" -> {
      val langs = TextOps.LangMarkers.keys.toSeq.sorted
      val scores = langs.map(l => s"${markerSql("toks", l)} AS s_$l").mkString(",\n  ")
      val best = "greatest(" + langs.map(l => s"s_$l").mkString(", ") + ")"
      val pred = langs.reverse.foldLeft("'und'") { (acc, l) =>
        s"CASE WHEN s_$l = best AND best > 0 THEN '$l' ELSE $acc END"
      }
      s"""WITH t AS (SELECT doc_id, lang AS labeled_lang,
         |  string_split(text, ' ') AS toks FROM documents),
         |s AS (SELECT doc_id, labeled_lang,
         |  $scores
         |  FROM t),
         |b AS (SELECT *, $best AS best FROM s)
         |SELECT doc_id, labeled_lang, $pred AS pred_lang,
         |  CAST(best AS INT) AS marker_hits
         |FROM b ORDER BY doc_id""".stripMargin
    },

    // BpePattern interpolates verbatim: runtime string has single
    // backslashes, and DuckDB ' ' literals don't process escapes
    "q_token_counts" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws,
         |  regexp_extract_all(text, '$BpePattern') AS bpe
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(ws) AS INT) AS n_ws_tokens,
         |  CAST(len(bpe) AS INT) AS n_bpe_tokens,
         |  CAST(len(list_distinct(bpe)) AS INT) AS n_bpe_distinct,
         |  CAST(len(bpe) * 10000 // greatest(len(ws), 1) AS BIGINT)
         |    AS bpe_per_word_x10000
         |FROM t ORDER BY doc_id""".stripMargin,

    // DuckDB range(1, n) is ASCENDING-or-empty (1..n-1), so the <2-token
    // guard Spark needs is implicit here; toks[i] is 1-indexed.
    "q_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |b AS (SELECT doc_id, len(toks) AS n_tokens,
        |        len(list_distinct(toks)) AS n_distinct,
        |        list_transform(range(1, len(toks)),
        |          i -> toks[i] || ' ' || toks[i+1]) AS grams
        |      FROM t),
        |g AS (SELECT doc_id, unnest(grams) AS gram FROM b),
        |gc AS (SELECT doc_id, gram, count(*) AS gram_n
        |       FROM g GROUP BY 1, 2),
        |tg AS (SELECT doc_id, gram AS top_2gram, gram_n AS top_2gram_n
        |       FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |               ORDER BY gram_n DESC, gram) AS rn FROM gc)
        |       WHERE rn = 1)
        |SELECT b.doc_id, CAST(n_tokens AS INT) AS n_tokens,
        |  CAST((n_tokens - n_distinct) * 10000 // n_tokens AS BIGINT)
        |    AS dup_token_x10000,
        |  coalesce(top_2gram, '') AS top_2gram,
        |  CAST(coalesce(top_2gram_n, 0) AS BIGINT) AS top_2gram_n,
        |  CAST(coalesce(top_2gram_n * 10000 // (n_tokens - 1), 0) AS BIGINT)
        |    AS top_2gram_x10000
        |FROM b LEFT JOIN tg ON b.doc_id = tg.doc_id
        |ORDER BY b.doc_id""".stripMargin,

    "q_classifier_filter" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
         |           FROM documents),
         |w AS (SELECT doc_id,
         |        CAST('0x'||substr(md5(token),1,14) AS BIGINT)
         |          % $ClassifierBuckets - 1000 AS w
         |      FROM t),
         |a AS (SELECT doc_id, count(*) AS n_tokens, sum(w) AS sum_w
         |      FROM w GROUP BY 1)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(sum_w AS BIGINT) AS sum_w,
         |  CAST(sum_w * 1000 // n_tokens AS BIGINT) AS score_x1000,
         |  CASE WHEN sum_w * 1000 // n_tokens >= 0 THEN 'keep'
         |       ELSE 'drop' END AS verdict
         |FROM a ORDER BY doc_id""".stripMargin,

    "q_bpe_pairs" ->
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token
         |           FROM documents),
         |p AS (SELECT unnest(list_transform(range(1, length(token)),
         |        i -> token[i:i+1])) AS pair
         |      FROM t WHERE length(token) >= 2)
         |SELECT pair, CAST(count(*) AS BIGINT) AS n
         |FROM p GROUP BY pair
         |ORDER BY n DESC, pair LIMIT $BpePairTopK""".stripMargin,

    "q_bpe_train" -> bpeTrainOracle(BpeMerges),

    "q_source_scorecard" ->
      s"""WITH t AS (SELECT source, doc_id, n_chars,
         |  string_split(text, ' ') AS toks,
         |  md5(trim(regexp_replace(lower(text),'\\s+',' ','g'))) AS fp
         |  FROM documents),
         |s AS (SELECT source, doc_id, n_chars, fp,
         |  $qualityScoreSql AS q FROM t),
         |x AS (SELECT source, n_chars, q,
         |  CASE WHEN doc_id != min(doc_id) OVER (PARTITION BY fp)
         |       THEN 1 ELSE 0 END AS is_dup
         |  FROM s)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(is_dup) AS BIGINT) AS n_dups,
         |  CAST(CAST(sum(is_dup) AS BIGINT) * 10000 // count(*) AS BIGINT)
         |    AS dup_rate_x10000,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  CAST(CAST(sum(q) AS BIGINT) * 100 // count(*) AS BIGINT)
         |    AS mean_quality_x100,
         |  CAST(sum(CASE WHEN q >= 80 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
         |FROM x GROUP BY source ORDER BY source""".stripMargin,

    "q_bpe_encode" -> bpeEncodeOracle(BpeMerges),
    "q_bpe_encode_fixpoint" ->
      bpeFixpointOracle(BpeMerges, BpeFixpointPasses),

    "q_doc_fingerprint" ->
      """WITH t AS (SELECT doc_id,
        |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |h AS (SELECT doc_id, md5(norm) AS md5_fp,
        |  list_transform(string_split(norm, ' '),
        |    tok -> CAST('0x'||substr(md5(tok),1,14) AS BIGINT) % 2147483647) AS hs
        |  FROM t)
        |SELECT doc_id, md5_fp,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
        |    (acc, h) -> (acc * 31 + h) % 2147483647) AS rolling_fp
        |FROM h ORDER BY doc_id""".stripMargin
  )

  /** The calibration oracle composes the classifier and Gopher twins
    * verbatim as subqueries — the score/gold SQL cannot drift from the
    * gated stages (the q_ann_recall pattern).
    */
  val oracle: Map[String, String] = oracleBase +
    ("q_quality_calibration" ->
      s"""WITH cls AS (SELECT doc_id, score_x1000
         |             FROM (${oracleBase("q_classifier_filter")})),
         |gld AS (SELECT doc_id, passes
         |        FROM (${oracleBase("q_gopher_rules")})),
         |j AS (SELECT score_x1000 // $CalibrationBand AS band, passes
         |      FROM cls JOIN gld USING (doc_id))
         |SELECT CAST(band AS BIGINT) AS band,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_gold_pass,
         |  CAST(sum(CASE WHEN passes THEN 1 ELSE 0 END) * 10000
         |    // count(*) AS BIGINT) AS gold_rate_x10000
         |FROM j GROUP BY 1 ORDER BY band""".stripMargin) +
    ("q_unigram_segment" -> unigramOracle) +
    ("q_wordpiece_encode" -> wordpieceOracle)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_text_stats" -> (qTextStats _),
    "q_quality_score" -> (qQualityScore _),
    "q_gopher_rules" -> (qGopherRules _),
    "q_lang_id" -> (qLangId _),
    "q_token_counts" -> (qTokenCounts _),
    "q_doc_fingerprint" -> (qDocFingerprint _),
    "q_repetition" -> (qRepetition _),
    "q_vocab_stats" -> (qVocabStats _),
    "q_oov_rate" -> (qOovRate _),
    "q_lm_score" -> (qLmScore _),
    "q_kn_heldout_lm" -> (qKnHeldoutLm _),
    "q_classifier_filter" -> (qClassifierFilter _),
    "q_bpe_pairs" -> (qBpePairs _),
    "q_bpe_train" -> (qBpeTrain _),
    "q_bpe_encode" -> (qBpeEncode _),
    "q_bpe_encode_fixpoint" -> (qBpeEncodeFixpoint _),
    "q_unigram_segment" -> (qUnigramSegment _),
    "q_wordpiece_encode" -> (qWordpieceEncode _),
    "q_source_scorecard" -> (qSourceScorecard _),
    "q_quality_calibration" -> (qQualityCalibration _)
  )
}
