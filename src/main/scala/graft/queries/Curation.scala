package graft.queries

import graft.Tables
import graft.operators.RankOne
import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.Ops

/** Corpus-curation operators a large-scale training-data pipeline runs
  * beside dedup: benchmark-contamination detection, TF-IDF keyword
  * extraction, and PII redaction. (Reference parity note: absent from the
  * reference by evidence — SURVEY.md §2.3-2.7 — these extend the
  * driver-mandated LLM-pipeline layer.)
  *
  * Scale design:
  *  - contamination: the benchmark set is tiny by construction, so its
  *    shingle index BROADCASTS — the corpus is scanned once, narrow, and
  *    only overlap hits reach the (small) aggregate. No corpus self-join.
  *  - tf-idf: the classic two-aggregate formulation (term counts, then
  *    document frequencies) — shuffles keyed by (doc, term) and term; the
  *    doc-count scalar joins in as a broadcast literal row.
  *  - redaction: pure narrow regexp transforms at scan speed.
  *
  * All scores are scaled-integer arithmetic (×10000 integer division) so
  * the DuckDB oracle matches bit-exactly.
  */
object Curation extends graft.GateFamily {

  private def idiv(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) = graft.text.TextOps.idiv(a, b)


  /** Benchmark docs: a deterministic held-out subset (doc_id % 97 == 0) —
    * standing in for an eval benchmark the corpus must not leak.
    */
  private val BenchMod = 97

  /** Contamination check: for every non-benchmark document, the benchmark
    * document sharing the most 3-shingles, with the overlap ratio
    * (|common shingles| / |doc shingles|, ×10000). Docs sharing nothing
    * with the benchmark produce no row — at real scale that is ~all of
    * them, so output stays tiny.
    */
  def qContamination(s: SparkSession, d: String): DataFrame = {
    // checkpoint the shingle projection: the benchmark and corpus filters
    // both consume it, and the md5 shingle loop is the dominant per-row cost
    val docs = Tables.documents(s, d).select(
      col("doc_id"),
      VectorFunctions.shingleHash56(graft.text.TextOps.tokens(col("text")))
        .as("hs"))
      .stage()
    val isBench = col("doc_id") % BenchMod === 0
    val bench = docs.filter(isBench)
      .select(col("doc_id").as("bench_id"), explode(col("hs")).as("sh"))
    val corpus = docs.filter(!isBench)
      .select(col("doc_id"), size(col("hs")).as("n_sh"),
        explode(col("hs")).as("sh"))
    val matches = corpus.join(broadcast(bench), "sh")
      .groupBy(col("doc_id"), col("n_sh"), col("bench_id"))
      .agg(count(lit(1)).as("common"))
    // best benchmark match (bench_id is unique per doc's match rows)
    RankOne(matches, Seq("doc_id", "n_sh"), col("common").desc,
        col("bench_id"))
      .select(col("doc_id"), col("bench_id"), col("common"),
        floor(col("common") * 10000L / col("n_sh")).cast("long")
          .as("contamination_x10000"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF keyword extraction: top-3 terms per document scored by
    * tf × (10000·N ÷ df) in exact integer arithmetic (monotone in the
    * real tf·log(N/df) for fixed tf; deterministic across engines, which
    * log() is not). Ties break on term text.
    */
  def qTfidfKeywords(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.text.TextOps.tokens(col("text"))).as("term"))
    // one scan: df derives from tf (rows of tf per term == docs containing
    // the term), so the corpus is tokenized once, not twice; checkpoint tf
    // because it feeds both the df aggregate and the score join
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .stage()
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(s, d)
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf") * floor(col("n_docs") * 10000L / col("df")).cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank").cast("int").as("rank"),
        col("term"), col("tf"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** PII redaction over synthesized contact blurbs (the documents corpus
    * carries no PII, so the blurbs are built deterministically from the
    * customer table — same synthesis as `q_cdc_enrich`'s emails). Counts
    * each PII class and emits the scrubbed text.
    */
  def qRedactPii(s: SparkSession, d: String): DataFrame = {
    val email = concat(
      regexp_replace(lower(col("c_name")), "[^a-z0-9]+", "."),
      lit("@"), lower(col("c_mktsegment")), lit(".example.com"))
    val phone = concat(lit("555-"),
      lpad((col("c_custkey") % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((col("c_custkey") % 10000).cast("string"), 4, "0"))
    val blurb = concat(lit("Contact "), col("c_name"), lit(" <"), email,
      lit("> or call "), phone, lit("."))
    Tables.customer(s, d)
      .select(col("c_custkey").as("custkey"), blurb.as("blurb"))
      .select(
        col("custkey"),
        size(regexp_extract_all(col("blurb"), lit(EmailRe), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("blurb"), lit(PhoneRe), lit(0)))
          .as("n_phones"),
        regexp_replace(
          regexp_replace(col("blurb"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>").as("redacted"))
      .orderBy(col("custkey"))
  }

  /** Per-language sampling keep-rates (percent). */
  private val SampleRates: Map[String, Int] =
    Map("en" -> 60, "de" -> 40, "es" -> 40, "zh" -> 25)
  private val DefaultRate = 10

  /** md5 keep-bucket over doc_id — SHARED by [[qStratifiedSample]] and
    * [[qCurationPipeline]] so the sampling decision cannot drift.
    */
  private def sampleBucket: org.apache.spark.sql.Column = pmod(
    graft.text.TextOps.hash56(concat(lit("sample:"), col("doc_id"))),
    lit(100L))

  /** Per-language keep rate (percent), shared like [[sampleBucket]]. */
  private def sampleRate: org.apache.spark.sql.Column =
    SampleRates.foldRight(lit(DefaultRate): org.apache.spark.sql.Column) {
      case ((lang, r), acc) => when(col("lang") === lang, lit(r)).otherwise(acc)
    }

  /** DuckDB twins of [[sampleBucket]] / [[sampleRate]]. */
  private val sampleBucketSql =
    "CAST('0x'||substr(md5('sample:'||CAST(doc_id AS VARCHAR)),1,14) AS BIGINT) % 100"
  private lazy val sampleRateSql = SampleRates.toSeq.sortBy(_._1)
    .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
    .mkString("CASE ", " ", s" ELSE $DefaultRate END")

  /** Deterministic stratified sampling: keep a per-language percentage of
    * documents chosen by md5-hash bucket, NOT rand() — the only sampling
    * that is reproducible across engines, re-runs, and repartitioning at
    * cluster scale. Pure narrow filter: scan speed, zero shuffle before
    * the presentation sort.
    */
  def qStratifiedSample(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        sampleBucket.as("bucket"), sampleRate.as("rate"))
      .filter(col("bucket") < col("rate"))
      .select(col("doc_id"), col("lang"), col("bucket").cast("long").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Docs kept per source by [[qSelectBest]]. */
  val SelectPerSource = 25

  /** Corpus selection: the [[SelectPerSource]] highest-quality documents
    * per source (deterministic tie-break on doc_id), using the SAME
    * quality score as [[TextAnalysis.qQualityScore]] and the composed
    * pipeline — the "keep the best N per domain" pass of a data-mixing
    * recipe.
    *
    * Scale shape: the `row_number ≤ k` filter plans as WindowGroupLimit
    * (asserted in ScaleShapeSpec) — every mapper pre-prunes to its local
    * top-k per source BEFORE the shuffle, so the exchange carries
    * O(sources · k) rows per mapper, not the corpus. The score itself is
    * a narrow scan-speed expression.
    */
  def qSelectBest(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
      .withColumn("score", TextAnalysis.qualityScoreExpr)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= SelectPerSource)
      .select(col("source"), col("rank"), col("doc_id"), col("score"))
      .orderBy(col("source"), col("rank"))
  }

  /** Percent of hash buckets assigned to the train side. */
  val TrainPct = 90

  /** Deterministic train/holdout split: md5 bucket of doc_id < [[TrainPct]]
    * → train, else test. Hash-assignment (never rand()) is the only split
    * that survives re-runs, engine swaps, repartitioning, and corpus
    * growth — a document's side is a pure function of its id, so newly
    * ingested docs never flip existing assignments (critical for
    * decontamination guarantees). Pure narrow map: scan speed, zero
    * shuffles before the presentation sort.
    */
  def qTrainTestSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), pmod(
        graft.text.TextOps.hash56(concat(lit("split:"), col("doc_id"))),
        lit(100L)).as("bucket"))
      .withColumn("split",
        when(col("bucket") < TrainPct, lit("train")).otherwise(lit("test")))
      .orderBy(col("doc_id"))

  /** Leakage-safe split: assignment is a function of the exact-dup
    * CANONICAL id, not the doc id, so duplicate documents can never
    * straddle train/test — the split-leakage failure mode a plain
    * per-doc hash split ([[qTrainTestSplit]]) has on any corpus with
    * duplicates. `group_splits` (distinct splits per dup group — 1 by
    * construction) is emitted so the oracle HASH proves the no-leakage
    * property, not just the assignment.
    *
    * Scale shape: one fingerprint-keyed window (the same single shuffle
    * the exact dedup pays) and narrow hashing — no join, no extra pass.
    */
  def qSplitLeakageSafe(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(graft.text.TextOps.normText(col("text"))).as("fp"))
      .withColumn("canonical_doc_id", min(col("doc_id")).over(w))
      .withColumn("bucket", pmod(
        graft.text.TextOps.hash56(
          concat(lit("split:"), col("canonical_doc_id"))), lit(100L)))
      .withColumn("split",
        when(col("bucket") < TrainPct, lit("train")).otherwise(lit("test")))
      .withColumn("group_splits",
        size(collect_set(col("split")).over(w)).cast("long"))
      .select(col("doc_id"), col("canonical_doc_id"), col("bucket"),
        col("split"), col("group_splits"))
      .orderBy(col("doc_id"))
  }

  /** Context-window budget for sequence packing (whitespace tokens). */
  private val PackBudget = 4096L

  /** Packing stage over a (doc_id, n_tokens) frame — SHARED by
    * [[qPackSequences]] and [[qCurationPipeline]] so the window/budget
    * semantics cannot drift.
    */
  private def packStats(docs: DataFrame): DataFrame = {
    graft.operators.GlobalRank
      .withPrefixSum(docs, Seq(col("doc_id")), "n_tokens", "cum")
      // (cum - n_tokens) tokens precede this doc = its start offset;
      // integer-divide by the budget to get its window
      .withColumn("pack_id",
        floor((col("cum") - col("n_tokens")) / lit(PackBudget)).cast("long"))
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("pack_id"))
  }

  /** DuckDB twin of [[packStats]] over a CTE `smp(doc_id, n_tokens)`. */
  private val packSql =
    s"""c AS (SELECT doc_id, n_tokens,
       |    sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM smp)
       |SELECT CAST((cum - n_tokens) // $PackBudget AS BIGINT) AS pack_id,
       |  count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY 1 ORDER BY pack_id""".stripMargin

  /** Sequential sequence packing by token offset: documents in doc_id
    * order fill context windows of `PackBudget` tokens; each doc joins the
    * window its FIRST token falls in (so a pack can overflow by at most
    * one document's length — standard offset-based packing). Emits
    * per-pack stats. The running token total is [[graft.operators.GlobalRank.withPrefixSum]]
    * — the distributed range-partitioned formulation, NOT a global
    * `Window.orderBy` (which would plan as a single-partition sort over
    * the corpus, the one scale cliff this family otherwise avoids).
    */
  def qPackSequences(s: SparkSession, d: String): DataFrame =
    packStats(Tables.documents(s, d)
      .select(col("doc_id"),
        size(graft.text.TextOps.tokens(col("text"))).cast("long").as("n_tokens")))

  /** Length-bucket granularity in tokens: documents are padded up to the
    * next multiple of this when batched (the 10–99-token corpus spreads
    * over several buckets).
    */
  val LenBucket = 32L

  /** Length-bucketed batching economics: bucket documents by token count
    * rounded up to the next [[LenBucket]] multiple, and report per bucket
    * the padding waste a fixed-shape batch would pay (padded slots minus
    * real tokens). The complement of [[qPackSequences]]: packing
    * eliminates padding by concatenation, bucketing bounds it by
    * grouping — both are standard batch-assembly strategies. Scale shape:
    * one narrow scan → O(max_len / bucket)-group aggregate, collapses
    * map-side.
    */
  def qLengthBuckets(s: SparkSession, d: String): DataFrame = {
    val n = size(graft.text.TextOps.tokens(col("text"))).cast("long")
    Tables.documents(s, d)
      .select(col("doc_id"),
        (floor((n + LenBucket - 1L) / LenBucket).cast("long") * LenBucket)
          .as("bucket_max"),
        n.as("n_tokens"))
      .groupBy(col("bucket_max"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("padded_tokens", col("n_docs") * col("bucket_max"))
      .withColumn("waste_x10000",
        graft.text.TextOps.idiv(
          (col("padded_tokens") - col("sum_tokens")) * 10000L,
          col("padded_tokens")))
      .orderBy(col("bucket_max"))
  }

  /** Chunking geometry: window size and stride in tokens (overlap =
    * size − stride). Sized so the ~50-token synthetic docs produce
    * multiple overlapping chunks.
    */
  val ChunkSize = 32
  val ChunkStride = 24

  /** Token-level chunking with overlap: each document split into
    * [[ChunkSize]]-token windows every [[ChunkStride]] tokens — the
    * context-window splitting pass a training pipeline runs on long
    * documents (sliding overlap preserves cross-boundary context).
    * Emits per-chunk offsets, lengths, and an md5 chunk fingerprint
    * (the dedup key for chunk-level exact dedup downstream).
    *
    * Scale shape: pure narrow — the chunk list is built per row and
    * exploded, O(tokens/stride) rows out, zero shuffles before the
    * presentation sort.
    */
  def qChunkDocuments(s: SparkSession, d: String): DataFrame = {
    val toks = graft.text.TextOps.tokens(col("text"))
    val n = size(col("toks"))
    // offsets 0, stride, 2·stride … while offset < n. The sequence bound is
    // clamped to ≥0 because sequence(0, -1) counts DOWN in Spark (bogus
    // negative offsets) while the DuckDB twin's range(0, …) is empty; the
    // off<n filter then drops the lone off=0 probe a zero-token doc would
    // produce. Unreachable with split-on-space tokens (empty text → [""],
    // n≥1) but the guard keeps the operator total, like qMediaFrames.
    val chunks = filter(
      transform(
        sequence(lit(0), greatest(floor((n - 1) / ChunkStride), lit(0)).cast("int")),
        k => {
          val off = k * ChunkStride
          val piece = slice(col("toks"), off + 1, lit(ChunkSize))
          struct(off.as("off"), size(piece).as("len"),
            md5(concat_ws(" ", piece)).as("fp"))
        }),
      c => c("off") < n)
    Tables.documents(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), n.as("n_tokens"),
        posexplode(chunks).as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("n_tokens"), col("chunk_idx"),
        col("c.off").as("offset"),
        col("c.len").as("chunk_tokens"),
        col("c.fp").as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Quality-filter floor shared by the pipeline and its oracle. */
  private val MinScore = 50

  /** The END-TO-END corpus-curation pipeline, composed from the library's
    * own stages: exact dedup (keep canonical) → quality filter (score ≥
    * [[MinScore]]) → deterministic stratified sample → sequence packing.
    * One query, one oracle — demonstrating that every stage composes as a
    * plain DataFrame transform with no materialization between stages.
    *
    * Scale shape: stages 1–3 are one fingerprint-keyed window shuffle plus
    * narrow filters (each stage only SHRINKS the data); only the final
    * packing pays the sequential running-sum window (per-shard at corpus
    * scale, see [[qPackSequences]]).
    */
  def qCurationPipeline(s: SparkSession, d: String): DataFrame = {
    import graft.text.TextOps
    // stage 1: exact dedup on the normal-form fingerprint
    val canonical = Tables.documents(s, d)
      .withColumn("fp", md5(TextOps.normText(col("text"))))
      .withColumn("keep",
        min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .filter(col("doc_id") === col("keep"))
    // stages 2–4 reuse the SAME expressions as the stage queries
    // (TextAnalysis.qualityScoreExpr, sampleBucket/sampleRate, packStats)
    // — the "same bands/rates" contract is enforced by sharing, not by
    // comment
    val quality = canonical.filter(TextAnalysis.qualityScoreExpr >= MinScore)
    val sampled = quality.filter(sampleBucket < sampleRate)
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    packStats(sampled)
  }

  /** Sample size drawn by [[qWeightedSample]]. */
  val WeightedSampleK = 100

  /** Deterministic weight-biased sampling: draw [[WeightedSampleK]] docs
    * with selection pressure proportional to quality — the "sample more
    * from the good stuff" step of a data recipe, without rand(). Each doc
    * gets an integer priority hash56("wsamp:"+doc_id) ÷ weight (weight =
    * the shared quality score, 25–100); the k LOWEST priorities win. A
    * doc with twice the weight halves its priority scale, so expected
    * selection odds grow with quality while remaining a pure function of
    * (doc_id, text) — reproducible across engines, re-runs,
    * repartitioning, and (unlike rand()-based weighted reservoirs)
    * corpus growth never reshuffles the relative order of existing docs.
    * The hash is reduced mod P (< 2^31) BEFORE dividing so the floor
    * division sits inside idiv's 2^52 exact window — raw hash56 (2^56)
    * would not.
    *
    * Scale shape: narrow scan computes (hash, weight, priority); the
    * top-k is TakeOrderedAndProject — every mapper keeps its local k, so
    * the single-point merge sees O(mappers·k) rows, never the corpus.
    */
  def qWeightedSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .withColumn("weight", TextAnalysis.qualityScoreExpr.cast("long"))
      .withColumn("priority", idiv(
        graft.text.TextOps.hashP(concat(lit("wsamp:"), col("doc_id"))),
        col("weight")))
      .select(col("doc_id"), col("lang"), col("weight"), col("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(WeightedSampleK)

  /** Mixture budget: 40% of the corpus. */
  val MixBudgetX10000 = 4000L

  /** Data-mixture resampling: hit TARGET source proportions, not the
    * corpus's accidental ones — the data-mixing step of a training
    * recipe. Each source gets weight 3 (even source index — the
    * "upweighted domains") or 1; its keep-rate is
    *
    *   rate = min(1, budget·total·wₛ / (Σw · nₛ))
    *
    * and documents are kept by md5-hash bucket < rate — reproducible
    * across engines, re-runs, and repartitioning, unlike rand().
    *
    * Scale shape: per-source counts are a map-side-combined aggregate of
    * O(sources) rows; the rate table broadcasts (bounded by the source
    * vocabulary); selection is a narrow scan-speed filter. Integer-exact
    * throughout (dividends ≤ total·budget·w ≈ 1e14 at 100 TB — inside
    * the 2^52 exact-floor window).
    */
  def qDataMixture(s: SparkSession, d: String): DataFrame = {
    import graft.text.TextOps
    val base = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val w = when(
      regexp_extract(col("source"), "(\\d+)", 1).cast("long") % 2 === 0,
      lit(3L)).otherwise(lit(1L))
    val counts = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_src")).withColumn("w", w)
    val tot = counts.agg(sum(col("n_src")).as("n_total"), sum(col("w")).as("sw"))
    val rates = counts.crossJoin(broadcast(tot))
      .withColumn("desired",
        idiv(col("n_total") * MixBudgetX10000 * col("w"),
          lit(10000L) * col("sw")))
      .withColumn("rate_x10000",
        least(lit(10000L), idiv(col("desired") * 10000L, col("n_src"))))
      .select(col("source"), col("n_src"), col("rate_x10000"))
    val kept = base
      .withColumn("bucket",
        pmod(TextOps.hash56(concat(lit("mix:"), col("doc_id"))), lit(10000L)))
      .join(broadcast(rates.select(col("source"), col("rate_x10000"))), "source")
      .filter(col("bucket") < col("rate_x10000"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_src"), col("rate_x10000"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------------
  // DuckDB oracles.
  // ---------------------------------------------------------------------

  /** Content-defined boundary modulus: a token CLOSES its chunk when its
    * 56-bit hash ≡ 0 (mod this) — expected chunk length equals the
    * modulus, and a boundary is a pure function of LOCAL content.
    */
  val CdChunkMod = 8

  /** CONTENT-DEFINED chunking (the Rabin/rolling-hash boundary family —
    * rsync, LBFS, modern dedup stores): unlike [[qChunkDocuments]]'s
    * fixed-size windows, boundaries fall where the CONTENT says (token
    * hash ≡ 0 mod [[CdChunkMod]]), so inserting one sentence shifts
    * every fixed-window frame but leaves all content-defined chunks
    * after the next boundary IDENTICAL — the property that makes
    * chunk-level dedup survive edits. The gate emits per-doc chunk
    * stats plus how much of each doc duplicates ACROSS the corpus at
    * chunk granularity (chunk-hash document frequency ≥ 2).
    *
    * Scale shape: one doc-keyed explode+window assigns chunk ids (a
    * per-doc running boundary count — the only per-doc sequential
    * dependency), one (doc, chunk) aggregate folds chunk hashes, and
    * the chunk-hash df rollup is keyed on the 8-byte hash with map-side
    * partials — the [[Dedup.qDedupSubstring]] skeleton at chunk
    * granularity, every stage shrinking, no all-pairs anything.
    */
  def qContentChunks(s: SparkSession, d: String): DataFrame = {
    import graft.text.TextOps
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos"), col("tok"),
        when(TextOps.hash56(col("tok")) % CdChunkMod === 0, 1L)
          .otherwise(0L).as("b"))
    // chunk id = boundaries strictly BEFORE this token: the closing
    // token stays in the chunk it closes, the next one starts fresh
    val withChunk = toks.withColumn("cid",
      coalesce(sum(col("b")).over(w), lit(0L)))
    val chunks = withChunk.groupBy(col("doc_id"), col("cid"))
      .agg(
        TextOps.hash56(concat_ws(" ",
          transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
            x => x("tok")))).as("chash"),
        count(lit(1)).as("clen"))
      .stage() // chunk-hash df rollup + per-doc aggregate both read it
    val dfTab = chunks.groupBy(col("chash"))
      .agg(countDistinct(col("doc_id")).as("cdf"))
    chunks.join(dfTab, "chash")
      .groupBy(col("doc_id"))
      .agg(sum(col("clen")).as("n_tokens"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("cdf") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_chunk_x10000",
        graft.text.TextOps.idiv(col("n_dup_chunks") * 10000L, col("n_chunks")))
      .orderBy(col("doc_id"))
  }

  /** Selected fraction for [[qDsirSample]]: the top quarter by importance. */
  val DsirKeepDen = 4L

  /** Importance-weight scale for [[qDsirSample]]: weights are parity-
    * centered millionths. Arithmetic headroom: the weight numerator is
    * `Scale · (c_t+1) · (T_r+V)`, computed with the exact integral `div`
    * (NOT the floor-of-double idiv, whose exactness window ends at
    * ~2^52 — review finding, round 8), so the budget is the full int64:
    * `(c_t+1) · (T_r+V) < 2^63/Scale ≈ 9.2·10^12` — e.g. a 10^4-count
    * word against ~10^8 total raw occurrences. Larger corpora lower the
    * scale (the weights only need to rank) or move the scale factor
    * into the per-document sum.
    */
  val DsirScale = 1000000L

  /** DSIR-style IMPORTANCE RESAMPLING (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every document by how much more likely its words are under a TARGET
    * unigram LM than under the RAW-corpus LM, then keep the top slice —
    * the standard way to tilt a web-scale crawl toward a high-quality
    * target domain without training a classifier. Target here = the
    * `lang = 'en'` slice (the in-corpus stand-in for "looks like the
    * reference corpus"); raw = everything.
    *
    * Per-word weight: the FIRST-ORDER (linear-space) importance
    * `wgt(w) = ⌊S·(c_t+1)·(T_r+V) / ((c_r+1)·(T_t+V))⌋ − S` — the
    * add-one-smoothed probability ratio p_t(w)/p_r(w), parity-centered
    * and scaled to exact integers ([[DsirScale]]). For the small
    * per-word deviations real corpora exhibit this is the Taylor
    * expansion of the log weight (`ln(1+x) ≈ x`), and unlike a
    * bit-quantized log2 it keeps SUB-BIT deviations — on a
    * near-exchangeable corpus a 1-bit quantizer rounds every weight to
    * zero and the sampler degenerates to doc-id order. A document's
    * score sums wgt over its word OCCURRENCES; the kept set is the top
    * ⌊N/[[DsirKeepDen]]⌋ under the total order (score DESC, doc_id) —
    * DSIR's Gumbel-noise draw replaced by the deterministic top-k (the
    * zero-temperature special case) so the gate is engine-exact.
    *
    * Scale shape: one tokenize pass feeds a word-keyed rollup with
    * map-side combine carrying both counts (raw via count, target via a
    * conditional sum — the target model costs no second scan); totals
    * reduce to ONE broadcast row; scoring is a word-keyed equi-join of
    * occurrences onto the vocab-sized weight table and a doc-keyed sum.
    * The ranked cut uses [[graft.operators.GlobalRank]] — range-
    * partitioned sort + offset arithmetic over a NARROW (id, score)
    * projection, not a single-partition window.
    */
  def qDsirSample(s: SparkSession, d: String): DataFrame = {
    import graft.text.TextOps
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), (col("lang") === "en").as("is_t"),
        explode(TextOps.tokens(col("text"))).as("w"))
      .stage() // the weight rollup and the scoring join both read it
    val wt = toks.groupBy(col("w"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))
      .stage() // totals + weights both read it
    val tot = wt.agg(count(lit(1)).as("v"),
      sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    // LOUD overflow budget (round-8 advisory): Spark's non-ANSI int64
    // multiplication WRAPS where DuckDB promotes to HUGEINT, so past the
    // budget the gate would fail as an opaque hash mismatch. This 1-row
    // receipt (driver-bounded, the vocab-collect convention) turns that
    // cliff into an explicit error naming the headroom.
    locally {
      val r = wt.agg(max(col("ct")).as("mct"), max(col("cr")).as("mcr"),
        sum(col("cr")).as("tr"), sum(col("ct")).as("tt"),
        count(lit(1)).as("v")).head
      val (mct, mcr, tr, tt, v) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))
      val num = BigInt(DsirScale) * (mct + 1) * (tr + v)
      val den = BigInt(mcr + 1) * (tt + v)
      require(num <= Long.MaxValue && den <= Long.MaxValue,
        s"DSIR weight arithmetic would wrap int64: max numerator $num, " +
          s"max denominator $den vs ${Long.MaxValue} — lower DsirScale " +
          "or shard the corpus")
    }
    // exact int64 division (positive operands: `div` == DuckDB `//`);
    // idiv's floor-of-double would drift past 2^52 numerators
    val ww = wt.crossJoin(broadcast(tot))
      .withColumn("num",
        lit(DsirScale) * (col("ct") + 1L) * (col("tr") + col("v")))
      .withColumn("den", (col("cr") + 1L) * (col("tt") + col("v")))
      .select(col("w"), (expr("num div den") - DsirScale).as("wgt"))
    val sc = toks.join(ww, "w")
      .groupBy(col("doc_id")).agg(sum(col("wgt")).as("score_scaled"))
    val scored = Tables.documents(s, d).select(col("doc_id"), col("lang"))
      .join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("score_scaled"), lit(0L)).as("score_scaled"))
    graft.operators.GlobalRank
      .withRank(scored, Seq(col("score_scaled").desc, col("doc_id")),
        "rn", "n")
      .select(col("doc_id"), col("lang"), col("score_scaled"),
        (col("rn") <= idiv(col("n"), lit(DsirKeepDen))).as("selected"))
      .orderBy(col("doc_id"))
  }

  private def h56sql(x: String) = s"CAST('0x'||substr(md5($x),1,14) AS BIGINT)"

  val oracle: Map[String, String] = Map(
    "q_dsir_sample" ->
      s"""WITH tok AS (SELECT doc_id, lang = 'en' AS is_t,
         |    unnest(string_split(text, ' ')) AS w FROM documents),
         |wt AS (SELECT w, CAST(count(*) AS BIGINT) AS cr,
         |    CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct
         |  FROM tok GROUP BY 1),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS v,
         |    CAST(sum(cr) AS BIGINT) AS tr,
         |    CAST(sum(ct) AS BIGINT) AS tt FROM wt),
         |ww AS (SELECT w,
         |    CAST(($DsirScale * (ct + 1) * (tr + v))
         |      // ((cr + 1) * (tt + v)) - $DsirScale AS BIGINT) AS wgt
         |  FROM wt CROSS JOIN tot),
         |sc AS (SELECT tok.doc_id, sum(ww.wgt) AS s
         |  FROM tok JOIN ww USING (w) GROUP BY 1),
         |scored AS (SELECT d.doc_id, d.lang,
         |    CAST(coalesce(sc.s, 0) AS BIGINT) AS score_scaled
         |  FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id),
         |r AS (SELECT *, row_number() OVER
         |    (ORDER BY score_scaled DESC, doc_id) AS rn,
         |    count(*) OVER () AS n FROM scored)
         |SELECT doc_id, lang, score_scaled,
         |  rn <= n // $DsirKeepDen AS selected
         |FROM r ORDER BY doc_id""".stripMargin,
    "q_content_chunks" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |           FROM documents),
         |p AS (SELECT doc_id, i AS pos, toks[i] AS tok,
         |        CASE WHEN ${h56sql("toks[i]")} % $CdChunkMod = 0
         |             THEN 1 ELSE 0 END AS b
         |      FROM t CROSS JOIN unnest(range(1, len(toks) + 1)) u(i)),
         |c AS (SELECT doc_id, pos, tok,
         |        coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS cid
         |      FROM p),
         |ch AS (SELECT doc_id, cid,
         |         ${h56sql("string_agg(tok, ' ' ORDER BY pos)")} AS chash,
         |         count(*) AS clen
         |       FROM c GROUP BY 1, 2),
         |dfc AS (SELECT chash, count(DISTINCT doc_id) AS cdf
         |        FROM ch GROUP BY 1)
         |SELECT ch.doc_id,
         |  CAST(sum(clen) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN cdf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_chunks,
         |  CAST(sum(CASE WHEN cdf >= 2 THEN 1 ELSE 0 END) * 10000
         |    // count(*) AS BIGINT) AS dup_chunk_x10000
         |FROM ch JOIN dfc USING (chash)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q_data_mixture" ->
      s"""WITH base AS (SELECT doc_id, source FROM documents),
         |c AS (SELECT source, count(*) AS n_src,
         |    CASE WHEN CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT) % 2 = 0
         |         THEN 3 ELSE 1 END AS w
         |  FROM base GROUP BY 1),
         |t AS (SELECT CAST(sum(n_src) AS BIGINT) AS n_total,
         |             CAST(sum(w) AS BIGINT) AS sw FROM c),
         |r AS (SELECT source, n_src,
         |    least(10000,
         |      (n_total * $MixBudgetX10000 * w // (10000 * sw)) * 10000 // n_src)
         |      AS rate_x10000
         |  FROM c CROSS JOIN t),
         |k AS (SELECT source, count(*) AS n_kept
         |  FROM base JOIN r USING (source)
         |  WHERE CAST('0x'||substr(md5('mix:'||CAST(doc_id AS VARCHAR)),1,14)
         |          AS BIGINT) % 10000 < rate_x10000
         |  GROUP BY 1)
         |SELECT r.source, CAST(n_src AS BIGINT) AS n_src,
         |  CAST(rate_x10000 AS BIGINT) AS rate_x10000,
         |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept
         |FROM r LEFT JOIN k USING (source)
         |ORDER BY source""".stripMargin,
    "q_select_best" ->
      s"""WITH t AS (SELECT doc_id, source, n_chars,
         |    string_split(text, ' ') AS toks FROM documents),
         |s AS (SELECT doc_id, source,
         |  ${TextAnalysis.qualityScoreSql} AS score
         |  FROM t),
         |r AS (SELECT *, row_number() OVER (
         |        PARTITION BY source ORDER BY score DESC, doc_id) AS rank
         |      FROM s)
         |SELECT source, CAST(rank AS INT) AS rank, doc_id,
         |  CAST(score AS INT) AS score
         |FROM r WHERE rank <= $SelectPerSource
         |ORDER BY source, rank""".stripMargin,

    "q_train_test_split" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |  CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,14)
         |    AS BIGINT) % 100 AS bucket
         |  FROM documents)
         |SELECT doc_id, lang, bucket,
         |  CASE WHEN bucket < $TrainPct THEN 'train' ELSE 'test' END AS split
         |FROM t ORDER BY doc_id""".stripMargin,

    "q_split_leakage_safe" ->
      s"""WITH t AS (SELECT doc_id,
         |  md5(trim(regexp_replace(lower(text),'\\s+',' ','g'))) AS fp
         |  FROM documents),
         |c AS (SELECT doc_id, fp,
         |  min(doc_id) OVER (PARTITION BY fp) AS canonical_doc_id FROM t),
         |a AS (SELECT doc_id, fp, canonical_doc_id,
         |  CAST('0x'||substr(md5('split:'||CAST(canonical_doc_id AS VARCHAR)),1,14)
         |    AS BIGINT) % 100 AS bucket FROM c),
         |sp AS (SELECT doc_id, fp, canonical_doc_id, bucket,
         |  CASE WHEN bucket < $TrainPct THEN 'train' ELSE 'test' END AS split
         |  FROM a)
         |SELECT doc_id, canonical_doc_id, bucket, split,
         |  CAST(count(DISTINCT split) OVER (PARTITION BY fp) AS BIGINT)
         |    AS group_splits
         |FROM sp ORDER BY doc_id""".stripMargin,

    "q_contamination" ->
      s"""WITH sh AS (${Dedup.shingleSql}),
         |b AS (SELECT doc_id AS bench_id, unnest(hs) AS sh FROM sh
         |      WHERE doc_id % $BenchMod = 0),
         |c AS (SELECT doc_id, len(hs) AS n_sh, unnest(hs) AS sh FROM sh
         |      WHERE doc_id % $BenchMod != 0),
         |p AS (SELECT c.doc_id, c.n_sh, b.bench_id, count(*) AS common
         |      FROM c JOIN b ON c.sh = b.sh GROUP BY 1, 2, 3),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY common DESC, bench_id) AS rn FROM p)
         |SELECT doc_id, bench_id, common,
         |  CAST(common * 10000 // n_sh AS BIGINT) AS contamination_x10000
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_tfidf_keywords" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT tf.doc_id, tf.term, tf.tf,
        |         tf.tf * (n.n_docs * 10000 // df.df) AS score
        |       FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, term) AS rank FROM sc)
        |SELECT doc_id, CAST(rank AS INT) AS rank, term, tf,
        |  CAST(score AS BIGINT) AS score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q_weighted_sample" ->
      s"""WITH t AS (SELECT doc_id, lang, n_chars,
         |    string_split(text, ' ') AS toks FROM documents),
         |s AS (SELECT doc_id, lang,
         |    CAST(${TextAnalysis.qualityScoreSql} AS BIGINT) AS weight
         |  FROM t),
         |p AS (SELECT doc_id, lang, weight,
         |    CAST((CAST('0x'||substr(md5('wsamp:'||CAST(doc_id AS VARCHAR)),1,14)
         |      AS BIGINT) % 2147483647) // weight AS BIGINT) AS priority
         |  FROM s)
         |SELECT doc_id, lang, weight, priority
         |FROM p ORDER BY priority, doc_id LIMIT $WeightedSampleK""".stripMargin,

    "q_stratified_sample" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |  $sampleBucketSql AS bucket,
         |  $sampleRateSql AS rate
         |  FROM documents)
         |SELECT doc_id, lang, bucket
         |FROM t WHERE bucket < rate
         |ORDER BY doc_id""".stripMargin,

    "q_pack_sequences" ->
      s"""WITH smp AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |$packSql""".stripMargin,

    "q_length_buckets" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |b AS (SELECT ((n_tokens + ${LenBucket - 1}) // $LenBucket) * $LenBucket
         |        AS bucket_max, n_tokens FROM t),
         |g AS (SELECT bucket_max, count(*) AS n_docs,
         |        CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |      FROM b GROUP BY 1)
         |SELECT CAST(bucket_max AS BIGINT) AS bucket_max, n_docs, sum_tokens,
         |  CAST(n_docs * bucket_max AS BIGINT) AS padded_tokens,
         |  CAST((n_docs * bucket_max - sum_tokens) * 10000
         |       // (n_docs * bucket_max) AS BIGINT) AS waste_x10000
         |FROM g ORDER BY bucket_max""".stripMargin,

    "q_chunk_documents" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |           FROM documents)
         |SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
         |  CAST(k AS INT) AS chunk_idx,
         |  CAST(k * $ChunkStride AS INT) AS offset,
         |  CAST(len(list_slice(toks, k*$ChunkStride + 1,
         |    k*$ChunkStride + $ChunkSize)) AS INT) AS chunk_tokens,
         |  md5(array_to_string(list_slice(toks, k*$ChunkStride + 1,
         |    k*$ChunkStride + $ChunkSize), ' ')) AS chunk_md5
         |FROM t CROSS JOIN
         |  unnest(range(0, (len(toks) - 1) // $ChunkStride + 1)) u(k)
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    // stages share their SQL fragments with the stage-query oracles
    // (TextAnalysis.qualityScoreSql, sampleBucketSql/sampleRateSql,
    // packSql) — one source of truth per stage, Scala and SQL alike
    "q_curation_pipeline" ->
      s"""WITH t AS (SELECT doc_id, lang, n_chars,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         |    string_split(text, ' ') AS toks
         |  FROM documents),
         |k AS (SELECT * FROM (SELECT *,
         |        min(doc_id) OVER (PARTITION BY fp) AS keep FROM t)
         |      WHERE doc_id = keep),
         |q AS (SELECT *,
         |  ${TextAnalysis.qualityScoreSql} AS score
         |  FROM k),
         |f AS (SELECT * FROM q WHERE score >= $MinScore),
         |smp AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
         |  FROM f
         |  WHERE $sampleBucketSql < ($sampleRateSql)),
         |$packSql""".stripMargin,

    "q_redact_pii" ->
      s"""WITH t AS (SELECT c_custkey AS custkey,
         |  'Contact ' || c_name || ' <'
         |    || regexp_replace(lower(c_name), '[^a-z0-9]+', '.', 'g')
         |    || '@' || lower(c_mktsegment) || '.example.com'
         |    || '> or call 555-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
         |    || '-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') || '.'
         |    AS blurb
         |  FROM customer)
         |SELECT custkey,
         |  CAST(len(regexp_extract_all(blurb, '$EmailRe')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(blurb, '$PhoneRe')) AS INT) AS n_phones,
         |  regexp_replace(regexp_replace(blurb, '$EmailRe', '<EMAIL>', 'g'),
         |    '$PhoneRe', '<PHONE>', 'g') AS redacted
         |FROM t ORDER BY custkey""".stripMargin
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_contamination" -> (qContamination _),
    "q_tfidf_keywords" -> (qTfidfKeywords _),
    "q_redact_pii" -> (qRedactPii _),
    "q_stratified_sample" -> (qStratifiedSample _),
    "q_weighted_sample" -> (qWeightedSample _),
    "q_train_test_split" -> (qTrainTestSplit _),
    "q_split_leakage_safe" -> (qSplitLeakageSafe _),
    "q_select_best" -> (qSelectBest _),
    "q_pack_sequences" -> (qPackSequences _),
    "q_length_buckets" -> (qLengthBuckets _),
    "q_curation_pipeline" -> (qCurationPipeline _),
    "q_chunk_documents" -> (qChunkDocuments _),
    "q_content_chunks" -> (qContentChunks _),
    "q_dsir_sample" -> (qDsirSample _),
    "q_data_mixture" -> (qDataMixture _)
  )
}
