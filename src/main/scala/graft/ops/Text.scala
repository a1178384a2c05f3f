package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, quality scoring, language-ID
  * (lexicon heuristic), and document fingerprinting (rolling hash).
  *
  * All operators are pure Catalyst column expressions (no UDFs): they
  * stay inside whole-stage codegen and are reproducible in ANSI-ish
  * SQL for the DuckDB oracle. Careful parity notes: tokenization is
  * `lower` + split on `[^a-z0-9]+` + drop empties — identical
  * semantics in Spark `split`/`filter` and DuckDB
  * `regexp_split_to_array`/`list_filter`.
  */
object Text {

  /** Tokens of a text column: lowercase, split on non-alphanumeric
    * runs, empties removed. */
  def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => t =!= lit(""))

  def tokenCount(c: Column): Column = size(tokens(c))

  /** English-ish stopword list (fixed, tiny — parity with oracle). */
  val stopwords: Seq[String] = Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

  def stopwordCount(c: Column): Column =
    size(filter(tokens(c), t => t.isInCollection(stopwords)))

  /** Quality signals per document, all exact-arithmetic or
    * deterministic double ops:
    *  n_chars_txt, n_tokens, n_stopwords, n_digits, n_punct,
    *  avg_token_len (double), stopword_ratio (double).
    */
  def qualitySignals(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val c = col(textCol)
    val toks = tokens(c)
    docs
      .withColumn("n_chars_txt", length(c))
      .withColumn("n_tokens", size(toks))
      .withColumn("n_stopwords", stopwordCount(c))
      .withColumn("n_digits", length(c) - length(regexp_replace(c, "[0-9]", "")))
      .withColumn("n_punct", length(c) - length(regexp_replace(c, "[.,;:!?]", "")))
      .withColumn("avg_token_len",
        when(size(toks) > 0,
          aggregate(transform(toks, t => length(t).cast("long")), lit(0L), _ + _)
            .cast("double") / size(toks).cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("stopword_ratio",
        when(size(toks) > 0,
          stopwordCount(c).cast("double") / size(toks).cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Tiny per-language lexicons for the n-gram/stopword language-ID
    * heuristic. Deterministic tie-break: first language in `langs`
    * order wins (scores compared with >=). */
  val langLexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "zh" -> Seq("de", "shi", "le", "wo", "ni"),
  )

  /** Language-ID: argmax of lexicon hit-counts over the token list. */
  def langId(c: Column): Column = {
    val toks = tokens(c)
    val scores = langLexicons.map { case (l, lex) =>
      l -> size(filter(toks, t => t.isInCollection(lex)))
    }
    // first max wins: lang i is chosen iff it strictly beats every
    // earlier lang and ties-or-beats every later one
    val caseChain = scores.zipWithIndex.foldLeft(Option.empty[Column]) {
      case (acc, ((l, s), i)) =>
        val isMax = scores.zipWithIndex.filter(_._2 != i).map {
          case ((_, s2), j) => if (j < i) s > s2 else s >= s2
        }.reduce(_ && _)
        acc match {
          case None      => Some(when(isMax, lit(l)))
          case Some(col) => Some(col.when(isMax, lit(l)))
        }
    }
    caseChain.get.otherwise(lit(scores.head._1))
  }

  /** Word n-gram MULTISET (order kept, duplicates kept — the
    * repetition signal needs counts; [[Dedup.shingles]] wraps this
    * with array_distinct for set semantics). Built by the codegen'd
    * [[graft.functions.WordNgrams]] — the previous
    * `transform(sequence, i -> concat_ws(slice))` formulation ran an
    * interpreted lambda + array slice per position (O(tokens·n) with a
    * large constant) and dominated the shingle-path bench. */
  def wordNgrams(c: Column, n: Int): Column =
    graft.functions.Native.wordNgramsNative(tokens(c), n)

  /** Per-document repetition ratio: count of the most frequent word
    * n-gram over total n-grams — the standard boilerplate/spam signal.
    * Input docs need `doc_id`; docs with < n tokens are dropped.
    * Output: `doc_id, rep_ratio`. */
  def repetitionRatio(docs: DataFrame, n: Int, textCol: String = "text"): DataFrame =
    docs
      .select(col("doc_id"), explode(wordNgrams(col(textCol), n)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg((max(col("c")).cast("double") / sum(col("c")).cast("double")).as("rep_ratio"))

  /** Benchmark-contamination scan: per training document, how much of
    * it appears verbatim in a held-out evaluation set — the
    * decontamination pass every pretraining pipeline runs before
    * training, done as n-gram SET overlap (the GPT-3-style heuristic,
    * shorter n here because the fixtures are short).
    *
    * Scale shape: the benchmark's distinct n-gram set is the small
    * side by construction (an eval suite is MBs against a 100 TB
    * corpus), so it is broadcast and the scan is one pass over the
    * training docs with a map-side semi-probe — no corpus shuffle on
    * the gram key, only the per-doc count agg. Docs with < n tokens
    * have no n-grams and are dropped (nothing to contaminate).
    *
    * Output: `doc_id, n_grams, n_hit, contam_ratio` (distinct grams,
    * grams also in the benchmark, hit fraction). */
  def ngramContamination(train: DataFrame, bench: DataFrame, n: Int,
                         textCol: String = "text"): DataFrame = {
    val grams = (d: DataFrame) =>
      d.select(col("doc_id"),
        explode(array_distinct(wordNgrams(col(textCol), n))).as("gram"))
    val benchGrams = grams(bench).select("gram").distinct()
      .withColumn("hit", lit(1L))
    grams(train)
      .join(broadcast(benchGrams), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("contam_ratio",
        round(col("n_hit").cast("double") / col("n_grams").cast("double"), 6))
  }

  /** Junk filter verdict: `doc_id, keep, reason` — first failing rule
    * wins ('too_short' | 'too_numeric' | 'ok'). */
  def junkFilter(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val reason = junkReason(col(textCol))
    docs.select(col("doc_id"), (reason === "ok").as("keep"), reason.as("reason"))
  }

  private def junkReason(c: Column): Column = {
    val nTok = tokenCount(c)
    val digitRatio = (length(c) - length(regexp_replace(c, "[0-9]", ""))).cast("double") /
      greatest(length(c), lit(1)).cast("double")
    when(nTok < 5, lit("too_short"))
      .when(digitRatio > 0.3, lit("too_numeric"))
      .otherwise(lit("ok"))
  }

  /** The keep-side of [[junkFilter]] as a row-wise PREDICATE — callers
    * that only need the surviving docs filter in place instead of
    * joining back against the verdict table (same rows, no self-join:
    * the verdict is a pure function of the row). */
  def junkKeep(c: Column): Column = junkReason(c) === "ok"

  /** Non-overlapping n-token segments of a text column, in document
    * order — the segmentation unit for [[boilerplateScrub]] on data
    * whose "lines" are not newline-delimited (the driver fixtures are
    * single-line token streams). Real newline data passes
    * `split(col("text"), "\n")` to [[boilerplateScrub]] directly
    * instead. Empty docs yield an empty array. NULL in, NULL out: a
    * null text gives a null array, not an empty one — posexplode drops
    * both alike, but a non-exploding caller (`size`, array equality)
    * sees the difference; wrap in `coalesce(.., array())` where
    * empty-array semantics are wanted. */
  def tokenSegments(c: Column, n: Int): Column = {
    require(n > 0, "segment size must be positive")
    // codegen'd single pass (graft.functions.TokenSegments). The
    // previous `transform(sequence, i -> array_join(slice(toks,...)))`
    // lambda re-evaluated the FULL `tokens(c)` subexpression per
    // segment (higher-order lambdas are interpreted and hoist
    // nothing), i.e. O(segments · tokens) regex splits per document —
    // quadratic in doc length and the dominant cost of every
    // boilerplate-segmentation query. Output values are identical
    // (ceil(m/n) space-joined segments, ragged tail kept; empty/null
    // text explodes to no rows either way).
    graft.functions.Native.tokenSegmentsNative(tokens(c), n)
  }

  /** Segment-level boilerplate removal (the CCNet / RefinedWeb line
    * dedup): a segment that occurs in ≥ `minDocs` DISTINCT documents
    * is boilerplate (navigation chrome, license headers, cookie
    * banners) and is dropped from every document; the rest of each
    * document is reassembled in original order. `segments` is any
    * ordered array column — `split(text, "\n")` for real line data,
    * [[tokenSegments]] for undelimited streams.
    *
    * Scale shape (100 TB): one segment-key shuffle for the
    * distinct-doc count (partial count-distinct per partition first),
    * one equi-join back (the flagged-segment side holds only segments
    * above the threshold — rare by definition — so AQE picks a
    * broadcast when it fits), one doc-key shuffle to reassemble.
    * Θ(total segments), no N² anywhere. Reassembly is order-exact:
    * kept segments are collected as (idx, seg) structs and
    * `array_sort`ed — never `collect_list` order, which Spark does
    * not define.
    *
    * Output: `doc_id, n_segs, n_boiler, clean_md5` — counts plus the
    * md5 of the space-joined surviving segments (hash-pins the full
    * reassembled text without carrying it). Docs with zero segments
    * are dropped (nothing to scrub). */
  def boilerplateScrub(docs: DataFrame, segments: Column, minDocs: Int,
                       idCol: String = "doc_id"): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would flag every segment")
    // cached: the exploded segment table feeds BOTH the boilerplate
    // count and the join-back/reassembly below — without the cache the
    // segmentation explode runs twice from parquet (same cache
    // contract as the Dedup shingle tables: the session clears caches
    // between queries)
    val seg = docs.select(col(idCol).as("doc_id"), posexplode(segments).as(Seq("idx", "seg")))
      .cache()
    val boiler = seg.groupBy("seg")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= minDocs)
      .select(col("seg"), lit(true).as("_boiler"))
    seg.join(boiler, Seq("seg"), "left")
      .withColumn("is_b", coalesce(col("_boiler"), lit(false)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("is_b"), lit(1L)).otherwise(lit(0L))).as("n_boiler"),
        // collect_list skips nulls, so only kept segments land in the
        // array; array_sort on (idx, seg) structs restores doc order
        md5(array_join(
          transform(
            array_sort(collect_list(when(!col("is_b"),
              struct(col("idx"), col("seg"))))),
            x => x.getField("seg")),
          " ")).as("clean_md5"))
  }

  /** PII redaction patterns — the training-data hygiene pass every
    * public-corpus pipeline runs (emails, IPv4s, phone-shaped
    * numbers). Deliberately the RE2 ∩ java.util.regex common subset
    * (char classes, bounded repeats, `\b`) so the DuckDB oracle runs
    * the literally identical pattern. Redaction order matters and is
    * fixed: emails first (their local parts contain digits and dots
    * that the other patterns could chew on), then IPs, then phones. */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern: String = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phonePattern: String = "\\b\\d{3}-\\d{4}\\b"

  /** Scrubbed text: every email → `<EMAIL>`, IPv4 → `<IP>`, phone →
    * `<PHONE>`, applied in the documented order. Pure codegen'd
    * `regexp_replace` chain — one pass per pattern, no UDF. */
  def piiRedact(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailPattern, "<EMAIL>"),
        ipv4Pattern, "<IP>"),
      phonePattern, "<PHONE>")

  /** Match counts per PII class on the UNREDACTED text (the audit
    * numbers a pipeline reports before scrubbing). */
  def piiCounts(c: Column): (Column, Column, Column) =
    (regexp_count(c, lit(emailPattern)),
     regexp_count(c, lit(ipv4Pattern)),
     regexp_count(c, lit(phonePattern)))

  /** BPE-ish subword segmentation count: a GPT-2-style pretokenizer
    * regex (space-prefixed letter runs, digit runs, punctuation runs)
    * — the standard pre-merge segmentation; real BPE would then merge
    * within each piece, so this counts an upper bound on merged
    * tokens and is the usual cheap proxy for token budgeting. */
  val bpeishPattern: String = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"

  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(lower(c), lit(bpeishPattern), lit(0)))

  /** Rolling polynomial fingerprint over the characters of the text:
    * fp = fold(chars, 0, (acc, ch) -> (acc*31 + codepoint(ch)) mod
    * 2147483647). Exact 64-bit integer arithmetic — bit-identical in
    * any engine; acc < 2^31 keeps acc*31+c < 2^36 (no overflow). */
  def fingerprint(c: Column): Column =
    aggregate(
      // filter: Spark split keeps a trailing "" (limit -1) that
      // DuckDB string_split drops — drop empties on both sides
      transform(filter(split(c, ""), ch => ch =!= lit("")),
        ch => ascii(ch).cast("long")),
      lit(0L),
      (acc, v) => pmod(acc * 31 + v, lit(2147483647L)))

  /** Corpus-frequency rarity signal — the integer-exact proxy for the
    * CCNet-style LM-perplexity quality filter: character n-grams whose
    * CORPUS frequency is low mark garbled/OOV-ish text (a KenLM-filter
    * run scores the same thing with a trained LM; this needs no model
    * and no floats until the final ratio). Per doc: `n_tri` (char
    * n-gram occurrences), `sum_freq`/`min_freq` (sum and minimum of
    * each occurrence's corpus count — a min of 1 means the doc
    * contains text seen NOWHERE else), `n_rare` (occurrences whose
    * corpus count ≤ `rareMax`) and `rare_ratio` (the junk-filter knob,
    * one exact integer division rounded at the end). Docs shorter than
    * `n` chars emit no row. All counts are exact integers, so the
    * whole signal sits under the cross-engine hash gate — no
    * order-dependent double summation (the corpus_drift discipline),
    * unlike a log-prob formulation whose micro-rounded logs could
    * flip on a 1-ulp libm divergence (the text_tfidf lesson).
    *
    * Scale shape: two shuffles over the char-gram stream (corpus
    * count groupBy, per-doc agg) plus a gram equi-join; the counts
    * table is bounded by charset^n (n = 3 over a byte-ish charset →
    * ≤ ~2M rows at ANY corpus size), so at 100 TB the join broadcasts
    * the counts and the whole signal is Θ(chars). Char n-grams are
    * the [[graft.functions.WordNgrams]] loop over the char array —
    * identical keys to DuckDB's array_to_string slices. */
  def corpusRarity(docs: DataFrame, n: Int = 3, rareMax: Long = 2L): DataFrame = {
    require(n >= 1, "n must be positive")
    require(rareMax >= 1, "rareMax must be positive")
    val chars = filter(split(lower(col("text")), ""), ch => ch =!= lit(""))
    val grams = docs.select(col("doc_id"),
      explode(graft.functions.Native.wordNgramsNative(chars, n)).as("g"))
    // pre-aggregate the occurrence stream to (doc, gram) COUNTS before
    // anything reshuffles it: char n-grams repeat heavily within a doc
    // ("aggregate before you shuffle"), and the raw formulation
    // shuffled every occurrence twice (once into the gram join, once
    // into the per-doc agg). All downstream arithmetic recovers the
    // occurrence-level numbers exactly from the (c, cf) pairs:
    // n_tri = Σc, sum_freq = Σ c·cf, min_freq = min cf (occurrences of
    // one gram share its cf), n_rare = Σ c·[cf ≤ rareMax].
    val perDoc = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val cnts = perDoc.groupBy("g").agg(sum(col("c")).as("cf"))
    perDoc.join(cnts, "g")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tri"),
        sum(col("c") * col("cf")).as("sum_freq"),
        min(col("cf")).as("min_freq"),
        sum(when(col("cf") <= rareMax, col("c")).otherwise(0L)).as("n_rare"))
      .withColumn("rare_ratio",
        round(col("n_rare").cast("double") / col("n_tri").cast("double"), 6))
  }
}
