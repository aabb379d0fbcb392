package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{OracleGen, QueryPack, Tables}
import graft.ops.text.ParseEmails

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: language-ID (stopword-vote heuristic), quality
  * scoring, token statistics, document fingerprinting — plus the email
  * parser and HTML stripper exercised end-to-end with DuckDB oracles by
  * round-tripping synthetic messages built from document rows.
  *
  * All are single-pass, shuffle-free per-row transforms (the group-bys
  * aggregate tiny result cardinalities): at 100 TB they scale linearly
  * with input splits.
  */
object TextAnalysis extends QueryPack {

  // --- q19: email parse round-trip (M1 at the query surface) -------------
  def q19EmailParse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("msg", concat(
        lit("Message-ID: <"), $"doc_id", lit("@x>\n"),
        lit("From: u"), $"doc_id", lit("@example.com\n"),
        lit("Subject: doc "), $"doc_id", lit("\n\n"), $"text"))
      .withColumn("parsed", ParseEmails.parseEmailUdf($"msg"))
      .select($"doc_id",
        $"parsed.From".as("from_addr"),
        $"parsed.Subject".as("subject"),
        $"parsed.Message_D".as("message_id"),
        ($"parsed.text" === $"text").as("text_roundtrip"))
  }

  // --- q20: HTML strip round-trip (M2 at the query surface) --------------
  def q20HtmlStrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("html", concat(
        lit("<html><body bgcolor=\"#fff\"><p>"), $"text",
        lit("</p><!-- hidden --><script>var x=1;</script></body></html>")))
      .select($"doc_id",
        ParseEmails.stripHtmlUdf($"html").as("stripped"))
  }

  // --- q108: boilerplate block filtering (jusText-lite) --------------------
  /** Block-level content-vs-boilerplate classification — the
    * extraction stage between raw HTML and every text filter
    * downstream (jusText, Pomikálek 2011; trafilatura's core loop):
    * segment a page into blocks, score each by length and link
    * density, keep the content blocks. q20 strips tags; this decides
    * WHICH text survives.
    *
    * Classifier (jusText's two robust signals, fixed thresholds):
    * content ⇔ n_words ≥ 5 AND link_density ≤ 0.3. Stopword density
    * is computed alongside (the third jusText signal) for consumers
    * that tune on it. All per-block work is array lambdas inside one
    * projection — blocks explode narrowly (≤ blocks-per-page fanout),
    * one per-doc aggregation, no other shuffle at any corpus size.
    */
  def boilerplateBlocks(pages: DataFrame): DataFrame = {
    import pages.sparkSession.implicits._
    val stopArr = array(stopwords.map(lit): _*)
    pages
      .select($"doc_id", posexplode(split($"page", "\n\n")))
      .withColumn("ws", filter(split($"col", " "), w => w =!= ""))
      .select($"doc_id", $"pos".cast("long").as("block"),
        size($"ws").as("n_words"),
        size(filter($"ws", w => startswith(w, lit("[a]"))))
          .as("n_link_words"),
        size(filter($"ws", w => array_contains(stopArr, w)))
          .as("n_stop_words"))
      .withColumn("content",
        $"n_words" >= 5 &&
          $"n_link_words".cast("double") / $"n_words" <= 0.3)
  }

  /** Per-document census over a deterministic 4-block page family:
    * link-dense nav, two content halves of the real text, link-bearing
    * footer — so the classifier must keep exactly the halves (short
    * docs may legitimately fail the 5-word floor; the census records
    * it rather than papering over it).
    */
  def q108Boilerplate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val half = expr("(size(toks) + 1) div 2")
    val pages = Tables.documents(s, dir)
      .withColumn("toks", split($"text", " "))
      .select($"doc_id", concat_ws("\n\n",
        lit("[a]Home [a]Products [a]About [a]Contact"),
        array_join(slice($"toks", lit(1), half), " "),
        array_join(slice($"toks", half + 1,
          greatest(size($"toks") - half, lit(1))), " "),
        lit("Copyright 2024 [a]Privacy [a]Terms")).as("page"))
    boilerplateBlocks(pages)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when($"content", 1L).otherwise(0L)).as("n_content"),
        sum(when($"content", $"n_words").otherwise(0L)).as("content_words"),
        sum($"n_words").as("total_words"))
      .withColumn("content_frac", graft.core.Exact.dround(
        $"content_words".cast("double") / $"total_words".cast("double"), 4))
      .select($"doc_id", $"n_blocks", $"n_content", $"content_words",
        $"content_frac")
  }

  // --- q21: token statistics (whitespace + BPE-ish subword units) --------
  private val subtokenRe = "[aeiou]+|[^aeiou ]+"

  def q21TokenStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("toks", split($"text", " "))
      .select($"doc_id",
        size($"toks").as("n_tokens"),
        size(array_distinct($"toks")).as("n_distinct"),
        size(expr(s"regexp_extract_all(text, '$subtokenRe', 0)"))
          .as("n_subtokens"),
        length(regexp_replace($"text", " ", "")).as("n_token_chars"),
        graft.core.Exact.dround(
          length(regexp_replace($"text", " ", "")).cast("double") /
            size($"toks"), 4).as("avg_token_len"))
  }

  private val stopwords = Seq("the", "a", "and", "of", "to", "in", "is", "it")

  /** Stateless per-document corpus-filter columns over ANY frame
    * carrying `text` and `n_chars` — pure projections with no
    * aggregation or shuffle, so the SAME transform runs on batch
    * tables and Structured Streaming sources (StreamingSpec drives it
    * on a MemoryStream). Adds: toks, n_stop, quality (q22's score),
    * n_words, top_word_frac, top_bigram_frac, dup_trigram_frac, rep_keep
    * (q52's flag). q22/q52 are this transform plus a column selection.
    *
    * Short-document semantics: a document with fewer than 2 (3) tokens
    * has no bigrams (trigrams) — `sequence(1, 0)` in Spark is the
    * DESCENDING array `[1, 0]` and `element_at(toks, 0)` throws, so the
    * n-gram builds are guarded and an absent n-gram population counts
    * as ZERO repetition (fraction 0.0, never NULL/NaN): a 1-word
    * document cannot be bigram spam. The oracle mirrors this with
    * LEFT JOIN + COALESCE(frac, 0).
    */
  def corpusFilterCols(df: DataFrame): DataFrame = {
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    df
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_stop",
        expr(s"size(filter(toks, x -> x IN ($stopList)))"))
      .withColumn("quality", graft.core.Exact.dround(
        least(lit(1.0), col("n_chars") / 400.0) * 0.5 +
          (lit(1.0) - col("n_stop") / size(col("toks"))) * 0.5, 4))
      .withColumn("bg", expr(
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1), i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) ELSE CAST(array() AS ARRAY<STRING>) END"))
      .withColumn("tg", expr(
        "CASE WHEN size(toks) >= 3 THEN transform(sequence(1, size(toks) - 2), i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2))) ELSE CAST(array() AS ARRAY<STRING>) END"))
      .withColumn("top_w",  expr(maxRunSql("toks")))
      .withColumn("top_bg", expr(maxRunSql("bg")))
      .withColumn("dup_tg", size(col("tg")) - size(array_distinct(col("tg"))))
      .withColumn("rw", col("top_w") / size(col("toks")))
      .withColumn("rb", when(size(col("bg")) > 0,
        col("top_bg") / size(col("bg"))).otherwise(lit(0.0)))
      .withColumn("rt", when(size(col("tg")) > 0,
        col("dup_tg") / size(col("tg"))).otherwise(lit(0.0)))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("top_word_frac", graft.core.Exact.dround(col("rw"), 4))
      .withColumn("top_bigram_frac", graft.core.Exact.dround(col("rb"), 4))
      .withColumn("dup_trigram_frac", graft.core.Exact.dround(col("rt"), 4))
      .withColumn("rep_keep",
        col("rw") <= 0.20 && col("rb") <= 0.18 && col("rt") <= 0.30)
      .drop("bg", "tg", "top_w", "top_bg", "dup_tg", "rw", "rb", "rt")
  }

  // --- q22: quality score (length + stopword-density heuristic) ----------
  def q22Quality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    corpusFilterCols(Tables.documents(s, dir))
      .select($"doc_id", $"n_stop", $"quality")
  }

  /** Stopword vote sets for the language-ID heuristic. On this synthetic
    * corpus every language shares one vocabulary, so votes measure the
    * heuristic's determinism, not linguistic accuracy.
    */
  private val langMarkers = Map(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "und", "das", "ist"),
    "fr" -> Seq("le", "et", "la", "est"))

  // --- q23: language-ID by stopword votes --------------------------------
  def q23LangId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def hits(lang: String) = {
      val list = langMarkers(lang).map(w => s"'$w'").mkString(", ")
      expr(s"size(filter(split(text, ' '), x -> x IN ($list)))")
    }
    Tables.documents(s, dir)
      .withColumn("en_h", hits("en"))
      .withColumn("de_h", hits("de"))
      .withColumn("fr_h", hits("fr"))
      .withColumn("pred",
        when($"en_h" >= $"de_h" && $"en_h" >= $"fr_h", "en")
          .when($"de_h" >= $"fr_h", "de").otherwise("fr"))
      .groupBy($"lang", $"pred")
      .agg(count(lit(1)).as("n"))
  }

  // --- char-n-gram language profiles (Cavnar–Trenkle) ---------------------
  /** Learn per-language character-trigram rank profiles from a labeled
    * corpus: the classic n-gram lang-ID, expressed as one aggregation +
    * one rank window. The profile table is domain-bounded (|languages|
    * × topK rows) — always broadcastable, unlike a vocabulary.
    */
  def langProfiles(docs: DataFrame, topK: Int = 300): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    docs
      .select($"lang", explode(expr(
        // guard: sequence(1, 0) is DESCENDING in Spark — a <3-char text
        // would silently emit garbage trigrams instead of none
        "CASE WHEN length(text) >= 3 THEN transform(sequence(1, length(text) - 2), g -> substring(text, g, 3)) ELSE CAST(array() AS ARRAY<STRING>) END"))
        .as("tri"))
      .groupBy($"lang", $"tri").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"lang").orderBy($"cnt".desc, $"tri".asc)))
      .filter($"rk" <= topK)
      .select($"lang".as("plang"), $"tri", $"rk")
  }

  /** Classify by out-of-place rank distance against the profiles: for
    * each document trigram found in a profile, score `topK - rk`
    * (frequent profile grams weigh most); argmax language wins (struct
    * max — equal scores resolve to the lexicographically greatest tag,
    * deterministic under any partitioning). One explode + one broadcast
    * join + two aggregations — no per-language loop, linear in corpus
    * size.
    */
  def langIdNgram(docs: DataFrame, profiles: DataFrame,
      topK: Int = 300): DataFrame = {
    import docs.sparkSession.implicits._
    val tris = docs.select($"doc_id", explode(expr(
      "CASE WHEN length(text) >= 3 THEN transform(sequence(1, length(text) - 2), g -> substring(text, g, 3)) ELSE CAST(array() AS ARRAY<STRING>) END"))
      .as("tri"))
    tris.join(broadcast(profiles), "tri")
      .groupBy($"doc_id", $"plang")
      .agg(sum(lit(topK) - $"rk").as("score"))
      .groupBy($"doc_id")
      .agg(max(struct($"score", $"plang".as("l"))).as("m"))
      .select($"doc_id", $"m.l".as("pred_lang"), $"m.score".as("score"))
  }

  // --- q24: exact-content fingerprint -------------------------------------
  def q24Fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        md5($"text").as("fp"),
        md5(concat_ws(" ", array_sort(array_distinct(split($"text", " ")))))
          .as("fp_token_set"))
  }

  // --- q42: winnowing fingerprint (MOSS-style, w=8 over char 8-grams) -----
  /** Rolling-window document fingerprinting: hash every 8-gram, keep
    * the minimum hash of each 8-wide window — the classic winnowing
    * selection (guarantees shared fingerprints for sufficiently long
    * shared substrings). Gram hashes are md5-derived so the whole
    * pipeline is cross-engine deterministic.
    */
  def q42Winnow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Entirely narrow: the gram hashes and their 8-wide window minima
    // are computed INSIDE each row with higher-order array functions —
    // no explode, no per-doc window sort, no exchange anywhere. The
    // earlier posexplode + Window form shuffled ~n_chars rows per doc
    // to do per-key sorted scans; per-row `slice`+`array_min` does the
    // same O(8n) work data-local, so the whole query is one map stage
    // at any corpus size.
    // the whole fingerprint pass is ONE codegen'd expression: per-gram
    // md5Prefix60 (the oracle's conv(substring(md5(..),1,15),16,10)
    // value) + trailing-truncated 8-wide window minima + distinct
    // count, computed in a single tight loop per document. The earlier
    // higher-order-function spelling evaluated interpreted lambdas per
    // gram (3.2s) and per window position; this is 2.3s -> ~1.3s at
    // sf0.1, still zero exchanges (PlanSpec). Subexpression
    // elimination collapses the three field extractions to one
    // winnow_stats evaluation.
    // Texts shorter than one 8-gram have no fingerprints: the oracle's
    // generate_series emits no gram rows for them, so they contribute
    // no output row — filter them BEFORE the expression (the predicate
    // pushes to the parquet scan) instead of emitting a
    // (doc_id, 0, NULL, NULL) row the oracle never produces.
    Tables.documents(s, dir)
      .filter(length($"text") >= 8)
      .select($"doc_id", graft.functions.geo.winnow_stats($"text").as("w"))
      .select($"doc_id",
        $"w.n_fingerprints".as("n_fingerprints"),
        $"w.min_fp".as("min_fp"), $"w.max_fp".as("max_fp"))
  }

  // --- q52: Gopher-style repetition quality metrics ------------------------
  /** Count of the most frequent element of `arr`: sort, then the longest
    * run of equal neighbors — computed INSIDE the row by `aggregate`,
    * no explode/shuffle. (The relational spelling — explode + two
    * groupBys — shuffles every n-gram instance; per-row costs O(n log n)
    * data-local and the whole query plans as one map stage.)
    */
  private def maxRunSql(arr: String): String =
    s"""aggregate(array_sort($arr),
       |  named_struct('prev', cast(null as string), 'run', cast(0 as bigint), 'best', cast(0 as bigint)),
       |  (a, x) -> named_struct('prev', x,
       |    'run',  CASE WHEN x <=> a.prev THEN a.run + 1 ELSE cast(1 as bigint) END,
       |    'best', greatest(a.best, CASE WHEN x <=> a.prev THEN a.run + 1 ELSE cast(1 as bigint) END)),
       |  a -> a.best)""".stripMargin

  /** Repetition filters from the Gopher data pipeline (Rae et al. 2021,
    * §A1.1): documents dominated by a single repeated word, bigram, or
    * duplicated trigrams are boilerplate/spam, not prose. Fractions are
    * instance-count based; `keep` applies the thresholds on the RAW
    * ratios (IEEE-identical in both engines), rounding only for display.
    */
  def q52Repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    corpusFilterCols(Tables.documents(s, dir))
      .select($"doc_id", $"n_words", $"top_word_frac",
        $"top_bigram_frac", $"dup_trigram_frac", $"rep_keep".as("keep"))
  }

  // --- q168: quality-filter cascade census -----------------------------------
  /** The C4/RefinedWeb-style CLEANING CASCADE as one census — the
    * composition every corpus-curation pipeline runs before training:
    * each doc flows through the ordered filters (too short → low
    * quality → repetitive) and gets ONE verdict, the FIRST failing
    * filter (so drop counts attribute to the filter that actually
    * fired, not to every filter that would have). The census reports
    * per-verdict doc count, exact-decimal mean quality and total token
    * mass — the numbers a curation run publishes ("dropped 8% too
    * short, 11% repetitive, kept N tokens"). All three signals are
    * q22/q52's already-oracle-checked columns off ONE
    * [[corpusFilterCols]] pass.
    *
    * Scale shape: one corpus scan of codegen'd projections + one
    * ≤4-row aggregation — the cascade adds zero shuffles to the
    * signals it composes.
    */
  def q168FilterCascade(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    corpusFilterCols(Tables.documents(s, dir))
      .withColumn("verdict",
        when($"n_words" < 20, "too_short")
          .when($"quality" < 0.6, "low_quality")
          .when(!$"rep_keep", "repetitive")
          .otherwise("keep"))
      .groupBy($"verdict")
      .agg(count(lit(1)).as("n"),
        graft.core.Exact.dround(
          sum($"quality".cast(org.apache.spark.sql.types.DecimalType(28, 10)))
            .cast("double") / count(lit(1)), 4).as("avg_quality"),
        sum($"n_words").as("n_words_total"))
      .orderBy($"verdict".asc)
  }

  // --- q58: per-language heavy hitters via the Misra–Gries sketch ----------
  /** Top-5 tokens per language through `freq_items` (bounded-state
    * sketch) instead of a full groupBy(token).count: the sketch caps
    * per-group state at 256 counters no matter how many distinct
    * tokens the corpus has, and merges map-side like any aggregate.
    * On this corpus (31-token vocabulary) the sketch is in its exact
    * regime, which is what the oracle checks; the sub-capacity
    * undercount bound is spec-tested separately.
    */
  def q58HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"lang", explode(split($"text", " ")).as("tok"))
      .groupBy($"lang")
      .agg(graft.functions.geo.freq_items($"tok", 256).as("fi"))
      .select($"lang", posexplode(slice($"fi", 1, 5)))
      .select($"lang", ($"pos" + 1).cast("long").as("rank"),
        $"col.item".as("token"), $"col.cnt".as("cnt"))
  }

  // --- q63: PII detection + redaction --------------------------------------
  /** The synthetic corpus carries no natural PII, so the query plants
    * deterministic email / phone / IPv4 strings keyed off doc_id (the
    * same construction the DuckDB oracle performs — q19's synthesis
    * pattern) and then runs [[graft.ops.text.Pii]] detect + redact over
    * the contaminated text. Counts are STAGED to match what redaction
    * masks — emails on the original text, phones after email
    * redaction, IPs after both — since a digit run inside an email
    * local-part must be the email's span, not a phantom phone. The
    * redacted output is hash-compared byte-for-byte, so the oracle
    * checks the replacement spans too, not just the match counts.
    * Per-row regexp transforms: shuffle-free, linear at 100 TB.
    */
  def q63PiiRedact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.ops.text.Pii
    Tables.documents(s, dir)
      .withColumn("t", concat($"text",
        when($"doc_id" % 3 === 0, concat(lit(" reach me at u"), $"doc_id",
          lit("@mail.example.com ok"))).otherwise(lit("")),
        when($"doc_id" % 4 === 0, concat(lit(" call +1-555-"),
          lpad(($"doc_id" % 1000).cast("string"), 3, "0"),
          lit("-0199 soon"))).otherwise(lit("")),
        when($"doc_id" % 5 === 0, concat(lit(" from host 10."),
          $"doc_id" % 256, lit(".0.42 today"))).otherwise(lit(""))))
      .select($"doc_id",
        Pii.countEmails($"t").cast("long").as("n_emails"),
        // staged counts = spans the redaction chain actually masks
        // (a digit run inside an email local-part is [EMAIL], never a
        // phone — counting the raw text would disagree with `redacted`)
        Pii.countPhonesAfterEmails($"t").cast("long").as("n_phones"),
        Pii.countIpv4AfterPhones($"t").cast("long").as("n_ips"),
        Pii.redact($"t").as("redacted"))
  }

  // --- q64: weighted heavy hitters (value-weighted Misra–Gries) ------------
  /** Event types ranked by total transacted value through the WEIGHTED
    * `freq_items` path: each event contributes its value in cents
    * (decimal-exact in both engines) instead of 1. Five distinct types
    * < capacity 64 puts the sketch in its exact regime, so the DuckDB
    * weighted-sum oracle checks the weighted update + merge end-to-end;
    * the sub-capacity W/(capacity+1) bound is spec-tested. The sketch's
    * (cnt desc, item asc) output order doubles as the rank.
    */
  def q64HeavyWeighted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_type",
        ($"value".cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("w"))
      .agg(graft.functions.geo.freq_items($"event_type", $"w", 64).as("fi"))
      .select(posexplode($"fi"))
      .select(($"pos" + 1).cast("long").as("rank"),
        $"col.item".as("event_type"), $"col.cnt".as("weight_cents"))
  }

  // --- q65: per-language document-length quantiles --------------------------
  /** Exact interpolated quantiles of n_chars per language — the corpus
    * profile a mixture designer reads before setting packing/truncation
    * lengths. `percentile` (exact, per-group sort) matches DuckDB's
    * quantile_cont definition for the oracle; at 100 TB swap in
    * `approx_percentile(n_chars, p, accuracy)` — same plan shape, fixed
    * sketch memory per group instead of a sort, and the group count
    * (languages) is tiny either way.
    */
  private[graft] val QuantilePs = Seq(0.25, 0.50, 0.75, 0.90, 0.99)

  private def lengthQuantilesFrom(docs: DataFrame,
      q: Double => org.apache.spark.sql.Column): DataFrame = {
    import docs.sparkSession.implicits._
    import graft.core.Exact.dround
    val cols = QuantilePs.map(p =>
      dround(q(p), 4).as(s"p${(p * 100).toInt}"))
    docs.groupBy($"lang")
      .agg(count(lit(1)).as("n"), cols: _*)
  }

  def q65LengthQuantiles(s: SparkSession, dir: String): DataFrame =
    lengthQuantilesFrom(Tables.documents(s, dir),
      p => expr(s"percentile(n_chars, $p)"))

  /** q65's 100 TB spelling AS CODE: `approx_percentile` keeps a fixed
    * Greenwald–Khanna sketch per group (relative rank error ≤
    * 1/accuracy) instead of buffering every group member for an exact
    * per-group sort — the O(group) buffer is the one thing in q65 that
    * does not survive a 1000× group. Same plan shape, same output
    * schema; returns corpus elements rather than interpolated values,
    * so it is spec-gated on the rank-error band (PercentileSpec), not
    * oracle-hashed.
    */
  def lengthQuantilesApprox(docs: DataFrame,
      accuracy: Int = 10000): DataFrame =
    lengthQuantilesFrom(docs,
      p => expr(s"approx_percentile(n_chars, $p, $accuracy)")
        .cast("double"))

  // --- q66: unicode/whitespace text normalization ---------------------------
  /** Control chars minus keep-worthy \t and \n; \r dies here so CRLF
    * collapses to LF. Same literal feeds both engines' regex.
    */
  private[graft] val CtrlClass = "[\\x00-\\x08\\x0B-\\x1F\\x7F]"

  /** NFC normalize (custom codegen'd expression — Spark has no builtin
    * normalizer), strip C0 controls, collapse space/tab runs, trim.
    * The canonical pre-dedup cleaning stage: decomposed "e"+U+0301 and
    * precomposed "é" must fingerprint identically downstream.
    */
  def normalizeText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(regexp_replace(
      graft.functions.geo.nfc_normalize(c),
      lit(CtrlClass), lit("")), lit("[ \\t]+"), lit(" ")))

  /** The corpus is clean ASCII, so the query appends a deterministic
    * messy tail (decomposed accent, BEL/VT controls, space/tab runs —
    * all BMP, where Spark's UTF-16 length == DuckDB's codepoint count)
    * and both engines clean the same bytes. Per-row, shuffle-free.
    */
  private[graft] val MessyTail =
    " cafe\u0301\u0007bell\u000Bvt  double  spaces\tand\ttabs "

  def q66Normalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = concat($"text", lit(MessyTail))
    Tables.documents(s, dir)
      .select($"doc_id", normalizeText(raw).as("cleaned"),
        (length(raw) - length(normalizeText(raw))).cast("long").as("n_removed"))
  }

  // --- q68: per-source domain cap ------------------------------------------
  /** "Keep at most K documents per source" — the domain-balance stage
    * of a corpus recipe (a handful of crawl domains otherwise dominate
    * the mixture). Selection is deterministic: smallest K md5-derived
    * keys per source, so re-runs and engines agree row-for-row.
    *
    * Scale shape: the naive spelling is row_number() over
    * (PARTITION BY source ORDER BY md5), which SORTS every source's
    * full partition just to keep K — a hot domain (30% of a 100 TB
    * crawl is one host) pins its whole partition on one reducer. This
    * instead rides [[TopKByAggregate]]: bounded K-entry heaps, map-side
    * partials, one aggregate exchange, no full sort anywhere. ord is
    * the NEGATED 48-bit md5 prefix (the 60-bit value shifted right 12)
    * as double — heap keeps "largest ord" = smallest md5, and 48-bit
    * integers are EXACT in a double (< 2^53), so the round-trip can
    * never reorder at any corpus size (a 60-bit prefix has 2^8-ulp
    * collisions at ~10^8 docs/source). The payload is the doc_id
    * zero-padded to 20 digits so the heap's lexicographic tie-break
    * equals the oracle's numeric one on 48-bit prefix collisions.
    */
  def q68DomainCap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.geo.{md5_prefix60, top_k_by}
    // 15 < the ~25 docs/source at the smallest SF, so the cap BINDS at
    // every scale the gate runs — a non-truncating cap tests nothing
    val K = 15
    Tables.documents(s, dir)
      .select($"source",
        (-shiftright(md5_prefix60($"doc_id".cast("string")), 12))
          .cast("double").as("ord"),
        lpad($"doc_id".cast("string"), 20, "0").as("payload"))
      .groupBy($"source")
      .agg(top_k_by($"ord", $"payload", K).as("keep"))
      .select($"source", posexplode($"keep"))
      .select($"source", ($"pos" + 1).cast("long").as("rank"),
        $"col.payload".cast("long").as("doc_id"))
  }

  // --- q69: overlapping token-window chunking -------------------------------
  /** RAG/pretraining chunking: 64-token windows at stride 48 (16-token
    * overlap), the prep stage between cleaning and embedding/packing.
    * Starts are a data-independent arithmetic sequence over the token
    * count, so the whole transform is a narrow explode — zero shuffles,
    * output ≈ n_tokens/stride rows per document at any corpus size.
    * The final short window keeps its natural length (chunk_tokens
    * reports it); downstream packing (q54) or padding owns alignment.
    */
  def q69Chunk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val win = 64; val stride = 48
    Tables.documents(s, dir)
      .withColumn("toks", split($"text", " "))
      .select($"doc_id", $"toks",
        explode(expr(s"sequence(1, size(toks), $stride)")).as("st"))
      .select($"doc_id",
        expr(s"(st - 1) div $stride").cast("long").as("chunk_id"),
        expr(s"array_join(slice(toks, st, $win), ' ')").as("chunk"),
        least(lit(win), size($"toks") - $"st" + 1).cast("long").as("chunk_tokens"))
  }

  // --- q70: vocabulary encoding (token → id, bounded broadcast map) --------
  /** Token-to-id encoding against a corpus-derived vocabulary — the
    * step between chunking and tensorization. The vocab is CAPPED
    * (top-[[VocabSize]] tokens by frequency, deterministic tie-break),
    * so the id map is a bounded structure that broadcasts to every row
    * as a 1-row cross join; each document then encodes with one
    * in-row `transform` + map lookup — no per-token-instance join, no
    * shuffle proportional to corpus size (only the tf aggregate's one
    * exchange). Out-of-vocabulary tokens encode as 0. VocabSize sits
    * below the corpus's 31 distinct tokens so OOV is genuinely
    * exercised at every scale factor. The row_number that assigns ids
    * runs on the already-LIMITed vocab frame — a bounded single
    * partition by construction, not a corpus-wide sort.
    */
  private[graft] val VocabSize = 20

  def q70TokenIds(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val vocab = tf.orderBy($"cnt".desc, $"tok").limit(VocabSize)
      .withColumn("id",
        row_number().over(Window.orderBy($"cnt".desc, $"tok")).cast("long"))
    val vmap = vocab
      .agg(map_from_entries(collect_list(struct($"tok", $"id"))).as("vm"))
    Tables.documents(s, dir)
      .crossJoin(broadcast(vmap))
      .select($"doc_id",
        // id list serialized to a string: the driver's pandas
        // comparator cannot hash raw array cells (q41 precedent)
        expr("""array_join(transform(split(text, ' '),
          t -> cast(coalesce(element_at(vm, t), 0L) as string)), ',')""")
          .as("ids"))
  }

  // --- q72: deterministic train/val/test split ------------------------------
  /** 80/10/10 split assignment by md5-bucket of doc_id — reproducible
    * across runs, engines, partitionings, and data arrivals (appending
    * new documents never reassigns an existing one), which rand()-seeded
    * splits cannot guarantee. Output is the per-(lang, split) census a
    * pipeline records next to the artifact; the assignment itself is the
    * `split` column before the rollup. Per-row hash + one tiny
    * aggregation — no data-sized shuffle at any corpus size.
    */
  def q72SplitAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("bucket",
        conv(substring(md5($"doc_id".cast("string")), 1, 6), 16, 10)
          .cast("long") % 100)
      .withColumn("split",
        when($"bucket" < 80, "train")
          .when($"bucket" < 90, "val").otherwise("test"))
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("n_chars_total"),
        min($"doc_id").as("first_doc_id"))
  }

  // --- q75: corpus bigram language model (conditional probabilities) -------
  /** Top-25 bigrams by count with P(w2|w1) = n(w1 w2) / n(w1 ·) — the
    * n-gram LM table behind surprisal scoring and completion-style
    * contamination checks.
    *
    * Scale shape: ONE corpus scan. The denominator is derived from the
    * bigram-count table itself (n(w1 ·) = Σ_w2 n(w1 w2)) — a
    * vocabulary²-bounded aggregate, not a second pass over instances —
    * and broadcast-joins back (vocabulary-bounded, a few MB at any
    * corpus size), so the Zipf-skewed instance join that would park
    * every "the ·" bigram on one reducer never exists. The top-25 is
    * TakeOrderedAndProject (per-partition heaps, no global sort);
    * (n_bigram, w1, w2) is a total order so the cut is deterministic.
    */
  def q75BigramLm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val bgCnt = Tables.documents(s, dir)
      .withColumn("toks", split($"text", " "))
      .select(explode(expr(
        """CASE WHEN size(toks) >= 2
          | THEN transform(sequence(1, size(toks) - 1),
          |   i -> named_struct('w1', element_at(toks, i),
          |                     'w2', element_at(toks, i + 1)))
          | ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)
          |END""".stripMargin)).as("b"))
      .select($"b.w1", $"b.w2")
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("n_bigram"))
    // prefix totals via a window over the ALREADY-AGGREGATED frame
    // (vocab²-bounded rows): a separate groupBy(w1) + self-join would
    // reference bgCnt twice and Catalyst would recompute the full
    // corpus explode+aggregation once per reference — one extra
    // corpus scan for 31 numbers. The window costs one exchange of
    // ≤ vocab² rows. Integer sums, so no float-order concern.
    bgCnt
      .withColumn("n_prefix", sum($"n_bigram")
        .over(Window.partitionBy($"w1")))
      .select($"w1", $"w2", $"n_bigram",
        graft.core.Exact.dround($"n_bigram" / $"n_prefix", 4).as("p_cond"))
      .orderBy($"n_bigram".desc, $"w1", $"w2")
      .limit(25)
  }

  // --- q110: stupid-backoff trigram LM scoring ------------------------------
  /** Trigram language-model scoring with STUPID BACKOFF (Brants et
    * al. 2007, "Large Language Models in Machine Translation" — the
    * scheme built FOR distributed corpus-scale counting, because it
    * needs no discounting pass): per position,
    *   S(w3|w1,w2) = c3/c2(w1,w2)            if the trigram was seen,
    *               = 0.4 · c2(w2,w3)/c1(w2)  else if the bigram was,
    *               = 0.4 · 0.4 · c1(w3)/N    otherwise.
    * q75/q95 score with a bigram LM; this is the (n>2)-gram family
    * CCNet's KenLM filter actually uses, with its backoff structure.
    *
    * Exactness: every S is a ratio (or 0.4-scaled ratio) of INTEGER
    * counts — bit-identical doubles in both engines — and per-lang
    * means snap each position's score to round(S·2^20) before the
    * integer sum (q30's rule). Census also counts how many positions
    * resolved at each backoff level — the model-coverage signal a
    * corpus curator actually reads.
    *
    * Scale shape: count tables are VOCAB-bounded (≤|V|³ rows observed,
    * far fewer in practice) and broadcast to the position stream; the
    * stream itself is one narrow explode + one per-lang aggregation.
    * The tokenized corpus frame is cached — the three train-split
    * count tables and the eval-split position stream all read it
    * (q46's scoped-cache rule — Verify/Bench clearCache after each
    * query).
    */
  def q110StupidBackoff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // LM counts from the 80% train split, scoring on the held-out 20%
    // (q72's md5 bucket split): scoring the corpus with its own counts
    // would mark every trigram as seen and leave the backoff ladder
    // dead — held-out scoring is both the honest census and the CCNet
    // methodology (the filter LM is trained elsewhere)
    val all = Tables.documents(s, dir)
      .withColumn("toks", split($"text", " "))
      .withColumn("bucket",
        conv(substring(md5($"doc_id".cast("string")), 1, 6), 16, 10)
          .cast("long") % 100)
      .cache()
    val docs = all.filter($"bucket" < 80)
    val eval = all.filter($"bucket" >= 80)
    def trigrams(d: DataFrame) = d.select($"lang", explode(expr(
      """CASE WHEN size(toks) >= 3
        | THEN transform(sequence(2, size(toks) - 1),
        |   j -> named_struct('w1', toks[j-2], 'w2', toks[j-1],
        |                     'w3', toks[j]))
        | ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING,
        |   w3: STRING>>)
        |END""".stripMargin)).as("p"))
      .select($"lang", $"p.w1", $"p.w2", $"p.w3")
    val pos = trigrams(eval)
    val uni = docs.select(explode($"toks").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c1"))
    val bi = docs.select(explode(expr(
      """CASE WHEN size(toks) >= 2
        | THEN transform(sequence(1, size(toks) - 1),
        |   j -> named_struct('a', toks[j-1], 'b', toks[j]))
        | ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>)
        |END""".stripMargin)).as("b"))
      .select($"b.a", $"b.b").groupBy($"a", $"b").agg(count(lit(1)).as("c2"))
    val tri = trigrams(docs)
      .groupBy($"w1", $"w2", $"w3").agg(count(lit(1)).as("c3"))
    val nTot = docs.select(sum(size($"toks")).as("nn"))
    val scored = pos
      .join(broadcast(tri), Seq("w1", "w2", "w3"), "left")
      .join(broadcast(bi.select($"a".as("w1"), $"b".as("w2"),
        $"c2".as("c2ctx"))), Seq("w1", "w2"), "left")
      .join(broadcast(bi.select($"a".as("w2"), $"b".as("w3"),
        $"c2".as("c2back"))), Seq("w2", "w3"), "left")
      .join(broadcast(uni.select($"w".as("w2"), $"c1".as("c1w2"))),
        Seq("w2"), "left")
      .join(broadcast(uni.select($"w".as("w3"), $"c1".as("c1w3"))),
        Seq("w3"), "left")
      .crossJoin(broadcast(nTot))
      .withColumn("level",
        when($"c3".isNotNull, 3L)
          .when($"c2back".isNotNull, 2L).otherwise(1L))
      .withColumn("s",
        when($"c3".isNotNull,
          $"c3".cast("double") / $"c2ctx")
          .when($"c2back".isNotNull,
            lit(0.4) * ($"c2back".cast("double") / $"c1w2"))
          .otherwise(lit(0.4) * lit(0.4) *
            (coalesce($"c1w3", lit(0L)).cast("double") / $"nn")))
    scored.groupBy($"lang")
      .agg(count(lit(1)).as("n_pos"),
        sum(when($"level" === 3L, 1L).otherwise(0L)).as("n_tri"),
        sum(when($"level" === 2L, 1L).otherwise(0L)).as("n_bi"),
        sum(when($"level" === 1L, 1L).otherwise(0L)).as("n_uni"),
        graft.core.Exact.dround(
          sum(round($"s" * 1048576.0).cast("long")).cast("double")
            / (count(lit(1)) * 1048576.0), 6).as("mean_s"))
  }

  // --- q95: CCNet-style bigram-LM quality bands -----------------------------
  /** Model-based quality filtering (Wenzek et al., "CCNet: Extracting
    * High Quality Monolingual Datasets from Web Crawl Data", LREC'20):
    * score every document by its mean per-bigram surprisal under the
    * corpus's OWN bigram LM (q75's conditional table) and band the
    * corpus head / middle / tail. CCNet buckets on a Kneser-Ney
    * wikipedia LM's perplexity with precomputed thresholds; the
    * in-library equivalent scores with the self-LM and fixed cutoffs
    * (3.38 / 3.40 nats, calibrated to split this corpus family into
    * three populated bands at every SF) — head = most fluent, the
    * band a filtering recipe keeps or upsamples.
    *
    * Scale shape: the LM is the vocabulary²-bounded (w1, w2) count
    * table — map-side combine compacts the aggregation to vocab² rows
    * per partition before its exchange — and joins back to bigram
    * instances BY BROADCAST, so no instance-sized shuffle exists. The
    * corpus is scanned twice (LM build, scoring pass): at 100 TB a
    * re-scan beats pinning a corpus-sized instance frame in cache.
    * Banding compares the DECIMAL-snapped 4-decimal score ([[
    * graft.core.Exact.dround]]), the same cross-engine determinism
    * class q46 established for log-derived doubles — raw-ulp doubles
    * never reach a comparison.
    */
  def q95LmQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val bigr = Tables.documents(s, dir)
      .withColumn("toks", split($"text", " "))
      .select($"doc_id", explode(expr(
        """CASE WHEN size(toks) >= 2
          | THEN transform(sequence(1, size(toks) - 1),
          |   i -> named_struct('w1', element_at(toks, i),
          |                     'w2', element_at(toks, i + 1)))
          | ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)
          |END""".stripMargin)).as("b"))
      .select($"doc_id", $"b.w1", $"b.w2")
    val bc = bigr.groupBy($"w1", $"w2").agg(count(lit(1)).as("n_bigram"))
    // n_prefix via a window over the vocab²-bounded aggregate, NOT
    // bc.join(bc.groupBy(...)): the self-referencing join makes
    // Catalyst recompute bc — i.e. the full corpus explode — twice,
    // turning the documented two corpus scans into three (q75 note)
    val lm = bc.withColumn("n_prefix", sum($"n_bigram")
      .over(Window.partitionBy($"w1")))
    bigr.join(broadcast(lm), Seq("w1", "w2"))
      .withColumn("surp", -log($"n_bigram" / $"n_prefix"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("nb"),
        graft.core.Exact.dround(
          sum($"surp".cast(DecimalType(28, 10))).cast("double")
            / count(lit(1)), 4).as("score"))
      .withColumn("band",
        when($"score" < 3.38, "head")
          .when($"score" < 3.40, "middle").otherwise("tail"))
      .groupBy($"band")
      .agg(count(lit(1)).as("n_docs"),
        sum($"nb").as("n_bigrams"),
        graft.core.Exact.dround(
          sum($"score".cast(DecimalType(28, 10))).cast("double")
            / count(lit(1)), 4).as("avg_score"),
        min($"doc_id").as("first_doc_id"))
  }

  // --- q76: per-document top tf-idf terms ----------------------------------
  /** Top-3 characteristic terms per document by tf·idf — the classic
    * keyword surface for corpus exploration and topic tagging. THE
    * DEFAULT IS THE OPEN-DOMAIN JOIN SPELLING (promoted round 8; the
    * broadcast-map form survives as [[tfIdfTermsInRow]] for capped
    * vocabularies).
    *
    * Scale shape: tf from one (doc_id, tok) aggregation; idf = ln(N/df)
    * derived from the tf frame itself (vocabulary-bounded, no second
    * corpus scan) and joined back on `tok` — hash probes are O(1)
    * where a broadcast MapType's `element_at` is a LINEAR vocab scan
    * per lookup — and the per-doc top-3 rides the bounded-heap
    * [[org.apache.spark.sql.graft.TopKByAggregate]] (ord desc, payload
    * asc), so no vocabulary ever aggregates into a single row or
    * broadcasts as a whole. The join is left unhinted: AQE broadcasts
    * the idf side while it is small and shuffles it when an
    * open-domain vocab outgrows that. Both engines rank on the
    * 4dp-ROUNDED score so float noise cannot flip a rank across the
    * oracle boundary; (score desc, tok asc) is a total order so the
    * top-3 cut is deterministic.
    */
  def q76TfIdfTerms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.geo.top_k_by
    val docs = Tables.documents(s, dir)
    // lazy localCheckpoint: df derivation and scoring both read the tf
    // frame; blocks free with the frame (q86's rule)
    val tf = docs
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val idf = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
      .select($"tok", log($"n" / $"df").as("idf"))
    tf.join(idf, "tok")
      .select($"doc_id",
        graft.core.Exact.dround($"tf" * $"idf", 4).as("score"), $"tok")
      .groupBy($"doc_id")
      .agg(top_k_by($"score", $"tok", 3).as("top"))
      .select($"doc_id", posexplode($"top"))
      .select($"doc_id", ($"pos" + 1).cast("long").as("rank"),
        $"col.payload".as("tok"), $"col.ord".as("score"))
  }

  /** q76's BOUNDED-VOCAB fast path: idf broadcast as one map, scoring
    * a narrow in-row transform (one lookup per distinct token, rank
    * via array_sort on (negated score, tok) struct order, slice 3) —
    * no shuffle of token instances at all, so it beats the join form
    * while the vocabulary fits a broadcast. NOT the default because
    * `element_at` on a MapType is a LINEAR key scan — O(distinct-per-
    * doc × vocab) scoring — and the single-row map aggregation caps
    * out on open-domain vocabularies (the round-7 diagnosis that
    * promoted the join spelling). Byte-identical output to
    * [[q76TfIdfTerms]] (PipelineOpsSpec asserts it). The in-row tf
    * (size(filter(toks, x -> x = t))) is O(len · distinct) per doc —
    * fine under doc-length caps.
    */
  def tfIdfTermsInRow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val idfMap = docs
      .select(explode(array_distinct(split($"text", " "))).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
      .select($"tok", log($"n" / $"df").as("idf"))
      .agg(map_from_entries(collect_list(struct($"tok", $"idf"))).as("im"))
    docs.crossJoin(broadcast(idfMap))
      .select($"doc_id", posexplode(expr(
        """slice(array_sort(transform(array_distinct(split(text, ' ')),
          |  t -> named_struct(
          |    'nscore', - CAST(ROUND(CAST(size(filter(split(text, ' '), x -> x = t))
          |        * element_at(im, t) AS DECIMAL(28, 10)), 4) AS DOUBLE),
          |    'tok', t))), 1, 3)""".stripMargin)))
      .select($"doc_id", ($"pos" + 1).cast("long").as("rank"),
        $"col.tok".as("tok"), (-$"col.nscore").as("score"))
  }

  // --- q81: quality-weighted corpus sampling --------------------------------
  /** Importance sampling by quality: each document is kept with
    * probability proportional to its q22 quality score (acceptance =
    * md5-bucket below quality × scale), so high-quality text is
    * over-represented in the sample without hard thresholds — the
    * DCLM-style reweighting stage of a corpus recipe. Membership is
    * hash-deterministic: re-runs, engines, and partitionings select
    * the SAME rows, and appended documents never flip existing
    * decisions (rand() offers none of this). Output is the per-lang
    * census; kept-quality sums ride DECIMAL(18,4) (exact, associative
    * — double partial sums are partition-order-dependent).
    *
    * Per-row hash + one bounded aggregation: no data-sized shuffle.
    */
  def q81WeightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    // 24-bit bucket; acceptance P = quality/4 (quality ∈ [0,1], so the
    // cap stays well inside the bucket range and the rate genuinely
    // varies with the score)
    val df = corpusFilterCols(Tables.documents(s, dir))
      .withColumn("bucket",
        conv(substring(md5($"doc_id".cast("string")), 1, 6), 16, 10)
          .cast("long"))
      .withColumn("kept", $"bucket" < $"quality" * (0.25 * (1 << 24)))
    df.groupBy($"lang")
      .agg(count(lit(1)).as("n_total"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
        graft.core.Exact.dround(
          sum(when($"kept", $"quality").cast(DecimalType(18, 4)))
            .cast("double") /
            sum(when($"kept", 1L).otherwise(0L)), 4).as("kept_avg_quality"))
  }

  // --- q107: BPE merge induction (tokenizer training) ----------------------
  /** The first K merges of byte-pair encoding learned from the corpus
    * — tokenizer TRAINING as a relational pipeline (Sennrich et al.
    * 2016; the BPE-ish segmentation q24 APPLIES a fixed rule, this
    * LEARNS the rules). Each round: count adjacent symbol pairs over
    * the word vocabulary (weighted by word frequency), pick the most
    * frequent (ties → lexicographically smallest pair), merge it
    * everywhere, repeat.
    *
    * Exactness device: a word's symbol sequence is rendered as a
    * `|`-delimited string (`"ab c" word "abc"` → `|a||b||c|`), so one
    * merge is ONE `replace('|a||b|' → '|ab|')` — and SQL replace is
    * left-to-right non-overlapping in BOTH engines, which is exactly
    * BPE's merge-application order (`aaa` under (a,a) → [aa, a], the
    * boundary-doubling makes overlaps unrepresentable). Pair counts
    * are integers, tie-breaks total — the full merge TRAJECTORY
    * hash-matches the oracle. Contract: symbols must not contain the
    * separator (production pipelines use an out-of-band byte).
    *
    * Scale shape: ONE corpus-sized aggregation (word → frequency, the
    * exchange every BPE trainer starts with); every round after runs
    * on the VOCABULARY (pair explode bounded by vocab × max word
    * length, best pair = TakeOrdered(1), merge = a broadcast 1-row
    * crossJoin + per-row replace). The vocab frame is cached once —
    * rounds cost vocab-sized work, never a corpus re-scan; at 100 TB
    * the vocab table is the classic heavy-agg-then-tiny-loop shape.
    */
  def bpeMerges(docs: DataFrame, k: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val words = docs
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .select(concat(lit("|"),
        array_join(filter(split($"w", ""), c => c =!= ""), "||"),
        lit("|")).as("repr"), $"cnt")
      .cache()
    def bestPair(vocab: DataFrame, round: Int): DataFrame =
      vocab.select($"cnt", split(trim($"repr", "|"), "\\|\\|").as("sy"))
        .filter(size($"sy") >= 2)
        .select($"cnt", explode(expr(
          "transform(sequence(1, size(sy) - 1), i -> " +
            "struct(sy[i-1] AS a, sy[i] AS b))")).as("p"))
        .groupBy($"p.a".as("a"), $"p.b".as("b"))
        .agg(sum($"cnt").as("pair_count"))
        .orderBy($"pair_count".desc, $"a".asc, $"b".asc).limit(1)
        .select(lit(round.toLong).as("round"), $"a", $"b", $"pair_count")
    def merge(vocab: DataFrame, best: DataFrame): DataFrame =
      vocab.crossJoin(broadcast(best.select($"a", $"b")))
        .select(expr("replace(repr, '|' || a || '||' || b || '|', " +
          "'|' || a || b || '|')").as("repr"), $"cnt")
    val (_, bests) = (1 to k).foldLeft((words, Seq.empty[DataFrame])) {
      case ((vocab, acc), r) =>
        val b = bestPair(vocab, r)
        (merge(vocab, b), acc :+ b)
    }
    bests.reduce(_ unionByName _)
      .select($"round", $"a".as("left_sym"), $"b".as("right_sym"),
        $"pair_count")
  }

  def q107BpeMerges(s: SparkSession, dir: String): DataFrame =
    bpeMerges(Tables.documents(s, dir), 3)

  // --- q115: BPE merge application (tokenizer inference) --------------------
  /** The other half of q107: q107 LEARNS the first 3 merge rules, this
    * APPLIES them to the corpus and reports the segmentation census a
    * tokenizer team reads before freezing a vocab — words, symbols
    * before/after, and the per-language compression ratio (subtokens
    * per character; every merge that fires pushes it below 1.0 for
    * that language's orthography). Merge application is the trained
    * rule list folded over each word's symbol rendering in round
    * order, exactly how a BPE tokenizer segments at inference
    * (Sennrich et al. 2016 §2) — and the `replace` spelling makes the
    * fold one codegen'd projection, with left-to-right non-overlapping
    * application pinned identical in both engines by q107's spec.
    *
    * Scale shape: the merge table collapses to ONE broadcast row (6
    * scalar symbols for k=3), so application is a zero-shuffle
    * per-row projection over the word stream — at 100 TB the learned
    * vocab rides the closure and the only exchanges are q107's
    * training aggregation and the tiny per-lang census.
    */
  def q115BpeApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = bpeMerges(Tables.documents(s, dir), 3).agg(
      max(when($"round" === 1, $"left_sym")).as("a1"),
      max(when($"round" === 1, $"right_sym")).as("b1"),
      max(when($"round" === 2, $"left_sym")).as("a2"),
      max(when($"round" === 2, $"right_sym")).as("b2"),
      max(when($"round" === 3, $"left_sym")).as("a3"),
      max(when($"round" === 3, $"right_sym")).as("b3"))
    Tables.documents(s, dir)
      .select($"lang", explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .crossJoin(broadcast(m))
      .withColumn("repr", concat(lit("|"),
        array_join(filter(split($"w", ""), c => c =!= ""), "||"), lit("|")))
      .withColumn("applied", expr(
        """replace(replace(replace(repr,
          |  '|' || a1 || '||' || b1 || '|', '|' || a1 || b1 || '|'),
          |  '|' || a2 || '||' || b2 || '|', '|' || a2 || b2 || '|'),
          |  '|' || a3 || '||' || b3 || '|', '|' || a3 || b3 || '|')"""
          .stripMargin))
      // ns by length arithmetic — q120's rule (ns = (length − nc)/2),
      // replacing the per-word regex split (r18)
      .select($"lang", length($"w").as("nc"),
        ((length($"applied").cast("long") - length($"w")) / 2L)
          .cast("long").as("ns"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_words"),
        sum($"nc").as("n_chars"),
        sum($"ns").as("n_subtokens"),
        graft.core.Exact.dround(
          sum($"ns").cast("double") / sum($"nc").cast("double"), 4)
          .as("compression"))
  }

  // --- q45: deterministic stratified sampling ------------------------------
  /** Reproducible ~20% sample per language stratum: membership =
    * md5-derived bucket of doc_id — re-runs, engines, and partitionings
    * all select the SAME rows (a training-data pipeline requirement
    * rand()-based sampling cannot meet).
    */
  def q45Sample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("bucket",
        conv(substring(md5($"doc_id".cast("string")), 1, 6), 16, 10)
          .cast("long") % 100)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_total"),
        sum(when($"bucket" < 20, 1).otherwise(0)).as("n_sampled"),
        min(when($"bucket" < 20, $"doc_id")).as("first_sampled_id"))
  }

  // --- q46: unigram-surprisal quality score --------------------------------
  /** Tokens in the broadcast head (bounded, so safe at any corpus size). */
  private[graft] val SurprisalHeadSize = 50000

  /** Mean token surprisal −ln p(tok) under the corpus unigram model —
    * the statistical quality/perplexity proxy training pipelines use
    * for filtering. The corpus total is a 1-row aggregate cross-joined
    * in (no driver-side action).
    *
    * Skew design: token frequencies are Zipf-distributed, so a plain
    * shuffle join of instances against the term-frequency table sends
    * every occurrence of "the" — billions of rows at 100 TB — to one
    * reducer. Instead the top-[[SurprisalHeadSize]] tokens by df (a
    * BOUNDED set, a few MB regardless of corpus size) broadcast-join,
    * and only the Zipf tail — where every key is rare by construction —
    * takes the shuffle join. The tf aggregation itself is safe either
    * way: map-side partial aggregation compacts hot keys before the
    * exchange.
    *
    * The unigram table is CACHED: it is vocab-bounded (orders of
    * magnitude below the instance stream), and head membership, the
    * corpus total, and the tail join all consume it. Uncached,
    * Catalyst recomputes the full scan+explode+aggregate once per
    * reference — the former spelling ran SIX corpus scans at
    * runtime, of which AQE's ReuseExchange recovered only two
    * (verified on the final adaptive plan, not assumed). With the
    * cache the plan does three: one LM build + the two routed
    * scoring passes (broadcast head hits; anti-routed tail). The
    * total derives from tf (Σcnt — same exact integer), not from a
    * third pass over the instances. Lifecycle: CacheManager dedups the
    * plan-identical entry across invocations in one session, and
    * [[graft.Bench.runScoped]] clears the cache after every measured
    * execution, so bench reps rebuild the LM honestly.
    *
    * Measured tradeoff (same-host A/B, min-of-N): the uncached 6-scan
    * spelling wall-clocks ~10% FASTER locally (sf0.1: 0.60 vs 0.68 s
    * min-of-5; gsf10/500k docs: 3.74 vs 4.15 s min-of-3) because on an
    * underutilized local[32] the redundant scan+explode+agg subtrees
    * run concurrently on otherwise-idle cores, while the cache build
    * serializes its consumers. The cached spelling ships anyway: total
    * WORK halves (6 → 3 corpus passes), and at 100 TB the cluster is
    * throughput-bound — three extra full-corpus explode+aggregate
    * passes cost real I/O + CPU that idle-core overlap cannot hide,
    * whereas the cached LUT is vocab-bounded (MBs) regardless of
    * corpus size.
    */
  def q46Surprisal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
    val tf = toks.groupBy($"tok").agg(count(lit(1)).as("cnt")).cache()
    val tot = tf.agg(sum($"cnt").cast("double").as("total"))
    // deterministic head membership (tok tie-break) — routing does not
    // change any output value, but plans must be partition-invariant
    val head = tf.orderBy($"cnt".desc, $"tok").limit(SurprisalHeadSize)
    val headHits = toks.join(broadcast(head), Seq("tok"))
    val tailHits = toks
      .join(broadcast(head.select($"tok")), Seq("tok"), "left_anti")
      .join(tf, Seq("tok"))
    headHits.unionByName(tailHits).crossJoin(tot)
      .withColumn("surprisal", -log($"cnt" / $"total"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        graft.core.Exact.dround(
          sum($"surprisal".cast(org.apache.spark.sql.types.DecimalType(28, 10)))
            .cast("double") / count(lit(1)), 4).as("mean_surprisal"))
  }

  // --- q112: count-min sketch point-frequency census ------------------------
  /** Approximate token-frequency estimation through a count-min sketch
    * (Cormode & Muthukrishnan 2005) — the third sketch family under the
    * exact-correctness gate: KMV (q103/q105) counts distinct keys,
    * Misra–Gries (q58/q64) tracks the heavy-hitter SET, CMS answers a
    * point-frequency query for ANY key from D·W fixed counters. D=4
    * hash rows × W=64 buckets; estimate(tok) = min over rows of the
    * addressed cell; CMS error is ONE-SIDED (cells only ever gain
    * collisions, so est ≥ exact always — the census column a reader
    * audits, and the property CountMinSpec pins alongside the ε=e/W
    * expected-overcount band).
    *
    * Exactness device: row-r bucket = first-8-hex of md5("r:" ++ tok)
    * mod W — engine-identical, so the full 256-cell matrix and every
    * estimate replay in SQL. Scale shape: the sketch build is one
    * aggregation over a ×D narrow explode whose map-side partials
    * combine into ≤ D·W = 256 cells per task — FIXED-size state at any
    * corpus or vocabulary size, which is why a CMS ships where exact
    * per-token counts can't; the exact twin rides alongside only for
    * the census, and every join against the cell matrix broadcasts.
    */
  private[operators] val CmsD = 4
  private[operators] val CmsW = 64

  private def cmsCoords(tok: org.apache.spark.sql.Column) =
    explode(array((0 until CmsD).map(r =>
      struct(lit(r).as("r"),
        (conv(substring(md5(concat(lit(s"$r:"), tok)), 1, 8), 16, 10)
          .cast("long") % CmsW).as("bkt"))): _*))

  def q112CountMin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("tok"))
      .filter(length($"tok") > 0)
    // the census needs exact counts anyway, so the cell matrix derives
    // from the CACHED vocab-sized count frame (cell = Σ counts of the
    // tokens addressing it — identical to counting the raw stream) and
    // the corpus is scanned ONCE; a production build with no exact twin
    // folds the stream straight into cells (the cmsStream path)
    val tf = toks.groupBy($"tok").agg(count(lit(1)).as("n_exact")).cache()
    val cells = tf.select($"n_exact", cmsCoords($"tok").as("c"))
      .groupBy($"c.r", $"c.bkt").agg(sum($"n_exact").as("cell"))
    val top = tf.orderBy($"n_exact".desc, $"tok".asc).limit(10)
    top.select($"tok", $"n_exact", cmsCoords($"tok").as("c"))
      .select($"tok", $"n_exact", $"c.r", $"c.bkt")
      .join(broadcast(cells), Seq("r", "bkt"))
      .groupBy($"tok", $"n_exact")
      .agg(min($"cell").as("n_est"))
      .withColumn("overcount", $"n_est" - $"n_exact")
  }

  // --- q114: DSIR hashed-unigram importance weights -------------------------
  /** Data Selection via Importance Resampling (Xie et al. 2023) over
    * hashed unigram features — the principled "pick raw-corpus docs
    * that look like the target domain" selector that sits between
    * heuristic quality filters (q22/q52) and model-based ones
    * (q95/q110). Target distribution: the corpus's own English slice;
    * raw: everything. Features hash into B=256 buckets (DSIR's device
    * for a bounded feature space at web scale), per-bucket
    * add-1-smoothed log likelihood ratios ln(p_target/p_raw), and a
    * doc's importance weight is its tokens' mean log ratio; w > 0 —
    * more target-like than raw-like — marks the doc selected. The
    * census reports per-language selection counts: the validation
    * signal is that the target language's docs dominate the selected
    * set without any language label reaching the scorer.
    *
    * Exactness: both count columns ride ONE aggregation; the B-row
    * ratio table is exact-integer-derived, so both engines compute
    * identical LN inputs, and per-doc sums snap through
    * DECIMAL(28,10) with the selection threshold compared on the
    * ROUNDED weight (q95's determinism class — a raw-ulp LN drift
    * can never flip a selection).
    *
    * Scale shape: one corpus-token aggregation into B=256 cells
    * (map-side combine, fixed state like q112), the ratio table
    * broadcasts to the scoring pass, per-doc then per-lang
    * aggregations — no shuffle ever carries more than the token
    * stream's (doc_id, bkt) pairs. The token frame is cached across
    * its two consumers (count + score), the q26 discipline.
    */
  private val DsirB = 256

  def q114DsirWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val tk = Tables.documents(s, dir)
      .select($"doc_id", $"lang", explode(split($"text", " ")).as("tok"))
      .filter(length($"tok") > 0)
      .select($"doc_id", $"lang",
        (conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long") % DsirB)
          .as("bkt"))
      .cache()
    val bc = tk.groupBy($"bkt").agg(
      count(lit(1)).as("cr"),
      sum(when($"lang" === "en", 1L).otherwise(0L)).as("ct"))
    val tot = bc.agg(sum($"cr").as("nr"), sum($"ct").as("nt"))
    val lw = bc.crossJoin(tot).select($"bkt",
      (log(($"ct" + lit(1.0)) / ($"nt" + lit(DsirB.toDouble))) -
        log(($"cr" + lit(1.0)) / ($"nr" + lit(DsirB.toDouble)))).as("lw"))
    tk.join(broadcast(lw), Seq("bkt"))
      .groupBy($"doc_id", $"lang")
      .agg(graft.core.Exact.dround(
        sum($"lw".cast(DecimalType(28, 10))).cast("double")
          / count(lit(1)), 4).as("w"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"w" > 0.0, 1L).otherwise(0L)).as("n_selected"),
        graft.core.Exact.dround(
          sum($"w".cast(DecimalType(28, 10))).cast("double")
            / count(lit(1)), 4).as("avg_w"))
  }

  // --- q118: n-gram novelty / memorization-risk census ----------------------
  /** Per-document novelty: the fraction of a doc's distinct 8-grams
    * that occur NOWHERE else in the corpus (df = 1), banded into
    * templated (zero unique grams — the band exact/near duplicates
    * land in) / typical / distinct. Low-novelty docs are boilerplate and
    * template families that exact dedup misses but that inflate
    * memorization; eval-set curation reads exactly this census before
    * trusting held-out perplexity (the Lee et al. 2022 §5 concern —
    * near-duplicate train/eval text biases evaluation).
    *
    * Scale shape (round-10 rewrite — the join-back is GONE): q28's
    * gram discipline still holds (per-doc gram dedup happens LOCALLY
    * inside the one-pass gram_hashes expression; grams shuffle as
    * 8-byte hashes, never strings), but the round-9 spelling then
    * JOINED the full gram stream back to its df table — the linear
    * term behind the census's 13×-at-100× decade factor. Two
    * observations kill that join: (1) a df=1 gram occurs in exactly
    * ONE document, so carrying min(doc_id) through the df aggregation
    * already names its owner — the per-doc unique counts are a
    * doc-keyed rollup of the df frame's df=1 slice, no join to the
    * gram stream; (2) per-doc distinct-gram counts are just
    * size(gram_hashes(text)) — a narrow projection, no explode, no
    * shuffle. What remains data-sized is ONE aggregation over the
    * gram stream; the final join matches two DOC-cardinality frames.
    * Measured at the gsf decades: 1.05/1.64/13.4 s (old, min-of-3) →
    * see README for the adopted numbers. Output is hash-identical
    * (same oracle row). Novelty is an integer ratio, so banding
    * thresholds compare identical doubles in both engines;
    * sub-8-char documents carry no gram and drop from the census in
    * both engines alike (the n_grams > 0 filter = the old inner
    * join's implicit drop).
    */
  def q118NoveltyCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val docsG = Tables.documents(s, dir)
      .select($"doc_id", graft.functions.geo.gram_hashes($"text", 8).as("gh"))
    val sizes = docsG.select($"doc_id", size($"gh").cast("long").as("n_grams"))
      .filter($"n_grams" > 0L)
    val uniq = docsG.select($"doc_id", explode($"gh").as("gram"))
      .groupBy($"gram")
      .agg(count(lit(1)).as("df"), min($"doc_id").as("d0"))
      .filter($"df" === 1L)
      .groupBy($"d0").agg(count(lit(1)).as("n_unique"))
      .withColumnRenamed("d0", "doc_id")
    sizes.join(uniq, Seq("doc_id"), "left_outer")
      .withColumn("n_unique", coalesce($"n_unique", lit(0L)))
      .withColumn("novelty",
        $"n_unique".cast("double") / $"n_grams".cast("double"))
      // cuts calibrated to this corpus's novelty quantiles (0 ==
      // duplicate-family docs; median 0.016; p99 0.059) — at 100 TB a
      // team derives them from the quantile census first, q65's
      // pattern. zero and the 0.03 cut compare exact doubles of an
      // integer ratio in both engines.
      .withColumn("band", when($"novelty" === 0.0, "templated")
        .when($"novelty" < 0.03, "typical").otherwise("distinct"))
      .groupBy($"band")
      .agg(count(lit(1)).as("n_docs"),
        graft.core.Exact.dround(
          sum($"novelty".cast(DecimalType(28, 10))).cast("double")
            / count(lit(1)), 4).as("avg_novelty"),
        min($"doc_id").as("first_doc_id"))
  }

  // --- q119: Zipf rank-frequency slope census --------------------------------
  /** Least-squares slope of ln(freq) on ln(rank) over each language's
    * top-50 tokens — the corpus-health diagnostic that flags
    * unnatural token distributions: natural language sits near the
    * Zipf slope −1, templated/synthetic/spam text flattens toward 0
    * (this corpus's near-uniform synthetic vocabulary reads −0.21 to
    * −0.30 — the check working as intended: it DETECTS the synthetic
    * marginals; the spec pins the flat-side band).
    *
    * Exactness: ln of identical integer-derived doubles is identical
    * (the q95 LN class); every regression sum (Σx, Σy, Σx², Σxy)
    * snaps its terms through DECIMAL(28,10) so accumulation order
    * cannot move an ulp, and the closed-form slope is then fixed
    * arithmetic on identical values in both engines.
    *
    * Scale shape: one corpus-token aggregation into the vocab-bounded
    * (lang, tok) frame; ranking is a per-lang window over that
    * VOCAB-sized frame (never the token stream), and the regression
    * aggregates 50 rows per language. At 100 TB the only data-sized
    * stage is the count aggregation, which map-side combines.
    */
  def q119ZipfSlope(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val tf = Tables.documents(s, dir)
      .select($"lang", explode(split($"text", " ")).as("tok"))
      .filter(length($"tok") > 0)
      .groupBy($"lang", $"tok").agg(count(lit(1)).as("cnt"))
      .cache()
    val nv = tf.groupBy($"lang").agg(count(lit(1)).as("n_vocab"))
    val w = Window.partitionBy($"lang").orderBy($"cnt".desc, $"tok".asc)
    def dsum(c: org.apache.spark.sql.Column) =
      sum(c.cast(DecimalType(28, 10))).cast("double")
    tf.withColumn("rk", row_number().over(w)).filter($"rk" <= 50)
      .select($"lang", log($"rk".cast("double")).as("x"),
        log($"cnt".cast("double")).as("y"))
      .groupBy($"lang")
      .agg(count(lit(1)).cast("double").as("n"), dsum($"x").as("sx"),
        dsum($"y").as("sy"), dsum($"x" * $"x").as("sxx"),
        dsum($"x" * $"y").as("sxy"))
      .join(nv, Seq("lang"))
      .select($"lang", $"n_vocab", $"n".cast("long").as("r_used"),
        graft.core.Exact.dround(
          ($"n" * $"sxy" - $"sx" * $"sy")
            / ($"n" * $"sxx" - $"sx" * $"sx"), 4).as("zipf_slope"))
  }

  // --- q120: BPE compression-vs-merges sweep ---------------------------------
  /** Corpus compression after 0, 1, 2 and 3 learned merges — the
    * compression-vs-vocab-size curve a tokenizer team reads to pick a
    * merge budget (the q117 sweep pattern applied to q107/q115's
    * family: learn once, measure every prefix of the rule list in ONE
    * pass). Each word renders once and the three replaces apply
    * PROGRESSIVELY in the same projection, so the sweep costs one
    * extra size() per k, not a pass per k; rows explode ×4 scalars
    * into the per-k census. The curve is non-increasing in k by
    * construction (a merge can only fuse) — spec-pinned, with k=0
    * equal to the raw character count and k=3 equal to q115's total.
    */
  def q120BpeSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = bpeMerges(Tables.documents(s, dir), 3).agg(
      max(when($"round" === 1, $"left_sym")).as("a1"),
      max(when($"round" === 1, $"right_sym")).as("b1"),
      max(when($"round" === 2, $"left_sym")).as("a2"),
      max(when($"round" === 2, $"right_sym")).as("b2"),
      max(when($"round" === 3, $"left_sym")).as("a3"),
      max(when($"round" === 3, $"right_sym")).as("b3"))
    Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w" =!= "")
      .crossJoin(broadcast(m))
      .withColumn("r0", concat(lit("|"),
        array_join(filter(split($"w", ""), c => c =!= ""), "||"), lit("|")))
      .withColumn("r1", expr(
        "replace(r0, '|' || a1 || '||' || b1 || '|', '|' || a1 || b1 || '|')"))
      .withColumn("r2", expr(
        "replace(r1, '|' || a2 || '||' || b2 || '|', '|' || a2 || b2 || '|')"))
      .withColumn("r3", expr(
        "replace(r2, '|' || a3 || '||' || b3 || '|', '|' || a3 || b3 || '|')"))
      // symbol count by LENGTH ARITHMETIC, not a regex split per sweep
      // point (r18, guide §1.2 per-task work): a rendering of ns
      // symbols over an nc-char word is exactly nc + 2·ns chars long
      // (each symbol wrapped in `|`s, every merge deletes one `||`),
      // so ns = (length − nc) / 2 — the same integer the split
      // computed, minus 3 regex evaluations per word occurrence
      .select(length($"w").cast("long").as("nc"), explode(array(
        struct(lit(0).as("k"), length($"w").cast("long").as("ns")),
        struct(lit(1).as("k"), ((length($"r1").cast("long")
          - length($"w")) / 2L).cast("long").as("ns")),
        struct(lit(2).as("k"), ((length($"r2").cast("long")
          - length($"w")) / 2L).cast("long").as("ns")),
        struct(lit(3).as("k"), ((length($"r3").cast("long")
          - length($"w")) / 2L).cast("long").as("ns"))
      )).as("c"))
      .groupBy($"c.k")
      .agg(count(lit(1)).as("n_words"), sum($"nc").as("n_chars"),
        sum($"c.ns").as("n_subtokens"),
        graft.core.Exact.dround(
          sum($"c.ns").cast("double") / sum($"nc").cast("double"), 4)
          .as("compression"))
  }

  // --- q122: PMI collocation mining ------------------------------------------
  /** Top-20 adjacent-token collocations by pointwise mutual
    * information — pmi(a,b) = ln(N·c_ab / (c_a•·c_•b)) over the
    * bigram stream (Church & Hanks 1990), with a c_ab ≥ 5 floor (PMI
    * explodes on hapax pairs). Collocation mining is the corpus-
    * exploration twin of q75's conditional LM: same count tables,
    * association-strength ranking instead of prediction.
    *
    * Exactness: one ln per pair over an integer-ratio operand spelled
    * identically in both engines; ranking compares the 4dp-ROUNDED
    * pmi with (w1, w2) tie-breaks — q76's determinism class, a total
    * order so the top-20 cut is stable.
    *
    * Scale shape: one corpus bigram aggregation (map-side combined)
    * into the vocab²-bounded pair frame; both marginals derive FROM
    * that frame (no second corpus scan) and broadcast; top-20 is
    * TakeOrdered. The corpus is touched exactly once.
    */
  def q122PmiPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bigr = Tables.documents(s, dir)
      .withColumn("toks", split($"text", " "))
      .select(explode(expr(
        """CASE WHEN size(toks) >= 2
          | THEN transform(sequence(1, size(toks) - 1),
          |   i -> named_struct('w1', element_at(toks, i),
          |                     'w2', element_at(toks, i + 1)))
          | ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)
          |END""".stripMargin)).as("b"))
      .select($"b.w1", $"b.w2")
    val bc = bigr.groupBy($"w1", $"w2").agg(count(lit(1)).as("cab")).cache()
    val ca = bc.groupBy($"w1").agg(sum($"cab").as("ca"))
    val cb = bc.groupBy($"w2").agg(sum($"cab").as("cb"))
    val n = bc.agg(sum($"cab").as("nb"))
    bc.filter($"cab" >= 5)
      .join(broadcast(ca), Seq("w1")).join(broadcast(cb), Seq("w2"))
      .crossJoin(broadcast(n))
      .withColumn("pmi", graft.core.Exact.dround(
        log(($"cab".cast("double") * $"nb".cast("double"))
          / ($"ca".cast("double") * $"cb".cast("double"))), 4))
      .select($"w1", $"w2", $"cab", $"pmi")
      .orderBy($"pmi".desc, $"w1".asc, $"w2".asc).limit(20)
  }

  // --- q130: BM25 retrieval scoring ------------------------------------------
  /** Okapi BM25 (Robertson–Walker, k1=1.2 b=0.75) top-10 for a fixed
    * 3-term query — the lexical-retrieval scorer a RAG / eval-retrieval
    * pipeline runs next to the q29 embedding path (q76's tf-idf ranks
    * a doc's OWN terms; this ranks DOCS for a query, with the length
    * normalization and tf saturation tf-idf lacks).
    *
    * Exactness: idf = ln(1 + (N−df+0.5)/(df+0.5)) on integer-derived
    * doubles (the q95 LN class), avgdl an exact integer ratio, and
    * the per-term saturation a fixed IEEE expression of identical
    * inputs; the visible score snaps through DECIMAL (house rule) and
    * the top-10 orders on the ROUNDED score with doc_id tie-break.
    *
    * Scale shape: tokens filter to the QUERY TERMS in the scan
    * projection, so the only data-sized stage is one narrow filtered
    * aggregation ((doc, term) tf over 3 terms); doc lengths are a
    * size() projection; N/avgdl and the 3-row df/idf table broadcast.
    * No corpus-sized join, no window. At 100 TB this is one pruned
    * scan + a ~|matching docs| aggregation + TakeOrdered.
    */
  private[graft] val Bm25Query = Seq("data", "hash", "scan")

  /** The BM25 oracle — shared verbatim by q130 (scan-time scoring) and
    * q160 (serving-layout probe): identical integer tf/df/dl/N inputs
    * → identical LN operand and IEEE saturation terms (constants
    * spelled as the SAME double expressions Spark compiles: 1.2 + 1.0,
    * 1.0 − 0.75); per-doc sum snaps through DECIMAL(28,10), rank on
    * the ROUNDED score with doc_id tie-break.
    */
  /** The fixed multi-query batch for q164 — three queries of varying
    * length sharing terms (so bucket pruning unions and df reuse are
    * both exercised).
    */
  private[graft] val Bm25Batch: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("data", "hash", "scan"),
    2L -> Seq("scan", "model"),
    3L -> Seq("graph", "data", "join", "key"))

  private val Bm25OracleSql: String = bm25OracleOver("TRUE")

  /** The scan-time BM25 pipeline over `documents WHERE <pred>` — the
    * q130/q160 oracle generalized so q162 can state
    * "probe-after-delete == rebuild WITHOUT the deleted docs" as the
    * same SQL with the delete predicate inverted, and q164 can replay
    * each batch query's scoring with its own term list.
    */
  private[operators] def bm25OracleOver(pred: String,
      terms: Seq[String] = Bm25Query): String =
    s"""WITH d AS (SELECT doc_id, lang,
       |  list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
       | FROM documents WHERE $pred),
       |dl AS (SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS dl FROM d),
       |c AS (SELECT COUNT(*) AS nd, CAST(SUM(dl) AS BIGINT) AS tl FROM dl),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf
       | FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
       | WHERE tok IN (${terms.map(t => s"'$t'").mkString(", ")})
       | GROUP BY 1, 2),
       |idf AS (SELECT f.tok,
       |  LN(1.0 + (CAST(c.nd - f.df AS DOUBLE) + 0.5)
       |    / (CAST(f.df AS DOUBLE) + 0.5)) AS idf
       | FROM (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1) f
       | CROSS JOIN c),
       |s AS (SELECT t.doc_id, dl.lang, dl.dl,
       |  i.idf * (CAST(t.tf AS DOUBLE) * (1.2 + 1.0))
       |   / (CAST(t.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75)
       |     + 0.75 * CAST(dl.dl AS DOUBLE)
       |       / (CAST(c.tl AS DOUBLE) / CAST(c.nd AS DOUBLE)))) AS ts
       | FROM tf t JOIN idf i USING (tok) JOIN dl USING (doc_id)
       | CROSS JOIN c)
       |SELECT doc_id, lang, dl,
       | ${graft.core.Exact.sqlDround(
           "CAST(SUM(CAST(ts AS DECIMAL(28,10))) AS DOUBLE)", 6)} AS score,
       | COUNT(*) AS n_terms
       |FROM s GROUP BY 1, 2, 3
       |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin

  def q130Bm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k1 = 1.2; val b = 0.75
    // ONE corpus scan (r12; ScanAudit read 5 before): doc length and
    // the query-term occurrences project in the same pass onto a
    // narrow checkpointed frame (doc_id, lang, dl, ≤|query| matching
    // tokens per doc); lengths, corpus stats, tf and idf all derive
    // from it
    val base = Tables.documents(s, dir)
      .select($"doc_id", $"lang",
        size(filter(split($"text", " "), t => length(t) > 0))
          .cast("long").as("dl"),
        filter(split($"text", " "),
          t => Bm25Query.map(q => t === q).reduce(_ || _)).as("qtoks"))
      .localCheckpoint(false)
    val dl = base.select($"doc_id", $"lang", $"dl")
    val corpus = broadcast(base.agg(count(lit(1)).as("nd"), sum($"dl").as("tl")))
    val tf = base
      .select($"doc_id", explode($"qtoks").as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    val idf = broadcast(tf.groupBy($"tok")
      .agg(countDistinct($"doc_id").as("df"))
      .crossJoin(corpus)
      .select($"tok", log(lit(1.0) +
        (($"nd" - $"df").cast("double") + lit(0.5))
          / ($"df".cast("double") + lit(0.5))).as("idf")))
    tf.join(idf, "tok")
      .join(dl, "doc_id")
      .crossJoin(corpus)
      .withColumn("term_score", $"idf" *
        ($"tf".cast("double") * lit(k1 + 1.0))
        / ($"tf".cast("double") + lit(k1) * (lit(1.0 - b)
          + lit(b) * $"dl".cast("double")
            / ($"tl".cast("double") / $"nd".cast("double")))))
      .groupBy($"doc_id", $"lang", $"dl")
      .agg(graft.core.Exact.dround(
        sum($"term_score".cast(org.apache.spark.sql.types.DecimalType(28, 10)))
          .cast("double"), 6).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy($"score".desc, $"doc_id".asc).limit(10)
  }

  // --- q160: BM25 serving layout — bucketed inverted index + pruned probe ----
  /** Materialize the postings layout a lexical retrieval SERVICE
    * actually reads — the IVF-serving story (q128/the stored IvfLayout) applied to
    * text: one row per (term, doc) posting carrying tf, doc length and
    * lang, written partitionBy(tb) with tb = xxhash64(term) mod
    * `buckets`, so a q-term probe is a PARTITION-PRUNED scan of ≤q
    * buckets however large the corpus. Corpus stats (N, total length)
    * ride in an underscore-hidden `_stats` sidecar the base listing
    * never sees (the ivfDelete trick). Build = one corpus scan + one
    * (term, doc) shuffle + the stats rollup; at 100 TB the bucket
    * count scales up and the probe's byte footprint stays |postings
    * of the query terms| — q130 scans the corpus per query, this
    * layout amortizes that scan across every query the service ever
    * answers.
    */
  /** One tokenized (doc_id, lang, dl, toks) frame per write/append —
    * lazily checkpointed because BOTH layout writes (postings and the
    * `_docs` sidecar) derive from it: the doc batch is scanned and
    * tokenized ONCE per maintenance operation instead of once per
    * artifact (the build is q162/q164's scan term — this halves it).
    */
  private def bm25Tokenized(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", $"lang",
        filter(split($"text", " "), t => length(t) > 0).as("toks"))
      .select($"doc_id", $"lang", size($"toks").cast("long").as("dl"),
        $"toks")
      .localCheckpoint(false)
  }

  /** The (term, doc) postings frame off a [[bm25Tokenized]] frame —
    * shared by the base build and the append path so a posting written
    * today is byte-identical to the one a full rebuild would write.
    */
  private def bm25Postings(tokenized: DataFrame, buckets: Int): DataFrame = {
    import tokenized.sparkSession.implicits._
    tokenized
      .select($"doc_id", $"lang", $"dl", explode($"toks").as("tok"))
      .groupBy($"tok", $"doc_id", $"lang", $"dl")
      .agg(count(lit(1)).as("tf"))
      .withColumn("tb", pmod(xxhash64($"tok"), lit(buckets.toLong)))
      .transform(byBuckets)
  }

  /** Hash-distribute a postings frame by its bucket column before its
    * `partitionBy` write — the write.distribution-mode=hash discipline
    * (guide §6): every `tb=` (or `lang=/tb=` — lang is functionally
    * tied to the rows within a bucket's task) dir receives exactly ONE
    * file per write instead of one per (task × dir), and file CREATION
    * parallelizes across tasks instead of serializing in whichever
    * single post-AQE partition the aggregation coalesced to (measured:
    * the staged q203 postings write spent ~1.5 s of its 2 s creating
    * ~110 files from one task at sf0.1). Explicit partition count
    * (defaultParallelism — cluster-wide cores, scale-adaptive) keeps
    * AQE from re-coalescing the exchange to one task.
    */
  /** `spark.graft.bm25.writeDistribution=false` (SparkConf / -D system
    * property) disables the repartition — the A/B knob the r17 verdict
    * asked for on q162/q164 (measured this round: see
    * OPTIMIZATION_r18.md; the distribution stays ON by default).
    */
  private def byBuckets(post: DataFrame): DataFrame =
    if (!post.sparkSession.sparkContext.getConf
        .getBoolean("spark.graft.bm25.writeDistribution", defaultValue = true))
      post
    else post.repartition(
      post.sparkSession.sparkContext.defaultParallelism, col("tb"))

  /** One (doc_id, dl) row per doc in the batch — the `_docs` sidecar's
    * grain (the forward doc-length table every BM25 layout keeps).
    * Derived from the tokenized DOCS frame, not the postings, so
    * zero-token docs still count toward N (they have no postings but
    * q130's corpus stats include them).
    */
  /** A BM25 layout's sidecar (`_docs`, `_stats`, `_tombstones`) read
    * with the schema its writers use ([[graft.core.Fs.readSidecar]]: no
    * inference job, no `_` root path for Spark's listing to ignore).
    * The tenant layout's `_docs` and `_stats` carry `lang`; the
    * single-tenant ones do not. Every writer — build, append, delete,
    * purge and [[graft.streaming.IngestCommit]]'s staged publish —
    * lands flat part files at the top of the directory.
    */
  private[graft] def bm25Sidecar(s: SparkSession, path: String, side: String,
      tenants: Boolean = false): DataFrame =
    graft.core.Fs.readSidecar(s, s"$path/$side",
      org.apache.spark.sql.types.StructType.fromDDL(side match {
        case "_tombstones" => "doc_id BIGINT"
        case "_docs" if tenants => "doc_id BIGINT, lang STRING, dl BIGINT"
        case "_docs" => "doc_id BIGINT, dl BIGINT"
        case "_stats" if tenants => "lang STRING, nd BIGINT, tl BIGINT"
        case "_stats" => "nd BIGINT, tl BIGINT"
      }))

  private def bm25DocLens(tokenized: DataFrame): DataFrame = {
    import tokenized.sparkSession.implicits._
    tokenized.select($"doc_id", $"dl")
  }

  def bm25IndexWrite(docs: DataFrame, path: String,
      buckets: Int = 64): Unit = {
    import docs.sparkSession.implicits._
    val s = docs.sparkSession
    // a rebuild must not inherit a previous generation's sidecars
    // (`_tombstones` would silently hide live docs): clear the root
    // explicitly — partitioned overwrite only replaces partition dirs
    graft.core.Fs.deleteRecursive(s, path)
    val tokenized = bm25Tokenized(docs)
    // postings go FIRST and alone: a static-mode overwrite truncates
    // the whole root, so a sidecar landing earlier would be deleted
    bm25Postings(tokenized, buckets)
      .write.mode("overwrite").partitionBy("tb").parquet(path)
    // `_stats` is APPEND-delta structured: probes SUM the rows, so
    // append/delete maintenance adjusts stats by appending a delta row
    // instead of rewriting. Both sidecars derive from the SAME
    // checkpointed doc-length frame (the old spelling read `_docs`
    // back off disk — an extra scan job and a false dependency), so
    // they are independent writes — overlapped (guide §2.6)
    val lens = bm25DocLens(tokenized)
    graft.core.Par.all(s, Seq(
      () => lens.write.mode("overwrite").parquet(s"$path/_docs"),
      () => lens.agg(count(lit(1)).as("nd"), sum($"dl").as("tl"))
        .write.mode("overwrite").parquet(s"$path/_stats")))
  }

  /** Incremental postings APPEND — the stored-IVF append story
    * (graft.operators.Similarity.IvfLayout.append) on the lexical layout: a
    * new crawl batch's postings land under the buckets its terms hash
    * to (parquet append creates files only under touched `tb=`
    * dirs — untouched buckets' files are never rewritten), the
    * `_docs` sidecar grows by the batch, and `_stats` gains ONE
    * exact delta row (+n docs, +sum dl). A probe after append reads
    * base+delta postings alike through the same pruned scan and its
    * answer equals a full rebuild's — q162 puts that under the hash
    * gate. Batches are assumed doc-disjoint from the base (the crawl
    * contract); re-ingesting a live doc_id is an upstream dedup bug
    * this layout surfaces via double-counted stats, not silently.
    */
  def bm25Append(docs: DataFrame, path: String, buckets: Int = 64): Unit = {
    import docs.sparkSession.implicits._
    val tokenized = bm25Tokenized(docs)
    bm25Postings(tokenized, buckets)
      .write.mode("append").partitionBy("tb").parquet(path)
    bm25DocLens(tokenized).write.mode("append").parquet(s"$path/_docs")
    bm25DocLens(tokenized)
      .agg(count(lit(1)).as("nd"), sum($"dl").as("tl"))
      .write.mode("append").parquet(s"$path/_stats")
  }

  /** [[bm25Append]]'s artifacts written to a STAGING root instead of
    * the live layout — the write half of
    * [[graft.streaming.IngestCommit]]'s staged-publish protocol
    * (postings under `post/` with the same `partitionBy(tb)` tree the
    * live layout uses, doc lengths under `docs/`, the one exact stats
    * delta under `stats/`). Same tokenize-once discipline and same
    * posting bytes as a direct append, so publish-by-rename lands a
    * layout byte-equivalent to [[bm25Append]]'s.
    */
  def bm25AppendStage(docs: DataFrame, stagingRoot: String,
      buckets: Int = 64): Unit = {
    import docs.sparkSession.implicits._
    val tokenized = bm25Tokenized(docs)
    bm25Postings(tokenized, buckets)
      .write.mode("overwrite").partitionBy("tb").parquet(s"$stagingRoot/post")
    bm25DocLens(tokenized).write.mode("overwrite")
      .parquet(s"$stagingRoot/docs")
    bm25DocLens(tokenized)
      .agg(count(lit(1)).as("nd"), sum($"dl").as("tl"))
      .write.mode("overwrite").parquet(s"$stagingRoot/stats")
  }

  /** One CRUD micro-batch's artifacts written to a STAGING root — the
    * write half of [[graft.streaming.Bm25Maintain]]'s exactly-once
    * protocol, generalizing [[bm25AppendStage]] to a mixed feed:
    * `adds` (doc_id, lang, text) stage postings/doc-lengths exactly as
    * an append; `dels` (doc_id) stage tombstone rows and the exact
    * negative stats delta computed against the live view AS OF THIS
    * BATCH (existing `_docs` minus existing tombstones, PLUS this
    * batch's own adds — so within one batch add-then-delete of the
    * same doc nets to a correctly-priced tombstone). One `stats`
    * subtree carries the add and delete deltas together, so the whole
    * batch publishes or none of it does.
    *
    * Contract carried from the layout (worth stating because the
    * tombstone filter is id-based): doc_ids are never REUSED — a
    * re-crawl of a taken-down document must arrive under a fresh id
    * (or after a compaction retired the tombstone), otherwise the old
    * tombstone keeps hiding it. The crawl pipeline's id discipline,
    * same as [[bm25Append]]'s no-duplicate-ids contract.
    */
  def bm25MaintainStage(adds: DataFrame, dels: DataFrame, path: String,
      stagingRoot: String, buckets: Int = 64): Unit = {
    val s = adds.sparkSession
    import s.implicits._
    val tokenized = bm25Tokenized(adds)
    bm25Postings(tokenized, buckets)
      .write.mode("overwrite").partitionBy("tb").parquet(s"$stagingRoot/post")
    val addLens = bm25DocLens(tokenized)
    addLens.write.mode("overwrite").parquet(s"$stagingRoot/docs")
    val liveNow = {
      val prior = bm25Sidecar(s, path, "_docs")
      val all =
        if (!graft.core.Fs.exists(s, s"$path/_tombstones")) prior
        else prior.join(
          broadcast(bm25Sidecar(s, path, "_tombstones").distinct()),
          Seq("doc_id"), "left_anti")
      all.unionByName(addLens)
    }
    // consumed twice (tombstone rows + stats delta) — one computation
    val victims = liveNow
      .join(dels.select($"doc_id".cast("long")).distinct(),
        Seq("doc_id"), "left_semi")
      .localCheckpoint(false)
    victims.select($"doc_id")
      .write.mode("overwrite").parquet(s"$stagingRoot/tomb")
    addLens.agg(count(lit(1)).as("nd"), sum($"dl").as("tl"))
      .unionByName(victims.agg((lit(0L) - count(lit(1))).as("nd"),
        (lit(0L) - coalesce(sum($"dl"), lit(0L))).as("tl")))
      .write.mode("overwrite").parquet(s"$stagingRoot/stats")
  }

  /** [[bm25MaintainStage]] for the MULTI-TENANT layout (r16 verdict
    * #5 — q198 gave the IVF tenant layout its stream leg while q175's
    * lexical layout was batch-built only): one (op, doc_id, lang,
    * text) micro-batch where adds stage postings under the
    * `partitionBy(lang, tb)` tree — published files land only under
    * the batch's own (tenant, bucket) dirs, so co-tenants' files are
    * never rewritten by a neighbor's crawl — the `_docs` sidecar rows
    * carry lang (the tenant layout's grain), and the ONE staged stats
    * subtree holds PER-TENANT delta rows (+nd,+tl per add lang;
    * −nd,−tl per del lang), matching [[bm25IndexWriteTenants]]'s
    * (lang, nd, tl) schema that [[bm25ProbeTenant]] sums per tenant.
    * Dels are doc_id tombstones priced against the live view AS OF
    * THIS BATCH (prior `_docs` minus tombstones plus this batch's own
    * adds — add-then-delete of one doc nets to a correctly-priced
    * tombstone, the single-tenant law); a whole-tenant PURGE is just
    * that tenant's del rows riding the same feed. `path` may be a
    * FRESH root (no `_docs` yet): the live view starts empty, so a
    * layout built purely by streamed batches equals the batch build —
    * q203's oracle law.
    */
  def bm25MaintainStageTenants(adds: DataFrame, dels: DataFrame,
      path: String, stagingRoot: String, buckets: Int = 64): Unit = {
    val s = adds.sparkSession
    import s.implicits._
    val tokenized = bm25Tokenized(adds)
    bm25Postings(tokenized, buckets)
      .write.mode("overwrite").partitionBy("lang", "tb")
      .parquet(s"$stagingRoot/post")
    val addLens = tokenized.select($"doc_id", $"lang", $"dl")
    addLens.write.mode("overwrite").parquet(s"$stagingRoot/docs")
    val liveNow = {
      val prior =
        if (!graft.core.Fs.exists(s, s"$path/_docs")) addLens.limit(0)
        else bm25Sidecar(s, path, "_docs", tenants = true)
      val all =
        if (!graft.core.Fs.exists(s, s"$path/_tombstones")) prior
        else prior.join(
          broadcast(bm25Sidecar(s, path, "_tombstones").distinct()),
          Seq("doc_id"), "left_anti")
      all.unionByName(addLens)
    }
    // consumed twice (tombstone rows + per-tenant stats deltas)
    val victims = liveNow
      .join(dels.select($"doc_id".cast("long")).distinct(),
        Seq("doc_id"), "left_semi")
      .localCheckpoint(false)
    victims.select($"doc_id")
      .write.mode("overwrite").parquet(s"$stagingRoot/tomb")
    addLens.groupBy($"lang")
      .agg(count(lit(1)).as("nd"), sum($"dl").as("tl"))
      .unionByName(victims.groupBy($"lang")
        .agg((lit(0L) - count(lit(1))).as("nd"),
          (lit(0L) - coalesce(sum($"dl"), lit(0L))).as("tl")))
      .write.mode("overwrite").parquet(s"$stagingRoot/stats")
  }

  /** Tombstone DELETE — ivfDelete's LSM marker on the lexical layout:
    * deleted doc ids append to `_tombstones/` (underscore-hidden from
    * the base listing), probes filter live rows, and `_stats` gains
    * the exact NEGATIVE delta (−n docs, −sum dl) computed from the
    * `_docs` sidecar — a doc-cardinality join, never a postings scan.
    * Only ids that are currently LIVE (in `_docs`, not already
    * tombstoned) count, so deleting twice is idempotent in both the
    * tombstone set's effect and the stats.
    */
  def bm25Delete(ids: DataFrame, path: String): Unit = {
    val s = ids.sparkSession
    import s.implicits._
    val docs = bm25Sidecar(s, path, "_docs")
    val live =
      if (!graft.core.Fs.exists(s, s"$path/_tombstones")) docs
      else docs.join(
        broadcast(bm25Sidecar(s, path, "_tombstones").distinct()),
        Seq("doc_id"), "left_anti")
    // consumed twice (tombstone write + stats delta): checkpoint so
    // the _docs join runs once
    val victims = live.join(ids.select($"doc_id".cast("long")).distinct(),
        Seq("doc_id"), "left_semi")
      .localCheckpoint(false)
    victims.select($"doc_id")
      .write.mode("append").parquet(s"$path/_tombstones")
    victims.agg((lit(0L) - count(lit(1))).as("nd"),
        (lit(0L) - coalesce(sum($"dl"), lit(0L))).as("tl"))
      .write.mode("append").parquet(s"$path/_stats")
  }

  /** Fold tombstones into the files — IvfLayout.compact on the lexical
    * layout: rewrite the LIVE postings as a fresh layout at `dest`
    * (no `_tombstones`, `_docs` pruned, `_stats` collapsed to one
    * exact row). Written to a NEW root; the caller swaps serving
    * roots atomically (the q96 snapshot discipline).
    */
  def bm25Compact(s: SparkSession, path: String, dest: String,
      buckets: Int = 64): Unit = {
    import s.implicits._
    graft.core.Fs.deleteRecursive(s, dest)
    val tomb =
      if (!graft.core.Fs.exists(s, s"$path/_tombstones")) None
      else Some(broadcast(bm25Sidecar(s, path, "_tombstones").distinct()))
    def live(df: DataFrame): DataFrame =
      tomb.fold(df)(t => df.join(t, Seq("doc_id"), "left_anti"))
    live(s.read.parquet(path))
      // partition-dir inference types tb int32; restore the long the
      // write path hashes to, so compaction round-trips the layout
      .withColumn("tb", col("tb").cast("long"))
      .transform(byBuckets)
      .write.mode("overwrite").partitionBy("tb").parquet(dest)
    live(bm25Sidecar(s, path, "_docs"))
      .write.mode("overwrite").parquet(s"$dest/_docs")
    bm25Sidecar(s, dest, "_docs")
      .agg(count(lit(1)).as("nd"), sum($"dl").as("tl"))
      .write.mode("overwrite").parquet(s"$dest/_stats")
  }

  /** [[bm25Compact]] for the MULTI-TENANT layout: rewrite the live
    * postings under the `partitionBy(lang, tb)` tree, prune `_docs`,
    * collapse `_stats` to one exact row PER TENANT. A fully purged
    * tenant has no live rows, so its `lang=` subtree simply does not
    * exist in the compacted layout — erasure's bytes reclaimed, the
    * lexical twin of the tenant IvfLayout.compact rule (its stats rows vanish
    * with it; a probe of a vanished tenant is the empty frame, q180's
    * contract).
    */
  def bm25CompactTenants(s: SparkSession, path: String, dest: String,
      buckets: Int = 64): Unit = {
    import s.implicits._
    graft.core.Fs.deleteRecursive(s, dest)
    val tomb =
      if (!graft.core.Fs.exists(s, s"$path/_tombstones")) None
      else Some(broadcast(bm25Sidecar(s, path, "_tombstones").distinct()))
    def live(df: DataFrame): DataFrame =
      tomb.fold(df)(t => df.join(t, Seq("doc_id"), "left_anti"))
    live(s.read.parquet(path))
      .withColumn("tb", col("tb").cast("long"))
      .transform(byBuckets)
      .write.mode("overwrite").partitionBy("lang", "tb").parquet(dest)
    live(bm25Sidecar(s, path, "_docs", tenants = true))
      .write.mode("overwrite").parquet(s"$dest/_docs")
    bm25Sidecar(s, dest, "_docs", tenants = true)
      .groupBy($"lang")
      .agg(count(lit(1)).as("nd"), sum($"dl").as("tl"))
      .write.mode("overwrite").parquet(s"$dest/_stats")
  }

  /** Probe the layout: prune to the query terms' buckets (the bucket
    * ids evaluate on a literal-only plan — no data read — so the
    * filter carries LITERALS the planner prunes partitions with),
    * rebuild df/idf from the matching postings (identical to q130's,
    * whose tf frame is restricted to the query terms the same way),
    * score and TakeOrdered. Output is hash-identical to q130 on the
    * same corpus and query — the oracle gate proves the LAYOUT, not
    * just the formula.
    */
  /** The pruned LIVE postings frame for a term set — the physical
    * read both probe forms run: a partition-pruned scan of the terms'
    * buckets (bucket ids evaluate on a literal-only plan, so the
    * filter carries LITERALS the planner prunes with) with the
    * broadcast tombstone anti-join above it. Exposed PRE-checkpoint so
    * ServingBench can measure files/bytes read off THIS plan's
    * FileSourceScan — the probes wrap a lazy localCheckpoint around it
    * (the scan feeds both the df/idf and scoring passes), which
    * replaces the scan with an RDD in their own executed plans and
    * hides the pruning evidence (round-13 advice).
    */
  def bm25LivePostings(s: SparkSession, path: String, terms: Seq[String],
      buckets: Int = 64): DataFrame = {
    import s.implicits._
    val tbs = s.range(1).select(
      terms.map(t => pmod(xxhash64(lit(t)), lit(buckets.toLong)).as(t)): _*)
      .head().toSeq.map(_.asInstanceOf[Long]).distinct
    val postBase = s.read.parquet(path)
      .filter($"tb".isin(tbs: _*) && $"tok".isin(terms: _*))
    // live view: tombstoned docs drop out BEFORE df/idf, so a probe
    // equals a rebuild-without-those-docs (the IvfLayout.readLive discipline;
    // the anti-join sits above the pruned scan, pruning intact)
    if (!graft.core.Fs.exists(s, s"$path/_tombstones")) postBase
    else postBase.join(
      broadcast(bm25Sidecar(s, path, "_tombstones").distinct()),
      Seq("doc_id"), "left_anti")
  }

  def bm25Probe(s: SparkSession, path: String, terms: Seq[String],
      k: Int = 10, buckets: Int = 64): DataFrame = {
    import s.implicits._
    val k1 = 1.2; val b = 0.75
    // `_stats` is append-delta structured (build row + one row per
    // append/delete): the live corpus stats are the SUM of the rows
    val stats = broadcast(bm25Sidecar(s, path, "_stats")
      .agg(sum($"nd").as("nd"), sum($"tl").as("tl")))
    // lazily checkpointed: the live postings feed BOTH the df/idf pass
    // and the scoring pass — without reuse the pruned scan (and the
    // tombstone anti-join) runs twice (ScanAudit finding)
    val post = bm25LivePostings(s, path, terms, buckets)
      .localCheckpoint(false)
    val idf = broadcast(post.groupBy($"tok")
      .agg(countDistinct($"doc_id").as("df"))
      .crossJoin(stats)
      .select($"tok", log(lit(1.0) +
        (($"nd" - $"df").cast("double") + lit(0.5))
          / ($"df".cast("double") + lit(0.5))).as("idf")))
    post.join(idf, "tok")
      .crossJoin(stats)
      .withColumn("term_score", $"idf" *
        ($"tf".cast("double") * lit(k1 + 1.0))
        / ($"tf".cast("double") + lit(k1) * (lit(1.0 - b)
          + lit(b) * $"dl".cast("double")
            / ($"tl".cast("double") / $"nd".cast("double")))))
      .groupBy($"doc_id", $"lang", $"dl")
      .agg(graft.core.Exact.dround(
        sum($"term_score".cast(org.apache.spark.sql.types.DecimalType(28, 10)))
          .cast("double"), 6).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy($"score".desc, $"doc_id".asc).limit(k)
  }

  /** MULTI-QUERY batch probe — the form a reranking / eval pipeline
    * actually runs against the layout: N queries answered in ONE
    * pruned pass instead of N probe round-trips. The postings scan
    * prunes to the UNION of all queries' term buckets (still ≤
    * Σ|terms| partitions however large the corpus), each posting fans
    * out to the queries that asked for its term via a broadcast
    * (query_id, tok) table, df/idf compute once per TERM (shared
    * across queries — term df is query-independent), and per-query
    * top-k rides one window partitioned by query_id over the ≤
    * |matching docs| scored frame. Per-query results are
    * hash-identical to running [[bm25Probe]] per query (q164 pins the
    * batch against three independent scan-time replays).
    */
  def bm25ProbeBatch(s: SparkSession, path: String,
      queryTerms: Seq[(Long, Seq[String])], k: Int = 10,
      buckets: Int = 64): DataFrame = {
    import s.implicits._
    val k1 = 1.2; val b = 0.75
    val allTerms = queryTerms.flatMap(_._2).distinct
    val qt = broadcast(
      queryTerms.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
        .toDF("query_id", "tok"))
    val stats = broadcast(bm25Sidecar(s, path, "_stats")
      .agg(sum($"nd").as("nd"), sum($"tl").as("tl")))
    // same one-scan reuse as bm25Probe: the live postings feed df/idf
    // AND the scoring fan-out (pruned to the UNION of all queries'
    // term buckets)
    val post = bm25LivePostings(s, path, allTerms, buckets)
      .localCheckpoint(false)
    val idf = broadcast(post.groupBy($"tok")
      .agg(countDistinct($"doc_id").as("df"))
      .crossJoin(stats)
      .select($"tok", log(lit(1.0) +
        (($"nd" - $"df").cast("double") + lit(0.5))
          / ($"df".cast("double") + lit(0.5))).as("idf")))
    import org.apache.spark.sql.expressions.Window
    val top = Window.partitionBy($"query_id")
      .orderBy($"score".desc, $"doc_id".asc)
    post.join(qt, "tok")
      .join(idf, "tok")
      .crossJoin(stats)
      .withColumn("term_score", $"idf" *
        ($"tf".cast("double") * lit(k1 + 1.0))
        / ($"tf".cast("double") + lit(k1) * (lit(1.0 - b)
          + lit(b) * $"dl".cast("double")
            / ($"tl".cast("double") / $"nd".cast("double")))))
      .groupBy($"query_id", $"doc_id", $"lang", $"dl")
      .agg(graft.core.Exact.dround(
        sum($"term_score".cast(org.apache.spark.sql.types.DecimalType(28, 10)))
          .cast("double"), 6).as("score"),
        count(lit(1)).as("n_terms"))
      .withColumn("rk", row_number().over(top))
      .filter($"rk" <= k).drop("rk")
      .orderBy($"query_id".asc, $"score".desc, $"doc_id".asc)
  }

  /** Build + probe as one oracle row: the layout's answer must equal
    * the scan-time q130's (same SQL oracle verbatim) — write-path and
    * read-path both under the hash gate.
    */
  /** Batch-serving as one oracle row: N queries in one pruned pass,
    * per-query results hash-identical to N independent scan-time
    * replays (each with its own term list).
    */
  def q164Bm25BatchProbe(s: SparkSession, dir: String): DataFrame = {
    val path = graft.core.Fs.deleteOnExit(s, bm25TempIndexPath(dir))
    bm25IndexWrite(Tables.documents(s, dir), path)
    bm25ProbeBatch(s, path, Bm25Batch)
  }

  /** Curation-verdict → serving-takedown, end to end as one oracle
    * row: exact dedup (q25's md5-fingerprint rule, keep the min
    * doc_id per content group) produces the LOSER set, [[bm25Delete]]
    * tombstones them in the live index, and the probe must equal a
    * rebuild over the KEEPERS alone — the pipeline a production corpus
    * actually runs when dedup verdicts land after the index is built
    * (same stats-exactness story as q162: the losers' doc lengths
    * leave `_stats` via the `_docs` join, never a postings scan).
    */
  def q169DedupTakedown(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = graft.core.Fs.deleteOnExit(s,
      bm25TempIndexPath(dir) + "_takedown")
    val docs = Tables.documents(s, dir)
    bm25IndexWrite(docs, path)
    val keepers = docs.withColumn("fp", md5($"text"))
      .groupBy($"fp").agg(min($"doc_id").as("keeper"))
    val losers = docs.withColumn("fp", md5($"text"))
      .join(broadcast(keepers), "fp")
      .filter($"doc_id" =!= $"keeper")
      .select($"doc_id")
    bm25Delete(losers, path)
    bm25Probe(s, path, Bm25Query)
  }

  // --- q182: index-freshness census (serving lag dashboard) -------------------
  /** The STALENESS dashboard every serving fleet keeps next to q172's
    * compaction census: the index was built from yesterday's snapshot
    * (doc_id ≤ max/2 — q139's split rule), the corpus has since both
    * GROWN (the second half arrived) and SHRUNK (q162's takedown rule,
    * doc_id ≡ 3 mod 7, removed docs), and this census reads the live
    * corpus against the layout's `_docs` sidecar to report, per
    * tenant lang: docs in the corpus not yet indexed (ingest lag —
    * `Bm25Ingest`'s backlog) and index entries whose doc left the
    * corpus (pending deletes — `bm25Delete`'s backlog). The two
    * numbers schedule the two maintenance streams.
    *
    * Scale shape: the census never touches postings — corpus
    * projection ⟗ doc-level sidecar, ONE doc_id-keyed full-outer
    * shuffle folding straight into a per-lang aggregation. (Both
    * sides are doc-cardinality; at 100 TB this is the one join whose
    * both sides are data-sized, and doc_id equi-partitioning is
    * exactly how it should shuffle.)
    */
  def indexFreshness(corpus: DataFrame, indexPath: String): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val c = corpus.select($"doc_id", $"lang".as("c_lang"),
      lit(1L).as("in_c"))
    val i = bm25Sidecar(s, indexPath, "_docs", tenants = true)
      .select($"doc_id", $"lang".as("i_lang"), lit(1L).as("in_i"))
    c.join(i, Seq("doc_id"), "full_outer")
      .select(coalesce($"c_lang", $"i_lang").as("lang"),
        coalesce($"in_c", lit(0L)).as("in_c"),
        coalesce($"in_i", lit(0L)).as("in_i"))
      .groupBy($"lang")
      .agg(sum($"in_c").as("n_corpus"),
        sum($"in_i").as("n_indexed"),
        sum($"in_c" * (lit(1L) - $"in_i")).as("n_missing"),
        sum($"in_i" * (lit(1L) - $"in_c")).as("n_orphan"))
      .orderBy($"lang".asc)
  }

  def q182IndexFreshness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = graft.core.Fs.deleteOnExit(s,
      bm25TempIndexPath(dir) + "_fresh")
    val docs = Tables.documents(s, dir)
    val half = broadcast(
      docs.agg(floor(max($"doc_id") / 2).cast("long").as("split")))
    // the tenant layout's _docs sidecar carries lang — the per-tenant
    // freshness view is the one a shared-index fleet actually reads
    bm25IndexWriteTenants(
      docs.crossJoin(half).filter($"doc_id" <= $"split")
        .select(docs.columns.map(col): _*), path)
    indexFreshness(
      docs.filter($"doc_id" % 7 =!= 3).select($"doc_id", $"lang"), path)
  }

  // --- q188: hard-negative mining for retriever training ----------------------
  /** The contrastive-training data miner: for each query, the
    * documents the LEXICAL retriever ranks in its top-10 that the
    * DENSE top-10 does NOT contain — lexically relevant but
    * semantically distant, the classic hard negatives a dual-encoder
    * trains against (the BM25-negatives recipe of DPR, Karpukhin et
    * al. 2020). Queries are the q164/q165 batch pair (text terms +
    * the id-matched query vector); output rows carry the query, the
    * negative doc, its lexical rank and score — the training-pair
    * feed, per query, auditable.
    *
    * Exactness: the lexical leg is q164's batch probe (hash-gated
    * elsewhere); the dense leg is q29's rounded-cosine top-10 per
    * query (vec_id-asc ties); the mining step is an exact anti-join.
    *
    * Scale shape: lexical = one bucket-pruned batch probe against the
    * in-query-built layout (the build is the oracle-discipline cost,
    * q164's note); dense = the bounded query batch broadcast against
    * one corpus projection with per-query top-10 windows; the
    * anti-join runs on two 10·|queries|-row frames.
    */
  def q188HardNegatives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val path = graft.core.Fs.deleteOnExit(s,
      bm25TempIndexPath(dir) + "_negmine")
    bm25IndexWrite(Tables.documents(s, dir), path)
    val queries = Bm25Batch.filter(q => q._1 == 1L || q._1 == 2L)
    // k=10 explicitly: the oracle's LIMIT 10 encodes this contract —
    // a future bm25ProbeBatch default change must not alter the query
    val lex = bm25ProbeBatch(s, path, queries, k = 10)
      .withColumn("bm25_rank", row_number().over(
        Window.partitionBy($"query_id")
          .orderBy($"score".desc, $"doc_id".asc)))
      .select($"query_id", $"doc_id", $"bm25_rank", $"score")
    val emb = Tables.embeddings(s, dir)
    val vec = (c: org.apache.spark.sql.Column) =>
      c.cast("array<double>")
    val qids = queries.map(_._1)
    val qs = broadcast(emb.filter($"vec_id".isin(qids: _*))
      .select($"vec_id".as("query_id"), vec($"embedding").as("qv")))
    val topW = Window.partitionBy($"query_id")
      .orderBy($"cos".desc, $"vec_id".asc)
    val dense = emb.filter(!$"vec_id".isin(qids: _*))
      .crossJoin(qs)
      .withColumn("cos",
        round(Similarity.cosine(vec($"embedding"), $"qv"), 6))
      .withColumn("rk", row_number().over(topW))
      .filter($"rk" <= 10)
      .select($"query_id", $"vec_id".as("doc_id"))
    lex.join(broadcast(dense), Seq("query_id", "doc_id"), "left_anti")
      .orderBy($"query_id".asc, $"bm25_rank".asc)
  }

  // --- q172: compaction-policy census over the serving layouts ---------------
  /** The operational "compact now?" decision every LSM-style serving
    * fleet runs on a schedule, as one oracle row per layout: tombstone
    * deletes ([[bm25Delete]] / Similarity.ivfDelete) leave DEAD rows
    * in the immutable base files — logically invisible to probes, but
    * their bytes are still scanned and anti-joined on every query —
    * and this census reads each layout's base + `_tombstones` sidecar
    * to report how much of the physical layout is dead: (layout,
    * n_total, n_dead, dead_frac, compact_now), with compact_now =
    * dead_frac ≥ `threshold` (the policy knob; compaction cost is a
    * full rewrite, so fleets trigger at 10–30% dead). Composes the
    * q162 (bm25) and q158 (ivf) maintenance parts into the decision
    * row that schedules [[bm25Compact]] / Similarity.IvfLayout.compact.
    *
    * Scale shape: one scan + one broadcast tombstone join per layout
    * (tombstone sets are bounded by deletes-since-compaction — the
    * same broadcast contract the probes rely on), aggregated to one
    * row each; dead-rows-per-bucket (the skew view — one hot bucket
    * can be 90% dead while the layout average looks healthy) rides
    * [[bm25DeadByBucket]], spec-pinned to sum to this census.
    */
  def compactionCensus(s: SparkSession, bm25Path: String,
      ivfIndexPath: String, threshold: Double): DataFrame = {
    import s.implicits._
    def leg(name: String, base: DataFrame, idCol: String,
        tombs: Option[DataFrame]): DataFrame = {
      val dead = tombs.fold(lit(0L))(_ => coalesce($"is_dead", lit(0L)))
      val flagged = tombs.fold(base)(t => base.join(
        broadcast(t.withColumn("is_dead", lit(1L))), Seq(idCol), "left"))
      flagged
        .agg(count(lit(1)).as("n_total"), sum(dead).as("n_dead"))
        .select(lit(name).as("layout"), $"n_total", $"n_dead",
          graft.core.Exact.dround(
            $"n_dead".cast("double") / $"n_total".cast("double"), 4)
            .as("dead_frac"))
        .withColumn("compact_now",
          when($"dead_frac" >= threshold, 1L).otherwise(0L))
    }
    val bm25Tombs = s"$bm25Path/_tombstones"
    leg("bm25", s.read.parquet(bm25Path), "doc_id",
        if (!graft.core.Fs.exists(s, bm25Tombs)) None
        else Some(bm25Sidecar(s, bm25Path, "_tombstones").distinct()))
      .unionByName(leg("ivf", Similarity.FullLayout.read(s, ivfIndexPath),
        "vec_id", Similarity.ivfTombstones(s, ivfIndexPath)))
      .orderBy($"layout".asc)
  }

  /** The per-bucket skew view of the census: dead/total posting rows
    * per `tb` partition (bucket bytes are proportional to posting rows
    * — fixed-grain rows — so dead row fraction IS the reclaimable-byte
    * fraction per bucket). Spec-pinned to sum to [[compactionCensus]]'
    * bm25 row; a deployment compacts per-bucket when one hot bucket
    * outruns the layout average (parquet partition dirs rewrite
    * independently).
    */
  def bm25DeadByBucket(s: SparkSession, path: String): DataFrame = {
    import s.implicits._
    val base = s.read.parquet(path)
    val tombPath = s"$path/_tombstones"
    val flagged =
      if (!graft.core.Fs.exists(s, tombPath))
        base.withColumn("is_dead", lit(0L))
      else base.join(
        broadcast(bm25Sidecar(s, path, "_tombstones").distinct()
          .withColumn("is_dead", lit(1L))),
        Seq("doc_id"), "left")
    flagged
      .groupBy($"tb")
      .agg(count(lit(1)).as("n_total"),
        sum(coalesce($"is_dead", lit(0L))).as("n_dead"))
      .orderBy($"tb".asc)
  }

  /** Build-then-mutate both serving layouts, then the census as one
    * oracle row pair: bm25 built on the full corpus with q162's
    * takedown rule (doc_id ≡ 3 mod 7) tombstoned; ivf via the learned
    * serving setup with q158's rule (vec_id ≡ 3 mod 7) tombstoned.
    * 1/7 ≈ 14.3% dead against a 10% policy threshold → both layouts
    * vote compact — and the fractions are hash-gated, so the decision
    * inputs are exact, not a sampled estimate.
    */
  def q172CompactionCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Seq(bmPath, ivfRoot) = Seq("_census", "_ivfcensus").map(sfx =>
      graft.core.Fs.deleteOnExit(s, bm25TempIndexPath(dir) + sfx))
    val docs = Tables.documents(s, dir)
    bm25IndexWrite(docs, bmPath)
    bm25Delete(docs.filter($"doc_id" % 7 === 3).select($"doc_id"), bmPath)
    // the census reads index rows + tombstones only, and its oracle is
    // assignment-independent — the q101 fixed-centroid shape (iters=1)
    // prices the layout without q128's training rounds, and no query
    // sidecars are written (nothing probes this layout)
    val emb = Tables.embeddings(s, dir).localCheckpoint(false)
    val (idx, _) = Similarity.ivfLearned(emb, k = 8, iters = 1)
    Similarity.FullLayout.write(idx, s"$ivfRoot/index")
    Similarity.ivfDelete(
      emb.filter($"vec_id" % 7 === 3).select($"vec_id"),
      s"$ivfRoot/index")
    compactionCensus(s, bmPath, s"$ivfRoot/index", threshold = 0.10)
  }

  // --- q176: PSI drift census between corpus snapshots -------------------------
  /** Population Stability Index over quality-score bands — THE standard
    * production data-drift monitor (credit-scoring lineage, applied
    * here to the corpus pipeline): two crawl snapshots' quality
    * distributions compared band by band, PSI = Σ (pA−pB)·ln(pA/pB);
    * fleet rule of thumb: <0.1 stable, 0.1–0.2 watch, ≥0.2 shifted —
    * the alarm that fires when a crawler change or source rot moves
    * the corpus under a trained model. Output: one row per band with
    * both counts, both (Laplace-smoothed) proportions and the PSI
    * term — per-band rows, not just the scalar, because the FIRST
    * question after "PSI fired" is "which band moved".
    *
    * Exactness: bands come from the integer-scaled quality (q4 =
    * round(quality·10⁴) — integer div, no float floor at a band
    * edge); proportions are (c+1)/(n+10) Laplace-smoothed ratios of
    * exact integers (empty bands stay defined), so the LN operand is
    * a ratio of integer products — identical doubles in both engines
    * (the q95/q122 LN class). Snapshots here: doc_id parity (the
    * deterministic two-crawls stand-in; a deployment passes two real
    * snapshot frames to [[psiBands]]).
    *
    * Scale shape: one corpus scan into a 10-row banded rollup
    * (map-side combined), a 10-row spine join, one broadcast totals
    * row — nothing after the scan is data-sized.
    */
  def psiBands(a: DataFrame, b: DataFrame): DataFrame = {
    val s = a.sparkSession
    import s.implicits._
    def banded(df: DataFrame, side: String) = df
      .select((expr("CAST(ROUND(quality * 10000) AS BIGINT)") // exact
        .cast("long")).as("q4"))
      .select(least(lit(9L), expr("q4 div 1000")).as("band"))
      .groupBy($"band").agg(count(lit(1)).as(s"n_$side"))
    val spine = s.range(0, 10).select($"id".as("band"))
    val full = spine
      .join(banded(a, "a"), Seq("band"), "left")
      .join(banded(b, "b"), Seq("band"), "left")
      .na.fill(0L, Seq("n_a", "n_b"))
    val tot = broadcast(full.agg(sum($"n_a").as("ta"),
      sum($"n_b").as("tb")))
    full.crossJoin(tot)
      .select($"band", $"n_a", $"n_b",
        graft.core.Exact.dround(
          ($"n_a" + 1).cast("double") / ($"ta" + 10).cast("double"), 6)
          .as("p_a"),
        graft.core.Exact.dround(
          ($"n_b" + 1).cast("double") / ($"tb" + 10).cast("double"), 6)
          .as("p_b"),
        graft.core.Exact.dround(
          ((($"n_a" + 1).cast("double") / ($"ta" + 10).cast("double"))
            - (($"n_b" + 1).cast("double") / ($"tb" + 10).cast("double")))
          * log((($"n_a" + 1).cast("double") * ($"tb" + 10).cast("double"))
            / (($"n_b" + 1).cast("double") * ($"ta" + 10).cast("double"))),
          6).as("psi_term"))
      .orderBy($"band".asc)
  }

  def q176PsiDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = corpusFilterCols(Tables.documents(s, dir))
      .select($"doc_id", $"quality")
      // both snapshots derive from one scored frame — scan once
      .localCheckpoint(false)
    psiBands(scored.filter($"doc_id" % 2 === 0),
      scored.filter($"doc_id" % 2 =!= 0))
  }

  // --- q175: multi-tenant BM25 layout — two-level partition pruning -----------
  /** The per-tenant serving layout a multilingual / multi-customer
    * retrieval fleet runs ONE physical index for: postings written
    * `partitionBy(lang, tb)` so a tenant's probe is a TWO-LEVEL
    * statically-pruned scan (its language dir, then ≤|terms| buckets
    * inside it), and corpus stats keep one append-delta row PER
    * TENANT — BM25's N and avgdl are tenant-relative, so a tenant's
    * ranking equals an index built over its documents alone (the
    * isolation contract; the oracle proves it by replaying q130's
    * pipeline over `WHERE lang = tenant`). Build cost is one corpus
    * scan + one (term, doc) shuffle, exactly the single-tenant
    * layout's; the probe's byte footprint is |tenant's postings of the
    * query terms| however many tenants share the index.
    */
  def bm25IndexWriteTenants(docs: DataFrame, path: String,
      buckets: Int = 64): Unit = {
    import docs.sparkSession.implicits._
    val s = docs.sparkSession
    graft.core.Fs.deleteRecursive(s, path)
    val tokenized = bm25Tokenized(docs)
    // postings first and alone — static overwrite truncates the root
    // (see bm25IndexWrite); the two sidecars then derive from the same
    // checkpointed frame (no `_docs` read-back) and overlap (§2.6)
    bm25Postings(tokenized, buckets)
      .write.mode("overwrite").partitionBy("lang", "tb").parquet(path)
    val lens = tokenized.select($"doc_id", $"lang", $"dl")
    graft.core.Par.all(s, Seq(
      () => lens.write.mode("overwrite").parquet(s"$path/_docs"),
      () => lens.groupBy($"lang")
        .agg(count(lit(1)).as("nd"), sum($"dl").as("tl"))
        .write.mode("overwrite").parquet(s"$path/_stats")))
  }

  /** One tenant's probe against the shared layout: the tenant's own
    * stats row (summed over append deltas), a (lang, tb, tok)-pruned
    * scan, q130's scoring. Identical columns/rule to [[bm25Probe]].
    */
  def bm25ProbeTenant(s: SparkSession, path: String, lang: String,
      terms: Seq[String], k: Int = 10, buckets: Int = 64): DataFrame = {
    import s.implicits._
    val k1 = 1.2; val b = 0.75
    val tbs = s.range(1).select(
      terms.map(t => pmod(xxhash64(lit(t)), lit(buckets.toLong)).as(t)): _*)
      .head().toSeq.map(_.asInstanceOf[Long]).distinct
    // the 1-row stats frame feeds idf AND scoring — checkpoint it so
    // the sidecar is scanned once per tenant, not once per consumer
    // (the q175 union of two tenant probes read _stats 4x without it)
    val stats = broadcast(bm25Sidecar(s, path, "_stats", tenants = true)
      .filter($"lang" === lang)
      .agg(sum($"nd").as("nd"), sum($"tl").as("tl"))
      .localCheckpoint(false))
    // one pruned scan feeds df/idf AND scoring (the bm25Probe rule);
    // PlanSpec pins the two-level pruning on the pre-checkpoint frame.
    // Tombstones (tenant purges, q180) anti-join ABOVE the pruned scan
    // — the bm25LivePostings discipline, pruning intact
    val postPruned = bm25TenantPostings(s, path, lang, terms, buckets, tbs)
    val post = (if (!graft.core.Fs.exists(s, s"$path/_tombstones")) postPruned
      else postPruned.join(
        broadcast(bm25Sidecar(s, path, "_tombstones").distinct()),
        Seq("doc_id"), "left_anti"))
      .localCheckpoint(false)
    val idf = broadcast(post.groupBy($"tok")
      .agg(countDistinct($"doc_id").as("df"))
      .crossJoin(stats)
      .select($"tok", log(lit(1.0) +
        (($"nd" - $"df").cast("double") + lit(0.5))
          / ($"df".cast("double") + lit(0.5))).as("idf")))
    post.join(idf, "tok")
      .crossJoin(stats)
      .withColumn("term_score", $"idf" *
        ($"tf".cast("double") * lit(k1 + 1.0))
        / ($"tf".cast("double") + lit(k1) * (lit(1.0 - b)
          + lit(b) * $"dl".cast("double")
            / ($"tl".cast("double") / $"nd".cast("double")))))
      .groupBy($"doc_id", $"lang", $"dl")
      .agg(graft.core.Exact.dround(
        sum($"term_score".cast(org.apache.spark.sql.types.DecimalType(28, 10)))
          .cast("double"), 6).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy($"score".desc, $"doc_id".asc).limit(k)
  }

  /** The tenant probe's physical read, PRE-checkpoint (the
    * [[bm25LivePostings]] exposure rule): lang dir + term buckets both
    * as static partition filters.
    */
  def bm25TenantPostings(s: SparkSession, path: String, lang: String,
      terms: Seq[String], buckets: Int = 64,
      tbsPre: Seq[Long] = Seq.empty): DataFrame = {
    import s.implicits._
    val tbs =
      if (tbsPre.nonEmpty) tbsPre
      else s.range(1).select(
        terms.map(t =>
          pmod(xxhash64(lit(t)), lit(buckets.toLong)).as(t)): _*)
        .head().toSeq.map(_.asInstanceOf[Long]).distinct
    s.read.parquet(path)
      .filter($"lang" === lang && $"tb".isin(tbs: _*) &&
        $"tok".isin(terms: _*))
  }

  /** Build + two tenants' probes as one oracle row: each tenant's
    * ranking from the SHARED layout must equal q130 restricted to
    * that tenant's documents — tenant isolation under the hash gate.
    */
  def q175TenantProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = graft.core.Fs.deleteOnExit(s,
      bm25TempIndexPath(dir) + "_tenants")
    bm25IndexWriteTenants(Tables.documents(s, dir), path)
    TenantLangs.map { lang =>
      bm25ProbeTenant(s, path, lang, Bm25Query)
        .withColumn("tenant", lit(lang))
    }.reduce(_ unionByName _)
  }

  /** The two tenants the q175 oracle replays (largest + a CJK tenant —
    * different tokenization mass, same rule).
    */
  private[graft] val TenantLangs: Seq[String] = Seq("en", "zh")

  /** q175 AND q203 share this oracle: tenant isolation — each
    * tenant's ranking from the SHARED layout equals q130's pipeline
    * over that tenant's documents alone; the stream-built layout
    * (q203) must answer identically to the batch-built one (q175).
    */
  private lazy val tenantProbeOracleSql: String =
    s"""SELECT * FROM (${TenantLangs.map { lang =>
          s"""SELECT doc_id, lang, dl, score, n_terms,
             |  '$lang' AS tenant
             |FROM (${bm25OracleOver(s"lang = '$lang'")})""".stripMargin
        }.mkString("\nUNION ALL\n")})
       |ORDER BY tenant ASC, score DESC, doc_id ASC""".stripMargin

  // --- q203: tenant BM25 layout built by the MAINTENANCE STREAM ----------------
  /** The lexical twin of q198 (r16 verdict #5): the whole corpus
    * arrives as two CRUD micro-batches through
    * [[graft.streaming.Bm25Maintain.applyBatchTenants]] — per-batch
    * tokenize, postings staged under the batch's own `(lang, tb)`
    * dirs, per-tenant stats deltas, one exactly-once publish each —
    * and both tenants probe the stream-built layout. The answer must
    * equal q175's batch-built layout (same oracle SQL): postings and
    * doc lengths are per-document functions and the probe SUMS the
    * stats deltas, so batch boundaries and arrival order are
    * invisible to rankings — streaming ingest is safe for the
    * multi-tenant lexical fleet exactly as q198 proved for the dense
    * one.
    *
    * Scale shape: per batch one tokenize + a staged write touching
    * only the batch terms' (tenant, bucket) dirs, ≤|touched|+3
    * renames; probes stay (lang, tb)-pruned two-level scans.
    * StreamingSpec adds the live twin (MemoryStream feed, stream ==
    * batch parity, tenant purge-as-dels, replay refusal).
    */
  def q203Bm25TenantMaintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = bm25TempIndexPath(dir) + "_tmaint"
    // reset the committed pointer: a bench rep re-running this query
    // must not have its batches refused as replays
    graft.core.Fs.deleteRecursive(s, path)
    graft.core.Fs.deleteOnExit(s, path)
    val docs = Tables.documents(s, dir)
    val half = broadcast(
      docs.agg(floor(max($"doc_id") / 2).cast("long").as("split")))
    val feed = docs.crossJoin(half)
      .select(lit("add").as("op"), $"doc_id", $"lang", $"text", $"split")
    graft.streaming.Bm25Maintain.applyBatchTenants(
      feed.filter($"doc_id" <= $"split").drop("split"), 0L, path)
    graft.streaming.Bm25Maintain.applyBatchTenants(
      feed.filter($"doc_id" > $"split").drop("split"), 1L, path)
    TenantLangs.map { lang =>
      bm25ProbeTenant(s, path, lang, Bm25Query)
        .withColumn("tenant", lit(lang))
    }.reduce(_ unionByName _)
      .orderBy($"tenant".asc, $"score".desc, $"doc_id".asc)
  }

  // --- q180: tenant purge — offboarding / right-to-erasure ---------------------
  /** Purge an ENTIRE tenant from the shared [[bm25IndexWriteTenants]]
    * layout: every live doc of `lang` is tombstoned and the tenant's
    * stats leave through one exact per-tenant delta row — the
    * offboarding / legal-erasure request every multi-tenant serving
    * fleet must honor. Logical-now, physical-at-compaction: the
    * tombstone makes the tenant unservable immediately (probes
    * anti-join it), and the next [[bm25Compact]]-class rewrite drops
    * the bytes — on this layout the tenant's `lang=` partition dirs
    * rewrite independently of every other tenant's.
    *
    * Scale shape: the victim list is one `_docs`-sidecar scan filtered
    * to the tenant (never a postings scan), the stats delta is one
    * aggregated row, and no other tenant's files are touched.
    *
    * Crash discipline: two sidecar writes (tombstones, then the stats
    * delta) — still not one atomic publish, but the pair is
    * CONVERGENT under re-run: the delta is computed as the negation
    * of the tenant's CURRENT net `_stats` (not from the victim list),
    * so a purge that crashed between the writes is repaired by simply
    * re-running it — the retry finds no new victims but still zeroes
    * whatever net stats remain, and a retry after full success
    * appends an exact (0, 0) no-op. Duplicate tombstone rows are
    * harmless (every reader distincts the sidecar). Single-writer
    * contract as everywhere on this layout ([[graft.streaming
    * .IngestCommit]]); a purge multiplexed into a live maintenance
    * feed should ride Bm25Maintain's staged publish instead.
    */
  def bm25PurgeTenant(s: SparkSession, path: String, lang: String): Unit = {
    import s.implicits._
    val docs = bm25Sidecar(s, path, "_docs", tenants = true)
      .filter($"lang" === lang)
    val live =
      if (!graft.core.Fs.exists(s, s"$path/_tombstones")) docs
      else docs.join(
        broadcast(bm25Sidecar(s, path, "_tombstones").distinct()),
        Seq("doc_id"), "left_anti")
    live.select($"doc_id")
      .write.mode("append").parquet(s"$path/_tombstones")
    // negate the tenant's net stats AS THE SIDECAR RECORDS THEM —
    // the 1-row read happens strictly before the append (a bounded
    // driver materialization, never data-sized), so the same path is
    // never read and written in one job
    val net = bm25Sidecar(s, path, "_stats", tenants = true)
      .filter($"lang" === lang)
      .agg(coalesce(sum($"nd"), lit(0L)).as("nd"),
        coalesce(sum($"tl"), lit(0L)).as("tl"))
      .as[(Long, Long)].head()
    s.createDataFrame(Seq((lang, -net._1, -net._2)))
      .toDF("lang", "nd", "tl")
      .write.mode("append").parquet(s"$path/_stats")
  }

  /** [[bm25PurgeTenant]] through [[graft.streaming.IngestCommit]]'s
    * staged publish — the NO-crash-window spelling: the tenant's
    * tombstones and its stats delta stage together and land in the
    * live tree in ONE batch-tagged publish, so there is no interleaved
    * state for a crash to expose at all (the convergent two-write
    * spelling above remains for callers without a batch-id sequence).
    * `opId` rides the layout's single-writer id sequence
    * ([[graft.streaming.IngestCommit.committed]] + 1 when the caller
    * owns the layout; a purge multiplexed with a live maintenance
    * stream must be fed through that stream instead — same contract
    * as every other mutation). Returns false (layout untouched) on
    * replay of an already-committed opId; a crash mid-publish
    * re-drives scrub-first to the clean-run end state.
    */
  def bm25PurgeTenantAtomic(s: SparkSession, path: String, lang: String,
      opId: Long): Boolean = {
    import s.implicits._
    graft.streaming.IngestCommit.applyStaged(s, path, opId,
      Seq("tomb" -> "_tombstones", "stats" -> "_stats"), staged => {
        val docs = bm25Sidecar(s, path, "_docs", tenants = true)
      .filter($"lang" === lang)
        val live =
          if (!graft.core.Fs.exists(s, s"$path/_tombstones")) docs
          else docs.join(
            broadcast(bm25Sidecar(s, path, "_tombstones").distinct()),
            Seq("doc_id"), "left_anti")
        live.select($"doc_id")
          .write.mode("overwrite").parquet(s"$staged/tomb")
        // the bm25PurgeTenant delta rule: negate the tenant's net
        // stats as the sidecar records them (1-row bounded read,
        // strictly before the staged write)
        val net = bm25Sidecar(s, path, "_stats", tenants = true)
      .filter($"lang" === lang)
          .agg(coalesce(sum($"nd"), lit(0L)).as("nd"),
            coalesce(sum($"tl"), lit(0L)).as("tl"))
          .as[(Long, Long)].head()
        s.createDataFrame(Seq((lang, -net._1, -net._2)))
          .toDF("lang", "nd", "tl")
          .write.mode("overwrite").parquet(s"$staged/stats")
      })
  }

  /** Purge-then-prove as one oracle row: build the shared two-tenant
    * layout, [[bm25PurgeTenantAtomic]] the CJK tenant, then probe BOTH
    * tenants through the live view. The survivor's ranking must equal
    * q130 over its documents alone (isolation survives the neighbor's
    * erasure — the oracle is exactly q175's survivor leg), and the
    * purged tenant's probe must contribute ZERO rows — any leaked row
    * fails the driver's row-count gate because the oracle has no
    * purged-tenant rows to match it. PipelineOpsSpec adds the
    * physical half: post-purge live postings hold no purged-tenant
    * rows, and the stats fold to exactly (0, 0).
    */
  def q180TenantPurge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = graft.core.Fs.deleteOnExit(s,
      bm25TempIndexPath(dir) + "_purge")
    bm25IndexWriteTenants(Tables.documents(s, dir), path)
    bm25PurgeTenantAtomic(s, path, TenantLangs(1),
      graft.streaming.IngestCommit.committed(s, path) + 1L)
    TenantLangs.map { lang =>
      bm25ProbeTenant(s, path, lang, Bm25Query)
        .withColumn("tenant", lit(lang))
    }.reduce(_ unionByName _)
      .orderBy($"tenant".asc, $"score".desc, $"doc_id".asc)
  }

  // --- q173: compact + atomic root swap, probed end to end --------------------
  /** The compaction DAY-2 path as one oracle row — the leg q162 left
    * to specs: build the live index, tombstone the q162 victims
    * (doc_id ≡ 3 mod 7), probe THROUGH the [[graft.core.Roots]]
    * pointer (stage `tombstoned` — anti-join pays per query), then
    * [[bm25Compact]] into the NEXT generation, [[graft.core.Roots
    * .publish]] the swap, and probe through the pointer again (stage
    * `compacted` — dead rows physically gone, no tombstone join).
    * BOTH probes must equal a rebuild WITHOUT the victims (one oracle,
    * two stage tags): the tombstone view and the compacted view are
    * the same logical index, so the swap is invisible to answers —
    * what "atomic generation flip" must mean for a serving fleet.
    * PipelineOpsSpec adds the physics: the old generation stays
    * byte-readable after the swap (in-flight reader contract) and the
    * new generation's postings count equals the live count.
    *
    * Scale shape: q162's build/delete terms; compaction is the one
    * full rewrite (the cost q172's census decides to pay); each probe
    * stays a ≤|terms|-bucket pruned scan. The pointer is one atomic
    * rename — no reader coordination.
    */
  def q173CompactSwap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = bm25TempIndexPath(dir) + "_swap"
    graft.core.Fs.deleteRecursive(s, base)
    graft.core.Fs.deleteOnExit(s, base)
    val docs = Tables.documents(s, dir)
    bm25IndexWrite(docs, s"$base/gen0")
    graft.core.Roots.publish(s, base, "gen0")
    bm25Delete(docs.filter($"doc_id" % 7 === 3).select($"doc_id"),
      graft.core.Roots.current(s, base))
    // EAGER checkpoint: freeze the tombstone-view answer before the
    // swap mutates what the pointer resolves to
    val tombstoned = bm25Probe(s, graft.core.Roots.current(s, base),
        Bm25Query)
      .withColumn("stage", lit("tombstoned"))
      .localCheckpoint(true)
    bm25Compact(s, s"$base/gen0", s"$base/gen1")
    graft.core.Roots.publish(s, base, "gen1")
    tombstoned.unionByName(
      bm25Probe(s, graft.core.Roots.current(s, base), Bm25Query)
        .withColumn("stage", lit("compacted")))
  }

  /** Point-in-time probe: [[bm25Probe]] pinned to generation `gen`
    * under a [[graft.core.Roots]] base — the lexical twin of
    * [[graft.operators.Similarity.ivfProbeAt]] (r15 verdict #5): the
    * audit/repro read ("what did the index answer before yesterday's
    * compaction?") against any retired-but-retained generation.
    * Generations are immutable dirs, so the pinned probe replays the
    * exact pre-swap answer — including its `_stats` sidecar state and
    * tombstone view at that generation; a generation deleted past
    * retention fails loudly (Roots.at), never an empty scan.
    */
  def bm25ProbeAt(s: SparkSession, base: String, gen: String,
      terms: Seq[String], k: Int = 10, buckets: Int = 64): DataFrame =
    bm25Probe(s, graft.core.Roots.at(s, base, gen), terms, k, buckets)

  /** One DETERMINISTIC temp root per corpus dir: every invocation
    * (3+ bench reps per round) overwrites the same layout instead of
    * leaking a fresh corpus-sized index per rep, and each caller's
    * [[graft.core.Fs.deleteOnExit]] reclaims it at JVM shutdown.
    */
  def bm25TempIndexPath(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_bm25idx_${
      java.lang.Integer.toHexString(dir.hashCode)}"

  def q160Bm25Probe(s: SparkSession, dir: String): DataFrame = {
    val path = graft.core.Fs.deleteOnExit(s, bm25TempIndexPath(dir))
    bm25IndexWrite(Tables.documents(s, dir), path)
    bm25Probe(s, path, Bm25Query)
  }

  /** The q160 layout's MAINTENANCE lifecycle as one oracle row — the
    * ivf CRUD story (q139 append + q158 delete) on the lexical index:
    * build on the first half of the corpus (yesterday's index), APPEND
    * the second half (today's crawl batch), probe — the answer must
    * equal a full rebuild's (q130's oracle verbatim); then tombstone
    * every doc with doc_id ≡ 3 (mod 7) (the takedown/dedup-verdict
    * stand-in), probe again — the answer must equal a rebuild WITHOUT
    * those docs (same oracle, inverted predicate). Both probes under
    * one hash gate, stages tagged. Stats stay exact throughout via
    * `_stats` delta rows (+batch on append, −victims on delete), never
    * a postings rescan.
    *
    * Scale shape: the build/append are two batch-sized postings
    * shuffles (each a one-off write cost); the delete is a
    * doc-cardinality `_docs` join; each probe is the q160
    * partition-pruned scan of ≤|terms| buckets with a broadcast
    * tombstone anti-join above it.
    */
  def q162Bm25Maintain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = graft.core.Fs.deleteOnExit(s,
      bm25TempIndexPath(dir) + "_maint")
    val docs = Tables.documents(s, dir)
    val half = broadcast(
      docs.agg(floor(max($"doc_id") / 2).cast("long").as("split")))
    val cols = docs.columns.map(col).toSeq
    bm25IndexWrite(
      docs.crossJoin(half).filter($"doc_id" <= $"split").select(cols: _*),
      path)
    bm25Append(
      docs.crossJoin(half).filter($"doc_id" > $"split").select(cols: _*),
      path)
    // EAGER checkpoint before the delete mutates the sidecars: the
    // probe's `_stats`/postings reads are lazy, and this frame must
    // capture the pre-delete state
    val afterAppend = bm25Probe(s, path, Bm25Query)
      .withColumn("stage", lit("after_append"))
      .localCheckpoint(true)
    bm25Delete(docs.filter($"doc_id" % 7 === 3).select($"doc_id"), path)
    afterAppend.unionByName(
      bm25Probe(s, path, Bm25Query)
        .withColumn("stage", lit("after_delete")))
  }

  // --- q163: per-lang HLL vocabulary census ----------------------------------
  /** The batch twin of [[graft.streaming.AnomalyStream.hllStream]]'s
    * EXACT domain — distinct-token (vocabulary) estimation per
    * language over the corpus, through q131's md5-addressed 64-register
    * HLL device (same register addressing and rho derivation as
    * hllRegister, so a final stream snapshot is directly comparable to
    * this census row for row). Closes the last batch↔stream asymmetry
    * in the sketch family: every streaming sketch (KMV, CMS,
    * Misra–Gries, HLL) now has an oracle-gated batch census on the
    * SAME key/value domain it streams over.
    *
    * Scale shape: one map-side-combined aggregation into ≤64 rows per
    * lang — O(1) state per group however large the corpus; the exact
    * countDistinct twin rides along only for the census (the q103
    * rule; a deployment drops it and keeps the registers).
    */
  def q163HllVocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Relational.hllCensus(Tables.documents(s, dir)
      .select($"lang".as("grp"),
        explode(filter(split($"text", " "), t => length(t) > 0)).as("k")))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q130_bm25"              -> (q130Bm25 _),
    "q160_bm25_probe"        -> (q160Bm25Probe _),
    "q162_bm25_maintain"     -> (q162Bm25Maintain _),
    "q163_hll_vocab"         -> (q163HllVocab _),
    "q164_bm25_batch_probe"  -> (q164Bm25BatchProbe _),
    "q168_filter_cascade"    -> (q168FilterCascade _),
    "q169_dedup_takedown"    -> (q169DedupTakedown _),
    "q172_compaction_census" -> (q172CompactionCensus _),
    "q173_compact_swap"      -> (q173CompactSwap _),
    "q175_tenant_probe"      -> (q175TenantProbe _),
    "q203_bm25_tenant_maintain" -> (q203Bm25TenantMaintain _),
    "q180_tenant_purge"      -> (q180TenantPurge _),
    "q182_index_freshness"   -> (q182IndexFreshness _),
    "q188_hard_negatives"    -> (q188HardNegatives _),
    "q176_psi_drift"         -> (q176PsiDrift _),
    "q122_pmi_pairs"         -> (q122PmiPairs _),
    "q120_bpe_sweep"         -> (q120BpeSweep _),
    "q119_zipf_slope"        -> (q119ZipfSlope _),
    "q118_novelty"           -> (q118NoveltyCensus _),
    "q114_dsir_weights"      -> (q114DsirWeights _),
    "q112_count_min"         -> (q112CountMin _),
    "q115_bpe_apply"         -> (q115BpeApply _),
    "q42_winnow_fingerprint" -> (q42Winnow _),
    "q45_sample_stratified"  -> (q45Sample _),
    "q46_surprisal"          -> (q46Surprisal _),
    "q52_repetition"         -> (q52Repetition _),
    "q58_heavy_hitters"      -> (q58HeavyHitters _),
    "q63_pii_redact"         -> (q63PiiRedact _),
    "q64_heavy_weighted"     -> (q64HeavyWeighted _),
    "q65_length_quantiles"   -> (q65LengthQuantiles _),
    "q66_normalize"          -> (q66Normalize _),
    "q68_domain_cap"         -> (q68DomainCap _),
    "q69_chunk"              -> (q69Chunk _),
    "q70_token_ids"          -> (q70TokenIds _),
    "q72_split_assign"       -> (q72SplitAssign _),
    "q75_bigram_lm"          -> (q75BigramLm _),
    "q95_lm_quality"         -> (q95LmQuality _),
    "q76_tfidf_terms"        -> (q76TfIdfTerms _),
    "q81_weighted_sample"    -> (q81WeightedSample _),
    "q107_bpe_merges"        -> (q107BpeMerges _),
    "q108_boilerplate"       -> (q108Boilerplate _),
    "q110_stupid_backoff"    -> (q110StupidBackoff _),
    "q19_email_parse" -> (q19EmailParse _),
    "q20_html_strip"  -> (q20HtmlStrip _),
    "q21_token_stats" -> (q21TokenStats _),
    "q22_quality"     -> (q22Quality _),
    "q23_lang_id"     -> (q23LangId _),
    "q24_fingerprint" -> (q24Fingerprint _),
  )

  private[operators] val stopListSql = stopwords.map(w => s"'$w'").mkString(", ")

  /** q22's quality score as a DuckDB scalar expression over a
    * `documents`-shaped row (`text`, `n_chars`) — shared by the q22
    * oracle and q74's canonical-selection oracle (Dedup.scala), so the
    * two gates can never drift apart.
    */
  private[operators] val QualitySqlExpr =
    s"""CAST(ROUND(CAST((LEAST(CAST(1.0 AS DOUBLE), n_chars / CAST(400.0 AS DOUBLE)) * CAST(0.5 AS DOUBLE) +
       |   (CAST(1.0 AS DOUBLE) - len(list_filter(string_split(text, ' '),
       |     x -> x IN ($stopListSql)))
       |    / len(string_split(text, ' '))) * CAST(0.5 AS DOUBLE)) AS DECIMAL(28,10)), 4) AS DOUBLE)""".stripMargin

  /** One BPE round in SQL: pair counts from the symbol split of vIn,
    * best pair (count desc, pair asc), merged vocab vOut — the same
    * delimiter-string replace the engine runs. Series bound 32 covers
    * the corpus's ≤8-char words with margin; the `i <= len(sy)-1`
    * guard is the real bound.
    */
  private def bpeRoundSql(r: Int, vIn: String): String =
    s"""p$r AS (SELECT sy[i] AS a, sy[i+1] AS b,
       |  CAST(SUM(cnt) AS BIGINT) AS pair_count
       | FROM (SELECT string_split(trim(repr, '|'), '||') AS sy, cnt
       |   FROM $vIn),
       |  generate_series(1, 32) g(i) WHERE i <= len(sy) - 1
       | GROUP BY 1, 2),
       |b$r AS (SELECT CAST($r AS BIGINT) AS round, a, b, pair_count
       | FROM p$r ORDER BY pair_count DESC, a, b LIMIT 1),
       |v${r + 1} AS (SELECT replace(repr,
       |  '|' || b$r.a || '||' || b$r.b || '|',
       |  '|' || b$r.a || b$r.b || '|') AS repr, cnt
       | FROM $vIn CROSS JOIN b$r)""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "q130_bm25" -> Bm25OracleSql,
    // q160 serves the SAME answer from the materialized layout — the
    // identical oracle IS the parity claim (write + probe == scan-time
    // scoring, hash-checked)
    "q160_bm25_probe" -> Bm25OracleSql,
    "q163_hll_vocab" ->
      // q131's full register replay on the token domain: same md5
      // addressing, same string-derived rho, harmonic sum over exact
      // integers, alpha spelled as the SAME double expression
      """WITH t AS (SELECT lang AS grp,
        |  unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS k
        | FROM documents),
        |h AS (SELECT grp, k,
        |  CAST(('0x' || substr(md5(k), 1, 2)) AS BIGINT) % 64 AS j,
        |  ltrim(substr(md5(k), 3, 13), '0') AS st
        | FROM t),
        |r AS (SELECT grp, k, j,
        |  CASE WHEN len(st) = 0 THEN 53
        |   ELSE 4 * (13 - len(st)) +
        |    (CASE WHEN substr(st, 1, 1) >= '8' THEN 0
        |      WHEN substr(st, 1, 1) >= '4' THEN 1
        |      WHEN substr(st, 1, 1) >= '2' THEN 2 ELSE 3 END) + 1
        |   END AS rho
        | FROM h),
        |regs AS (SELECT grp, j, MAX(rho) AS m FROM r GROUP BY 1, 2),
        |ex AS (SELECT grp, COUNT(DISTINCT k) AS n_exact
        | FROM h GROUP BY 1),
        |agg AS (SELECT grp,
        |  CAST(SUM(CAST(1 AS BIGINT) << CAST(53 - m AS INTEGER)) AS BIGINT)
        |    AS spart,
        |  COUNT(*) AS npresent,
        |  CAST(SUM(j * m) AS BIGINT) AS reg_checksum
        | FROM regs GROUP BY 1),
        |est AS (SELECT grp, reg_checksum, (64 - npresent) AS v,
        |  spart + (64 - npresent) * 9007199254740992 AS ssum
        | FROM agg),
        |e2 AS (SELECT grp, reg_checksum, v,
        |  (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0 * 9007199254740992.0
        |    / CAST(ssum AS DOUBLE) AS eraw
        | FROM est),
        |e3 AS (SELECT grp, reg_checksum,
        |  CASE WHEN eraw <= 160.0 AND v > 0
        |   THEN 64.0 * LN(64.0 / CAST(v AS DOUBLE)) ELSE eraw END AS est
        | FROM e2)
        |SELECT e3.grp, ex.n_exact,
        | CAST(ROUND(CAST(est AS DECIMAL(28,10)), 1) AS DOUBLE) AS n_est,
        | CAST(ROUND(CAST(ABS(est - CAST(n_exact AS DOUBLE))
        |   / CAST(n_exact AS DOUBLE) AS DECIMAL(28,10)), 4) AS DOUBLE)
        |   AS rel_err,
        | reg_checksum
        |FROM e3 JOIN ex ON e3.grp = ex.grp""".stripMargin,
    "q176_psi_drift" ->
      // identical integer-scaled banding, Laplace-smoothed integer
      // ratios, LN of a ratio of integer products (the q95/q122 class)
      s"""WITH q AS (SELECT doc_id, $QualitySqlExpr AS quality
         |  FROM documents),
         |bq AS (SELECT doc_id,
         |  LEAST(9, CAST(ROUND(quality * 10000) AS BIGINT) // 1000)
         |    AS band FROM q),
         |ca AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS n_a0 FROM bq
         |  WHERE doc_id % 2 = 0 GROUP BY 1),
         |cb AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS n_b0 FROM bq
         |  WHERE doc_id % 2 <> 0 GROUP BY 1),
         |sp AS (SELECT CAST(g AS BIGINT) AS band
         |  FROM generate_series(0, 9) t(g)),
         |f AS (SELECT band, COALESCE(n_a0, 0) AS n_a,
         |  COALESCE(n_b0, 0) AS n_b
         | FROM sp LEFT JOIN ca USING (band) LEFT JOIN cb USING (band)),
         |t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
         |  CAST(SUM(n_b) AS BIGINT) AS tb FROM f)
         |SELECT band, n_a, n_b,
         | ${graft.core.Exact.sqlDround(
             "CAST(n_a + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE)", 6)}
         |   AS p_a,
         | ${graft.core.Exact.sqlDround(
             "CAST(n_b + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE)", 6)}
         |   AS p_b,
         | ${graft.core.Exact.sqlDround(
             "(CAST(n_a + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE)" +
             " - CAST(n_b + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE))" +
             " * LN((CAST(n_a + 1 AS DOUBLE) * CAST(tb + 10 AS DOUBLE))" +
             " / (CAST(n_b + 1 AS DOUBLE) * CAST(ta + 10 AS DOUBLE)))", 6)}
         |   AS psi_term
         |FROM f CROSS JOIN t
         |ORDER BY band ASC""".stripMargin,
    "q188_hard_negatives" -> {
      def cosSql(a: String, b: String): String = {
        val d = (x: String, y: String) =>
          s"list_dot_product(CAST($x AS DOUBLE[]), CAST($y AS DOUBLE[]))"
        s"(${d(a, b)} / (SQRT(${d(a, a)}) * SQRT(${d(b, b)})))"
      }
      val qids = Bm25Batch.filter(q => q._1 == 1L || q._1 == 2L)
      // lexical = q164's per-query replay + rank; dense = q29's
      // rounded-cosine top-10 per query vector; mining = NOT IN
      s"""WITH lex AS (${qids.map { case (qid, terms) =>
            s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id, score,
               |  row_number() OVER (ORDER BY score DESC, doc_id ASC)
               |    AS bm25_rank
               |FROM (${bm25OracleOver("TRUE", terms)})""".stripMargin
          }.mkString("\nUNION ALL\n")}),
         |d AS (${qids.map { case (qid, _) =>
            s"""SELECT CAST($qid AS BIGINT) AS query_id,
               | vec_id AS doc_id FROM (
               |  SELECT e.vec_id,
               |   ROUND(${cosSql("e.embedding", "q.qv")}, 6) AS cos
               |  FROM embeddings e CROSS JOIN
               |   (SELECT embedding AS qv FROM embeddings
               |     WHERE vec_id = $qid) q
               |  WHERE e.vec_id NOT IN (1, 2)
               |  ORDER BY cos DESC, e.vec_id ASC LIMIT 10)""".stripMargin
          }.mkString("\nUNION ALL\n")})
         |SELECT l.query_id, l.doc_id, CAST(l.bm25_rank AS BIGINT)
         |   AS bm25_rank, l.score
         |FROM lex l LEFT JOIN d
         |  ON l.query_id = d.query_id AND l.doc_id = d.doc_id
         |WHERE d.doc_id IS NULL
         |ORDER BY l.query_id ASC, bm25_rank ASC""".stripMargin
    },
    "q182_index_freshness" ->
      // the engine reads the real _docs sidecar; the oracle recomputes
      // index membership from the deterministic build predicate
      // (doc_id <= max/2) and corpus-now from the takedown predicate
      s"""WITH sp AS (SELECT MAX(doc_id) // 2 AS split FROM documents),
         |c AS (SELECT doc_id, lang FROM documents
         |  WHERE doc_id % 7 <> 3),
         |i AS (SELECT doc_id, lang FROM documents, sp
         |  WHERE doc_id <= split),
         |f AS (SELECT COALESCE(c.lang, i.lang) AS lang,
         |  CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END AS in_c,
         |  CASE WHEN i.doc_id IS NULL THEN 0 ELSE 1 END AS in_i
         | FROM c FULL OUTER JOIN i USING (doc_id))
         |SELECT lang, CAST(SUM(in_c) AS BIGINT) AS n_corpus,
         | CAST(SUM(in_i) AS BIGINT) AS n_indexed,
         | CAST(SUM(in_c * (1 - in_i)) AS BIGINT) AS n_missing,
         | CAST(SUM(in_i * (1 - in_c)) AS BIGINT) AS n_orphan
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "q180_tenant_purge" ->
      // the survivor's ranking is exactly q175's survivor leg; the
      // purged tenant contributes no oracle rows, so any engine-side
      // leak fails the row-count gate
      s"""SELECT doc_id, lang, dl, score, n_terms,
         |  '${TenantLangs.head}' AS tenant
         |FROM (${bm25OracleOver(s"lang = '${TenantLangs.head}'")})
         |ORDER BY tenant ASC, score DESC, doc_id ASC""".stripMargin,
    "q175_tenant_probe" -> tenantProbeOracleSql,
    // the stream-built tenant layout answers identically to the batch
    // build — q198's arrival law on the lexical side (same oracle)
    "q203_bm25_tenant_maintain" -> tenantProbeOracleSql,
    "q173_compact_swap" ->
      // both stages equal a rebuild WITHOUT the victims — the
      // tombstone view and the compacted view are one logical index
      s"""SELECT * FROM (
         |SELECT doc_id, lang, dl, score, n_terms,
         |  'tombstoned' AS stage FROM (${bm25OracleOver("doc_id % 7 <> 3")})
         |UNION ALL
         |SELECT doc_id, lang, dl, score, n_terms,
         |  'compacted' AS stage
         |FROM (${bm25OracleOver("doc_id % 7 <> 3")}))
         |ORDER BY stage ASC, score DESC, doc_id ASC""".stripMargin,
    "q172_compaction_census" ->
      // the decision inputs recomputed from first principles: bm25
      // dead postings = distinct (tok, doc) pairs of the tombstoned
      // docs (q162's takedown rule), ivf dead vectors = q158's rule
      // over embeddings; compact_now = rounded dead_frac >= 0.10
      s"""WITH d AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
         | FROM documents),
         |post AS (SELECT DISTINCT doc_id, tok
         | FROM (SELECT doc_id, unnest(toks) AS tok FROM d)),
         |b AS (SELECT 'bm25' AS layout,
         |  CAST(COUNT(*) AS BIGINT) AS n_total,
         |  CAST(SUM(CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dead FROM post),
         |i AS (SELECT 'ivf' AS layout,
         |  CAST(COUNT(*) AS BIGINT) AS n_total,
         |  CAST(SUM(CASE WHEN vec_id % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dead FROM embeddings),
         |u AS (SELECT * FROM b UNION ALL SELECT * FROM i)
         |SELECT layout, n_total, n_dead,
         | ${graft.core.Exact.sqlDround(
             "CAST(n_dead AS DOUBLE) / CAST(n_total AS DOUBLE)", 4)}
         |   AS dead_frac,
         | CAST(CASE WHEN ${graft.core.Exact.sqlDround(
             "CAST(n_dead AS DOUBLE) / CAST(n_total AS DOUBLE)", 4)}
         |   >= 0.10 THEN 1 ELSE 0 END AS BIGINT) AS compact_now
         |FROM u ORDER BY layout ASC""".stripMargin,
    "q169_dedup_takedown" ->
      // probe-after-takedown == rebuild over the exact-dedup KEEPERS
      // (q25's min-doc_id-per-fingerprint rule as the oracle predicate)
      bm25OracleOver(
        "doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text))"),
    "q168_filter_cascade" ->
      // q52's repetition CTEs + q22's quality expression composed into
      // the ordered-cascade CASE; first failing filter wins; exact
      // decimal mean quality
      s"""WITH wx AS (SELECT doc_id, string_split(text, ' ') ws,
        |  len(string_split(text, ' ')) nw FROM documents),
        |words AS (SELECT doc_id, unnest(ws) tok FROM wx),
        |big AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] bg
        |  FROM wx, generate_series(1, ${OracleGen.MaxDocSeries}) t(i)
        |  WHERE i <= nw - 1),
        |tri AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] tg
        |  FROM wx, generate_series(1, ${OracleGen.MaxDocSeries}) t(i)
        |  WHERE i <= nw - 2),
        |wstat AS (SELECT doc_id, MAX(c) topw FROM
        |  (SELECT doc_id, tok, COUNT(*) c FROM words GROUP BY 1, 2)
        |  GROUP BY 1),
        |bstat AS (SELECT doc_id, MAX(c) topb, CAST(SUM(c) AS BIGINT) nb FROM
        |  (SELECT doc_id, bg, COUNT(*) c FROM big GROUP BY 1, 2) GROUP BY 1),
        |tstat AS (SELECT doc_id, COUNT(*) nt, COUNT(DISTINCT tg) dt
        |  FROM tri GROUP BY 1),
        |rep AS (SELECT wx.doc_id, nw,
        |  (topw / nw <= 0.20 AND COALESCE(topb / nb, 0) <= 0.18
        |    AND COALESCE((nt - dt) / nt, 0) <= 0.30) AS rep_keep
        | FROM wx JOIN wstat USING (doc_id) LEFT JOIN bstat USING (doc_id)
        | LEFT JOIN tstat USING (doc_id)),
        |q AS (SELECT doc_id, $QualitySqlExpr AS quality FROM documents),
        |v AS (SELECT rep.doc_id,
        |  CASE WHEN rep.nw < 20 THEN 'too_short'
        |   WHEN q.quality < 0.6 THEN 'low_quality'
        |   WHEN NOT rep.rep_keep THEN 'repetitive'
        |   ELSE 'keep' END AS verdict,
        |  q.quality, rep.nw
        | FROM rep JOIN q USING (doc_id))
        |SELECT verdict, COUNT(*) AS n,
        | ${graft.core.Exact.sqlDround(
            "CAST(SUM(CAST(quality AS DECIMAL(28,10))) AS DOUBLE) " +
            "/ COUNT(*)", 4)} AS avg_quality,
        | CAST(SUM(nw) AS BIGINT) AS n_words_total
        |FROM v GROUP BY 1
        |ORDER BY verdict ASC""".stripMargin,
    "q164_bm25_batch_probe" ->
      // each batch query replayed independently at scan time with its
      // own term list — the batch pass must reproduce all three
      s"""SELECT * FROM (${Bm25Batch.map { case (qid, terms) =>
            s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id, lang, dl,
               |  score, n_terms
               |FROM (${bm25OracleOver("TRUE", terms)})""".stripMargin
          }.mkString("\nUNION ALL\n")})
         |ORDER BY query_id ASC, score DESC, doc_id ASC""".stripMargin,
    "q162_bm25_maintain" ->
      // probe-after-append == rebuild over ALL docs (q130's oracle
      // verbatim); probe-after-delete == rebuild WITHOUT the
      // tombstoned docs (same pipeline, inverted delete predicate)
      s"""SELECT * FROM (
         |SELECT doc_id, lang, dl, score, n_terms,
         |  'after_append' AS stage FROM (${bm25OracleOver("TRUE")})
         |UNION ALL
         |SELECT doc_id, lang, dl, score, n_terms,
         |  'after_delete' AS stage
         |FROM (${bm25OracleOver("doc_id % 7 <> 3")}))
         |ORDER BY stage ASC, score DESC, doc_id ASC""".stripMargin,
    "q122_pmi_pairs" ->
      // identical integer counts -> identical LN operand; rank on the
      // ROUNDED pmi with (w1, w2) tie-breaks, a total order
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |bgr AS (SELECT t[i] AS w1, t[i+1] AS w2
         |  FROM toks, generate_series(1, ${OracleGen.MaxDocSeries}) g(i)
         |  WHERE i <= len(t) - 1),
         |bc AS (SELECT w1, w2, COUNT(*) AS cab FROM bgr GROUP BY 1, 2),
         |ca AS (SELECT w1, CAST(SUM(cab) AS BIGINT) AS ca FROM bc GROUP BY 1),
         |cb AS (SELECT w2, CAST(SUM(cab) AS BIGINT) AS cb FROM bc GROUP BY 1),
         |n AS (SELECT CAST(SUM(cab) AS BIGINT) AS nb FROM bc),
         |p AS (SELECT bc.w1, bc.w2, bc.cab,
         |  ${graft.core.Exact.sqlDround(
               "LN((CAST(bc.cab AS DOUBLE) * CAST(n.nb AS DOUBLE))" +
               " / (CAST(ca.ca AS DOUBLE) * CAST(cb.cb AS DOUBLE)))", 4)}
         |    AS pmi
         | FROM bc JOIN ca USING (w1) JOIN cb USING (w2) CROSS JOIN n
         | WHERE bc.cab >= 5)
         |SELECT w1, w2, cab, pmi FROM p
         |ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin,
    "q120_bpe_sweep" ->
      // q107's training chain, then each k's census from the same
      // progressive replaces, one UNION ALL branch per prefix
      s"""WITH w AS (SELECT w, COUNT(*) AS cnt FROM
         |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         | WHERE w <> '' GROUP BY 1),
         |v1 AS (SELECT '|' || array_to_string(string_split(w, ''), '||')
         |  || '|' AS repr, cnt FROM w),
         |${bpeRoundSql(1, "v1")},
         |${bpeRoundSql(2, "v2")},
         |${bpeRoundSql(3, "v3")},
         |dw AS (SELECT w FROM
         |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         | WHERE w <> ''),
         |ap AS (SELECT length(w) AS nc,
         |  replace('|' || array_to_string(string_split(w, ''), '||') || '|',
         |    '|' || b1.a || '||' || b1.b || '|', '|' || b1.a || b1.b || '|')
         |    AS r1str,
         |  b2.a AS a2, b2.b AS bb2, b3.a AS a3, b3.b AS bb3
         | FROM dw CROSS JOIN b1 CROSS JOIN b2 CROSS JOIN b3),
         |ap2 AS (SELECT nc, r1str,
         |  replace(r1str, '|' || a2 || '||' || bb2 || '|',
         |    '|' || a2 || bb2 || '|') AS r2str, a3, bb3 FROM ap),
         |ap3 AS (SELECT nc, r1str, r2str,
         |  replace(r2str, '|' || a3 || '||' || bb3 || '|',
         |    '|' || a3 || bb3 || '|') AS r3str FROM ap2),
         |l AS (SELECT nc,
         |  len(string_split(trim(r1str, '|'), '||')) AS ns1,
         |  len(string_split(trim(r2str, '|'), '||')) AS ns2,
         |  len(string_split(trim(r3str, '|'), '||')) AS ns3 FROM ap3)
         |SELECT 0 AS k, COUNT(*) AS n_words, CAST(SUM(nc) AS BIGINT) AS n_chars,
         | CAST(SUM(nc) AS BIGINT) AS n_subtokens,
         | ${graft.core.Exact.sqlDround(
               "CAST(SUM(nc) AS DOUBLE) / CAST(SUM(nc) AS DOUBLE)", 4)}
         |   AS compression FROM l
         |UNION ALL SELECT 1, COUNT(*), CAST(SUM(nc) AS BIGINT),
         | CAST(SUM(ns1) AS BIGINT),
         | ${graft.core.Exact.sqlDround(
               "CAST(SUM(ns1) AS DOUBLE) / CAST(SUM(nc) AS DOUBLE)", 4)}
         | FROM l
         |UNION ALL SELECT 2, COUNT(*), CAST(SUM(nc) AS BIGINT),
         | CAST(SUM(ns2) AS BIGINT),
         | ${graft.core.Exact.sqlDround(
               "CAST(SUM(ns2) AS DOUBLE) / CAST(SUM(nc) AS DOUBLE)", 4)}
         | FROM l
         |UNION ALL SELECT 3, COUNT(*), CAST(SUM(nc) AS BIGINT),
         | CAST(SUM(ns3) AS BIGINT),
         | ${graft.core.Exact.sqlDround(
               "CAST(SUM(ns3) AS DOUBLE) / CAST(SUM(nc) AS DOUBLE)", 4)}
         | FROM l""".stripMargin,
    "q119_zipf_slope" ->
      // identical LN inputs (integer counts/ranks), decimal-snapped
      // regression sums, closed-form slope on identical doubles
      s"""WITH tf AS (SELECT lang, tok, COUNT(*) AS cnt FROM
         |  (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
         | WHERE length(tok) > 0 GROUP BY 1, 2),
         |nv AS (SELECT lang, COUNT(*) AS n_vocab FROM tf GROUP BY 1),
         |r AS (SELECT lang, cnt, row_number() OVER (PARTITION BY lang
         |   ORDER BY cnt DESC, tok ASC) AS rk FROM tf),
         |t AS (SELECT lang, LN(CAST(rk AS DOUBLE)) AS x,
         |  LN(CAST(cnt AS DOUBLE)) AS y FROM r WHERE rk <= 50),
         |a AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n,
         |  CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS sx,
         |  CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS sy,
         |  CAST(SUM(CAST(x * x AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
         |  CAST(SUM(CAST(x * y AS DECIMAL(28,10))) AS DOUBLE) AS sxy
         | FROM t GROUP BY 1)
         |SELECT a.lang, nv.n_vocab, CAST(a.n AS BIGINT) AS r_used,
         | ${graft.core.Exact.sqlDround(
               "(n * sxy - sx * sy) / (n * sxx - sx * sx)", 4)}
         |   AS zipf_slope
         |FROM a JOIN nv ON a.lang = nv.lang""".stripMargin,
    "q118_novelty" ->
      // gram identity is internal (xxhash64 in Spark, the substring
      // itself here — q28's accepted ~2^-40 collision class); novelty
      // is an integer ratio so bands compare identical doubles
      s"""WITH grams AS MATERIALIZED (SELECT DISTINCT doc_id, substr(text, g, 8) AS gram
         |  FROM documents, generate_series(1, ${OracleGen.MaxDocSeries}) t(g)
         |  WHERE g <= length(text) - 7),
         |dfb AS (SELECT gram, COUNT(*) AS df FROM grams GROUP BY 1),
         |per AS (SELECT doc_id, COUNT(*) AS n_grams,
         |  SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS n_unique
         | FROM grams JOIN dfb USING (gram) GROUP BY 1),
         |b AS (SELECT doc_id,
         |  CAST(n_unique AS DOUBLE) / CAST(n_grams AS DOUBLE) AS novelty
         | FROM per),
         |c AS (SELECT doc_id, novelty,
         |  CASE WHEN novelty = 0.0 THEN 'templated'
         |   WHEN novelty < 0.03 THEN 'typical' ELSE 'distinct' END AS band
         | FROM b)
         |SELECT band, COUNT(*) AS n_docs,
         | ${graft.core.Exact.sqlDround(
               "CAST(SUM(CAST(novelty AS DECIMAL(28,10))) AS DOUBLE)" +
               " / COUNT(*)", 4)} AS avg_novelty,
         | MIN(doc_id) AS first_doc_id
         |FROM c GROUP BY band""".stripMargin,
    "q114_dsir_weights" ->
      // identical integer bucket counts → identical LN inputs; per-doc
      // sums snap through DECIMAL(28,10) and selection compares the
      // ROUNDED weight (q95's determinism class)
      s"""WITH tk AS MATERIALIZED (SELECT doc_id, lang,
         |  CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % $DsirB AS bkt
         | FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
         |       FROM documents) WHERE length(tok) > 0),
         |bc AS (SELECT bkt, COUNT(*) AS cr,
         |  SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
         | FROM tk GROUP BY 1),
         |tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr,
         |  CAST(SUM(ct) AS BIGINT) AS nt FROM bc),
         |lw AS (SELECT bkt,
         |  LN((ct + 1.0) / (nt + $DsirB.0)) - LN((cr + 1.0) / (nr + $DsirB.0))
         |    AS lw
         | FROM bc CROSS JOIN tot),
         |pd AS (SELECT doc_id, lang,
         |  CAST(ROUND(CAST((CAST(SUM(CAST(lw AS DECIMAL(28,10))) AS DOUBLE)
         |    / COUNT(*)) AS DECIMAL(28,10)), 4) AS DOUBLE) AS w
         | FROM tk JOIN lw USING (bkt) GROUP BY 1, 2)
         |SELECT lang, COUNT(*) AS n_docs,
         | CAST(SUM(CASE WHEN w > 0.0 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_selected,
         | CAST(ROUND(CAST((CAST(SUM(CAST(w AS DECIMAL(28,10))) AS DOUBLE)
         |   / COUNT(*)) AS DECIMAL(28,10)), 4) AS DOUBLE) AS avg_w
         |FROM pd GROUP BY lang""".stripMargin,
    "q112_count_min" ->
      // the sketch is a pure function of the token bag (md5-addressed
      // cells, plain counts), so SQL replays the full 4x64 matrix and
      // the min-over-rows estimate literally
      s"""WITH tk AS (SELECT tok FROM (SELECT unnest(string_split(text, ' ')) AS tok
         |  FROM documents) WHERE length(tok) > 0),
         |rs(r) AS (VALUES (0), (1), (2), (3)),
         |cells AS (SELECT r,
         |  CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 8))
         |    AS BIGINT) % $CmsW AS bkt,
         |  COUNT(*) AS cell
         | FROM tk CROSS JOIN rs GROUP BY 1, 2),
         |top AS (SELECT tok, COUNT(*) AS n_exact FROM tk GROUP BY 1
         | ORDER BY n_exact DESC, tok ASC LIMIT 10),
         |coords AS (SELECT tok, n_exact, r,
         |  CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 8))
         |    AS BIGINT) % $CmsW AS bkt
         | FROM top CROSS JOIN rs)
         |SELECT tok, n_exact, MIN(cell) AS n_est,
         | MIN(cell) - n_exact AS overcount
         |FROM coords JOIN cells USING (r, bkt)
         |GROUP BY tok, n_exact""".stripMargin,
    "q110_stupid_backoff" ->
      // identical count tables, identical CASE ladder; every S is a
      // ratio of integer counts (bit-identical doubles), means ride
      // round(S*2^20) integer sums
      s"""WITH wx AS (SELECT doc_id, lang, string_split(text, ' ') AS ws,
         |  len(string_split(text, ' ')) AS nw,
         |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
         |    AS BIGINT) % 100 AS bucket
         | FROM documents),
         |tr AS (SELECT * FROM wx WHERE bucket < 80),
         |ev AS (SELECT * FROM wx WHERE bucket >= 80),
         |pos AS (SELECT lang, ws[i-2] AS w1, ws[i-1] AS w2, ws[i] AS w3
         |  FROM ev, generate_series(3, ${OracleGen.MaxDocSeries}) t(i)
         |  WHERE i <= nw),
         |uni AS (SELECT w, COUNT(*) AS c1 FROM
         |  (SELECT unnest(ws) AS w FROM tr) GROUP BY 1),
         |bi AS (SELECT a, b, COUNT(*) AS c2 FROM
         |  (SELECT ws[i-1] AS a, ws[i] AS b FROM tr,
         |    generate_series(2, ${OracleGen.MaxDocSeries}) t(i)
         |   WHERE i <= nw) GROUP BY 1, 2),
         |tri AS (SELECT w1, w2, w3, COUNT(*) AS c3 FROM
         |  (SELECT ws[i-2] AS w1, ws[i-1] AS w2, ws[i] AS w3
         |   FROM tr, generate_series(3, ${OracleGen.MaxDocSeries}) t(i)
         |   WHERE i <= nw)
         |  GROUP BY 1, 2, 3),
         |nt AS (SELECT CAST(SUM(nw) AS BIGINT) AS nn FROM tr),
         |sc AS (SELECT p.lang,
         |  CASE WHEN t.c3 IS NOT NULL THEN 3
         |   WHEN b2.c2 IS NOT NULL THEN 2 ELSE 1 END AS level,
         |  CASE WHEN t.c3 IS NOT NULL THEN CAST(t.c3 AS DOUBLE) / b1.c2
         |   WHEN b2.c2 IS NOT NULL
         |    THEN 0.4 * (CAST(b2.c2 AS DOUBLE) / u2.c1)
         |   ELSE 0.4 * 0.4 *
         |    (CAST(COALESCE(u3.c1, 0) AS DOUBLE) / nt.nn) END AS s
         | FROM pos p
         | LEFT JOIN tri t USING (w1, w2, w3)
         | LEFT JOIN bi b1 ON b1.a = p.w1 AND b1.b = p.w2
         | LEFT JOIN bi b2 ON b2.a = p.w2 AND b2.b = p.w3
         | LEFT JOIN uni u2 ON u2.w = p.w2
         | LEFT JOIN uni u3 ON u3.w = p.w3
         | CROSS JOIN nt)
         |SELECT lang, COUNT(*) AS n_pos,
         | CAST(SUM(CASE WHEN level = 3 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_tri,
         | CAST(SUM(CASE WHEN level = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_bi,
         | CAST(SUM(CASE WHEN level = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_uni,
         | ${graft.core.Exact.sqlDround(
             "CAST(SUM(CAST(ROUND(s * 1048576.0) AS BIGINT)) AS DOUBLE)" +
               " / (COUNT(*) * 1048576.0)", 6)} AS mean_s
         |FROM sc GROUP BY 1""".stripMargin,
    "q108_boilerplate" ->
      // same 4-block page family, same two-signal classifier; the
      // 0/0 link-density of an empty block is NaN (Spark) vs NULL
      // (DuckDB) but the length floor short-circuits first in both
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents),
         |pg AS (SELECT doc_id,
         |  '[a]Home [a]Products [a]About [a]Contact' ||
         |   chr(10) || chr(10) ||
         |  array_to_string(toks[1:(len(toks)+1)//2], ' ') ||
         |   chr(10) || chr(10) ||
         |  array_to_string(toks[((len(toks)+1)//2 + 1):len(toks)], ' ') ||
         |   chr(10) || chr(10) ||
         |  'Copyright 2024 [a]Privacy [a]Terms' AS page FROM d),
         |b AS (SELECT doc_id,
         |  unnest(string_split(page, chr(10) || chr(10))) AS blk FROM pg),
         |m AS (SELECT doc_id,
         |  list_filter(string_split(blk, ' '), w -> w <> '') AS ws FROM b),
         |c AS (SELECT doc_id, len(ws) AS n_words,
         |  (len(ws) >= 5 AND
         |   CAST(len(list_filter(ws, w -> starts_with(w, '[a]')))
         |     AS DOUBLE) / len(ws) <= 0.3) AS content
         | FROM m)
         |SELECT doc_id, COUNT(*) AS n_blocks,
         | CAST(SUM(CASE WHEN content THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_content,
         | CAST(SUM(CASE WHEN content THEN n_words ELSE 0 END) AS BIGINT)
         |   AS content_words,
         | ${graft.core.Exact.sqlDround(
             "CAST(SUM(CASE WHEN content THEN n_words ELSE 0 END) AS DOUBLE)" +
               " / CAST(SUM(n_words) AS DOUBLE)", 4)} AS content_frac
         |FROM c GROUP BY 1""".stripMargin,
    "q115_bpe_apply" ->
      // q107's training chain verbatim, then the same three replaces
      // folded over every word's rendering — identical left-to-right
      // non-overlapping semantics in both engines (q107's spec case)
      s"""WITH w AS (SELECT w, COUNT(*) AS cnt FROM
         |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         | WHERE w <> '' GROUP BY 1),
         |v1 AS (SELECT '|' || array_to_string(string_split(w, ''), '||')
         |  || '|' AS repr, cnt FROM w),
         |${bpeRoundSql(1, "v1")},
         |${bpeRoundSql(2, "v2")},
         |${bpeRoundSql(3, "v3")},
         |dw AS (SELECT lang, w FROM
         |  (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
         | WHERE w <> ''),
         |ap AS (SELECT lang, length(w) AS nc,
         |  len(string_split(trim(replace(replace(replace(
         |    '|' || array_to_string(string_split(w, ''), '||') || '|',
         |    '|' || b1.a || '||' || b1.b || '|', '|' || b1.a || b1.b || '|'),
         |    '|' || b2.a || '||' || b2.b || '|', '|' || b2.a || b2.b || '|'),
         |    '|' || b3.a || '||' || b3.b || '|', '|' || b3.a || b3.b || '|'),
         |   '|'), '||')) AS ns
         | FROM dw CROSS JOIN b1 CROSS JOIN b2 CROSS JOIN b3)
         |SELECT lang, COUNT(*) AS n_words,
         | CAST(SUM(nc) AS BIGINT) AS n_chars,
         | CAST(SUM(ns) AS BIGINT) AS n_subtokens,
         | ${graft.core.Exact.sqlDround(
               "CAST(SUM(ns) AS DOUBLE) / CAST(SUM(nc) AS DOUBLE)", 4)}
         |   AS compression
         |FROM ap GROUP BY lang""".stripMargin,
    "q107_bpe_merges" ->
      s"""WITH w AS (SELECT w, COUNT(*) AS cnt FROM
         |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         | WHERE w <> '' GROUP BY 1),
         |v1 AS (SELECT '|' || array_to_string(string_split(w, ''), '||')
         |  || '|' AS repr, cnt FROM w),
         |${bpeRoundSql(1, "v1")},
         |${bpeRoundSql(2, "v2")},
         |${bpeRoundSql(3, "v3")}
         |SELECT round, a AS left_sym, b AS right_sym, pair_count FROM b1
         |UNION ALL
         |SELECT round, a, b, pair_count FROM b2
         |UNION ALL
         |SELECT round, a, b, pair_count FROM b3""".stripMargin,
    "q72_split_assign" ->
      """WITH b AS (SELECT lang, doc_id, n_chars,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
        |    % 100 AS bucket
        | FROM documents),
        |sp AS (SELECT lang, doc_id, n_chars,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS "split"
        | FROM b)
        |SELECT lang, "split", COUNT(*) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
        | MIN(doc_id) AS first_doc_id
        |FROM sp GROUP BY lang, "split"""".stripMargin,
    "q75_bigram_lm" ->
      s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |bgr AS (SELECT t[i] AS w1, t[i+1] AS w2
        |  FROM toks, generate_series(1, ${OracleGen.MaxDocSeries}) g(i) WHERE i <= len(t) - 1),
        |bc AS (SELECT w1, w2, COUNT(*) AS n_bigram FROM bgr GROUP BY 1, 2),
        |uc AS (SELECT w1, CAST(SUM(n_bigram) AS BIGINT) AS n_prefix
        |  FROM bc GROUP BY 1)
        |SELECT bc.w1, bc.w2, bc.n_bigram,
        | CAST(ROUND(CAST((bc.n_bigram / uc.n_prefix) AS DECIMAL(28,10)), 4) AS DOUBLE) AS p_cond
        |FROM bc JOIN uc USING (w1)
        |ORDER BY bc.n_bigram DESC, bc.w1, bc.w2 LIMIT 25""".stripMargin,
    "q95_lm_quality" ->
      // band on the ROUNDED per-doc score (q46's determinism class):
      // both engines compare identical 4-decimal values, so a raw-ulp
      // drift in LN can never flip a band
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bgr AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        |  FROM toks, generate_series(1, ${OracleGen.MaxDocSeries}) g(i) WHERE i <= len(t) - 1),
        |bc AS (SELECT w1, w2, COUNT(*) AS n_bigram FROM bgr GROUP BY 1, 2),
        |uc AS (SELECT w1, CAST(SUM(n_bigram) AS BIGINT) AS n_prefix FROM bc GROUP BY 1),
        |sc AS (SELECT doc_id, COUNT(*) AS nb,
        |  CAST(ROUND(CAST((CAST(SUM(CAST(-LN(bc.n_bigram / uc.n_prefix) AS DECIMAL(28,10)))
        |    AS DOUBLE) / COUNT(*)) AS DECIMAL(28,10)), 4) AS DOUBLE) AS score
        | FROM bgr JOIN bc USING (w1, w2) JOIN uc USING (w1) GROUP BY doc_id),
        |b AS (SELECT *, CASE WHEN score < 3.38 THEN 'head'
        |  WHEN score < 3.40 THEN 'middle' ELSE 'tail' END AS band FROM sc)
        |SELECT band, COUNT(*) AS n_docs, CAST(SUM(nb) AS BIGINT) AS n_bigrams,
        | CAST(ROUND(CAST((CAST(SUM(CAST(score AS DECIMAL(28,10))) AS DOUBLE)
        |   / COUNT(*)) AS DECIMAL(28,10)), 4) AS DOUBLE) AS avg_score,
        | MIN(doc_id) AS first_doc_id
        |FROM b GROUP BY band""".stripMargin,
    "q76_tfidf_terms" ->
      // rank by the ROUNDED score (ties to tok asc) — the Spark side
      // sorts the same rounded value, so boundary ulps cannot diverge
      """WITH dtok AS MATERIALIZED (SELECT DISTINCT doc_id,
        |  unnest(string_split(text, ' ')) AS tok FROM documents),
        |df AS (SELECT tok, COUNT(*) AS df FROM dtok GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM
        |   (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) GROUP BY 1, 2),
        |scored AS (SELECT tf.doc_id, tf.tok,
        |  CAST(ROUND(CAST((tf.tf * ln(n.n / df.df)) AS DECIMAL(28,10)), 4) AS DOUBLE) AS score
        | FROM tf JOIN df USING (tok), n),
        |rk AS (SELECT doc_id, tok, score,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok)
        |    AS rank
        | FROM scored)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, tok, score
        |FROM rk WHERE rank <= 3""".stripMargin,
    "q81_weighted_sample" ->
      s"""WITH q AS (SELECT doc_id, lang, $QualitySqlExpr AS quality
         | FROM documents),
         |k AS (SELECT lang, quality,
         |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
         |    < quality * 4194304.0 AS kept
         | FROM q)
         |SELECT lang, COUNT(*) AS n_total,
         | CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         | CAST(ROUND(CAST(CAST(SUM(CASE WHEN kept THEN CAST(quality AS DECIMAL(18,4)) END) AS DOUBLE)
         |   / SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DECIMAL(28,10)), 4) AS DOUBLE)
         |   AS kept_avg_quality
         |FROM k GROUP BY lang""".stripMargin,
    "q45_sample_stratified" ->
      """WITH b AS (SELECT lang, doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
        |    % 100 AS bucket
        | FROM documents)
        |SELECT lang, COUNT(*) AS n_total,
        | CAST(SUM(CASE WHEN bucket < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        | MIN(CASE WHEN bucket < 20 THEN doc_id END) AS first_sampled_id
        |FROM b GROUP BY lang""".stripMargin,
    "q46_surprisal" ->
      """WITH toks AS MATERIALIZED (SELECT doc_id,
        |  unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT tok, COUNT(*) cnt FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) total FROM toks)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        | CAST(ROUND(CAST((CAST(SUM(CAST(-LN(cnt / total) AS DECIMAL(28,10)))
        |   AS DOUBLE) / COUNT(*)) AS DECIMAL(28,10)), 4) AS DOUBLE)
        |   AS mean_surprisal
        |FROM toks JOIN tf USING (tok) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin,
    "q58_heavy_hitters" ->
      // exact counts — valid against the sketch because 31 distinct
      // tokens < capacity 256 (the sketch's exact regime)
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) tok FROM documents),
        |c AS (SELECT lang, tok, COUNT(*) cnt FROM t GROUP BY 1, 2),
        |r AS (SELECT lang, tok, cnt,
        |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) rk
        | FROM c)
        |SELECT lang, CAST(rk AS BIGINT) AS rank, tok AS token,
        | CAST(cnt AS BIGINT) AS cnt
        |FROM r WHERE rk <= 5""".stripMargin,
    "q52_repetition" ->
      s"""WITH wx AS (SELECT doc_id, string_split(text, ' ') ws,
        |  len(string_split(text, ' ')) nw FROM documents),
        |words AS (SELECT doc_id, unnest(ws) tok FROM wx),
        |big AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] bg
        |  FROM wx, generate_series(1, ${OracleGen.MaxDocSeries}) t(i) WHERE i <= nw - 1),
        |tri AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] tg
        |  FROM wx, generate_series(1, ${OracleGen.MaxDocSeries}) t(i) WHERE i <= nw - 2),
        |wstat AS (SELECT doc_id, MAX(c) topw FROM
        |  (SELECT doc_id, tok, COUNT(*) c FROM words GROUP BY 1, 2) GROUP BY 1),
        |bstat AS (SELECT doc_id, MAX(c) topb, CAST(SUM(c) AS BIGINT) nb FROM
        |  (SELECT doc_id, bg, COUNT(*) c FROM big GROUP BY 1, 2) GROUP BY 1),
        |tstat AS (SELECT doc_id, COUNT(*) nt, COUNT(DISTINCT tg) dt FROM tri GROUP BY 1)
        |SELECT wx.doc_id, nw AS n_words,
        | ${graft.core.Exact.sqlDround("topw / nw", 4)} AS top_word_frac,
        | ${graft.core.Exact.sqlDround("COALESCE(topb / nb, 0)", 4)} AS top_bigram_frac,
        | ${graft.core.Exact.sqlDround("COALESCE((nt - dt) / nt, 0)", 4)} AS dup_trigram_frac,
        | (topw / nw <= 0.20 AND COALESCE(topb / nb, 0) <= 0.18
        |   AND COALESCE((nt - dt) / nt, 0) <= 0.30) AS keep
        |FROM wx JOIN wstat USING (doc_id) LEFT JOIN bstat USING (doc_id)
        |LEFT JOIN tstat USING (doc_id)""".stripMargin,
    "q42_winnow_fingerprint" ->
      s"""WITH grams AS (SELECT doc_id, g AS pos,
        |  CAST(('0x' || substr(md5(substr(text, g, 8)), 1, 15)) AS BIGINT) hv
        | FROM documents, generate_series(1, ${OracleGen.MaxDocSeries}) t(g)
        | WHERE g <= length(text) - 7),
        |wm AS (SELECT doc_id,
        |  MIN(hv) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) wmin
        | FROM grams)
        |SELECT doc_id, COUNT(DISTINCT wmin) AS n_fingerprints,
        | MIN(wmin) AS min_fp, MAX(wmin) AS max_fp
        |FROM wm GROUP BY doc_id""".stripMargin,
    "q63_pii_redact" -> {
      import graft.ops.text.Pii
      s"""WITH c AS (SELECT doc_id, text
        | || CASE WHEN doc_id % 3 = 0 THEN ' reach me at u' || doc_id
        |      || '@mail.example.com ok' ELSE '' END
        | || CASE WHEN doc_id % 4 = 0 THEN ' call +1-555-'
        |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |      || '-0199 soon' ELSE '' END
        | || CASE WHEN doc_id % 5 = 0 THEN ' from host 10.'
        |      || (doc_id % 256) || '.0.42 today' ELSE '' END AS t
        | FROM documents)
        |, staged AS (SELECT doc_id, t,
        |  regexp_replace(t, '${Pii.EmailRe}', '[EMAIL]', 'g') AS t1
        | FROM c),
        |staged2 AS (SELECT doc_id, t, t1,
        |  regexp_replace(t1, '${Pii.PhoneRe}', '[PHONE]', 'g') AS t2
        | FROM staged)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(t, '${Pii.EmailRe}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(t1, '${Pii.PhoneRe}')) AS BIGINT) AS n_phones,
        | CAST(len(regexp_extract_all(t2, '${Pii.Ipv4Re}')) AS BIGINT) AS n_ips,
        | regexp_replace(t2, '${Pii.Ipv4Re}', '[IP]', 'g') AS redacted
        |FROM staged2""".stripMargin
    },
    "q64_heavy_weighted" ->
      // exact weighted sums — valid against the sketch because 5
      // distinct event types < capacity 64 (the exact regime)
      """WITH w AS (SELECT event_type,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS w FROM events),
        |c AS (SELECT event_type, CAST(SUM(w) AS BIGINT) AS weight_cents
        |  FROM w GROUP BY 1)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY weight_cents DESC, event_type)
        |    AS BIGINT) AS rank,
        | event_type, weight_cents FROM c""".stripMargin,
    "q70_token_ids" ->
      s"""WITH tf AS (SELECT tok, COUNT(*) cnt FROM
        |  (SELECT unnest(string_split(text, ' ')) tok FROM documents) GROUP BY 1),
        |v AS (SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok)
        |    AS BIGINT) id
        |  FROM tf ORDER BY cnt DESC, tok LIMIT $VocabSize),
        |docs AS (SELECT doc_id, string_split(text, ' ') ws,
        |  len(string_split(text, ' ')) nw FROM documents),
        |tok AS (SELECT doc_id, i, ws[i] AS tok FROM docs,
        |  generate_series(1, ${OracleGen.MaxDocSeries}) t(i) WHERE i <= nw)
        |SELECT doc_id,
        | array_to_string(list(CAST(COALESCE(v.id, 0) AS VARCHAR) ORDER BY i), ',')
        |   AS ids
        |FROM tok LEFT JOIN v USING (tok) GROUP BY doc_id""".stripMargin,
    "q69_chunk" ->
      s"""WITH wx AS (SELECT doc_id, string_split(text, ' ') ws,
        |  len(string_split(text, ' ')) nw FROM documents),
        |st AS (SELECT doc_id, ws, nw, i FROM wx,
        |  generate_series(1, ${OracleGen.MaxDocSeries}, 48) t(i) WHERE i <= nw)
        |SELECT doc_id, CAST((i - 1) // 48 AS BIGINT) AS chunk_id,
        | array_to_string(ws[i : i + 63], ' ') AS chunk,
        | CAST(LEAST(64, nw - i + 1) AS BIGINT) AS chunk_tokens
        |FROM st""".stripMargin,
    "q68_domain_cap" ->
      // ranks by the same exact 48-bit md5 prefix (12 hex chars) the
      // engine's heap orders on (negated there, so its top-K =
      // smallest prefixes), ties by numeric doc_id = the zero-padded
      // payload's lexicographic order
      """WITH r AS (SELECT source, doc_id,
        |  ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
        |      AS BIGINT), doc_id) AS rk
        | FROM documents)
        |SELECT source, CAST(rk AS BIGINT) AS rank, doc_id
        |FROM r WHERE rk <= 15""".stripMargin,
    "q66_normalize" ->
      // the messy tail rides into the SQL literal verbatim (same Scala
      // constant), so both engines clean identical bytes; length() =
      // UTF-16 units in Spark vs codepoints in DuckDB agrees because
      // the corpus + tail are BMP-only
      s"""WITH c AS (SELECT doc_id, text || '$MessyTail' AS t FROM documents)
        |SELECT doc_id,
        | trim(regexp_replace(regexp_replace(nfc_normalize(t),
        |   '$CtrlClass', '', 'g'), '[ \t]+', ' ', 'g')) AS cleaned,
        | CAST(length(t) - length(trim(regexp_replace(regexp_replace(
        |   nfc_normalize(t), '$CtrlClass', '', 'g'), '[ \t]+', ' ', 'g')))
        |   AS BIGINT) AS n_removed
        |FROM c""".stripMargin,
    "q65_length_quantiles" ->
      s"""SELECT lang, COUNT(*) AS n,
        | ${graft.core.Exact.sqlDround("quantile_cont(n_chars, 0.25)", 4)} AS p25,
        | ${graft.core.Exact.sqlDround("quantile_cont(n_chars, 0.50)", 4)} AS p50,
        | ${graft.core.Exact.sqlDround("quantile_cont(n_chars, 0.75)", 4)} AS p75,
        | ${graft.core.Exact.sqlDround("quantile_cont(n_chars, 0.90)", 4)} AS p90,
        | ${graft.core.Exact.sqlDround("quantile_cont(n_chars, 0.99)", 4)} AS p99
        |FROM documents GROUP BY lang""".stripMargin,
    "q19_email_parse" ->
      """SELECT doc_id,
        | 'u' || doc_id || '@example.com' AS from_addr,
        | 'doc ' || doc_id AS subject,
        | '<' || doc_id || '@x>' AS message_id,
        | TRUE AS text_roundtrip
        |FROM documents""".stripMargin,
    "q20_html_strip" ->
      "SELECT doc_id, text AS stripped FROM documents",
    "q21_token_stats" ->
      """SELECT doc_id,
        | len(string_split(text, ' ')) AS n_tokens,
        | len(list_distinct(string_split(text, ' '))) AS n_distinct,
        | len(regexp_extract_all(text, '[aeiou]+|[^aeiou ]+')) AS n_subtokens,
        | length(replace(text, ' ', '')) AS n_token_chars,
        | CAST(ROUND(CAST((CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |   / len(string_split(text, ' '))) AS DECIMAL(28,10)), 4) AS DOUBLE) AS avg_token_len
        |FROM documents""".stripMargin,
    "q22_quality" ->
      s"""SELECT doc_id,
         | len(list_filter(string_split(text, ' '),
         |   x -> x IN ($stopListSql))) AS n_stop,
         | $QualitySqlExpr AS quality
         |FROM documents""".stripMargin,
    "q23_lang_id" ->
      """WITH scored AS (SELECT lang,
        |  len(list_filter(string_split(text,' '),
        |    x -> x IN ('the','and','of','is'))) AS en_h,
        |  len(list_filter(string_split(text,' '),
        |    x -> x IN ('der','und','das','ist'))) AS de_h,
        |  len(list_filter(string_split(text,' '),
        |    x -> x IN ('le','et','la','est'))) AS fr_h
        | FROM documents)
        |SELECT lang,
        | CASE WHEN en_h >= de_h AND en_h >= fr_h THEN 'en'
        |      WHEN de_h >= fr_h THEN 'de' ELSE 'fr' END AS pred,
        | COUNT(*) AS n
        |FROM scored GROUP BY 1, 2""".stripMargin,
    "q24_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp,
        | md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
        |   AS fp_token_set
        |FROM documents""".stripMargin,
  )
}
