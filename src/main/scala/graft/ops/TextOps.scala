package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, language-ID heuristics, document
  * fingerprinting, simhash.
  *
  * Operators are column expressions or typed row-local passes, so they
  * pipeline inside the scan stage and scale linearly — no shuffles
  * anywhere in this file except where groupBy or a join is inherent.
  * Every operator has a DuckDB-expressible twin used as the driver-side
  * oracle (SparkEntry.oracleSql).
  */
object TextOps {

  /** Whitespace tokens of `text` — split on single spaces, matching the
    * oracle's string_split semantics (empty tokens preserved mid-string,
    * none of our inputs have leading/trailing spaces).
    */
  def tokens(text: Column): Column = split(text, " ")

  /** Token count + length stats per document. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_tokens"),
      length(col("text")).as("n_chars"),
      round(
        (length(col("text")) - size(tokens(col("text"))) + 1).cast("double") /
          size(tokens(col("text"))),
        4
      ).as("avg_token_len")
    )

  /** BPE-style pre-tokenizer pattern (GPT-2 family, simplified to the
    * lookahead-free subset so Java regex (Spark) and RE2 (DuckDB)
    * agree): contraction suffixes, space-prefixed letter runs, digit
    * runs, punctuation runs. Both engines use leftmost-first
    * alternation, so match counts are identical.
    */
  val BpePattern: String = "'(s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"

  /** Subword-ish token counting: BPE pre-tokenizer match count next to
    * the whitespace count — the standard "how many LLM tokens is this
    * corpus" estimator, as a single codegen'd regexp_count pass.
    */
  def bpeTokenCount(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(BpePattern)).cast("int").as("n_bpe_tokens"),
      size(tokens(col("text"))).as("n_ws_tokens")
    )

  /** Quality signals: stopword ratio, punctuation/non-alpha ratio,
    * distinct-token ratio. Deterministic, codegen-friendly.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    docs.select(
      col("doc_id"),
      round(
        size(filter(toks, t => t.isin("the", "a", "of", "and"))).cast("double") / nTok,
        4
      ).as("stopword_ratio"),
      // null (not a crash) for empty text: ANSI mode throws on 0/0,
      // while the DuckDB twin yields NULL — match the twin
      round(
        when(length(col("text")) === 0, lit(null).cast("double")).otherwise(
          length(regexp_replace(col("text"), "[a-z ]", "")).cast("double") /
            length(col("text"))),
        4
      ).as("nonalpha_ratio"),
      round(size(array_distinct(toks)).cast("double") / nTok, 4).as("distinct_ratio")
    )
  }

  /** N-gram-profile language-ID heuristic: count marker tokens per
    * profile, argmax with a fixed tie order. (A real system plugs in a
    * trained profile table; the operator shape — per-doc marker counting
    * + argmax — is what scales.)
    */
  def langId(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    def cnt(ws: String*) = size(filter(toks, t => t.isin(ws: _*)))
    val c1 = cnt("the", "a", "and")
    val c2 = cnt("fast", "slow", "big", "small")
    val c3 = cnt("table", "row", "column", "query")
    docs.select(
      col("doc_id"),
      c1.as("c_stop"),
      c2.as("c_adj"),
      c3.as("c_db"),
      when(c1 >= c2 && c1 >= c3, "p_stop")
        .when(c2 >= c3, "p_adj")
        .otherwise("p_db")
        .as("predicted_profile")
    )
  }

  /** Content-defined fingerprint: md5 over the token stream (stable
    * under re-serialization of the same tokens). First 16 hex chars.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      substring(md5(to_binary(concat_ws("|", tokens(col("text"))), lit("utf-8"))), 1, 16)
        .as("fp"),
      size(tokens(col("text"))).as("n_tokens")
    )

  /** SimHash over word hashes (cross-engine verifiable: word hash =
    * first ceil(bits/4) hex chars of md5, bit j votes +1/-1, simhash
    * bit j = majority). `bits` up to 60 (15 hex digits keep the value
    * inside a signed 64-bit long in both engines); 16 is the compact
    * oracle-table variant (q13), 60 the production fingerprint the
    * near-dup join uses.
    *
    * Shape (round 8): one typed row-local pass over [[simhashOf]] — a
    * document's tokens all live in its own text, so the vote tally
    * never needed the explode + 60-vote-column groupBy it previously
    * ran. ZERO Exchange; one MessageDigest per partition. A doc with
    * null text has no row (the groupBy form's explode(split(null))
    * emitted none).
    */
  def simhash(docs: DataFrame, bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 60, s"bits must be 1..60, got $bits")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.collect { case (id, text) if text != null => (id, simhashOf(md, text, bits)) }
      }
      .toDF("doc_id", "simhash")
  }

  /** The [[simhash]] fingerprint of one non-null text as a column
    * expression, for contexts that need a column rather than a typed
    * Dataset op: streaming composition (StreamOps.nearDupStream's
    * dropDuplicatesWithinWatermark) and scan-stage enrichment. A UDF
    * over [[simhashOf]], so row-local with no shuffle and no
    * aggregation state; null text gives null.
    */
  def simhashExpr(text: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 60, s"bits must be 1..60, got $bits")
    val f = udf { (t: String) =>
      if (t == null) null
      else java.lang.Long.valueOf(simhashOf(java.security.MessageDigest.getInstance("MD5"), t, bits))
    }
    f(text)
  }

  /** The simhash vote loop for one text: each token occurrence is
    * digested once, its first ceil(bits/4) nibbles are read straight
    * from the digest bytes (exactly conv(substring(hex, 1, nNib), 16,
    * 10), no hex string), and the votes are tallied in a primitive
    * array.
    */
  private def simhashOf(md: java.security.MessageDigest, text: String, bits: Int): Long = {
    val nNib = (bits + 3) / 4
    val toks = text.split(" ", -1)
    val votes = new Array[Int](bits)
    var i = 0
    while (i < toks.length) {
      md.reset()
      val d = md.digest(toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var h = 0L
      var x = 0
      while (x < nNib) {
        h = (h << 4) | ((d(x >> 1) >> (4 * (1 - (x & 1)))) & 0xf)
        x += 1
      }
      var j = 0
      while (j < bits) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (votes(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Rare-token profile per document: the corpus-frequency view of a
    * document's vocabulary — the integer-exact stand-in for unigram-LM
    * perplexity filtering (the standard training-data quality gate).
    * `rare_ratio` = fraction of token occurrences whose corpus count is
    * <= `rareMax` (high → gibberish / OCR noise / hapax-heavy),
    * `avg_tok_count` = mean corpus frequency (high → boilerplate-ish).
    * All arithmetic is integer counts + one exact division — no libm
    * log whose last-ulp could differ between engines.
    *
    * Scale posture: token counts are one map-side-combinable
    * aggregation (vocabulary-sized result); the count join back to the
    * token stream is keyed on `tok`; the per-doc rollup is keyed on
    * `doc_id`. Three keyed shuffles, no broadcast of corpus-sized data.
    */
  def tokenRarity(docs: DataFrame, rareMax: Long = 2): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    toks
      .join(counts, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        round(sum(col("c")).cast("double") / count(lit(1)), 4).as("avg_tok_count"),
        round(
          sum(when(col("c") <= rareMax, 1L).otherwise(0L)).cast("double") / count(lit(1)),
          4).as("rare_ratio")
      )
  }

  /** Benchmark decontamination: flag training documents sharing any
    * k-token shingle with an evaluation/benchmark corpus — the standard
    * train-test-contamination scrub every LLM data pipeline runs before
    * training (exact n-gram overlap, the GPT-3/Llama-style check).
    *
    * Output: one row per doc in `docs` — (doc_id, n_hit_shingles =
    * DISTINCT contaminated shingles, contaminated = 0/1).
    *
    * Scale posture: the benchmark side is normally an eval set — MBs
    * against a 100 TB training corpus — so its distinct shingle set is
    * `broadcast()` and the overlap check is a map-side semi join that
    * pipelines inside the training-corpus scan; the only shuffle is the
    * per-doc hit count keyed on doc_id. When the benchmark itself is
    * corpus-scale (more than `maxBroadcastShingles` distinct shingles —
    * probed with a `limit(max+1).count()`, never a full count), the op
    * falls back to a SHUFFLE hash join on the shingle key instead: both
    * sides repartition by shingle, nothing is collected or broadcast,
    * and the contract (rows, flags, counts) is identical — spec-gated
    * equal on both paths. Streaming note: [[graft.streaming.StreamOps
    * .decontaminateStream]] is the broadcast regime only; a
    * benchmark too large for the driver should run THIS op inside
    * `foreachBatch`, where both paths are available.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, k: Int = 5,
                    maxBroadcastShingles: Int = 5000000): DataFrame = {
    // localCheckpoint (not cache: blocks are GC-released, no unpersist
    // point exists here) so the benchmark's distinct-shingle aggregation
    // runs ONCE — without it the broadcast-fit probe below re-ran the
    // whole aggregation and the join then computed it a SECOND time,
    // roughly doubling benchmark-side work on the common path. Both join
    // branches need the full set anyway, so materializing it is not
    // wasted work on either path; the op becomes eager at call time.
    val benchShingles =
      Dedup.shingleRows(benchmark, k).select(col("shingle")).distinct().localCheckpoint()
    val fitsBroadcast =
      benchShingles.limit(maxBroadcastShingles + 1).count() <= maxBroadcastShingles
    val benchSide =
      if (fitsBroadcast) broadcast(benchShingles)
      else benchShingles.hint("shuffle_hash")
    val hits = Dedup.shingleRows(docs, k)
      .join(benchSide, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_shingles"))
    docs
      .select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_hit_shingles"), lit(0L)).as("n_hit_shingles"),
        when(coalesce(col("n_hit_shingles"), lit(0L)) > 0, 1).otherwise(0).as("contaminated"))
  }

  /** Contamination ATTRIBUTION — the review stage after
    * [[decontaminate]]'s yes/no flag: WHICH benchmark document does a
    * training document overlap, and by how many distinct k-grams. One
    * row per (doc_id, bench_id) pair sharing at least one shingle,
    * `n_shared_shingles` = the count of distinct k-grams they share
    * (both sides deduped per doc by [[Dedup.shingleRows]]). A shingle
    * present in several benchmark docs contributes one [[decontaminate]]
    * hit but one pair row PER benchmark doc here — attribution
    * multiplies, the flag does not (the spec pins flagged-set
    * equality).
    *
    * Scale posture: same join shape as [[decontaminate]] — the
    * benchmark (an eval set, MBs) broadcasts under
    * `maxBroadcastShingles` with the shuffle-hash fallback above it —
    * but keyed rows carry (bench_id, shingle) so the match survives to
    * the pair aggregation. Output volume is bounded by actual
    * contamination overlap, not corpus size; the docs-side scan never
    * shuffles on the broadcast path.
    */
  def contaminationPairs(docs: DataFrame, benchmark: DataFrame, k: Int = 5,
                         maxBroadcastShingles: Int = 5000000): DataFrame = {
    // localCheckpoint for the same single-computation reason as
    // decontaminate: the fit probe and the join both need the set
    val benchShingles = Dedup.shingleRows(benchmark, k)
      .select(col("doc_id").as("bench_id"), col("shingle"))
      .localCheckpoint()
    val fitsBroadcast =
      benchShingles.limit(maxBroadcastShingles + 1).count() <= maxBroadcastShingles
    val benchSide =
      if (fitsBroadcast) broadcast(benchShingles)
      else benchShingles.hint("shuffle_hash")
    Dedup.shingleRows(docs, k)
      .join(benchSide, Seq("shingle"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** Row-local n-gram repetition counters for ONE tokenized document:
    * (bigram mode count, trigram duplicate mass — the total number of
    * trigram occurrences whose value appears more than once). Shared by
    * [[repetitionSignals]] (needs both) and [[filterPolicy]] (bigram
    * mode only; `withTrigrams = false` skips the trigram pass).
    *
    * This replaces the former sorted-array `aggregate()` fold: array
    * higher-order functions are CodegenFallback (interpreted
    * per-element evaluation with per-element allocation), and the fold
    * plus the `transform`-built n-gram arrays carried a ~10× constant
    * on the scan stage (q39 read 56.9 s at sf1; the same HOF→typed
    * rewrite took the dup-spans window explode 23.5→1.6 s —
    * [[graft.ops.Dedup.windowOcc]]). The counts are equal by
    * definition: the longest run of a sorted n-gram array IS the mode's
    * multiplicity, and run mass in runs >1 IS the occurrence mass of
    * repeated values.
    *
    * No n-gram STRING is ever built: tokens are interned to per-doc
    * dense int ids, bigrams keyed as packed (idA, idB) longs and
    * trigrams as packed (bigram id, idC) longs — dense ids, not hashes,
    * so distinct n-grams cannot collide and every count is exact.
    */
  private[ops] def ngramRepetition(toks: Array[String], withTrigrams: Boolean): (Long, Long) = {
    val n = toks.length
    val ids = new java.util.HashMap[String, Integer](math.max(16, n * 2))
    val tokIds = new Array[Int](n)
    var next = 0
    var i = 0
    while (i < n) {
      val prev = ids.putIfAbsent(toks(i), next)
      if (prev == null) { tokIds(i) = next; next += 1 } else tokIds(i) = prev.intValue
      i += 1
    }
    // bigram key = (idA << 32 | idB); value = (dense bigram id << 32 | count).
    // count < 2^31 (bounded by n) so the increment can never carry into
    // the id bits; value >= 0 always, so -1L is a safe absent sentinel.
    val bg = new scala.collection.mutable.LongMap[Long](math.max(16, n))
    val bgIdAt = if (withTrigrams && n >= 3) new Array[Int](n - 1) else null
    var best = 0L
    var nextBg = 0
    i = 0
    while (i < n - 1) {
      val key = (tokIds(i).toLong << 32) | tokIds(i + 1).toLong
      val v = bg.getOrElse(key, -1L)
      if (v < 0L) {
        bg.update(key, (nextBg.toLong << 32) | 1L)
        if (bgIdAt != null) bgIdAt(i) = nextBg
        nextBg += 1
        if (best < 1L) best = 1L
      } else {
        val cnt = (v & 0xffffffffL) + 1L
        bg.update(key, (v & ~0xffffffffL) | cnt)
        if (bgIdAt != null) bgIdAt(i) = (v >>> 32).toInt
        if (cnt > best) best = cnt
      }
      i += 1
    }
    if (bgIdAt == null) return (best, 0L)
    val tg = new scala.collection.mutable.LongMap[Long](math.max(16, n))
    i = 0
    while (i < n - 2) {
      val key = (bgIdAt(i).toLong << 32) | tokIds(i + 2).toLong
      tg.update(key, tg.getOrElse(key, 0L) + 1L)
      i += 1
    }
    var dup = 0L
    tg.foreachValue(c => if (c > 1L) dup += c)
    (best, dup)
  }

  /** Repetition signals (the Gopher/MassiveText repetition filters,
    * token-level): `top_bigram_frac` = the fraction of a document's
    * bigram occurrences its single most frequent bigram accounts for
    * (high → "word word word" TV-transcript-style loops), and
    * `dup_trigram_frac` = the fraction of trigram occurrences whose
    * trigram appears more than once in the document (high → copy-paste
    * loops / template spam). Documents shorter than 3 tokens have no
    * trigram and produce no row (same contract as
    * [[boilerplateShingles]]).
    *
    * Scale posture: entirely row-local — the n-gram counting happens
    * inside the row in one typed `mapPartitions` pass
    * ([[ngramRepetition]]), so the operator is a pure scan-stage map
    * with ZERO shuffles (the groupBy-the-exploded-n-grams formulation
    * the oracle uses would shuffle every n-gram occurrence; this one
    * ships only the two ratios). The ratios themselves (division +
    * 4-decimal rounding) stay Column expressions on the counter output,
    * so the rounding semantics are bit-identical to the previous
    * HOF-fold form the oracle was pinned against.
    */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, text) =>
          // null text: the Column form's size(split(null)) = -1 failed
          // the >= 3 filter, so the doc was absent — keep that contract
          if (text == null) Iterator.empty
          else {
            val toks = text.split(" ", -1)
            if (toks.length < 3) Iterator.empty
            else {
              val (best, dup) = ngramRepetition(toks, withTrigrams = true)
              Iterator.single((id, (toks.length - 1).toLong, best, dup))
            }
          }
        }
      }
      .toDF("doc_id", "n_bigrams", "bg_best", "tg_dup")
      .select(
        col("doc_id"),
        col("n_bigrams"),
        round(col("bg_best").cast("double") / col("n_bigrams"), 4).as("top_bigram_frac"),
        round(col("tg_dup").cast("double") / (col("n_bigrams") - 1), 4)
          .as("dup_trigram_frac"))
  }

  /** Boilerplate n-gram detection: shingles appearing in >= `minDocs`
    * DISTINCT documents are "boilerplate" (shared headers, templates,
    * licence blocks); per document, the fraction of its distinct
    * shingles that are boilerplate is the removal signal — the
    * aggregate-level cousin of the line-based boilerplate scrubbers in
    * web-corpus pipelines. Documents shorter than `k` tokens have no
    * shingles and produce no row (same in the oracle).
    *
    * Scale posture: document frequency is one map-side-combinable
    * aggregation over (shingle) — shingleRows already emits each
    * shingle once per doc; the df join back is keyed on `shingle`.
    */
  def boilerplateShingles(docs: DataFrame, k: Int = 3, minDocs: Long = 3): DataFrame = {
    val sh = Dedup.shingleRows(docs, k)
    val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    sh.join(df, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= minDocs, 1L).otherwise(0L)).as("n_boiler"),
        round(
          sum(when(col("df") >= minDocs, 1L).otherwise(0L)).cast("double") / count(lit(1)),
          4).as("boiler_ratio")
      )
  }

  /** Composed keep/drop gating — the "mixer" stage every web-corpus
    * pipeline (C4, Gopher, Dolma) runs after the individual signals:
    * each document gets a `keep` flag and the FIRST failing rule as its
    * `reason`, in fixed precedence order `lang` → `too_short` →
    * `too_long` → `repetitive` → `contaminated` → `kept`, so drop
    * attribution is deterministic and auditable.
    *
    * The repetition rule is INTEGER arithmetic on purpose (repetitive
    * iff `modeBigramCount * repDen > n_bigrams * repNum`, i.e.
    * top-bigram share > repNum/repDen) — a float threshold would make
    * the keep decision depend on engine rounding at the boundary.
    *
    * A null `lang` does not fail the lang rule (SQL three-valued logic:
    * `lang NOT IN (...)` is NULL, as in the q42 oracle); null text has
    * `n_tokens` = -1 and no shingles, so it reads `too_short` unless
    * the lang rule fires first.
    *
    * Scale posture: lang/length/repetition are row-local signals inside
    * the scan ([[policySignals]]; the bigram mode count shares
    * [[ngramRepetition]]'s typed pass with q39); contamination reuses
    * [[decontaminate]]'s broadcast shingle semi join, so the only
    * shuffle is the distinct-contaminated-ids aggregation keyed on
    * doc_id. The policy frame is one left join on that (small) id set,
    * then [[policyReason]] per row.
    */
  def filterPolicy(
      docs: DataFrame,
      benchmark: DataFrame,
      allowedLangs: Seq[String] = Seq("en", "de"),
      minTokens: Int = 20,
      maxTokens: Int = 90,
      repNum: Int = 1,
      repDen: Int = 12,
      k: Int = 5
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val allowed = allowedLangs.toSet
    val benchShingles = Dedup.shingleRows(benchmark, k).select(col("shingle")).distinct()
    val contaminated = Dedup.shingleRows(docs, k)
      .join(broadcast(benchShingles), Seq("shingle"))
      .select(col("doc_id")).distinct()
      .withColumn("cont", lit(true))
    docs
      .select(col("doc_id").cast("long"), col("lang"), col("text"))
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("text"), col("cont").isNotNull)
      .as[(Long, String, String, Boolean)]
      .map { case (id, lang, text, cont) =>
        val (n, mx) = policySignals(text)
        val reason = policyReason(lang, n, mx, cont, allowed, minTokens, maxTokens, repNum, repDen)
        (id, lang, n, reason, if (reason == "kept") 1 else 0)
      }
      .toDF("doc_id", "lang", "n_tokens", "reason", "keep")
  }

  /** The row-local [[filterPolicy]] signals of one text: (token count,
    * bigram mode count). Null text gives (-1, 0) and a sub-bigram text
    * a mode of 0.
    */
  private[graft] def policySignals(text: String): (Int, Long) =
    if (text == null) (-1, 0L)
    else {
      val toks = text.split(" ", -1)
      val mx = if (toks.length >= 2) ngramRepetition(toks, withTrigrams = false)._1 else 0L
      (toks.length, mx)
    }

  /** The first failing [[filterPolicy]] rule, or `kept`. `contaminated`
    * is by-name so a probe runs only for docs that pass every other
    * rule.
    */
  private[graft] def policyReason(
      lang: String, nTokens: Int, mx: Long, contaminated: => Boolean,
      allowedLangs: Set[String], minTokens: Int, maxTokens: Int,
      repNum: Int, repDen: Int): String =
    if (lang != null && !allowedLangs.contains(lang)) "lang"
    else if (nTokens < minTokens) "too_short"
    else if (nTokens > maxTokens) "too_long"
    else if (mx * repDen > (nTokens - 1).toLong * repNum) "repetitive"
    else if (contaminated) "contaminated"
    else "kept"

  /** PII patterns shared with the DuckDB oracle — restricted to the
    * dialect subset where Java regex (Spark) and RE2 (DuckDB) agree:
    * character classes, bounded repetition, non-capturing groups and
    * `\b` only; no lookaround, no backreferences.
    */
  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe: String = "\\b\\d{3}-\\d{4}\\b"
  val IpRe: String = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** PII redaction, the C4/Dolma-style scrub every pretraining corpus
    * runs before anything else: emails, NANP-style phone numbers and
    * IPv4 addresses are replaced with typed placeholder tokens
    * (`<EMAIL>`/`<PHONE>`/`<IP>`) and counted per type, so downstream
    * filters can drop PII-dense documents while the redacted text stays
    * trainable.
    *
    * Replacement order is fixed (email, then phone, then IP) and
    * mirrored in the oracle. Per-type counts are MATCH COUNTS on the
    * ORIGINAL text, not substitution counts: when PII overlaps (e.g.
    * `555-1234@ex.com`, where the email's local-part consumes the phone
    * string), a match swallowed by an earlier pattern's replacement is
    * still counted, so `pii_total` can exceed the number of placeholder
    * tokens in `redacted`. The placeholders themselves cannot match any
    * pattern, so the passes never cascade.
    *
    * Scale posture: a pure row-local select of codegen'd
    * `regexp_count`/`regexp_replace` expressions — ZERO shuffles, the
    * whole scrub pipelines inside the scan stage at any corpus size.
    */
  def piiScrub(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val redacted =
      regexp_replace(
        regexp_replace(regexp_replace(t, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"),
        IpRe,
        "<IP>")
    docs
      .select(
        col("doc_id"),
        regexp_count(t, lit(EmailRe)).cast("long").as("n_email"),
        regexp_count(t, lit(PhoneRe)).cast("long").as("n_phone"),
        regexp_count(t, lit(IpRe)).cast("long").as("n_ip"),
        redacted.as("redacted"))
      .withColumn("pii_total", col("n_email") + col("n_phone") + col("n_ip"))
      .withColumn("clean_len", length(col("redacted")).cast("long"))
  }
}
