package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.GrainProbe

/** Text-analysis operators for LLM training-data pipelines (SURVEY §2.10).
  *
  * Everything here is built from `org.apache.spark.sql.functions` — no UDFs
  * — so each metric stays inside whole-stage codegen and runs as a single
  * narrow projection over the scan (no shuffle, no driver traffic). At
  * 100 TB these ops are scan-bound by design: Catalyst prunes to the text
  * column, and every metric of a document is computed in one pass.
  *
  * Tokenization contract (shared with the DuckDB oracles): lowercase, split
  * on runs of non-alphanumeric characters, drop empties. Kept to `[a-z0-9]`
  * so Java-regex and RE2-based engines agree exactly.
  */
object TextOps {

  /** Tokenize: lowercase → split on non-alphanumeric runs → drop empties.
    * `array_remove` rather than a `filter` lambda: identical semantics
    * (removes every "" element), but it's a regular codegen'd expression
    * while higher-order `filter` evaluates an interpreted lambda per
    * element — at corpus scale the scan stage is where tokenization
    * runs, and it must stay inside whole-stage codegen. */
  def tokens(text: Column): Column =
    array_remove(split(lower(text), "[^a-z0-9]+"), "")

  /** Let-binding over Columns: evaluate `x` ONCE per row and hand it to
    * `f` as a bound lambda variable. A raw Column tree referenced inside
    * a higher-order lambda body is INLINED there and re-evaluated per
    * ELEMENT — `transform(sequence(...), i => slice(toks, ...))` with
    * `toks = tokens(col)` re-ran the whole regex tokenizer size(toks)
    * times per row (measured 4.3 s vs 0.3 s for the bare tokenize on 5k
    * sf0.1 docs, paid by every minhash/decontaminate/repetition/sketch
    * plan). A lambda VARIABLE, by contrast, is an O(1) slot lookup, and
    * nested lambdas capture outer lambda variables — so wrapping the
    * consumer in a single-element-array `transform` is a true `let`,
    * the only stable public-API way to introduce one. */
  private[graft] def bindOnce(x: Column)(f: Column => Column): Column =
    element_at(transform(array(x), f), 1)

  /** Word n-gram shingles over a token array (building block for MinHash /
    * Jaccard dedup). Documents shorter than n shingle to an empty array.
    * The token array is [[bindOnce let-bound]], so callers may pass their
    * tokenizer tree directly without per-element re-evaluation. */
  def shingles(toks: Column, n: Int): Column = bindOnce(toks) { a =>
    when(size(a) >= n,
      transform(sequence(lit(0), size(a) - n),
        i => concat_ws(" ", slice(a, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Token count — whitespace/punct-delimited word count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Flesch reading-ease readability report in exact ppm fixed point —
    * the classic comprehension-level quality gate complementing the
    * length/stopword ratios (Flesch 1948):
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/word)`,
    * computed as integers scaled 10⁶ with truncating division at each
    * of the three steps (same order both engines → hash-exact).
    * Sentences = runs of `[.!?]` clamped to ≥1; syllables = vowel
    * groups (`[aeiouy]+` over the lowered text — the standard cheap
    * proxy, RE2-safe so both engines count identically); the
    * syllables/word divisor clamps to ≥1 so empty text scores rather
    * than errors. `fre_ppm` = 206835000 ⇔ score 206.835; negative on
    * dense jargon — that's the signal. One codegen'd projection,
    * scan-bound, no shuffle. */
  def readabilityReport(df: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    // Every column is a pure function of the RAW text (case-sensitive
    // regexes), so the whole report rides the raw-text class tier on
    // clone-heavy corpora — the three regex scans (the sf10 cost)
    // evaluate once per distinct text. The ppm chain is inlined into
    // each derived column (identical integer arithmetic, no temp
    // columns to drop).
    rawTextClasses(graft.engine.Engine.spread(df), textCol).derive(tc => Seq(
      "n_words" -> tokenCount(tc).cast("long"),
      "n_sentences" -> greatest(lit(1L),
        size(regexp_extract_all(tc, lit("[.!?]+"), lit(0)))
          .cast("long")),
      "n_syllables" -> size(regexp_extract_all(lower(tc),
        lit("[aeiouy]+"), lit(0))).cast("long"),
      "fre_ppm" -> expr(
        "206835000 - (1015 * ((n_words * 1000000) div n_sentences))" +
          " div 1000 - (84600 * ((n_syllables * 1000000)" +
          " div greatest(cast(1 as bigint), n_words))) div 1000")))
      .select(col(idCol), col("n_words"), col("n_sentences"),
        col("n_syllables"), col("fre_ppm"))

  /** Feature-hashing document embedding (the hashing trick,
    * Weinberger et al. 2009) — text → dense vector WITHOUT a model,
    * the bridge from the text family into the similarity/dedup family
    * for corpora that ship no embedding column: token t contributes
    * sign(h60("s:"+t) mod 2) to dimension h60(t) mod dim; the vector
    * is L2-normalized so cosine downstream is a plain dot product.
    * Sparse relational output, one row per NON-ZERO dimension:
    * `(id, j, w, wn)` with `w` the exact signed integer count and
    * `wn = w / √Σw²` — the norm is the sqrt of an EXACT integer, so
    * both doubles come from one correctly-rounded op chain and the
    * DuckDB twin reproduces them bit-for-bit.
    *
    * Scale shape: explode → one grouped sum on (id, j) with map-side
    * partials (fixed-width long keys), one id-grain norm aggregate,
    * one id-keyed join — no vocabulary relation, no model artifact,
    * partition-layout independent.
    *
    * Zero-vector contract: a document whose every dimension cancels
    * exactly (signed counts sum to 0 — possible for short docs at
    * small dim) has NO rows in the sparse output; cosine against the
    * zero vector is undefined, so vanishing is the honest behavior —
    * treat absence as "no signal", like an empty token stream. */
  def hashEmbed(df: DataFrame, idCol: String, textCol: String,
                dim: Int = 64): DataFrame = {
    require(dim >= 2 && dim <= 4096, s"hashEmbed: bad dim $dim")
    val h = (c: Column) => graft.ext.SketchOps.h60(c)
    val sgn = (t: Column) =>
      when(pmod(h(concat(lit("s:"), t)), lit(2L)) === 0L, lit(1L))
        .otherwise(lit(-1L))
    val w = graft.engine.Engine.spread(df)
      .select(col(idCol), explode(tokens(col(textCol))).as("_t"))
      .select(col(idCol), pmod(h(col("_t")), lit(dim.toLong)).as("j"),
        sgn(col("_t")).as("_s"))
      .groupBy(col(idCol), col("j")).agg(sum(col("_s")).as("w"))
      .filter(col("w") =!= 0L)
    val norm = w.groupBy(col(idCol))
      .agg(sum(col("w") * col("w")).as("_n2"))
    w.join(norm, Seq(idCol))
      .select(col(idCol), col("j"), col("w"),
        (col("w").cast("double") / sqrt(col("_n2").cast("double")))
          .as("wn"))
  }

  /** T5-style span corruption (Raffel et al. 2020 §3.1.4) as a
    * DETERMINISTIC pure projection: token position i of document d is
    * masked iff `h60(d‖':'‖i) mod 1000 < ratePermille` (the portable
    * md5 hash, so the mask — and therefore the training pair —
    * reproduces bit-for-bit in any engine, on any cluster layout, and
    * across re-runs); contiguous masked runs collapse to one numbered
    * sentinel `<extra_id_k>` in the encoder input and expand to
    * `sentinel + masked tokens` in the decoder target. iid Bernoulli
    * masking (mean run 1/(1−p)) stands in for T5's mean-3 geometric
    * span prior — the run-collapse mechanics are identical, only the
    * span-length distribution differs.
    *
    * Scale shape: NO shuffle anywhere — one codegen'd tokenize, one
    * per-position hash-flag array, then a single O(tokens) fold per
    * row (`functions.aggregate`, token array and flag array let-bound
    * so neither re-evaluates per element). Stateless and stream-legal:
    * the pair is a pure function of (id, text). Output: id,
    * `input_text`, `target_text`, `n_spans`, `n_masked`. */
  def spanCorrupt(df: DataFrame, idCol: String, textCol: String,
                  ratePermille: Int = 150): DataFrame = {
    require(ratePermille >= 1 && ratePermille <= 999,
      s"spanCorrupt: bad ratePermille $ratePermille")
    val r = call_function("graft_span_corrupt",
      coalesce(tokens(col(textCol)), array().cast("array<string>")),
      col(idCol).cast("string"), lit(ratePermille))
    df.select(col(idCol), r.as("_r"))
      .select(col(idCol),
        col("_r.inp").as("input_text"),
        col("_r.tgt").as("target_text"),
        col("_r.k").cast("long").as("n_spans"),
        col("_r.nm").cast("long").as("n_masked"))
  }

  /** The interpreted `functions.aggregate` twin of [[spanCorrupt]] —
    * retained as the equivalence pin for the compiled
    * `graft_span_corrupt` (the winnowing discipline: the lambda form
    * IS the spec; CodegenHealthSpec asserts value equality on the
    * fixture corpus). The sf10 probe measured the fold at 72.6 s over
    * 500k docs — one boxed lambda call per token — which is why the
    * registered path compiles it. */
  private[graft] def spanCorruptFold(df: DataFrame, idCol: String,
      textCol: String, ratePermille: Int): DataFrame = {
    val id = col(idCol)
    val result = bindOnce(tokens(col(textCol))) { toks =>
      val idx = when(size(toks) > 0, sequence(lit(0), size(toks) - 1))
        .otherwise(array().cast("array<int>"))
      bindOnce(transform(idx, i =>
          pmod(graft.ext.SketchOps.h60(concat(id.cast("string"),
            lit(":"), i.cast("string"))),
            lit(1000L)) < lit(ratePermille))) { flags =>
        val init = struct(lit("").as("inp"), lit("").as("tgt"),
          lit(0).as("k"), lit(false).as("prev"), lit(0).as("nm"))
        aggregate(idx, init, (st, i) => {
          val m = element_at(flags, i + 1)
          val tk = element_at(toks, i + 1)
          val start = m && !st("prev")
          val sent = concat(lit("<extra_id_"), st("k").cast("string"),
            lit(">"))
          struct(
            when(!m, concat(st("inp"), lit(" "), tk))
              .when(start, concat(st("inp"), lit(" "), sent))
              .otherwise(st("inp")).as("inp"),
            when(start, concat(st("tgt"), lit(" "), sent, lit(" "), tk))
              .when(m, concat(st("tgt"), lit(" "), tk))
              .otherwise(st("tgt")).as("tgt"),
            when(start, st("k") + 1).otherwise(st("k")).as("k"),
            m.as("prev"),
            when(m, st("nm") + 1).otherwise(st("nm")).as("nm"))
        })
      }
    }
    df.select(col(idCol), result.as("_r"))
      .select(col(idCol),
        ltrim(col("_r.inp")).as("input_text"),
        ltrim(col("_r.tgt")).as("target_text"),
        col("_r.k").cast("long").as("n_spans"),
        col("_r.nm").cast("long").as("n_masked"))
  }

  /** A BPE-ish sub-word count: alphanumeric runs are split into chunks of
    * at most 4 characters (a cheap stand-in for byte-pair tokenizers whose
    * tokens average ~4 chars). Deterministic and oracle-expressible:
    * ceil(len/4) summed over words. */
  def subwordCount(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => acc + ceil(length(t).cast("double") / 4.0).cast("long"))

  /** Stopword list used by quality scoring + language ID. Small on purpose:
    * broadcast-free (it folds into the plan as a literal array). */
  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** The raw-text class tier (the per-document projection family,
    * entropy, NB scoring, contamination): class key = md5 of the RAW
    * text, null → a reserved sentinel so null-text rows keep their
    * row-grain values (usually nulls). Unlike [[fingerprint]]'s
    * lower∘trim key, raw equality keeps length/case-sensitive deriveds
    * (`length(text)`, case-sensitive regexes) exact; md5-as-identity is
    * the engine's dedup contract ([[fingerprint]],
    * [[DedupOps.exactByText]]). The r16 sf10 sweep put these token/regex
    * chains at 44–80 s on a 100×-clone corpus for answers already
    * computed for identical texts. */
  private[graft] def rawTextClasses(df: DataFrame, textCol: String,
      idCol: String = null): graft.engine.TextClasses =
    GrainProbe.classes(df, coalesce(md5(col(textCol)), lit("\u0000null")),
      col(textCol), Option(idCol).map(col).orNull)

  /** Per-document quality metrics (length / punctuation / stopword ratios
    * — the standard cheap filters of LLM data pipelines). One projection,
    * no shuffle — but SPREAD first: a projection inherits the scan's
    * split count, and a narrow input (one parquet file, a pruned
    * upstream stage) would run the whole regex/token chain on one task
    * (the r11 sf1/sf10 lesson — Engine.spread is a no-op on real
    * multi-split corpora). */
  def qualityMetrics(df0: DataFrame, textCol: String): DataFrame =
    rawTextClasses(graft.engine.Engine.spread(df0), textCol)
      .derive(qualityMetricsCols)

  /** The pure-text derived columns of [[qualityMetrics]]. */
  private[graft] def qualityMetricsCols(
      text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nChars = length(text)
    val nAlnum = length(regexp_replace(lower(text), "[^a-z0-9]", ""))
    val nTok = size(toks)
    val stopHits = size(filter(toks, t => t.isin(EnglishStopwords: _*)))
    Seq(
      "n_chars" -> nChars.cast("long"),
      "n_tokens" -> nTok.cast("long"),
      "alnum_ratio" ->
        when(nChars > 0, nAlnum.cast("double") / nChars.cast("double"))
          .otherwise(lit(0.0)),
      "avg_token_len" ->
        when(nTok > 0, nAlnum.cast("double") / nTok.cast("double"))
          .otherwise(lit(0.0)),
      "stopword_ratio" ->
        when(nTok > 0, stopHits.cast("double") / nTok.cast("double"))
          .otherwise(lit(0.0)),
      "quality_ok" ->
        (col("n_tokens") >= 5 && col("alnum_ratio") >= 0.5 &&
          col("avg_token_len") >= 2 && col("avg_token_len") <= 12))
  }

  /** Language-marker word lists for the n-gram/stopword language-ID
    * heuristic. Matching is done on token instances (not distinct tokens)
    * so repeated markers count — the usual trigram-profile trick collapsed
    * to its cheapest effective form. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein"),
    "en" -> Seq("the", "a", "and", "of", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo", "zai", "you"))

  /** Language ID: score each language by marker-token hits; predict the
    * alphabetically-first language achieving the max score (deterministic
    * tie-break, mirrored exactly in the oracle SQL). */
  def languageId(df0: DataFrame, textCol: String): DataFrame =
    rawTextClasses(graft.engine.Engine.spread(df0), textCol)
      .derive(languageIdCols)

  /** The pure-text derived columns of [[languageId]]. `pred_lang`
    * references the score columns by name (the sequential-fold
    * contract of [[graft.engine.TextClasses.derive]]). */
  private[graft] def languageIdCols(
      text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val scoreCols = LangMarkers.map { case (lang, markers) =>
      s"score_$lang" ->
        size(filter(toks, t => t.isin(markers: _*))).cast("long")
    }
    val scores = LangMarkers.map { case (l, _) => col(s"score_$l") }
    val maxScore = greatest(scores: _*)
    // first (alphabetical) language whose score equals the max
    val pred = LangMarkers.foldRight(lit(null).cast("string")) {
      case ((lang, _), elseC) =>
        when(col(s"score_$lang") === maxScore, lit(lang)).otherwise(elseC)
    }
    scoreCols :+ ("pred_lang" -> pred)
  }

  /** [[languageId]]'s prediction as a single Column over the shared
    * PRE-HASHED token column — for wide gate passes
    * ([[graft.jobs.CurationJob]]'s discipline). Each language's score
    * is one native `graft_dict_sum` probe of the marker-hash set
    * (codegen'd binary search per token) instead of an interpreted
    * `filter(toks, isin)` HOF per language — the langid flag was the
    * single most expensive gate in the sf10 wide pass (27 of 57 s)
    * because `ArrayFilter` evaluates outside whole-stage codegen.
    * Same scoring and alphabetical-max tie-break; equal to the
    * string-exact [[languageId]] absent 64-bit token-hash collisions
    * (the [[nbScoreFromHashes]] contract). */
  def predLangFromHashes(th: Column): Column = {
    val scores = LangMarkers.map { case (lang, markers) =>
      val keys = markers.map(m =>
        org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
          org.apache.spark.unsafe.types.UTF8String.fromString(m), 42L))
        .distinct.sorted.toArray
      lang -> call_function("graft_dict_sum", th, lit(keys),
        lit(Array.fill(keys.length)(1L)), lit(0L)).getField("sum")
    }
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldRight(lit(null).cast("string")) {
      case ((lang, sc), elseC) =>
        when(sc === maxScore, lit(lang)).otherwise(elseC)
    }
  }

  /** Sequence packing (concat-and-chunk form): assign documents to
    * fixed-token-budget bins in a deterministic order — the step that
    * turns a filtered corpus into training-context-sized groups. Bin of a
    * doc = floor(tokens-before-it / maxTokens) within its partition key,
    * i.e. contiguous packing where a document may straddle a boundary
    * (standard concat-then-chunk semantics).
    *
    * Scale shape: the running sum is windowed PER partitionCol (source,
    * shard, …) — a global window would serialize 100 TB through one
    * reducer; per-source windows parallelize across sources and that is
    * how packing is sharded in practice. */
  def assignPackedBins(df: DataFrame, idCol: String, tokenCountCol: String,
                       partitionCol: String, maxTokens: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(partitionCol)).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    df.withColumn("_tok_before",
        coalesce(sum(col(tokenCountCol)).over(w), lit(0L)))
      .withColumn("pack_bin",
        floor(col("_tok_before") / maxTokens).cast("long"))
      .drop("_tok_before")
  }

  /** Character-trigram language profiles (top distinctive trigrams per
    * language, space-padded word boundaries — the Cavnar-Trenkle n-gram
    * categorization idea reduced to a fixed profile set). Public-corpus
    * commonplaces; weights are uniform (presence-scoring). */
  val TrigramProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq(" de", "der", "ie ", "ein", "sch", "ich", "nde", "die",
      "che", "en "),
    "en" -> Seq(" th", "the", "he ", "ing", "ng ", "and", " an", "ed ",
      "ion", " of"),
    "es" -> Seq(" de", "de ", "os ", " la", "la ", "ión", "ent", "es ",
      "ar ", "que"),
    "fr" -> Seq(" de", "de ", "es ", "le ", " le", "ent", "ion", " pa",
      "tio", "que"))

  /** Trigram-based language ID: score = number of profile trigrams present
    * in the (lowercased, space-padded) text; predict the
    * alphabetically-first max scorer. More robust than marker words for
    * running text; still a single narrow projection (each `contains` is a
    * codegen'd substring scan). */
  def languageIdTrigram(df0: DataFrame, textCol: String): DataFrame = {
    val df = graft.engine.Engine.spread(df0) // narrow-scan guard
    val padded = concat(lit(" "), lower(col(textCol)), lit(" "))
    val scored = TrigramProfiles.foldLeft(df) { case (acc, (lang, grams)) =>
      acc.withColumn(s"tg_score_$lang",
        grams.map(g => when(padded.contains(g), 1L).otherwise(0L))
          .reduce(_ + _))
    }
    val scores = TrigramProfiles.map { case (l, _) => col(s"tg_score_$l") }
    val maxScore = greatest(scores: _*)
    val pred = TrigramProfiles.foldRight(lit(null).cast("string")) {
      case ((lang, _), elseC) =>
        when(col(s"tg_score_$lang") === maxScore, lit(lang)).otherwise(elseC)
    }
    scored.withColumn("pred_lang_trigram", pred)
  }

  /** Text cleaning for training-data prep: strip URLs and e-mail-ish
    * tokens, drop non-printable-ASCII, collapse whitespace runs, trim,
    * lowercase. Pure regex projection (patterns restricted to syntax that
    * Java regex and RE2 interpret identically, so the DuckDB oracle can
    * mirror it exactly). */
  def cleanText(text: Column): Column =
    lower(trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      text,
      "https?://[^ ]+", " "),            // URLs
      "[a-zA-Z0-9.]+@[a-zA-Z0-9.]+", " "), // emails
      "[^ -~]", " "),                     // non-printable-ASCII
      " +", " ")))                        // collapse spaces

  /** Document fingerprint for exact dedup: md5 of the
    * lowercased/trimmed text. Identical in DuckDB (`md5(lower(trim(x)))`)
    * so it is oracle-checkable end-to-end. */
  def fingerprint(text: Column): Column = md5(lower(trim(text)))

  /** Winnowing fingerprints (Schleimer et al., SIGMOD 2003 — the MOSS
    * algorithm): hash every k-token shingle, then keep the MINIMUM hash
    * of each w-length window of consecutive shingle hashes. The
    * guarantee that makes this the local-similarity fingerprint (vs
    * [[fingerprint]]'s whole-document identity): any shared run of
    * w + k − 1 tokens between two documents contributes at least one
    * IDENTICAL fingerprint to both — so overlap detection needs only an
    * equi-join on the fingerprint column — while only ~2/(w+1) of
    * positions are kept. Hashes are the portable 60-bit md5
    * ([[SketchOps.h60]]), so the DuckDB twin selects the exact same
    * minima — the selection is hash-VALUE-dependent and would diverge
    * under any engine-private hash.
    *
    * Scale shape: one narrow per-document projection (shingle → hash →
    * sliding min → distinct) then an explode; no shuffle, no state, no
    * cross-document work — fingerprint joins downstream are the usual
    * band-bucket discipline. Documents shorter than k tokens have no
    * shingles and yield no rows. Both stages are compiled expressions
    * — `graft_shingle_h60` (string assembly + md5 in one codegen'd
    * loop) and `graft_min_windows` (monotonic-deque sliding min,
    * O(n) amortized) — replacing the two interpreted lambda walks the
    * r11 sf1 probe measured at ~8× compute for 10× data; the hash
    * VALUES and selected minima are unchanged, so the DuckDB twin
    * still reproduces the selection bit-for-bit. */
  def winnowFingerprints(df0: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowFingerprints: bad k/w $k/$w")
    val df = graft.engine.Engine.spread(df0) // narrow-scan guard
    def fps(text: Column): Column =
      array_distinct(call_function("graft_min_windows",
        call_function("graft_shingle_h60", tokens(text), lit(k)),
        lit(w)))
    // Class tier: the fingerprint list is a pure function of
    // tokens(text) — lower∘trim-invariant — so on a clone-heavy corpus
    // the shingle/sliding-min kernels run once per DISTINCT fingerprint
    // class and the per-doc rows fan out through one key join (the join
    // carries (id, 32-char key) and the class-side fp rows, never
    // per-doc text). Docs with < k tokens yield no shingles at either
    // grain; null texts have a null class key and drop in the inner
    // join, matching the row-grain size(null) filter.
    val tier = GrainProbe.classes(df, fingerprint(col(textCol)),
      col(textCol), col(idCol))
    tier.fanOut(tier.relation().filter(size(tokens(col("_t"))) >= k)
      .select(col("_k"), explode(fps(col("_t"))).as("fp")), idCol)
  }

  /** Tiny built-in polarity lexicon (hand-written, integer-weighted so
    * cross-engine sums are exact — float dictionary weights would make
    * the aggregate order-dependent). Swap in a domain lexicon via the
    * `lexicon` parameter of [[sentiment]]. */
  val DefaultLexicon: Map[String, Int] = Map(
    "good" -> 2, "great" -> 3, "excellent" -> 3, "love" -> 3, "like" -> 1,
    "best" -> 3, "happy" -> 2, "nice" -> 2, "amazing" -> 3, "win" -> 2,
    "better" -> 1, "success" -> 2, "fast" -> 1, "easy" -> 1, "right" -> 1,
    "bad" -> -2, "terrible" -> -3, "awful" -> -3, "hate" -> -3,
    "worst" -> -3, "sad" -> -2, "poor" -> -2, "wrong" -> -1, "slow" -> -1,
    "hard" -> -1, "fail" -> -2, "failure" -> -2, "broken" -> -2,
    "lose" -> -2, "problem" -> -1)

  /** Dictionary sentiment (SURVEY §2.10 "sentiment as broadcast-dictionary
    * UDF" — expressed WITHOUT a UDF: explode tokens → broadcast-join the
    * lexicon → partial+final agg back to one row per document, so every
    * step is codegen'd and the only shuffle carries one row per document).
    * Unmatched tokens score 0. Output per doc: n_tokens, n_hits (matched
    * tokens), score (sum of matched weights, exact integer), polarity
    * (sign of score) and score_norm (score / n_tokens, one double
    * division — deterministic). */
  def sentiment(df: DataFrame, idCol: String, textCol: String,
                lexicon: Map[String, Int] = DefaultLexicon): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dict = broadcast(
      lexicon.toSeq.toDF("_word", "_weight"))
    val toksDf = df.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), size(col("_toks")).as("n_tokens"),
        explode_outer(col("_toks")).as("_tok"))
    toksDf.join(dict, toksDf("_tok") === dict("_word"), "left")
      .groupBy(col(idCol), col("n_tokens"))
      .agg(count(col("_weight")).as("n_hits"),
        coalesce(sum(col("_weight")), lit(0L)).as("score"))
      .select(col(idCol), col("n_tokens"), col("n_hits"), col("score"),
        signum(col("score")).cast("int").as("polarity"),
        when(col("n_tokens") > 0,
          col("score").cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)).as("score_norm"))
  }

  /** Rolling (chained) hash over the token stream: acc ← xxhash64(acc, t),
    * an order-sensitive 64-bit fingerprint, unlike the order-insensitive
    * md5-of-text. Chained hashing rather than Horner-polynomial so ANSI
    * mode (Spark 4 default) can't overflow. No DuckDB twin (xxhash64 seeds
    * differ across engines) → verified by unit test, not oracle. */
  def rollingHash(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => xxhash64(acc, t))

  /** Corpus vocabulary: the k most frequent tokens with deterministic
    * ties (count desc, token asc) — the first step of tokenizer/vocab
    * construction over a training corpus. Explode → count → top-k;
    * Catalyst plans the sort+limit as TakeOrderedAndProject, so only k
    * rows per partition survive to the driver-side merge — no global
    * sort of the token-frequency table at 100 TB. */
  def vocabulary(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("tok"))
      .limit(k)

  /** PII-redaction patterns, ordered: emails first (they contain digit
    * runs), then NNN-NNNN phone shapes, then any ≥5-digit run (account /
    * id numbers). Kept to RE2-compatible syntax (no lookaround, no
    * backrefs) so Java-regex Spark and RE2-based engines (the DuckDB
    * oracle) rewrite byte-identically. */
  val RedactionPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "[EMAIL]",
    "[0-9]{3}-[0-9]{4}" -> "[PHONE]",
    "[0-9]{5,}" -> "[NUM]")

  /** Scrub PII-shaped substrings from free text — the standard hygiene
    * pass before corpus text enters a training set. One narrow projection
    * (three codegen'd regexp_replace), no shuffle; at 100 TB this is
    * scan-bound next to the other text metrics. */
  /** Repetition signals per document — the Gopher repetition-removal
    * family (Rae et al., "Scaling Language Models: ... Gopher", 2021,
    * §A1.1: duplicate-line/ngram fractions flag the pathological
    * machine-generated pages that plain quality scores miss):
    *   dup_token_frac  = 1 − |distinct tokens| / |tokens|
    *   top_token_frac  = occurrences of the most frequent token / |tokens|
    *   dup_bigram_frac = 1 − |distinct bigrams| / |bigrams|
    *   top_bigram_frac = occurrences of the most frequent bigram / |bigrams|
    * Documents without tokens are absent; without bigrams (single-token)
    * the bigram fractions are 0.
    *
    * Scale shape (r13 rewrite): the fractions are per-document functions
    * of the token array, so they compute as ONE codegen'd projection
    * ([[repetitionFracsCol]] over the native `graft_gram_stats` — no
    * explode, no shuffle, no join; scan-bound at any corpus size where
    * the old shape paid two (id, gram) exchanges per granularity). Gram
    * multiplicities are counted over 64-bit token/window hashes instead
    * of token strings — identical output absent hash collisions, which
    * the string-keyed DuckDB twin hash-verifies (the lmTrainHashed
    * contract). Divisions stay on exact integer counts, so the doubles
    * reproduce bit-for-bit across engines. */
  def repetitionStats(df: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    // Raw-text class tier: the struct is a pure text function, so on
    // clone-heavy corpora the gram-stats machinery runs once per
    // distinct raw text and fans out (r16 sweep: 23 s member-grain at
    // sf10 for answers duplicated 100×).
    rawTextClasses(graft.engine.Engine.spread(df), textCol).derive(tc =>
        Seq("_rf" -> repetitionFracsCol(tc)))
      .filter(col("_rf").getField("n_tokens") > 0)
      .select(col(idCol),
        col("_rf").getField("dup_token_frac").as("dup_token_frac"),
        col("_rf").getField("top_token_frac").as("top_token_frac"),
        col("_rf").getField("dup_bigram_frac").as("dup_bigram_frac"),
        col("_rf").getField("top_bigram_frac").as("top_bigram_frac"))

  /** The [[repetitionStats]] fractions as ONE per-row struct column
    * `(n_tokens, dup_token_frac, top_token_frac, dup_bigram_frac,
    * top_bigram_frac)` — the projection form that lets a composed
    * pipeline ([[graft.jobs.CurationJob]]) evaluate the repetition gate
    * inside its single materialized wide pass instead of paying a
    * separate corpus scan + join. Token-less/null documents get null
    * fields (callers gate on `n_tokens > 0` / coalesce); single-token
    * documents get bigram fractions 0.0 — exactly the grouped form's
    * absent-row / left-join semantics. */
  def repetitionFracsCol(text: Column): Column =
    repetitionFracsFromHashes(
      call_function("graft_hash_tokens", tokens(text)))

  /** [[repetitionFracsCol]] over a PRE-HASHED token column (shared
    * wide-pass discipline — one `graft_hash_tokens(tokens(text))` per
    * row serves every flag family). */
  def repetitionFracsFromHashes(th: Column): Column = {
    val ts = call_function("graft_gram_stats", th)
    val bs = call_function("graft_gram_stats",
      call_function("graft_window_hashes", th, lit(2)))
    val (tn, td, tmx) =
      (element_at(ts, 1), element_at(ts, 2), element_at(ts, 3))
    val (bn, bd, bmx) =
      (element_at(bs, 1), element_at(bs, 2), element_at(bs, 3))
    // token-less texts get null token fractions, not a division by
    // zero (which ANSI mode raises)
    struct(
      tn.as("n_tokens"),
      when(tn > 0, lit(1.0) - td.cast("double") / tn)
        .as("dup_token_frac"),
      when(tn > 0, tmx.cast("double") / tn).as("top_token_frac"),
      when(bn > 0, lit(1.0) - bd.cast("double") / bn).otherwise(lit(0.0))
        .as("dup_bigram_frac"),
      when(bn > 0, bmx.cast("double") / bn).otherwise(lit(0.0))
        .as("top_bigram_frac"))
  }

  /** Phrase-blocklist predicate — the safety/content-filter stage of a
    * training pipeline: true when the text contains any blocked phrase
    * as a CONTIGUOUS word sequence (tokenizer-normalized, so "Bad-Word!"
    * matches the phrase "bad word"). Multi-word phrases are grouped by
    * token count and each length-class probes its own sorted hash set
    * via the native `graft_any_in_set` binary search — a stateless
    * codegen'd projection, stream-safe like
    * [[graft.ext.DedupOps.isContaminated]] (same machinery: the
    * blocklist folds into the plan as constants).
    *
    * Matching is over token-hash n-grams, so a 64-bit collision can
    * false-positive (≈ |doc grams|·|blocklist| / 2⁶⁴ — negligible for
    * real blocklists); there are no false negatives. */
  def containsBlockedPhrase(textCol: Column,
                            phrases: Seq[String]): Column = {
    // Every phrase-side evaluation below is a projection over a local
    // relation, which the optimizer evaluates on the driver
    // (ConvertToLocalRelation): building the predicate launches no
    // Spark job. Flatten/dedupe/sort stay in Scala — an explode +
    // distinct cost a job and a shuffle per length class.
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    val cleaned = phrases.map(_.trim).filter(_.nonEmpty).distinct
    // Token counts come from the SAME tokens() pipeline used for
    // hashing below — a driver-side regex re-count can diverge on
    // non-ASCII (e.g. Turkish İ lowercases to i + combining mark),
    // silently making a phrase unmatchable (n too large → no shingle)
    // or over-matchable (n too small → sub-sequence hits).
    val counts: Map[String, Int] =
      if (cleaned.isEmpty) Map.empty
      else cleaned.toDF("text")
        .select(col("text"), size(tokens(col("text"))).as("n"))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val byLen: Map[Int, Array[Long]] = cleaned
      .groupBy(counts)
      .filter(_._1 > 0)
      .map { case (n, ps) =>
        // hash each phrase through the SAME tokenize→hash→shingle
        // pipeline the document side uses, so normalization matches
        n -> ps.toDF("text")
          .select(call_function("graft_shingle_hashes",
            call_function("graft_hash_tokens", tokens(col("text"))),
            lit(n)))
          .collect().flatMap(_.getSeq[Long](0)).distinct.sorted
      }
    require(byLen.nonEmpty, "containsBlockedPhrase: empty blocklist")
    byLen.toSeq.sortBy(_._1).map { case (n, hashes) =>
      call_function("graft_any_in_set",
        call_function("graft_shingle_hashes",
          call_function("graft_hash_tokens", tokens(textCol)), lit(n)),
        lit(hashes))
    }.reduce(_ || _)
  }

  /** BPE tokenizer-vocabulary training, first `numMerges` merges
    * (Sennrich et al., "Neural Machine Translation of Rare Words with
    * Subword Units", 2016): repeatedly merge the corpus-wide most
    * frequent adjacent symbol pair. Returns (rank, pair, freq) — the
    * merge table a subword tokenizer is built from. Ties break to the
    * lexicographically smallest pair; merge application is the padded
    * TWO-PASS left-to-right replace, identical (and oracle-reproducible)
    * in any engine with plain string `replace`. Known deviation from
    * subword-nmt's lookaround regex: an odd run of ≥5 repeats of one
    * symbol merges as [aa, a, aa] here vs [aa, aa, a] there (lookbehind
    * isn't RE2-expressible, so the reference application rule has no
    * cross-engine twin); both rules are valid greedy BPE variants and
    * this one is deterministic everywhere.
    *
    * Scale shape — the classic BPE compression: the corpus collapses to
    * its WORD-FREQUENCY list first (one tokenize + groupBy pass, the
    * only thing that touches corpus bytes); every merge round then runs
    * on the vocabulary table, shuffling (pair, freq) rows — vocabulary-
    * sized, not corpus-sized — with one driver-side top-1 per round. */
  def bpeMerges(df: DataFrame, textCol: String,
                numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(numMerges > 0, s"numMerges must be positive: $numMerges")
    // word-freq list; symbols = chars, space-joined, space-padded
    // (explicit substr per position — same expression shape as the
    // DuckDB twin's substr(w, i, 1), no engine-specific split('') quirks)
    // Materialized up front: the loop's first top-1 action AND the first
    // merge application would otherwise each re-run the corpus tokenize
    // + word-freq shuffle — the only corpus-sized work here, which must
    // execute exactly once.
    var words = graft.engine.Engine.materialize(
      graft.engine.Engine.spread(df)
        .select(explode(tokens(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).cast("long").as("f"))
        .select(concat(lit(" "),
          array_join(transform(sequence(lit(1), length(col("w"))),
            i => col("w").substr(i, lit(1))), " "),
          lit(" ")).as("s"), col("f")))
    // adjacent symbol pairs = word 2-gram shingles over the symbol array
    val pairs = shingles(split(trim(col("s")), " "), 2)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var i = 0
    var dry = false
    while (i < numMerges && !dry) {
      val top = words.select(col("f"), explode(pairs).as("p"))
        .groupBy(col("p")).agg(sum(col("f")).as("ff"))
        .orderBy(desc("ff"), asc("p")).limit(1).collect()
      if (top.isEmpty) dry = true
      else {
        val pair = top(0).getString(0)
        merges += ((i, pair, top(0).getLong(1)))
        val pat = " " + pair + " "
        val rep = " " + pair.replace(" ", "") + " "
        def once(c: Column) = replace(c, lit(pat), lit(rep))
        val prev = words
        words = graft.engine.Engine.materialize(
          prev.select(once(once(col("s"))).as("s"), col("f")))
        // The new iterate is eagerly materialized, so the superseded
        // one is dead — release its blocks now instead of waiting for
        // the ContextCleaner (k pinned iterates at large numMerges).
        graft.engine.Engine.release(prev)
        i += 1
      }
    }
    merges.toSeq.toDF("merge_rank", "pair", "freq")
  }

  /** Round-synchronized BATCHED greedy BPE — the depth-scaling form of
    * [[bpeMerges]]. Classic BPE recounts the corpus-wide pair table
    * after EVERY merge: one driver-synchronized vocabulary-sized job
    * per merge, so 30k merges = 30k sequential rounds — the wall-clock
    * wall a real tokenizer run hits first. Here each round takes the
    * top-`window` pairs by (freq desc, pair asc) and applies every
    * candidate that is INDEPENDENT of all higher-ranked candidates in
    * the window: pair p's symbol set {x, y, xy} must be disjoint from
    * each higher-ranked candidate's — sharing a symbol means one merge
    * changes the other's occurrences, and a concat collision (xy equal
    * to a symbol, or to another concat) means the merges would
    * interfere through the symbol they create. Independent merges
    * commute and their round-start frequencies are exact at
    * application time, so one round applies ~window/3 merges for ONE
    * recount — effective depth per wall-second grows with the window.
    *
    * Deviation from strictly-sequential BPE, by construction: a pair
    * CREATED by a batch member (e.g. ("th","e") after ("t","h"))
    * cannot enter the table until the next round, even if its
    * frequency would have ranked it next — the standard trade of every
    * synchronized-round BPE at scale. Exclusion is against all
    * higher-RANKED window candidates (selected or not): that keeps the
    * rule self-contained per candidate — SQL-expressible as one
    * anti-join, no sequential closure — at the cost of occasionally
    * skipping a pair whose only conflicts were themselves excluded.
    *
    * Output contract matches [[bpeMerges]]: (merge_rank, pair, freq),
    * rank in application order (round-major, window rank within a
    * round), freq the round-start count; application is the identical
    * padded two-pass replace, in rank order, one projection per round. */
  def bpeMergesBatched(df: DataFrame, textCol: String,
                       rounds: Int, window: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(rounds > 0 && window > 0,
      s"bad rounds=$rounds window=$window")
    var words = graft.engine.Engine.materialize(
      graft.engine.Engine.spread(df)
        .select(explode(tokens(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).cast("long").as("f"))
        .select(concat(lit(" "),
          array_join(transform(sequence(lit(1), length(col("w"))),
            i => col("w").substr(i, lit(1))), " "),
          lit(" ")).as("s"), col("f")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    def syms(p: String): Set[String] = {
      val i = p.indexOf(' ')
      Set(p.substring(0, i), p.substring(i + 1), p.replace(" ", ""))
    }
    var rank = 0
    var r = 0
    var dry = false
    // DRIVER-LOCAL tier: the merge rounds run over the WORD-FREQUENCY
    // relation — vocabulary-sized by construction, and invariant under
    // clone replication — while each distributed round costs an
    // explode+groupBy+collect job plus a checkpoint of the replaced
    // vocabulary. Within the tier budget the whole round loop runs on
    // the driver over the collected (symbols, freq) list with the
    // IDENTICAL selection and application semantics: same pair counting
    // (every adjacent occurrence weighted by word freq), same (freq
    // desc, pair asc) order under UTF-8 BINARY comparison (Spark/DuckDB
    // string order — Java's UTF-16 compareTo would diverge on
    // supplementary chars), same window-independence rule, same padded
    // two-pass replace. TextOpsSpec/R18KernelsSpec pin driver ==
    // distributed.
    val wordBytes = graft.engine.Tiers.measure(words).bytes
    if (graft.engine.Tiers.fitsLocal(spark)(wordBytes)) {
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      implicit val byteOrder: Ordering[String] = (a: String, b: String) =>
        java.util.Arrays.compareUnsigned(a.getBytes(utf8), b.getBytes(utf8))
      var local = words.collect()
        .map(row => (row.getString(0), row.getLong(1)))
      graft.engine.Engine.release(words)
      while (r < rounds && !dry) {
        val counts = new java.util.HashMap[String, Long]()
        local.foreach { case (s, f) =>
          val a = s.trim.split(" ")
          var i = 0
          while (i < a.length - 1) {
            val p = a(i) + " " + a(i + 1)
            counts.put(p, counts.getOrDefault(p, 0L) + f)
            i += 1
          }
        }
        if (counts.isEmpty) dry = true
        else {
          val top = counts.entrySet().iterator()
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long)]
          while (top.hasNext) {
            val e = top.next(); buf += ((e.getKey, e.getValue))
          }
          val sorted = buf.sortBy { case (p, ff) => (-ff, p) }
            .take(window).toArray
          val sel = sorted.zipWithIndex.collect {
            case ((p, ff), i) if sorted.take(i).forall { case (q, _) =>
              syms(q).intersect(syms(p)).isEmpty } => (p, ff)
          }
          sel.foreach { case (p, ff) =>
            merges += ((rank, p, ff)); rank += 1
          }
          local = local.map { case (s, f) =>
            val out = sel.foldLeft(s) { case (c, (p, _)) =>
              val pat = " " + p + " "
              val rep = " " + p.replace(" ", "") + " "
              c.replace(pat, rep).replace(pat, rep)
            }
            (out, f)
          }
          r += 1
        }
      }
      return merges.toSeq.toDF("merge_rank", "pair", "freq")
    }
    val pairs = shingles(split(trim(col("s")), " "), 2)
    while (r < rounds && !dry) {
      // window-sized driver collect by contract (window ≪ vocabulary)
      val top = words.select(col("f"), explode(pairs).as("p"))
        .groupBy(col("p")).agg(sum(col("f")).as("ff"))
        .orderBy(desc("ff"), asc("p")).limit(window).collect()
        .map(row => (row.getString(0), row.getLong(1)))
      if (top.isEmpty) dry = true
      else {
        val sel = top.zipWithIndex.collect {
          case ((p, ff), i) if top.take(i).forall { case (q, _) =>
            syms(q).intersect(syms(p)).isEmpty } => (p, ff)
        }
        sel.foreach { case (p, ff) => merges += ((rank, p, ff)); rank += 1 }
        val applied = sel.foldLeft(col("s")) { case (c, (p, _)) =>
          val pat = " " + p + " "
          val rep = " " + p.replace(" ", "") + " "
          replace(replace(c, lit(pat), lit(rep)), lit(pat), lit(rep))
        }
        val prev = words
        words = graft.engine.Engine.materialize(
          prev.select(applied.as("s"), col("f")))
        graft.engine.Engine.release(prev)
        r += 1
      }
    }
    merges.toSeq.toDF("merge_rank", "pair", "freq")
  }

  /** Apply a learned BPE merge table (rank-ordered "a b" pairs — the
    * [[bpeMerges]] output) to a corpus and report per-document subword
    * stats: (id, n_words, n_subwords) — the fertility/compression
    * numbers a tokenizer evaluation wants before committing to a vocab.
    * Documents with no tokens are absent (nothing to encode).
    *
    * The merge table is vocabulary-sized by contract, so the k merges
    * fold into the plan as 2k chained `replace` calls — a pure
    * codegen'd projection over the exploded word stream (no UDF, no
    * shuffle beyond the final per-doc aggregation); application order
    * and the padded two-pass replace are exactly [[bpeMerges]]'s, so
    * encode(train(corpus)) is self-consistent and oracle-reproducible.
    *
    * Grain: the stats are pure functions of the token array, which is
    * invariant across a [[fingerprint]] class — so on clone-heavy
    * corpora (≥4× dup factor by the same cheap HLL probe the sketch
    * tier uses) the 2k-replace machinery runs once per DISTINCT
    * fingerprint and fans back out through one id-sized inner join on
    * the fingerprint (the r15 sf10 sweep measured the member-grain
    * encode at 316×/216× its sf0.1 time on a 100×-clone corpus; the
    * encode work is distinct-mass-bound). Absence semantics survive
    * the join: null texts have a null fingerprint (inner join drops),
    * token-less texts produce no stats row (join finds nothing).
    * Streaming frames always take the member-grain path (no extra
    * action per micro-batch). */
  def bpeEncodeStats(df: DataFrame, idCol: String, textCol: String,
                     merges: Seq[String]): DataFrame = {
    val tier = GrainProbe.classes(graft.engine.Engine.spread(df),
      fingerprint(col(textCol)), col(textCol), col(idCol))
    tier.fanOut(bpeEncodeCore(tier.relation(), merges), idCol)
      .select(col(idCol), col("n_words"), col("n_subwords"))
  }

  /** The encode engine under both grains: explode `_t` into words,
    * char-space, apply the padded two-pass replaces in rank order,
    * count. Input (`_k`, `_t`) → output (`_k`, n_words, n_subwords);
    * keys whose text yields no tokens are absent. */
  private def bpeEncodeCore(keyed: DataFrame,
                            merges: Seq[String]): DataFrame = {
    val words = keyed.select(col("_k"),
      explode(tokens(col("_t"))).as("w"))
    val spaced = concat(lit(" "),
      array_join(transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1))), " "), lit(" "))
    val enc = merges.foldLeft(spaced) { (c, pair) =>
      val pat = " " + pair + " "
      val rep = " " + pair.replace(" ", "") + " "
      replace(replace(c, lit(pat), lit(rep)), lit(pat), lit(rep))
    }
    words.select(col("_k"), size(split(trim(enc), " ")).as("_n"))
      .groupBy(col("_k"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("_n")).cast("long").as("n_subwords"))
  }

  /** Repeated-span report — the exact-substring duplication signal of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (2021), at token-window granularity: every word n-gram
    * occurring in at least `minDocs` distinct documents, with document
    * and occurrence counts. Near-dup detection finds document PAIRS;
    * this surfaces the duplicated SPANS themselves (licenses,
    * disclaimers, templates) for review or span-level removal.
    *
    * Scale shape: one explode + one grouped aggregation, keyed on 8-byte
    * WINDOW HASHES (`graft_window_hashes`, codegen'd) — the corpus-sized
    * exchange carries (hash, id) fixed-width pairs, never gram strings.
    * The output strings are re-attached AFTER the `minDocs` cut, one per
    * surviving gram, by slicing a deterministic representative document
    * (min (id, start)) — a join of the tiny survivor set against token
    * arrays that AQE turns into a broadcast. Distinct grams collide only
    * if the 64-bit Horner window combine does. */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 10, minDocs: Int = 2): DataFrame = {
    val base = graft.engine.Engine.spread(df)
    val tier = tokenClasses(base, textCol, idCol)
    val wx = tier.relation().select(col("_k"), col("_m"), col("_mid"),
        posexplode(call_function("graft_window_hashes",
          call_function("graft_hash_tokens", tokens(col("_t"))),
          lit(n))))
      .withColumnsRenamed(Map("pos" -> "_st", "col" -> "_gh"))
    // The per-gram aggregates differ by grain. Row grain counts
    // distinct ids. Class grain collapses exactly: n_docs = Σ class
    // sizes over distinct classes containing the gram, n_occurrences =
    // Σ size × within-class occurrences, and the representative
    // (min (id, st)) is the min over classes of (class-min id,
    // class-min start), because every member of a class carries the
    // identical window stream.
    val agg = (if (!tier.rep)
        wx.groupBy(col("_gh"))
          .agg(count_distinct(col("_k")).as("n_docs"),
            count(lit(1)).as("n_occurrences"),
            min(struct(col("_k").as("_id"), col("_st"))).as("_loc"))
      else
        wx.groupBy(col("_gh"), col("_k"))
          .agg(first(col("_m")).as("_m"), count(lit(1)).as("_occ"),
            min(col("_st")).as("_stmin"), first(col("_mid")).as("_mid"))
          .groupBy(col("_gh"))
          .agg(sum(col("_m")).as("n_docs"),
            sum(col("_m") * col("_occ")).as("n_occurrences"),
            min(struct(col("_mid").as("_id"), col("_stmin").as("_st")))
              .as("_loc")))
      .filter(col("n_docs") >= minDocs)
      .select(col("n_docs"), col("n_occurrences"),
        col("_loc._id").as("_rid"), col("_loc._st").as("_rst"))
    // Second pass re-reads raw text only to PRINT the survivors:
    // tokenization happens AFTER the join (AQE broadcasts the tiny
    // survivor side), so the corpus is tokenized once, not twice.
    df.select(col(idCol).as("_rid"), col(textCol).as("_t"))
      .join(agg, Seq("_rid"))
      .select(
        concat_ws(" ", slice(tokens(col("_t")), col("_rst") + 1, lit(n)))
          .as("gram"),
        col("n_docs"), col("n_occurrences"))
  }

  /** Span-level removal of cross-document duplicated substrings — the
    * removal half of Lee et al. 2021 (§4: delete the duplicated
    * substring occurrences themselves, not whole documents; whole-doc
    * dedup keeps one copy of a license header in EVERY doc that embeds
    * it — this strips the span everywhere it repeats). A token position
    * is removed when any word n-gram window covering it occurs in at
    * least `minDocs` distinct documents; surviving tokens reassemble in
    * order (the output is the normalized token stream — tokenization
    * already collapsed the original separators). Documents whose every
    * position was covered drop out; documents shorter than n tokens
    * have no windows and pass through re-tokenized.
    *
    * Scale shape (the gram-window approximation of the paper's suffix
    * array, which has no distributed-join equivalent): windows shuffle
    * ONCE, as fixed-width (window-hash, id, start) triples
    * (`graft_window_hashes` — gram strings never leave the row), for
    * the duplicate aggregation and the coverage semi join — the
    * duplicated-gram set is NOT assumed tiny (unlike the C4 boilerplate
    * set), so the join strategy stays AQE's choice. Duplicated-window
    * starts then collapse straight to ONE sorted array per document
    * (collect_list, map-side partials), and `graft_strip_covered` drops
    * the covered positions in a single O(tokens + starts) two-pointer
    * sweep per row — replacing the former coverage explode (×n
    * positions), global distinct, and token-level anti-join, which
    * together shuffled every covered position n times. Text crosses the
    * network as token arrays once, at the final per-doc join. */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 10, minDocs: Int = 2,
                          sep: String = " "): DataFrame = {
    require(n >= 1 && minDocs >= 2, s"bad n=$n / minDocs=$minDocs")
    val base = graft.engine.Engine.spread(df)
    val stripped = call_function("graft_strip_covered", col("_toks"),
      coalesce(col("_sts"), array().cast("array<int>")), lit(n))
    // stripping is a pure function of (class tokens, dup set): strip
    // once per class, fan the kept text out through the fingerprint
    // join (class-grain text shuffles, never member)
    val tier = tokenClasses(base, textCol, idCol)
    val toks = tokenWindows(tier)
    val per = toks.join(dupWindowStarts(toks, n, minDocs), Seq("_id"), "left")
      .select(col("_id").as("_k"), stripped.as("_kept"))
      .filter(size(col("_kept")) > 0)
    tier.fanOut(per, "_id")
      .select(col("_id").as(idCol), array_join(col("_kept"), sep).as(textCol))
  }

  /** Shared duplicated-window stage behind [[removeRepeatedSpans]] and
    * [[dupWindowFraction]]: from a `(_id, _toks)` frame, the per-doc
    * sorted start positions `(_id, _sts)` of every word n-gram window
    * occurring in ≥ `minDocs` distinct documents. Windows shuffle ONCE
    * as fixed-width (window-hash, id, start) triples; the duplicate
    * aggregation and the coverage join stay AQE's strategy choice (the
    * duplicated-gram set is NOT assumed tiny); starts collapse to one
    * sorted array per document with map-side partials. */
  private def dupWindowStarts(toks: DataFrame, n: Int,
                              minDocs: Int): DataFrame = {
    // When a `_w` column rides along, `_id` is a TEXT-CLASS key and _w
    // its member-doc count: a gram occurs in Σ _w distinct documents
    // over the distinct classes containing it — exactly the member
    // count_distinct (every member of a class contains every one of
    // its grams). The class tier's explode scales with distinct mass.
    val weighted = toks.columns.contains("_w")
    val keep = col("_id") +: (if (weighted) Seq(col("_w")) else Nil)
    val w = toks.filter(size(col("_toks")) >= n)
      .select(keep :+ posexplode(call_function("graft_window_hashes",
        call_function("graft_hash_tokens", col("_toks")), lit(n))): _*)
      .withColumnsRenamed(Map("pos" -> "_st", "col" -> "_gh"))
    val dup = (if (weighted)
        w.select(col("_gh"), col("_id"), col("_w"))
          .dropDuplicates("_gh", "_id")
          .groupBy(col("_gh")).agg(sum(col("_w")).as("_nd"))
      else w.groupBy(col("_gh"))
        .agg(count_distinct(col("_id")).as("_nd")))
      .filter(col("_nd") >= minDocs).select(col("_gh"))
    w.join(dup, Seq("_gh"))
      .groupBy(col("_id"))
      .agg(sort_array(collect_list(col("_st"))).as("_sts"))
  }

  /** The class tier of the token-derived ops: key = [[fingerprint]]
    * with a null sentinel. `tokens` is lower∘trim-invariant, so every
    * member of a class produces the identical token stream. */
  private def tokenClasses(base: DataFrame, textCol: String,
      idCol: String = null): graft.engine.TextClasses =
    GrainProbe.classes(base, coalesce(fingerprint(col(textCol)),
      lit(" null")), col(textCol), Option(idCol).map(col).orNull)

  /** `(_id, [_w,] _toks)` over a tier's relation for
    * [[dupWindowStarts]]: `_id` is the class key, and at class grain
    * `_w` (the member count) carries the distinct-doc mass into its
    * weighted form. Row grain keeps the unweighted count_distinct. */
  private def tokenWindows(tier: graft.engine.TextClasses): DataFrame =
    tier.relation().select(col("_k").as("_id") +:
      (if (tier.rep) Seq(col("_m").as("_w")) else Nil) :+
      tokens(col("_t")).as("_toks"): _*)

  /** Per-document duplicated-window fraction — the MEASUREMENT half of
    * Lee et al. 2021 ([[removeRepeatedSpans]] is the removal half):
    * for each document, the count and ppm fraction of token positions
    * covered by at least one word n-gram window occurring in ≥
    * `minDocs` distinct documents — the paper's "fraction of tokens in
    * duplicated n-grams", the number a curation pipeline reports per
    * slice and thresholds on BEFORE deciding to strip spans or drop
    * documents.
    *
    * Counting is exact and shared with the removal path by
    * construction: covered = n_tokens − |graft_strip_covered(toks)|
    * rides the same O(tokens + starts) two-pointer sweep, so the audit
    * can never disagree with what removal would actually cut.
    * `dup_ppm = covered·10⁶ div n_tokens` keeps the row engine-exact.
    * Docs shorter than n tokens have no windows and report 0; scale
    * shape is [[dupWindowStarts]]'s plus one id-keyed join. */
  def dupWindowFraction(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 10, minDocs: Int = 2): DataFrame = {
    require(n >= 1 && minDocs >= 2, s"bad n=$n / minDocs=$minDocs")
    val base = graft.engine.Engine.spread(df)
    def report(toksC: Column, stsC: Column): Seq[org.apache.spark.sql.Column] = Seq(
      size(toksC).cast("long").as("n_tokens"),
      (size(toksC) - size(call_function("graft_strip_covered", toksC,
        coalesce(stsC, array().cast("array<int>")), lit(n))))
        .cast("long").as("n_dup_tokens"))
    val tier = tokenClasses(base, textCol, idCol)
    val toks = tokenWindows(tier)
    val per = toks.join(dupWindowStarts(toks, n, minDocs), Seq("_id"), "left")
      .select(col("_id").as("_k") +: report(col("_toks"), col("_sts")): _*)
    tier.fanOut(per, "_id")
      .select(col("_id").as(idCol), col("n_tokens"), col("n_dup_tokens"))
      .withColumn("dup_ppm", when(col("n_tokens") > 0L,
        expr("n_dup_tokens * 1000000 div n_tokens"))
        .otherwise(lit(0L)))
  }

  /** Cross-document boilerplate removal — the C4 rule (Raffel et al.
    * 2020, §2.2): lines recurring across ≥ `minDocs` distinct documents
    * (nav bars, cookie banners, footers) are stripped from every
    * document. Lines compare after trim; blank lines are never counted
    * as boilerplate. Documents whose every line was boilerplate drop out
    * of the result (C4's empty-page behavior).
    *
    * Scale shape: lines explode once; the boilerplate set is ONE
    * (line → distinct-doc count) aggregation and is tiny by construction
    * (it IS the repeated content), so it broadcasts back as an anti-join
    * over the exploded lines; reassembly is one groupBy(id) with the
    * original line order restored from the explode position. Text
    * crosses the network once each way. */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
                        minDocs: Int = 3, sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be ≥ 2: $minDocs")
    val lines = graft.engine.Engine.spread(df.filter(col(textCol).isNotNull))
      .select(col(idCol).as("_id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .withColumnsRenamed(Map("pos" -> "_ln", "col" -> "_line"))
    val boiler = lines
      .groupBy(trim(col("_line")).as("_nl"))
      .agg(count_distinct(col("_id")).as("_nd"))
      .filter(col("_nd") >= minDocs && col("_nl") =!= "")
      .select(col("_nl"))
    val kept = lines.join(broadcast(boiler),
      trim(col("_line")) === col("_nl"), "left_anti")
    kept.groupBy(col("_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("_ln"), col("_line")))),
        s => s.getField("_line")), sep).as("_txt"))
      .select(col("_id").as(idCol), col("_txt").as(textCol))
  }

  /** Gopher-style repetition gate: keep documents under all the given
    * repetition ceilings (defaults are in the published rules' range).
    * Anti-join on VIOLATORS, not semi-join on passers: a document with
    * no tokens has no stats row yet trivially satisfies every ceiling —
    * it must survive (token-count minimums are a separate gate). */
  def repetitionFilter(df: DataFrame, idCol: String, textCol: String,
                       maxDupTokenFrac: Double = 0.6,
                       maxTopBigramFrac: Double = 0.2): DataFrame = {
    val violators = repetitionStats(df, idCol, textCol)
      .filter(col("dup_token_frac") > maxDupTokenFrac ||
        col("top_bigram_frac") > maxTopBigramFrac)
      .select(col(idCol).as("_drop"))
    df.join(violators, df(idCol) === violators("_drop"), "left_anti")
  }

  def redactPii(text: Column): Column =
    RedactionPatterns.foldLeft(text) { case (c, (pat, rep)) =>
      regexp_replace(c, pat, rep)
    }

  /** Top-k TF-IDF keywords per document (Salton & Buckley 1988 weights,
    * smoothed idf = ln((N+1)/(df+1)) so even corpus-wide terms score
    * ≥ 0): the classic document-tagging / feature-extraction primitive.
    * Deterministic and oracle-exact WITHOUT fixed-point machinery —
    * each score is a single product of correctly-rounded terms (tf ·
    * graft_ln(exact division)), no cross-row float sums exist; ranking
    * ties break to the lexicographically smaller term.
    *
    * Scale shape: one (id, term) tf shuffle; df is a vocabulary-sized
    * aggregate REUSING the tf exchange (AQE stage reuse, same shape as
    * [[bm25TopK]]); N rides along as a broadcast 1-row aggregate; the
    * constant rank bound prunes map-side (WindowGroupLimit). */
  def keywordsTfidf(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val base = graft.engine.Engine.spread(df)
    val n = df.agg(count(lit(1)).as("_n")) // member count either grain
    val idf = call_function("graft_ln",
      (col("_n").cast("double") + lit(1.0)) /
        (col("_df").cast("double") + lit(1.0)))
    // Class tier: tf and the per-doc rank are pure text functions; df
    // (documents containing the term) = Σ class sizes over distinct
    // classes containing it, and N stays the member count — so scores
    // and ranks are identical per class and fan out through one key
    // join AFTER the top-k cut (k rows per class, not per doc, cross
    // the rank window).
    val tier = tokenClasses(base, textCol, idCol)
    val tf = tier.relation()
      .select(col("_k"), col("_m"), explode(tokens(col("_t"))).as("term"))
      .groupBy(tier.keepWeight(col("_k"), col("term")): _*)
      .agg(count(lit(1)).as("_tf"))
    val dfs = tf.groupBy(col("term")).agg(tier.members.as("_df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_k"))
      .orderBy(col("score").desc, col("term").asc)
    tier.fanOut(tf.join(dfs, Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("score", col("_tf").cast("double") * idf)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k), "_id")
      .select(col("_id").as(idCol), col("rnk"), col("term"), col("score"))
  }

  /** Bigram-LM fluency scoring — the CCNet quality signal (Wenzek et
    * al. 2020 score with a language-model trained on a trusted corpus,
    * then filter/bucket by perplexity; KenLM's n-gram counts reduced to
    * their Spark shape): train add-one-smoothed bigram counts on `ref`
    * (the trusted slice), score every document of `docs` by its mean
    * per-bigram negative log-probability in nats (lower = more like the
    * reference). P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V), V = reference
    * unigram-type count + 1 (the reserved OOV type); unseen words and
    * bigrams fall back to the smoothing mass. Documents with fewer than
    * two tokens have no bigrams and are absent from the result.
    *
    * Numeric determinism, same toolkit as [[bm25TopK]]: counts are
    * integers, each per-bigram probability is one correctly-rounded
    * division, ln routes through `graft_ln` (platform-libm parity),
    * and the per-document sum is exact fixed-point
    * (floor(nll·2³⁰) BIGINT) — layout- and engine-independent, with
    * map-side aggregation partials intact.
    *
    * Scale shape: the LM tables are VOCABULARY-sized (unigram types +
    * observed bigram types — orders of magnitude below corpus size), so
    * the two count joins behave like dimension joins (AQE broadcasts
    * them while they fit, falls back to shuffled hash beyond); the
    * document side explodes to (id, bigram) pairs once and aggregates
    * straight back to one row per document. V rides along as a 1-row
    * cross-joined aggregate, and its subtree shares the unigram
    * aggregation via AQE exchange reuse. */
  def lmScore(docs: DataFrame, ref: DataFrame, idCol: String,
              textCol: String): DataFrame =
    lmScoreFromSums(lmKeySums(docs, ref, idCol, textCol), idCol)

  /** `(_id, _sfx, n_bigrams)` — exact fixed-point NLL sums of
    * [[lmFixedStream]] aggregated to `keyCol` grain: the SHARED
    * intermediate of the whole LM-scoring family (per-doc scores,
    * perplexity buckets/thresholds, domain mixture weights). Integer
    * sums are order-free, so any consumer regrouping these to a
    * coarser grain (doc → domain) reproduces the direct coarse-grain
    * aggregation bit-for-bit — which is what lets one materialized
    * doc-grain pass feed every consumer instead of each re-running
    * the train/join/score chain. */
  private[graft] def lmKeySums(docs: DataFrame, ref: DataFrame,
                               keyCol: String, textCol: String): DataFrame = {
    // Class tier for the SCORED side (GrainProbe-gated): the per-text
    // (Σfx, n_bigrams) pair is a pure function of tokens(text) given
    // the trained counts, so it evaluates once per distinct class and
    // per-key sums regroup the exact longs through one key join —
    // bit-identical at any clone mass (order-free integer sums).
    val tier = tokenClasses(graft.engine.Engine.spread(docs), textCol,
      keyCol)
    // the relation's text keeps textCol's NAME: lmFixedStream derives
    // its ref-side expressions from the same textCol
    val sums = lmFixedStream(
        tier.relation().select(col("_k"), col("_t").as(textCol)), ref,
        "_k", textCol)
      .groupBy(col("_id"))
      .agg(sum(col("_fx")).as("_sfx"), count(lit(1)).as("n_bigrams"))
    // keyCol may be coarser than a class (a domain), so class sums
    // regroup to it after the fan-out; at row grain they are keyed on
    // it already
    if (!tier.rep) sums
    else tier.fanOut(sums.withColumnRenamed("_id", "_k"), "_id")
      .groupBy(col("_id"))
      .agg(sum(col("_sfx")).as("_sfx"), sum(col("n_bigrams")).as("n_bigrams"))
  }

  /** [[lmScore]]'s output projection over precomputed [[lmKeySums]]. */
  private[graft] def lmScoreFromSums(per: DataFrame,
                                     idCol: String): DataFrame =
    per.select(col("_id").as(idCol), col("n_bigrams"),
      ((col("_sfx").cast("double") / col("n_bigrams").cast("double")) /
        lit(1073741824.0)).as("mean_nll"))

  /** The per-bigram-occurrence fixed-point NLL stream `(_id, _fx)`
    * behind [[lmScore]] and [[mixtureWeights]] — one row per scored
    * bigram of `docs`, keyed by `keyCol` (document id for per-doc
    * scoring, domain for mixture reweighting; the aggregation grain is
    * the ONLY thing the two consumers disagree on, so the whole train/
    * join/score chain is shared here and cannot drift between them). */
  private def lmFixedStream(docs: DataFrame, ref: DataFrame,
                            keyCol: String, textCol: String): DataFrame = {
    // All joins and exchanges are keyed on 8-byte HASHES (xxhash64
    // token hashes + the Horner window combine — the identical keys
    // lmTrainHashed ships in the stream-twin model), never gram
    // STRINGS: the r11 sf10 probe measured the string-keyed form
    // shuffling corpus-sized bigram text through both count joins —
    // the exact antipattern the span ops' longs-only discipline (and
    // its PlanShapeSpec pin) exists to prevent. Identical output
    // absent 64-bit collisions (the lmTrainHashed contract; it
    // refuses lossy models driver-side, and vocabularies are ~2³²
    // types away from birthday range).
    val hts = call_function("graft_hash_tokens", tokens(col(textCol)))
    // Reference counts at the weighted distinct-text tier (the
    // nbTrainHashed algebra, GrainProbe-gated): unigram/bigram INSTANCE
    // counts are Σ_class m·tf — exact integer sums — while the
    // tokenize+explode runs once per distinct reference text. tokens()
    // is lower∘trim-invariant, so the fingerprint class key is sound.
    val refW = tokenClasses(ref, textCol).relation()
      .select(col("_m"), col("_t").as("_rt"))
    val rhts = call_function("graft_hash_tokens", tokens(col("_rt")))
    val uni = refW.select(col("_m"), explode(rhts).as("_h1"))
      .groupBy(col("_h1")).agg(sum(col("_m")).as("_c1"))
    val bi = refW
      .select(col("_m"), explode(call_function("graft_window_hashes",
        rhts, lit(2))).as("_hg"))
      .groupBy(col("_hg")).agg(sum(col("_m")).as("_c12"))
    val vdf = uni.agg((count(lit(1)) + lit(1)).cast("double").as("_v"))
    val dg = graft.engine.Engine.spread(docs)
      .select(col(keyCol).as("_id"), hts.as("_ht"))
      .select(col("_id"), col("_ht"),
        posexplode(call_function("graft_window_hashes", col("_ht"),
          lit(2))))
      .withColumnsRenamed(Map("pos" -> "_p", "col" -> "_hg"))
      .select(col("_id"),
        element_at(col("_ht"), col("_p") + 1).as("_h1"), col("_hg"))
      .join(uni, Seq("_h1"), "left")
      .join(bi, Seq("_hg"), "left")
      .crossJoin(broadcast(vdf))
    val p = (coalesce(col("_c12"), lit(0L)).cast("double") + lit(1.0)) /
      (coalesce(col("_c1"), lit(0L)).cast("double") + col("_v"))
    val fixed = floor((lit(0.0) - call_function("graft_ln", p)) *
      lit(1073741824.0)).cast("long")
    dg.select(col("_id"), fixed.as("_fx"))
  }

  /** Domain mixture reweighting — the DoReMi signal (Xie et al. 2023,
    * arXiv:2305.10429) in its first-order form: upweight domains whose
    * text the reference LM finds HARD (excess per-bigram NLL above the
    * corpus-wide mean), starting from each domain's natural share.
    * DoReMi's exponentiated-gradient tilt `share·exp(excess/τ)` is
    * linearized to `share·(1 + excess)` (the first Taylor term, τ = 1)
    * so every weight is EXACT integer arithmetic end to end — the same
    * trade [[graft.transform.Split]] documents for its samplers. Scoring
    * reuses [[lmFixedStream]] verbatim (train on `ref`, score `docs`,
    * fixed-point floor(nll·2³⁰) per bigram), so the mixture weights are
    * by construction consistent with [[lmScore]]'s per-document numbers.
    *
    * Output, one row per domain: `n_docs`, `n_bigrams`, `nll_fx`
    * (domain mean per-bigram NLL, fixed-point 2³⁰, integer-div of two
    * longs), `excess_fx` (max(0, nll_fx − corpus nll_fx)), `share_ppm`
    * (document share), and `weight_ppm` — the normalized mixture weight
    * `share·(2³⁰ + excess_fx)` rescaled to parts-per-million via
    * DECIMAL(38,0) integral division (the raw products reach ~2⁵⁵;
    * ×10⁶ overflows BIGINT, so normalization runs in decimal).
    *
    * Scale shape: the corpus explodes to bigrams ONCE and aggregates
    * straight to G domain rows with map-side partials (no per-doc
    * intermediate — the grain IS the domain); everything after is
    * arithmetic over the G-row frame, with the three 1-row totals
    * (corpus NLL, corpus docs, raw-weight sum) riding as broadcast
    * cross joins. Domains are the unit of data governance, so G is
    * thousands at most — the weight table is a driver-scale artifact
    * computed from one corpus pass. */
  def mixtureWeights(docs: DataFrame, ref: DataFrame, groupCol: String,
                     textCol: String): DataFrame =
    mixtureWeightsFromSums(
      lmKeySums(docs, ref, groupCol, textCol),
      docs.groupBy(col(groupCol).as("_id"))
        .agg(count(lit(1)).as("n_docs")),
      groupCol)

  /** [[mixtureWeights]]' arithmetic over precomputed GROUP-grain
    * [[lmKeySums]] (`per`) and per-group doc counts (`nd`) — the entry
    * point for callers that already hold a materialized doc-grain sums
    * relation and regroup it to domains (exact: integer sums are
    * order-free). */
  private[graft] def mixtureWeightsFromSums(per: DataFrame, nd: DataFrame,
                                            groupCol: String): DataFrame = {
    val tot = per.agg(sum(col("_sfx")).as("_tsfx"),
      sum(col("n_bigrams")).as("_tnb"))
    val td = nd.agg(sum(col("n_docs")).as("_td"))
    val base = per.join(nd, Seq("_id"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(td))
      .withColumn("nll_fx", expr("_sfx div n_bigrams"))
      .withColumn("excess_fx",
        greatest(lit(0L), col("nll_fx") - expr("_tsfx div _tnb")))
      .withColumn("share_ppm", expr("n_docs * 1000000 div _td"))
      .withColumn("_raw",
        col("share_ppm") * (lit(1073741824L) + col("excess_fx")))
    val sraw = base.agg(sum(col("_raw")).as("_sraw"))
    base.crossJoin(broadcast(sraw))
      .withColumn("weight_ppm",
        expr("cast(_raw as decimal(38,0)) * 1000000 div _sraw"))
      .select(col("_id").as(groupCol), col("n_docs"), col("n_bigrams"),
        col("nll_fx"), col("excess_fx"), col("share_ppm"),
        col("weight_ppm"))
  }

  /** Interpolated Kneser–Ney bigram fluency scoring (Kneser & Ney
    * 1995; the interpolated form of Chen & Goodman 1999 §2.7) — the
    * smoothing that actually ships in n-gram LMs, next to [[lmScore]]'s
    * add-one baseline: instead of flattening everything toward 1/V, it
    * discounts observed bigrams by a fixed D and backs off to the
    * CONTINUATION probability (how many distinct histories a word
    * follows — "francisco" is frequent but predictable, "report" is
    * not).
    *
    *   P(w2|w1) = max(c(w1w2) − D, 0)/c(w1)
    *              + D·N1+(w1•)/c(w1) · Pc(w2)          if c(w1) > 0
    *   Pc(w2)   = (N1+(•w2) + 1)/(T + V)               (add-one so
    *              unseen words keep support; T = distinct bigram
    *              types, V = distinct unigrams + 1 — the [[lmScore]]
    *              convention); full backoff to Pc when the history is
    *              unseen OR continues nothing (N1+(w1•) = 0, which
    *              also forces c(w1w2) = 0 — a history seen only
    *              doc-finally), keeping every probability > 0.
    *
    * D = 3/4 exactly: every term is a ratio of INTEGERS (the discount
    * multiplies through as `max(4c−3, 0)/(4c₁)` and `3·N1+(w1•)/(4c₁)`)
    * so both engines evaluate identical double divisions in an
    * identical order, then the per-bigram NLL pins to fixed point
    * `floor(−ln(P)·2³⁰)` and per-doc sums are order-free BIGINTs — the
    * [[lmScore]] exactness contract, unchanged.
    *
    * Scale shape, also unchanged from [[lmScore]]: the model relations
    * are vocabulary-sized — (w1: c1, N1+(w1•)) merged into ONE
    * dimension table, (w1w2: c12), (w2: N1+(•w2)) — keyed by 8-byte
    * xxhash64 hashes (gram strings never shuffle); the scored corpus
    * explodes to bigrams once, takes three dimension joins (AQE
    * broadcasts while they fit), and aggregates straight back to doc
    * grain with map-side partials. T and V ride as a 1-row broadcast
    * cross join. */
  def knScore(docs: DataFrame, ref: DataFrame, idCol: String,
              textCol: String): DataFrame = {
    val hts = call_function("graft_hash_tokens", tokens(col(textCol)))
    // Weighted distinct-text tier for the reference counts (the
    // lmFixedStream discipline): c1/c12 are INSTANCE counts — Σ_class
    // m·tf, exact integer sums — while the tokenize+explode runs once
    // per distinct reference text; the continuation-type relations
    // (n1f/n1b) derive from the bi TYPE table, which clone mass never
    // grows.
    val refW = tokenClasses(ref, textCol).relation()
      .select(col("_m"), col("_t").as("_rt"))
    val rhts = call_function("graft_hash_tokens", tokens(col("_rt")))
    val uni = refW.select(col("_m"), explode(rhts).as("_h1"))
      .groupBy(col("_h1")).agg(sum(col("_m")).as("_c1"))
    val rb = refW.select(col("_m"), rhts.as("_ht"))
      .select(col("_m"), col("_ht"), posexplode(call_function(
        "graft_window_hashes", col("_ht"), lit(2))))
      .withColumnsRenamed(Map("pos" -> "_p", "col" -> "_hg"))
      .select(col("_m"),
        element_at(col("_ht"), col("_p") + 1).as("_b1"),
        element_at(col("_ht"), col("_p") + 2).as("_b2"), col("_hg"))
    val bi = rb.groupBy(col("_hg")).agg(sum(col("_m")).as("_c12"),
      min(col("_b1")).as("_b1"), min(col("_b2")).as("_b2"))
    val n1f = bi.groupBy(col("_b1").as("_h1"))
      .agg(count(lit(1)).as("_n1f"))
    val n1b = bi.groupBy(col("_b2").as("_h2"))
      .agg(count(lit(1)).as("_n1b"))
    val hist = uni.join(n1f, Seq("_h1"), "left") // (w1: c1, N1+(w1·))
    val tv = bi.agg(count(lit(1)).as("_t"))
      .crossJoin(uni.agg((count(lit(1)) + lit(1)).as("_v")))
    // Scored side at class grain (the lmKeySums discipline): the
    // per-text (Σfx, n_bigrams) pair is a pure function of
    // tokens(text), so it evaluates once per distinct class and fans
    // out through one key join; docs with < 2 tokens stay absent at
    // either grain.
    val docTier = tokenClasses(graft.engine.Engine.spread(docs), textCol,
      idCol)
    val shts = call_function("graft_hash_tokens", tokens(col("_t")))
    val dg = docTier.relation()
      .select(col("_k").as("_id"), shts.as("_ht"))
      .select(col("_id"), col("_ht"), posexplode(call_function(
        "graft_window_hashes", col("_ht"), lit(2))))
      .withColumnsRenamed(Map("pos" -> "_p", "col" -> "_hg"))
      .select(col("_id"),
        element_at(col("_ht"), col("_p") + 1).as("_h1"),
        element_at(col("_ht"), col("_p") + 2).as("_h2"), col("_hg"))
      .join(hist, Seq("_h1"), "left")
      .join(bi.select(col("_hg"), col("_c12")), Seq("_hg"), "left")
      .join(n1b, Seq("_h2"), "left")
      .crossJoin(broadcast(tv))
    val pc = (coalesce(col("_n1b"), lit(0L)) + lit(1L)).cast("double") /
      (col("_t") + col("_v")).cast("double")
    val den = (coalesce(col("_c1"), lit(0L)) * 4).cast("double")
    val p = when(coalesce(col("_c1"), lit(0L)) > 0L &&
        coalesce(col("_n1f"), lit(0L)) > 0L,
      greatest(coalesce(col("_c12"), lit(0L)) * 4 - lit(3L), lit(0L))
        .cast("double") / den +
        (coalesce(col("_n1f"), lit(0L)) * 3).cast("double") / den * pc)
      .otherwise(pc)
    val fx = floor((lit(0.0) - call_function("graft_ln", p)) *
      lit(1073741824.0)).cast("long")
    val perKey = dg.select(col("_id").as("_k"), fx.as("_fx"))
      .groupBy(col("_k"))
      .agg(sum(col("_fx")).as("_sfx"), count(lit(1)).as("n_bigrams"))
    docTier.fanOut(perKey, "_id")
      .select(col("_id").as(idCol), col("n_bigrams"),
        ((col("_sfx").cast("double") / col("n_bigrams").cast("double")) /
          lit(1073741824.0)).as("kn_nll"))
  }

  /** Exact k-tile assignment over a scored frame — NTILE(k) ordered by
    * `(scoreCol, idCol)`, WITHOUT the partition-less window that NTILE
    * plans (Spark moves every row to ONE task for an unpartitioned
    * window — a stop, not a straggler, at 100 TB). Instead the global
    * rank comes from [[graft.transform.Ids.assignContiguousIds]]'s
    * two-pass shape: range-partition by the order key (partitions are
    * globally ordered, each sorted in parallel), per-partition counts →
    * driver prefix sums (#partitions longs), then `offset + local index`
    * — no single-partition stage anywhere. The tile is then pure integer
    * arithmetic on the rank, reproducing SQL NTILE's ragged-edge rule
    * exactly (first `n mod k` tiles get `⌈n/k⌉` rows): the oracle for
    * the window form verifies this form unchanged.
    *
    * Appends `tile` (1-based int). Total row count rides along as a
    * 1-row broadcast from an aggregate over the checkpointed ranked
    * frame (cheap: lineage is truncated, nothing recomputes). */
  def scoreTiles(scored: DataFrame, idCol: String, scoreCol: String,
                 k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // Score ONCE: the two-pass rank's range sampling + shuffle would
    // otherwise re-evaluate the caller's whole scoring chain per pass
    // (the r11 sf10 probe measured the LM-scored tile cut paying the
    // 50M-bigram scoring join ~3×). The scored frame is narrow by
    // contract; checkpointing it makes every downstream pass a scan.
    val base = graft.engine.Engine.materialize(scored)
    val ranked = graft.transform.Ids.assignContiguousIds(
      base, struct(col(scoreCol), col(idCol)), "_rk0", 0L)
    val n = ranked.agg(count(lit(1)).as("_n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("_rk", col("_rk0") + 1)
      .withColumn("_q", expr(s"_n div $k"))
      .withColumn("_cut", (col("_n") % k) * (col("_q") + 1))
      // ranks 1.._cut sit in the first (n mod k) tiles of size q+1; the
      // rest in size-q tiles. The q=0 branch (n < k) never reaches the
      // otherwise-division: every rank is <= _cut when q = 0.
      .withColumn("tile",
        when(col("_rk") <= col("_cut"),
          expr("(_rk - 1) div (_q + 1)") + lit(1L))
          .otherwise(col("_n") % k +
            expr("(_rk - _cut - 1) div _q") + lit(1L))
          .cast("int"))
      .drop("_rk0", "_rk", "_n", "_q", "_cut")
  }

  /** CCNet head/middle/tail bucketing by percentile THRESHOLDS — the
    * 100 TB form of the perplexity cut (Wenzek et al. 2020 §4.3): one
    * exact-percentile aggregate over the fluency score (the
    * [[graft.transform.Sanitize.winsorize]] pattern — at extreme scale
    * swap `percentile` for `approx_percentile`, same plan shape),
    * broadcast the 1-row (t1, t2) bounds, and bucket with a narrow
    * when-chain projection. No window, no global sort, no
    * single-partition stage; the corpus streams once through a
    * codegen'd comparison.
    *
    * Differs from the NTILE form ([[scoreTiles]]) only at exact-tie
    * boundaries: every document with score <= t1 is 'head' (ties share
    * a bucket), where NTILE splits ties to hit exact tile sizes.
    * Appends `bucket` plus the band edges `nll_t1`/`nll_t2`. */
  def nllBucketsByThreshold(scored: DataFrame,
                            nllCol: String): DataFrame = {
    // Score ONCE (the scoreTiles discipline): the percentile aggregate
    // and the bucketing projection both consume the scored frame —
    // unpersisted, the caller's scoring chain runs twice.
    val base = graft.engine.Engine.materialize(scored)
    val bounds = base.agg(
        percentile(col(nllCol).cast("double"),
          array(lit(1.0 / 3), lit(2.0 / 3))).as("_pb"))
      .select(element_at(col("_pb"), 1).as("nll_t1"),
        element_at(col("_pb"), 2).as("nll_t2"))
    base.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        when(col(nllCol) <= col("nll_t1"), "head")
          .when(col(nllCol) <= col("nll_t2"), "middle")
          .otherwise("tail"))
  }

  /** Fixed-size token chunking with overlap — the RAG / context-window
    * preparation primitive: split each document into windows of
    * `chunkTokens` tokens advancing by `chunkTokens - overlapTokens`,
    * so consecutive chunks share `overlapTokens` tokens and no token
    * is dropped (the final chunk may be shorter). Chunk text is the
    * token-normalized join (the standard RAG form — retrieval indexes
    * tokenized text, not raw bytes). Documents with no tokens produce
    * no chunks.
    *
    * Pure codegen projection + one posexplode — no shuffle, no state,
    * stream-safe; chunk count per doc is exact integer arithmetic
    * (`1 + ceil_div(max(n - chunk, 0), stride)`), so the layout is
    * deterministic and oracle-exact. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     chunkTokens: Int, overlapTokens: Int = 0): DataFrame = {
    require(chunkTokens >= 1 && overlapTokens >= 0 &&
      overlapTokens < chunkTokens,
      s"bad chunk=$chunkTokens overlap=$overlapTokens")
    val stride = chunkTokens - overlapTokens
    // Class tier: chunk boundaries and chunk text are pure functions
    // of tokens(text) — lower∘trim-invariant — so on a clone-heavy
    // corpus the tokenize/slice/concat machinery runs once per
    // DISTINCT fingerprint class and per-doc chunk rows fan out through
    // one key join (output rows are identical; the join shuffles
    // class-grain chunk text — the distinct mass — plus (id, key)
    // pairs, never per-member text). Null texts have a null class key
    // and drop in the inner join, matching the row-grain n >= 1
    // filter; empty-token docs drop at either grain.
    val tier = GrainProbe.classes(graft.engine.Engine.spread(df),
      fingerprint(col(textCol)), col(textCol), col(idCol))
    val toks = tokens(col("_t"))
    val n = size(toks)
    // ceil_div(max(n - chunk, 0), stride) + 1 chunks for n >= 1
    val nChunks = ((greatest(n - lit(chunkTokens), lit(0)) +
      lit(stride - 1)) / lit(stride)).cast("int") + lit(1)
    val chunks = tier.relation().filter(n >= 1)
      .select(col("_k"), toks.as("_toks"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select(col("_k"), col("chunk_id"),
        slice(col("_toks"), col("chunk_id") * lit(stride) + 1,
          lit(chunkTokens)).as("_ct"))
      .select(col("_k"), col("chunk_id"),
        size(col("_ct")).as("n_chunk_tokens"),
        array_join(col("_ct"), " ").as("chunk_text"))
    tier.fanOut(chunks, idCol)
      .select(col(idCol), col("chunk_id"), col("n_chunk_tokens"),
        col("chunk_text"))
  }

  /** Top-k collocations by pointwise mutual information (Church &
    * Hanks 1990): PMI(w1,w2) = ln( (c12/B) / ((c1/T)·(c2/T)) ) over
    * corpus bigram/unigram instance counts, with a minimum bigram
    * count (PMI's classic failure mode is rare-pair noise — minCount
    * is the standard guard). Deterministic and oracle-exact with no
    * fixed-point step — each PMI is one `graft_ln` of a chain of
    * correctly-rounded divisions, no cross-row float sums; global
    * top-k orders by (pmi desc, pair asc).
    *
    * Scale shape: one (pair) count shuffle and one (token) count
    * shuffle, both with map-side partials; the unigram table joins
    * back twice as a vocabulary-sized dimension; totals ride along as
    * a broadcast 1-row aggregate; the final top-k is a
    * TakeOrderedAndProject (no global sort materializes). */
  def collocationsPmi(df: DataFrame, textCol: String, k: Int = 20,
                      minCount: Long = 5L): DataFrame = {
    require(k >= 1 && minCount >= 1, s"bad k=$k / minCount=$minCount")
    // Copy-weighted distinct tier (the nbTrainHashed algebra): unigram
    // and bigram INSTANCE counts per distinct text × copy multiplicity
    // equal the member-grain counts exactly, while the explode — the
    // dominant cost at 100× clone mass — runs over distinct texts.
    // Key = [[fingerprint]] (lower∘trim): tokens() normalizes the same
    // way, so the counts are invariant across the class.
    val toks = GrainProbe.classes(graft.engine.Engine.spread(df),
        fingerprint(col(textCol)), col(textCol))
      .relation().select(col("_m"), tokens(col("_t")).as("_toks"))
    // Materialize the vocabulary-sized count tables: each feeds TWO
    // consumers (the PMI join AND its total), and AQE exchange reuse
    // does not cross the broadcast-stage boundary the totals ride in —
    // without the cut the corpus explode would run once per consumer
    // (verified with tools.Explain). After the cut the corpus is
    // touched exactly twice (unigram pass, bigram pass).
    val uni = graft.engine.Engine.materialize(
      toks.select(col("_m"), explode(col("_toks")).as("_w"))
        .groupBy(col("_w")).agg(sum(col("_m")).as("_c")))
    val biAll = graft.engine.Engine.materialize(
      toks.select(col("_m"), explode(shingles(col("_toks"), 2)).as("pair"))
        .groupBy(col("pair")).agg(sum(col("_m")).as("n_pair")))
    val bi = biAll.filter(col("n_pair") >= minCount)
    val totals = uni.agg(sum(col("_c")).as("_t"))
      .crossJoin(biAll.agg(sum(col("n_pair")).as("_b")))
    val u1 = uni.select(col("_w").as("_w1"), col("_c").as("_c1"))
    val u2 = uni.select(col("_w").as("_w2"), col("_c").as("_c2"))
    val pmi = call_function("graft_ln",
      (col("n_pair").cast("double") / col("_b").cast("double")) /
        ((col("_c1").cast("double") / col("_t").cast("double")) *
          (col("_c2").cast("double") / col("_t").cast("double"))))
    bi.withColumn("_w1", element_at(split(col("pair"), " "), 1))
      .withColumn("_w2", element_at(split(col("pair"), " "), 2))
      .join(u1, Seq("_w1"))
      .join(u2, Seq("_w2"))
      .crossJoin(broadcast(totals))
      .select(col("pair"), col("n_pair"), pmi.as("pmi"))
      .orderBy(col("pmi").desc, col("pair").asc)
      .limit(k)
  }

  /** Token-distribution drift between two corpus slices: symmetric
    * pair of add-one-smoothed KL divergences over the union vocabulary
    * — the distribution-shift monitor a pipeline runs between crawl
    * snapshots / sources before mixing them (KL(p‖q) = Σ p·ln(p/q),
    * Kullback & Leibler 1951; smoothing over the union vocab keeps
    * both divergences finite). Returns ONE row: vocab size, token
    * totals, and both divergences in nats.
    *
    * Numeric determinism: per-token p, q, and ln(p/q) are chains of
    * correctly-rounded divisions plus `graft_ln`; the vocab-sized sums
    * are exact fixed-point at 2⁴⁰ (finer than the 2³⁰ used for
    * per-document scores because per-token terms are ~p·ln ≈ 1e-4 —
    * resolution 1e-12 keeps 8 digits per term; the scaled sum stays
    * far under 2⁶³ until vocabularies reach ~10¹⁰ types).
    *
    * Scale shape: one token-count aggregate per slice (map-side
    * partials), a vocabulary-sized full outer join, 1-row totals
    * broadcast back, and a final 1-row sum — corpus text is touched
    * once per slice, everything after is vocabulary-sized. */
  def tokenDrift(dfA: DataFrame, dfB: DataFrame,
                 textCol: String): DataFrame = {
    def counts(df: DataFrame, cn: String) =
      graft.engine.Engine.spread(df)
        .select(explode(tokens(col(textCol))).as("_w"))
        .groupBy(col("_w")).agg(count(lit(1)).as(cn))
    // Materialized: the vocab table feeds both the 1-row totals and the
    // per-token terms; without the cut each consumer would re-run both
    // corpus-sized count passes (AQE reuse stops at the broadcast
    // stage — same finding as collocationsPmi, tools.Explain).
    val joined = graft.engine.Engine.materialize(
      counts(dfA, "_ca").join(counts(dfB, "_cb"), Seq("_w"), "full_outer")
        .select(col("_w"), coalesce(col("_ca"), lit(0L)).as("_ca"),
          coalesce(col("_cb"), lit(0L)).as("_cb")))
    val totals = joined.agg(sum(col("_ca")).as("_ta"),
      sum(col("_cb")).as("_tb"), count(lit(1)).as("_v"))
    val p = (col("_ca").cast("double") + lit(1.0)) /
      (col("_ta").cast("double") + col("_v").cast("double"))
    val q = (col("_cb").cast("double") + lit(1.0)) /
      (col("_tb").cast("double") + col("_v").cast("double"))
    val scale = 1099511627776.0 // 2^40
    def fx(e: Column) = floor(e * lit(scale)).cast("long")
    joined.crossJoin(broadcast(totals))
      .select(col("_ta"), col("_tb"), col("_v"),
        fx(p * call_function("graft_ln", p / q)).as("_fab"),
        fx(q * call_function("graft_ln", q / p)).as("_fba"))
      .groupBy(col("_ta"), col("_tb"), col("_v"))
      .agg(sum(col("_fab")).as("_sab"), sum(col("_fba")).as("_sba"))
      .select(col("_v").as("n_vocab"), col("_ta").as("tokens_a"),
        col("_tb").as("tokens_b"),
        (col("_sab").cast("double") / lit(scale)).as("kl_ab"),
        (col("_sba").cast("double") / lit(scale)).as("kl_ba"))
  }

  /** Hashed bigram-LM model for the stream-safe scorer: sorted
    * (xxhash64/combined hash → count) arrays plus the smoothing mass V,
    * foldable into a plan as literals. */
  final case class LmModel(uniKeys: Array[Long], uniVals: Array[Long],
                           biKeys: Array[Long], biVals: Array[Long],
                           v: Double)

  /** Train the hashed model for [[streamLmScore]] from the trusted
    * reference slice — the SAME counts [[lmScore]] aggregates, with
    * words keyed by xxhash64 (seed 42, `graft_hash_tokens`' hash) and
    * bigrams by the shingle-window combine, collected driver-side and
    * sorted for binary search. Bounded collect BY CONTRACT: the tables
    * are vocabulary-sized (unigram types + observed bigram types), the
    * same bound that lets KenLM models ship to every worker as files —
    * here they ship inside the plan. Fails loudly on a 64-bit key
    * collision (none can occur until vocabularies reach ~2³² types;
    * at fixture scale it would indicate a hashing bug). */
  def lmTrainHashed(ref: DataFrame, textCol: String): LmModel = {
    import graft.expressions.NativeExprs
    def hashWord(w: String): Long =
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(w), 42L)
    def sortedCounts(rows: Array[(Long, Long)],
                     what: String): (Array[Long], Array[Long]) = {
      val s = rows.sortBy(_._1)
      s.iterator.sliding(2).withPartial(false).foreach { w =>
        require(w.head._1 != w.last._1,
          s"graft lm: 64-bit $what key collision — refusing a lossy model")
      }
      (s.map(_._1), s.map(_._2))
    }
    // REPRESENTATIVE-GRAIN counting (training corpora are clone-heavy
    // by default): tokenize/shingle once per DISTINCT text and weight
    // each n-gram by the class's copy count — n-gram counts are pure
    // per-text functions, so Σ_docs count_g(doc) = Σ_classes
    // m·count_g(text), exactly. The explode (the expensive stage)
    // scales with distinct mass; the model is bit-identical to the
    // per-row count (pinned in TextOpsSpec).
    val byText = graft.engine.Engine.materialize(
      ref.groupBy(fingerprint(col(textCol)).as("_fp"))
        .agg(count(lit(1)).as("_m"), min(col(textCol)).as("_t")))
    val uni = byText
      .select(col("_m"), explode(tokens(col("_t"))).as("_w"))
      .groupBy(col("_w")).agg(sum(col("_m")).as("_c"))
      .collect().map(r => (hashWord(r.getString(0)), r.getLong(1)))
    val bi = byText
      .select(col("_m"), explode(shingles(tokens(col("_t")), 2)).as("_g"))
      .groupBy(col("_g")).agg(sum(col("_m")).as("_c"))
      .collect().map { r =>
        val ws = r.getString(0).split(' ')
        val hs = Array(hashWord(ws(0)), hashWord(ws(1)))
        (NativeExprs.combineWindow(hs, 0, 2), r.getLong(1))
      }
    graft.engine.Engine.release(byText)
    val (uk, uv) = sortedCounts(uni, "unigram")
    val (bk, bv) = sortedCounts(bi, "bigram")
    LmModel(uk, uv, bk, bv, uni.length.toDouble + 1.0)
  }

  /** The per-document (sfx, n_bigrams) struct of [[streamLmScore]] as a
    * raw column — usable directly in a streaming filter predicate. */
  def lmNllStruct(textCol: Column, model: LmModel): Column =
    lmNllFromHashes(
      call_function("graft_hash_tokens", tokens(textCol)), model)

  /** [[lmNllStruct]] over a pre-hashed token column. */
  def lmNllFromHashes(th: Column, model: LmModel): Column =
    call_function("graft_lm_nll", th,
      lit(model.uniKeys), lit(model.uniVals),
      lit(model.biKeys), lit(model.biVals), lit(model.v))

  /** STREAM-SAFE [[lmScore]]: identical output schema and (absent hash
    * collisions) identical values, but as a pure projection — token
    * hashes probed against the literal-folded model, no join, no
    * shuffle, no state — so a fluency gate can sit in the same
    * streaming DAG as the quarantine/decontamination/blocklist
    * predicates. Docs with fewer than two tokens are dropped (absent
    * from the batch op too). */
  def streamLmScore(df: DataFrame, idCol: String, textCol: String,
                    model: LmModel): DataFrame =
    df.withColumn("_lm", lmNllStruct(col(textCol), model))
      .filter(col("_lm").isNotNull)
      .select(col(idCol),
        col("_lm.n_bigrams").cast("long").as("n_bigrams"),
        ((col("_lm.sfx").cast("double") /
          col("_lm.n_bigrams").cast("double")) /
          lit(1073741824.0)).as("mean_nll"))

  /** Trained NB quality model as plan-literal tables: sorted token-hash
    * keys, fixed-point log-odds values, the class prior, and the
    * unseen-token default — everything [[streamNbScore]] folds into a
    * projection. */
  final case class NbModel(keys: Array[Long], vals: Array[Long],
                           priorFx: Long, defaultFx: Long)

  /** Train the hashed NB quality model for [[streamNbScore]] — the SAME
    * counts and fixed-point algebra as [[nbQualityScore]] (xxhash64
    * token keys, `Math.log` ≡ graft_ln, floor(λ·2³⁰)), collected
    * driver-side and sorted for binary search. Bounded collect BY
    * CONTRACT: the weight table is vocabulary-sized (the
    * [[lmTrainHashed]] bound). Unseen tokens (possible on a stream,
    * impossible in the self-gating batch op) score the principled
    * zero-count log-odds `ln(N⁻+V) − ln(N⁺+V)`, shipped as the
    * dictionary default. Fails loudly on a 64-bit key collision. */
  def nbTrainHashed(docs: DataFrame, textCol: String,
                    trusted: Column): NbModel = {
    def hashWord(w: String): Long =
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(w), 42L)
    // Rep-grain counting per (text, class): identical texts with the
    // same trusted flag tokenize once and weight by copy count — the
    // class counts are Σ m·count_w(text), bit-identical to the per-row
    // explode (the lmTrainHashed discipline; pinned in TextOpsSpec).
    // A null trusted flag groups (and counts) as negative, exactly the
    // old when-otherwise routing. Consumed once → no checkpoint
    // (lmTrainHashed materializes its twin because two explodes read
    // it).
    val byText = docs
      .select(trusted.cast("boolean").as("_pos"),
        col(textCol).as("_t"))
      .groupBy(fingerprint(col("_t")).as("_fp"), col("_pos"))
      .agg(count(lit(1)).as("_m"), min(col("_t")).as("_t"))
    val cnt = byText
      .select(col("_pos"), col("_m"), explode(tokens(col("_t"))).as("_w"))
      .groupBy(col("_w"))
      .agg(sum(when(col("_pos"), col("_m")).otherwise(0L)).as("_cp"),
        sum(when(col("_pos"), lit(0L)).otherwise(col("_m"))).as("_cn"))
      .collect()
      .map(r => (hashWord(r.getString(0)), r.getLong(1), r.getLong(2)))
    val nd = docs.agg(
      sum(when(trusted.cast("boolean"), 1L).otherwise(0L)),
      sum(when(trusted.cast("boolean"), 0L).otherwise(1L)))
      .collect()(0)
    val (dp, dn) = (nd.getLong(0), nd.getLong(1))
    require(dp > 0 && dn > 0,
      s"nbTrainHashed: both classes must be non-empty (got +$dp/-$dn)")
    val v = cnt.length.toLong
    val np = cnt.map(_._2).sum
    val nn = cnt.map(_._3).sum
    def lam(cp: Long, cn: Long): Long = math.floor(
      (math.log((cp + 1).toDouble / (np + v).toDouble) -
        math.log((cn + 1).toDouble / (nn + v).toDouble)) *
        1073741824.0).toLong
    val sorted = cnt.sortBy(_._1)
    sorted.iterator.sliding(2).withPartial(false).foreach { w =>
      require(w.head._1 != w.last._1,
        "graft nb: 64-bit token key collision — refusing a lossy model")
    }
    NbModel(sorted.map(_._1), sorted.map(t => lam(t._2, t._3)),
      math.floor((math.log(dp.toDouble) - math.log(dn.toDouble)) *
        1073741824.0).toLong,
      lam(0L, 0L))
  }

  /** The raw NB score struct `(sum, n)` + prior as a column — the ONE
    * authority both [[streamNbScore]] and the ingest gate
    * ([[graft.jobs.StreamIngestJob]]) build on, so the two can never
    * drift from each other (review catch: the gate had its own copy of
    * this expression). */
  def nbScoreCol(textCol: Column, model: NbModel): Column =
    nbScoreFromHashes(
      call_function("graft_hash_tokens", tokens(textCol)), model)

  /** [[nbScoreCol]] over a pre-hashed token column. */
  def nbScoreFromHashes(th: Column, model: NbModel): Column =
    call_function("graft_dict_sum", th,
      lit(model.keys), lit(model.vals), lit(model.defaultFx))

  /** STREAM-SAFE [[nbQualityScore]]: identical output schema and —
    * scoring the model's own training corpus, absent hash collisions —
    * identical values, but as a PURE PROJECTION: the weight table rides
    * the plan as sorted literal arrays and `graft_dict_sum` folds it
    * over the token hashes in one pass (no join, no shuffle, no state),
    * so the trained quality gate can sit in the streaming ingest DAG
    * beside the LM fluency gate. Empty documents stay visible at the
    * prior, matching the batch op. */
  def streamNbScore(df: DataFrame, idCol: String, textCol: String,
                    model: NbModel): DataFrame =
    df.withColumn("_nb", nbScoreCol(col(textCol), model))
      .select(col(idCol),
        col("_nb.n").cast("long").as("n_tokens"),
        (col("_nb.sum") + lit(model.priorFx)).as("score_fx"))
      .withColumn("keep", col("score_fx") > 0L)

  /** Okapi BM25 top-k retrieval (Robertson & Zaragoza 2009, §3.3, with
    * Lucene's non-negative `ln(1 + (N-df+0.5)/(df+0.5))` idf): rank the
    * top `k` documents for each query in a SMALL query table (broadcast
    * by contract — the bounded side, like the LSH/IVF literals).
    *
    * Numeric determinism (and hash-exact oracle parity) by construction:
    *  - `k1`/`b` default to DYADIC rationals (1.25, 0.75), so every
    *    per-term arithmetic step is a correctly-rounded IEEE op that any
    *    engine reproduces bit-for-bit; `ln` routes through `graft_ln`
    *    (platform-libm parity — see [[graft.expressions.GraftLn]]).
    *  - the cross-term sum is EXACT FIXED-POINT: each per-term double is
    *    scaled by 2³⁰ (exponent shift — exact), floored (exact), and
    *    summed as BIGINT. Integer addition is order-free, so the score
    *    is identical across partition layouts, engines, and cluster
    *    sizes — and the aggregation keeps map-side partials, unlike
    *    sorted-fold tricks. Resolution 2⁻³⁰ ≈ 1e-9; headroom: scores
    *    are ≤ ~`ln(N)·(k1+1)·|terms|`, so the scaled sum fits a long
    *    until N·|terms| overflows ~2³³ orders of magnitude later.
    *
    * Scale shape: two corpus passes — one tokenize+explode pass cut to
    * query terms by a broadcast semi join BEFORE the tf shuffle (only
    * matched (id, term) pairs ever cross the network; the df aggregation
    * REUSES that shuffle via AQE exchange reuse — verified in the final
    * adaptive plan, `ReusedExchange` over the tf stage), and one
    * text-column-pruned pass for the corpus stats (N, sumdl — a 1-row
    * aggregate a production deployment precomputes once per corpus
    * snapshot and amortizes across query batches). df counts aggregate
    * with map-side partials (skew-safe for stopword-like terms — a
    * per-term window would funnel a hot term through one reducer) and
    * broadcast back. The final ranking groups (qid, id) and prunes
    * map-side via the constant-bound rank conjunct (WindowGroupLimit).
    * No inverted index is materialized — at 100 TB this is the
    * scatter-gather scoring pass a search tier runs per query batch. */
  /** Curriculum staging (Bengio et al. 2009): order the corpus
    * easy→hard and cut it into `stages` contiguous blocks, so training
    * can feed stage 0 first. Difficulty here is the rarity-weighted
    * token sum — `Σ_tokens floor(2³⁰ / corpus_count(token))` — an
    * integer score (engine- and layout-exact by construction) that
    * grows with both document length and how unusual its vocabulary
    * is; documents with no tokens score 0 and land in stage 0.
    *
    * Scale shape: one tokenize+explode pass feeds BOTH the corpus
    * token counts (map-side partials) and the per-doc rarity sum (one
    * shuffle join on the term, AQE picks broadcast when the vocab side
    * is small). The global easy→hard ordering does NOT use a
    * single-partition window: [[graft.transform.Ids.assignContiguousIds]]
    * range-partitions by (difficulty, id) and attaches ranks in two
    * skew-free passes, then `stage = floor(rank·stages/n)` needs only
    * the row count. The rank·stages product stays under 2⁵³ until the
    * corpus exceeds ~10¹⁵ rows, so the double floor is exact at any
    * realistic scale.
    */
  def curriculumStages(docs: DataFrame, idCol: String, textCol: String,
                       stages: Int = 5): DataFrame = {
    require(stages >= 1, s"stages must be >= 1: $stages")
    // (id, term) tf grain BEFORE the vocabulary join: the raw token
    // stream collapses map-side in the tf aggregation (partial
    // aggregation fires on groupBy, never on a join input), so the
    // term join carries one row per distinct (doc, term) instead of
    // one per token INSTANCE, and the corpus-count relation derives
    // from the SAME aggregated pass (no second tokenize+explode scan).
    // Σ_instances floor(2³⁰/c) = Σ_terms tf·floor(2³⁰/c) exactly —
    // integer multiply of the shared floored value.
    //
    // Class tier: difficulty is a pure function of tokens(text) given
    // the corpus counts, and the counts themselves are Σ_class m·tf
    // (the weighted distinct-text algebra — exact integer sums), so on
    // a clone-heavy corpus the tokenize+explode pass — measured 28 s of
    // the 46 s sf10 total — runs once per DISTINCT fingerprint class
    // and per-doc difficulties fan out through one key join. The
    // ranking below stays member-grain either way (every document
    // needs its own rank).
    val tier = GrainProbe.classes(graft.engine.Engine.spread(docs),
      fingerprint(col(textCol)), col(textCol), col(idCol))
    val tf = tier.relation()
      .select(col("_k"), col("_m"), explode(tokens(col("_t"))).as("_term"))
      .groupBy(tier.keepWeight(col("_k"), col("_term")): _*)
      .agg(count(lit(1)).as("_tf"))
    val cnt = tf.groupBy(col("_term")).agg(tier.memberSum(col("_tf")).as("_c"))
    val dfx = tier.fanOut(tf.join(cnt, Seq("_term"))
        .groupBy(col("_k"))
        .agg(sum(col("_tf") * floor(lit(1073741824.0) /
          col("_c").cast("double")).cast("long")).as("_fx")), "_id")
    val alld = docs.select(col(idCol))
      .join(dfx, col(idCol) === col("_id"), "left")
      .select(col(idCol), coalesce(col("_fx"), lit(0L))
        .as("difficulty_fx"))
    val ranked = graft.transform.Ids.assignContiguousIds(alld,
      struct(col("difficulty_fx"), col(idCol)), "_rank")
    val n = ranked.agg(count(lit(1)).as("_n"))
    ranked.crossJoin(broadcast(n))
      .select(col(idCol), col("difficulty_fx"),
        floor((col("_rank") * lit(stages.toLong)).cast("double") /
          col("_n").cast("double")).cast("int").as("stage"))
  }

  /** Distinct-n diversity ratios per group — `distinct n-grams /
    * total n-grams` for n = 1, 2 (Li et al. 2016's distinct-1/2): the
    * standard lexical-diversity report for generated or scraped text;
    * template spam scores near 0, natural text much higher.
    *
    * Gram identity is the codegen'd 64-bit window hash
    * (`graft_hash_tokens` / `graft_window_hashes`, the spans-family
    * contract): corpus-sized exchanges carry fixed-width longs, never
    * gram strings, and the n-gram loop is generated Java rather than
    * an interpreted HOF lambda (measured 4× on the fixture corpus).
    * Distinct-hash counts equal distinct-gram counts unless 64-bit
    * windows collide — negligible below billions of distinct grams
    * (birthday bound ~2³²), the documented trade shared with the span
    * operators.
    *
    * Scale shape: ONE tokenize+hash pass per n; the (group, hash)
    * counted relation yields the total as a sum and the distinct as a
    * row count — no count_distinct-next-to-count Expand, no second
    * corpus pass. */
  def distinctNgramRatios(df: DataFrame, groupCol: String,
                          textCol: String): DataFrame = {
    def stats(n: Int): DataFrame = {
      val hs = call_function("graft_hash_tokens",
        tokens(col(textCol)))
      val g =
        if (n == 1) explode(hs)
        else explode(call_function("graft_window_hashes", hs, lit(n)))
      df.select(col(groupCol).as("grp"), g.as("_gh"))
        .groupBy(col("grp"), col("_gh"))
        .agg(count(lit(1)).as("_c"))
        .groupBy(col("grp"))
        .agg(sum(col("_c")).as(s"total_${n}gram"),
          count(lit(1)).as(s"distinct_${n}gram"))
        .withColumn(s"distinct_$n",
          col(s"distinct_${n}gram").cast("double") /
            col(s"total_${n}gram").cast("double"))
    }
    // LEFT join from the unigram frame: a group whose documents are all
    // single-token has zero bigrams — it must surface with null bigram
    // columns, not vanish from a diversity report whose whole point is
    // catching degenerate text (r8 review finding).
    stats(1).join(stats(2), Seq("grp"), "left")
      .withColumnRenamed("grp", groupCol)
  }

  /** Cross-corpus n-gram novelty: for every non-reference group, how
    * many of its distinct word n-grams do NOT occur anywhere in the
    * reference group — the crawl-refresh valuation metric ("is this
    * new source actually new text, or a re-skin of what we have?").
    * Near-zero novelty → the source adds duplicate mass; near-10⁶ ppm
    * → genuinely fresh content. Groups stay visible even when they
    * have no n-grams at all (null counts, per the diversity-report
    * posture).
    *
    * Identity is the codegen'd window-hash long (the spans/diversity
    * contract — [[distinctNgramRatios]]): counts are set cardinalities,
    * invariant under the injective hash, so the DuckDB twin counts the
    * same sets over gram STRINGS. Novelty ppm is integer floor
    * division — engine-exact.
    *
    * Scale shape: both sides reduce to distinct (group, gram-hash) /
    * (gram-hash) relations before the anti join — longs only, text
    * never shuffles; the reference side's distinct relation is the
    * only thing the join redistributes. */
  def ngramNovelty(df: DataFrame, groupCol: String, textCol: String,
                   refValue: String, n: Int = 2): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    val hs = call_function("graft_hash_tokens", tokens(col(textCol)))
    val g =
      if (n == 1) explode(hs)
      else explode(call_function("graft_window_hashes", hs, lit(n)))
    // distinct-(group, gram) is duplicate-blind, so the explode — the
    // dominant cost — runs over DISTINCT (group, text) pairs on
    // clone-heavy corpora (SketchOps.groupTextClasses, the KMV/bloom
    // tier): identical gram sets, 1/clone-factor of the tokenize work.
    val spread = graft.engine.Engine.spread(
      graft.ext.SketchOps.groupTextClasses(df, groupCol, textCol)
        .relation(col(groupCol))
        .select(col(groupCol), col("_t").as(textCol)))
    val refG = spread.filter(col(groupCol) === refValue)
      .select(g.as("_gh")).distinct()
    val newG = spread.filter(col(groupCol) =!= refValue)
      .select(col(groupCol).as("grp"), g.as("_gh")).distinct()
    val tot = newG.groupBy(col("grp"))
      .agg(count(lit(1)).as("distinct_grams"))
    val novel = newG.join(refG, Seq("_gh"), "left_anti")
      .groupBy(col("grp")).agg(count(lit(1)).as("novel_grams"))
    df.filter(col(groupCol) =!= refValue)
      .select(col(groupCol).as("grp")).distinct()
      .join(tot, Seq("grp"), "left")
      .join(novel, Seq("grp"), "left")
      .select(col("grp").as(groupCol), col("distinct_grams"),
        // a group WITH grams but zero novel ones is 0, not null
        when(col("distinct_grams").isNotNull,
          coalesce(col("novel_grams"), lit(0L))).as("novel_grams"))
      .withColumn("novelty_ppm",
        expr("(novel_grams * 1000000) div distinct_grams"))
  }

  /** PSI (population stability index) drift of a numeric column
    * between two slices — the model-monitoring staple
    * (`Σ (p_a − p_b)·ln(p_a/p_b)` over fixed buckets; > 0.2 is the
    * classic "investigate" threshold) applied to corpus features:
    * has this crawl's length/score distribution moved vs the last one?
    * Complements [[tokenDrift]] (vocabulary KL) with a numeric-feature
    * lens.
    *
    * Bucket edges are caller-fixed plan literals (comparable across
    * runs — never data-derived quantiles, which would drift with the
    * data they measure). NULL values are EXCLUDED from both slices
    * (counts and totals): the when-chain would otherwise fall through
    * to the top bucket and silently count nulls as '>= last edge',
    * skewing the index — PSI here measures the distribution of present
    * values; track null-rate drift separately via [[textQualityStats]]
    * / profile null counts. Add-one smoothing keeps empty buckets
    * finite.
    * Engine-exact: bucketing is a when-chain, `graft_ln` for libm
    * parity, and the bucket terms fold through a fixed-point
    * `floor(·2⁴⁰)` BIGINT sum. Scale shape: two grouped bucket counts
    * (map-side partials) + two 1-row totals; the bucket grid is
    * edges+1 rows. */
  def featurePsi(a: DataFrame, b: DataFrame, numCol: String,
                 edges: Seq[Double]): DataFrame = {
    require(edges.nonEmpty && edges == edges.sorted,
      s"edges must be non-empty ascending: $edges")
    val nb = edges.length + 1
    val aNn = a.filter(col(numCol).isNotNull)
    val bNn = b.filter(col(numCol).isNotNull)
    def bucket(df: DataFrame): DataFrame = {
      val bkt = edges.zipWithIndex
        .foldRight(lit(edges.length): Column) { case ((e, i), acc) =>
          when(col(numCol) < e, lit(i)).otherwise(acc)
        }
      df.select(bkt.cast("int").as("bkt"))
    }
    val spark = a.sparkSession
    val ca = bucket(aNn).groupBy(col("bkt")).agg(count(lit(1)).as("na"))
    val cb = bucket(bNn).groupBy(col("bkt")).agg(count(lit(1)).as("nb"))
    val ta = aNn.agg(count(lit(1)).as("ta"))
    val tb = bNn.agg(count(lit(1)).as("tb"))
    val grid = spark.range(nb.toLong)
      .select(col("id").cast("int").as("bkt"))
    val j = grid.join(ca, Seq("bkt"), "left").join(cb, Seq("bkt"), "left")
      .crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
      .select(col("bkt"),
        (coalesce(col("na"), lit(0L)) + lit(1L)).as("na1"),
        (coalesce(col("nb"), lit(0L)) + lit(1L)).as("nb1"),
        (col("ta") + lit(nb.toLong)).as("ta1"),
        (col("tb") + lit(nb.toLong)).as("tb1"))
    val pa = col("na1").cast("double") / col("ta1").cast("double")
    val pb = col("nb1").cast("double") / col("tb1").cast("double")
    val term = (pa - pb) * call_function("graft_ln", pa / pb)
    j.select(term.as("_term"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(floor(col("_term") * lit(1099511627776.0)).cast("long"))
          .as("psi_fx"))
      .select(col("n_buckets"), col("psi_fx"),
        (col("psi_fx").cast("double") / lit(1099511627776.0)).as("psi"))
  }

  /** Linear quality-classifier inference: score each document with a
    * FIXED weight vector over cheap integer features — the deploy side
    * of a fastText-style quality classifier (weights trained offline,
    * then shipped into the scoring projection as plan literals). The
    * decision is the sign of the linear score, which equals
    * thresholding the sigmoid at 0.5 — so no transcendental function
    * enters the plan and the gate is exact-integer end to end.
    *
    * Feature vector (all exact BIGINT counts, no ratios): stopword
    * hits, distinct tokens, all-digit tokens, and an over-length
    * penalty `max(0, n_tokens − lenCap)`. Scale shape: one narrow
    * codegen'd projection — no joins, no shuffles, no state. */
  def qualityClassify(df0: DataFrame, textCol: String,
                      wStop: Long = 3L, wDistinct: Long = 1L,
                      wDigit: Long = -2L, wOverlen: Long = -1L,
                      bias: Long = -40L,
                      lenCap: Int = 150): DataFrame =
    // Raw-text class tier: features and score are pure text functions
    // — evaluate per distinct raw text on clone-heavy corpora.
    rawTextClasses(graft.engine.Engine.spread(df0), textCol).derive { text =>
      val toks = tokens(text)
      val stopHits = size(filter(toks,
        t => t.isin(EnglishStopwords: _*))).cast("long")
      val distinctToks = size(array_distinct(toks)).cast("long")
      val digitToks = size(filter(toks, t => t.rlike("^[0-9]+$")))
        .cast("long")
      val overlen = greatest(lit(0L),
        size(toks).cast("long") - lit(lenCap.toLong))
      Seq(
        "n_tokens" -> size(toks).cast("long"),
        "stop_hits" -> stopHits,
        "distinct_tokens" -> distinctToks,
        "digit_tokens" -> digitToks,
        "clf_score" ->
          (lit(bias) + lit(wStop) * col("stop_hits") +
            lit(wDistinct) * col("distinct_tokens") +
            lit(wDigit) * col("digit_tokens") + lit(wOverlen) * overlen),
        "keep" -> (col("clf_score") > 0L))
    }

  /** Multinomial Naive Bayes quality classifier TRAINED in-engine
    * (McCallum & Nigam 1998) — the train side [[qualityClassify]]
    * deliberately outsources. This is the GPT-3/CCNet-recipe quality
    * gate (Brown et al. 2020 §A; Wenzek et al. 2020): label a trusted
    * slice positive, the rest negative, learn per-token log-odds, and
    * keep documents the classifier scores positive. Trains on and
    * scores the SAME frame (the self-gating form), so every scored
    * token is in the vocabulary by construction.
    *
    * Exactness: per-token weight λ_t = ln((c⁺_t+1)/(N⁺+V)) −
    * ln((c⁻_t+1)/(N⁻+V)) in fixed point `floor(λ·2³⁰)` (platform-libm
    * `graft_ln` over exact-integer operands — the [[lmScore]]
    * contract), prior = `floor((ln d⁺ − ln d⁻)·2³⁰)`; a document's
    * score is the prior plus the SUM of its occurrences' fixed-point
    * weights — integer addition, order-free, bit-identical on any
    * layout/engine. Both classes must be non-empty (an empty class
    * puts ±∞ in the prior, exactly as undefined as NB itself is
    * there). Empty documents stay visible at `score_fx = prior`.
    *
    * Scale shape: the corpus tokenizes once into an (id, class,
    * token-hash) stream (xxhash64 keys — gram strings never shuffle,
    * the [[lmScore]] discipline); training reduces it to the
    * VOCABULARY-sized (hash, c⁺, c⁻) relation in one grouped count
    * with map-side partials; the weight table joins back as a
    * dimension join (AQE broadcasts while it fits); per-doc scoring is
    * one id-keyed aggregate, partials intact. The 1-row totals
    * (N⁺, N⁻, V, d⁺, d⁻) ride as broadcast cross joins. No window, no
    * driver-side state, nothing corpus-sized crosses the network
    * twice. */
  def nbQualityScore(docs: DataFrame, idCol: String, textCol: String,
                     trusted: Column): DataFrame = {
    val base = graft.engine.Engine.spread(docs)
      .select(col(idCol).as("_id"), col(textCol).as("_tx"),
        trusted.cast("boolean").as("_pos"))
    // Class tier (the nbTrainHashed weighted algebra, GrainProbe-
    // gated): token instance counts are Σ_class m·tf — training counts
    // key on (text class, label) since the label can vary across docs
    // sharing a text, and the per-doc score/token-count is a pure
    // function of the text so it evaluates once per class and fans out
    // through the id join. All integer sums — bit-identical to the
    // member-grain stream at any clone mass.
    val tier = rawTextClasses(base, "_tx", "_id")
    def hashed(t: Column): Column =
      call_function("graft_hash_tokens", tokens(t))
    val cnt = tier.relation(col("_pos"))
      .select(col("_pos"), col("_m"), explode(hashed(col("_t"))).as("_h"))
      .groupBy(col("_h")).agg(
        tier.memberSum(when(col("_pos"), 1L).otherwise(0L)).as("_cp"),
        tier.memberSum(when(col("_pos"), 0L).otherwise(1L)).as("_cn"))
    val tot = cnt.agg(count(lit(1)).as("_v"),
      sum(col("_cp")).as("_np"), sum(col("_cn")).as("_nn"))
    val nd = base.agg(
      sum(when(col("_pos"), 1L).otherwise(0L)).as("_dp"),
      sum(when(col("_pos"), 0L).otherwise(1L)).as("_dn"))
    def ln(c: Column): Column = call_function("graft_ln", c)
    val lam = cnt.crossJoin(broadcast(tot))
      .select(col("_h"),
        floor((ln((col("_cp") + 1).cast("double") /
            (col("_np") + col("_v")).cast("double")) -
          ln((col("_cn") + 1).cast("double") /
            (col("_nn") + col("_v")).cast("double"))) *
          lit(1073741824.0)).cast("long").as("_lam"))
    val perDoc = tier.fanOut(tier.relation()
        .select(col("_k"), explode(hashed(col("_t"))).as("_h"))
        .join(lam, Seq("_h"))
        .groupBy(col("_k"))
        .agg(sum(col("_lam")).as("_s"), count(lit(1)).as("_nt")), "_id")
    val prior = nd.select(
      floor((ln(col("_dp").cast("double")) -
        ln(col("_dn").cast("double"))) *
        lit(1073741824.0)).cast("long").as("_prior"))
    base.select(col("_id"))
      .join(perDoc, Seq("_id"), "left")
      .crossJoin(broadcast(prior))
      .select(col("_id").as(idCol),
        coalesce(col("_nt"), lit(0L)).as("n_tokens"),
        (col("_prior") + coalesce(col("_s"), lit(0L))).as("score_fx"))
      .withColumn("keep", col("score_fx") > 0L)
  }

  /** Corpus-law statistics: Zipf rank-frequency fit + Heaps-style
    * vocabulary counts — the one-row diagnostic dataset papers report
    * to show a corpus "looks like natural language" (log-log slope near
    * −1) versus template/boilerplate spam (flat or cliff-shaped).
    *
    * Fit: least-squares slope/intercept of `ln(freq)` on `ln(rank)`
    * over the top-`topN` vocabulary. Engine-exact: `graft_ln` for
    * platform-libm parity, and all four regression sums are
    * fixed-point `floor(·2³⁰)` BIGINTs (order-free), so slope and
    * intercept are bit-identical across engines and layouts.
    *
    * Scale shape: one tokenize pass feeds the vocab counts (map-side
    * partials) and the 1-row totals; the top-`topN` cut is a
    * TakeOrdered (no vocab-wide window); only `topN` rows (bounded,
    * default 1000 — the standard Zipf fit range) enter the ranked
    * regression, so the single-partition ranking window is over a
    * constant-size set. */
  def corpusZipf(docs: DataFrame, textCol: String,
                 topN: Int = 1000): DataFrame = {
    require(topN >= 2, s"topN must be >= 2: $topN")
    val tk = graft.engine.Engine.spread(docs)
      .select(explode(tokens(col(textCol))).as("_term"))
    // distinct count via the vocab frame, NOT count_distinct next to a
    // plain count — that mix plans an Expand (doubles the agg input)
    val tot = tk.agg(count(lit(1)).as("total_tokens"))
    val cnt = tk.groupBy(col("_term")).agg(count(lit(1)).as("_c"))
    val dc = cnt.agg(count(lit(1)).as("distinct_tokens"))
    val top = cnt.orderBy(col("_c").desc, col("_term")).limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("_c").desc, col("_term"))
    val pts = top.withColumn("_r", row_number().over(w))
      .select(
        call_function("graft_ln", col("_r").cast("double")).as("_x"),
        call_function("graft_ln", col("_c").cast("double")).as("_y"))
    def fx(c: Column): Column =
      sum(floor(c * lit(1073741824.0)).cast("long"))
    val sums = pts.agg(count(lit(1)).as("n_fit"),
      fx(col("_x")).as("_sx"), fx(col("_y")).as("_sy"),
      fx(col("_x") * col("_y")).as("_sxy"),
      fx(col("_x") * col("_x")).as("_sxx"))
    def dq(c: Column): Column =
      c.cast("double") / lit(1073741824.0)
    val nD = col("n_fit").cast("double")
    val denom = nD * dq(col("_sxx")) - dq(col("_sx")) * dq(col("_sx"))
    sums.crossJoin(tot).crossJoin(dc)
      // degenerate fit (single-term vocab: every x = ln(1) = 0 so the
      // denominator is exactly 0) → NULL, matching SQL's 0/0 = NULL
      // rather than Java's 0.0/0.0 = NaN
      .withColumn("zipf_slope",
        when(denom =!= 0.0,
          (nD * dq(col("_sxy")) - dq(col("_sx")) * dq(col("_sy"))) /
            denom))
      .withColumn("zipf_intercept",
        dq(col("_sy")) / nD - col("zipf_slope") * (dq(col("_sx")) / nD))
      .select(col("total_tokens"), col("distinct_tokens"), col("n_fit"),
        col("zipf_slope"), col("zipf_intercept"))
  }

  def bm25TopK(docs: DataFrame, queries: DataFrame,
               idCol: String, textCol: String,
               qidCol: String, qtextCol: String,
               k: Int = 10, k1: Double = 1.25,
               b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val base = graft.engine.Engine.spread(docs)
    val qterms = queries.select(col(qidCol).as("_qid"),
        explode(array_distinct(tokens(col(qtextCol)))).as("_term"))
    val qvocab = qterms.select(col("_term")).distinct()
    val avgdl = col("_sumdl").cast("double") / col("_n").cast("double")
    val idf = call_function("graft_ln",
      lit(1.0) + (col("_n").cast("double") - col("_df").cast("double") +
        lit(0.5)) / (col("_df").cast("double") + lit(0.5)))
    val tfNorm = (col("_tf").cast("double") * lit(k1 + 1.0)) /
      (col("_tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl").cast("double") / avgdl))
    val fixed = floor(idf * tfNorm * lit(1073741824.0)).cast("long")
    // Class tier: tf/dl are per-text, N and Σdl weight classes by
    // member count, df = Σ class sizes over classes containing the
    // term — so per-(query, class) scores are exact, and the final
    // per-query doc top-k expands only the top-k CLASSES by
    // (score desc, min-member-id asc): any class below k such classes
    // can contribute no final doc (each better class's min-id member
    // beats every member of the worse class — strictly on score, or on
    // the id tie-break via its smaller min id), so the expansion is
    // k·⌈clone factor⌉ rows per query, never the corpus.
    val tier = tokenClasses(base, textCol, idCol)
    val rel = tier.relation()
    val toks = rel.select(col("_k"), col("_m"), tokens(col("_t")).as("_toks"))
      .select(col("_k"), col("_m"), col("_toks"), size(col("_toks")).as("_dl"))
    // Corpus stats: one 1-row aggregate, broadcast by the literal join.
    val stats = toks.agg(tier.members.as("_n"),
      tier.memberSum(col("_dl")).as("_sumdl"))
    // Postings restricted to query terms BEFORE the tf aggregation.
    val postings = toks
      .select(col("_k"), col("_m"), col("_dl"),
        explode(col("_toks")).as("_term"))
      .join(broadcast(qvocab), Seq("_term"))
      .groupBy(tier.keepWeight(col("_k"), col("_term"), col("_dl")): _*)
      .agg(count(lit(1)).as("_tf"))
    val dfs = postings.groupBy(col("_term")).agg(tier.members.as("_df"))
    val agg = postings
      .join(broadcast(dfs), Seq("_term"))
      .join(broadcast(qterms), Seq("_term"))
      .crossJoin(broadcast(stats))
      .select(col("_qid"), col("_k"), fixed.as("_fx"))
      .groupBy(col("_qid"), col("_k"))
      .agg(sum(col("_fx")).as("_sfx"), count(lit(1)).as("_nterms"))
    def topK(d: DataFrame, byId: String, rank: String): DataFrame =
      d.withColumn(rank, row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("_qid"))
            .orderBy(col("_sfx").desc, col(byId).asc)))
        .filter(col(rank) <= k)
    // Row grain ranks the docs directly. Class grain ranks classes by
    // (score, min member id) first and expands only the top k.
    (if (!tier.rep) topK(tier.fanOut(agg, "_id"), "_id", "rnk")
      else topK(tier.fanOut(topK(
          agg.join(rel.select(col("_k"), col("_mid")), Seq("_k")),
          "_mid", "_crk"), "_id"), "_id", "rnk"))
      .select(col("_qid").as(qidCol), col("rnk"), col("_id").as(idCol),
        (col("_sfx").cast("double") / lit(1073741824.0)).as("score"),
        col("_nterms").as("n_terms"))
  }

  /** Per-document Shannon entropy of the token distribution —
    * `H = ln(n) − (Σ c·ln(c))/n` over per-doc token counts `c` — the
    * continuous counterpart of [[repetitionStats]]' duplicate-fraction
    * signals: near-zero entropy = one token repeated (template spam),
    * entropy ≈ ln(n) = all tokens distinct. Filtering on both tails is
    * the standard cheap gibberish/boilerplate screen.
    *
    * Engine-exact: each `c·ln(c)` term is `floor(c·graft_ln(c)·2³⁰)`
    * (order-free BIGINT sum), the division is integer `div n`, and
    * `ln(n)` is one more fixed-point term — bit-identical across
    * engines and layouts. Documents with no tokens stay visible with
    * entropy 0 (not dropped, not null-poisoned).
    *
    * Scale shape: one (doc, token-hash) count aggregate, one per-doc
    * aggregate — two shuffles, both keyed and map-side-combined, and
    * both carrying LONGS (token identity is the codegen'd hash, the
    * diversity-op contract: counts are hash-invariant, so strings
    * never shuffle); the final visibility join is id-sized. */
  def tokenEntropy(df: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val base = graft.engine.Engine.spread(df)
    // Per-key (token count, distinct, Σ floor(c·ln c·2³⁰)) aggregates —
    // pure functions of the text, so the key is the document id at row
    // grain and the raw-md5 text class on clone-heavy corpora (the
    // (key, hash) explode is the dominant cost and scales with the
    // chosen grain's mass); the left fan-out keeps token-less docs.
    def aggs(keyed: DataFrame): DataFrame = {
      val tk = keyed.select(col("_k"),
          explode(call_function("graft_hash_tokens",
            tokens(col("_t")))).as("_h"))
        .groupBy(col("_k"), col("_h")).agg(count(lit(1)).as("_c"))
      tk.groupBy(col("_k")).agg(
        sum(col("_c")).as("_n"),
        count(lit(1)).as("_d"),
        sum(floor(col("_c").cast("double") *
          call_function("graft_ln", col("_c").cast("double")) *
          lit(1073741824.0)).cast("long")).as("_sfx"))
    }
    val tier = rawTextClasses(base, textCol, idCol)
    tier.fanOut(aggs(tier.relation()), "_id", "left")
      .select(col("_id").as(idCol),
        coalesce(col("_n"), lit(0L)).as("n_tokens"),
        coalesce(col("_d"), lit(0L)).as("distinct_tokens"),
        coalesce(
          floor(call_function("graft_ln", col("_n").cast("double")) *
            lit(1073741824.0)).cast("long") -
            expr("_sfx div _n"), lit(0L)).as("entropy_fx"))
      .withColumn("entropy",
        col("entropy_fx").cast("double") / lit(1073741824.0))
  }

  /** Per-group quality gate: keep the top `keepPpm` parts-per-million
    * of each group by [[qualityClassify]] score — the "top 30% per
    * domain" curation step that a single global threshold gets wrong
    * (a global cut empties low-scoring domains entirely; per-group
    * fractions preserve the mixture while still dropping each domain's
    * worst tail). All rows stay visible with their rank and verdict —
    * the same report drives the filter (`kept`) and the audit.
    *
    * Engine-exact: integer classifier scores, rank ties broken by id,
    * and the cut `rank ≤ ceil(n·keepPpm/10⁶)` in integer arithmetic
    * (`(n·keepPpm + 999999) div 10⁶`) — every group keeps at least one
    * document for keepPpm ≥ 1.
    *
    * Scale shape (r10, mega-group-safe): a per-group rank window
    * (`row_number().over(partitionBy(group))`) sends EACH GROUP to one
    * task — real web corpora are domain-skewed, so one domain can be a
    * double-digit share of the corpus. The rank instead comes from
    * [[graft.transform.Ids.assignGroupedRanks]]: range-partition by
    * (group, score desc, id) so a mega-group SPANS partitions, count
    * per (partition, group), prefix-sum offsets over that tiny counts
    * relation, attach offset + local index. No per-group task anywhere;
    * PlanShapeSpec pins the absence of a corpus-frame window. */
  def qualityTopFraction(df: DataFrame, idCol: String, textCol: String,
                         groupCol: String,
                         keepPpm: Long = 300000L): DataFrame = {
    require(keepPpm >= 1 && keepPpm <= 1000000L,
      s"keepPpm must be in [1, 1000000]: $keepPpm")
    // Score ONCE (the scoreTiles discipline): the grouped-rank range
    // sampling + shuffle would re-evaluate the classifier's token/regex
    // chain per pass; checkpoint the narrow (id, group, score) frame.
    val scored = graft.engine.Engine.materialize(
      qualityClassify(df, textCol)
        .select(col(idCol), col(groupCol), col("clf_score")))
    graft.transform.Ids.assignGroupedRanks(scored, groupCol,
        Seq(col("clf_score").desc, col(idCol).asc),
        rankName = "_rk", countName = "n_group")
      // src_rank stays LONG: this operator exists for mega-groups that
      // are a double-digit share of a 100 TB corpus, where a group's
      // row count exceeds Int.MaxValue — an int cast would wrap
      // silently (non-ANSI) or throw (ANSI) exactly at the scale the
      // two-pass rank machinery is built for.
      .withColumnRenamed("_rk", "src_rank")
      .withColumn("kept", col("src_rank") <=
        expr(s"(n_group * $keepPpm + 999999) div 1000000"))
      .select(col(idCol), col(groupCol), col("clf_score"),
        col("src_rank"), col("n_group"), col("kept"))
  }

  /** DSIR data selection (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): score every raw-corpus document
    * by the log importance weight of a hashed bag-of-unigrams model —
    * `log w(d) = Σ_b count_d[b]·(ln p_target[b] − ln q_raw[b])` over `m`
    * hash buckets with add-one smoothing — and keep the top-`budget`
    * documents. This is the deterministic top-k variant of DSIR (their
    * §4 heuristic baseline); the sampled variant only adds Gumbel noise
    * to the same scores.
    *
    * Engine-exact: token buckets use the portable 60-bit md5 hash (the
    * [[DedupOps.nearDupPairsSimhashPortable]] contract) so DuckDB
    * reproduces bucket identity; each per-bucket log-ratio is the
    * difference of two `floor(graft_ln(·)·2³⁰)` BIGINTs, and a document
    * score is an integer Σ count·ratio_fx — order-free, overflow-safe
    * (|ratio_fx| ≲ 25·2³⁰, so even 10⁶-token documents stay < 2⁶³).
    *
    * Scale shape: the corpus token stream reduces to a
    * `(doc, bucket, count)` relation (map-side combine caps fan-out at
    * `m` rows per document), MATERIALIZED once (r10 — the unpersisted
    * plan re-ran the tokenize+explode for the raw-distribution pass;
    * at 100 TB that second pass is the dominant cost) and consumed by
    * both the raw-distribution aggregate and the per-document scores;
    * all totals derive from the m-row bucket tables, never a re-explode;
    * the m-row log-ratio table is broadcast; document scores are one
    * grouped sum; the budget cut is a TakeOrdered (no global window)
    * with the ranking window over the bounded `budget`-row set.
    * Nothing all-pairs, nothing driver-side beyond `m` longs. */
  /** PRE-materialization corpus `(doc, bucket, count)` relation of
    * [[dsirSelect]] — package-private so PlanShapeSpec can pin the
    * hidden stage's shape directly (exactly ONE tokenize/explode): the
    * registered query's final plan starts at the checkpoint's
    * `Scan ExistingRDD`, so its own "zero Generates" pin certifies only
    * that the CONSUMERS never re-explode, not how the relation itself
    * was built (the r10 lineage-truncation blind spot). */
  private[graft] def dsirDocBuckets(corpus: DataFrame, idCol: String,
                                    textCol: String, m: Int): DataFrame = {
    def bucket(tok: Column): Column =
      pmod(graft.ext.SketchOps.h60(tok), lit(m.toLong))
    val base = graft.engine.Engine.spread(corpus)
    def core(keyed: DataFrame): DataFrame =
      keyed.select(col("_k"), explode(tokens(col("_t"))).as("_tok"))
        .select(col("_k"), bucket(col("_tok")).as("_bkt"))
        .groupBy(col("_k"), col("_bkt")).agg(count(lit(1)).as("_cnt"))
    // Class tier: the (doc, bucket, count) relation is a pure text
    // function, so it computes once per distinct fingerprint and fans
    // out through the id-sized key join; token-less/null docs stay
    // absent at either grain (empty explode / inner join finds
    // nothing).
    val tier = tokenClasses(base, textCol, idCol)
    tier.fanOut(core(tier.relation()), "_id")
      .select(col("_id"), col("_bkt"), col("_cnt"))
  }

  def dsirSelect(corpus: DataFrame, target: DataFrame,
                 idCol: String, textCol: String, targetTextCol: String,
                 numBuckets: Int = 64, budget: Int = 500): DataFrame = {
    require(numBuckets >= 2, s"numBuckets must be >= 2: $numBuckets")
    require(budget >= 1, s"budget must be >= 1: $budget")
    val m = numBuckets
    def bucket(tok: Column): Column =
      pmod(graft.ext.SketchOps.h60(tok), lit(m.toLong))
    val spark = corpus.sparkSession
    // target distribution: m bucket counts + total. INSTANCE counts,
    // so the clone-heavy tier weights per-distinct-text counts by copy
    // multiplicity (the nbTrainHashed algebra) — the target is often a
    // corpus slice carrying the corpus's own clone mass.
    val tgtW = GrainProbe.classes(target, fingerprint(col(targetTextCol)),
        col(targetTextCol))
      .relation().select(col("_m"), col("_t").as("_tt"))
    val tgtB = tgtW.select(col("_m"),
        explode(tokens(col("_tt"))).as("_t"))
      .select(col("_m"), bucket(col("_t")).as("_bkt"))
    // materialized (≤ m rows): the bucket counts feed both the ratio
    // join and the total — unpersisted, the target (often a sizable
    // corpus slice) would tokenize twice
    val tc = graft.engine.Engine.materialize(
      tgtB.groupBy(col("_bkt")).agg(sum(col("_m")).as("_ct")))
    // totals derive from the m-row bucket tables (every token lands in
    // a bucket), NOT from a second pass over the token stream — without
    // this the unpersisted plan re-explodes the corpus once per use
    val tt = tc.agg(coalesce(sum(col("_ct")), lit(0L)).as("_tt"))
    val docB = graft.engine.Engine.materialize(
      dsirDocBuckets(corpus, idCol, textCol, m))
    val rc = docB.groupBy(col("_bkt")).agg(sum(col("_cnt")).as("_cr"))
    val rt = rc.agg(coalesce(sum(col("_cr")), lit(0L)).as("_tr"))
    val grid = spark.range(m.toLong).select(col("id").as("_bkt"))
    def lnFx(num: Column, den: Column): Column =
      floor(call_function("graft_ln",
        num.cast("double") / den.cast("double")) *
        lit(1073741824.0)).cast("long")
    val ratio = grid
      .join(tc, Seq("_bkt"), "left").join(rc, Seq("_bkt"), "left")
      .crossJoin(broadcast(tt)).crossJoin(broadcast(rt))
      .select(col("_bkt"),
        (lnFx(coalesce(col("_ct"), lit(0L)) + lit(1L),
            col("_tt") + lit(m.toLong)) -
          lnFx(coalesce(col("_cr"), lit(0L)) + lit(1L),
            col("_tr") + lit(m.toLong))).as("_lrfx"))
    val scored = docB.join(broadcast(ratio), Seq("_bkt"))
      .groupBy(col("_id"))
      .agg(sum(col("_cnt") * col("_lrfx")).as("_lwfx"),
        sum(col("_cnt")).as("_nt"))
    // empty documents stay visible with score 0 (they have no evidence
    // either way) rather than silently dropping out of the ranking
    val full = corpus.select(col(idCol).as("_id"))
      .join(scored, Seq("_id"), "left")
      .select(col("_id"),
        coalesce(col("_nt"), lit(0L)).as("n_tokens"),
        coalesce(col("_lwfx"), lit(0L)).as("logw_fx"))
    val top = full.orderBy(col("logw_fx").desc, col("_id")).limit(budget)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("logw_fx").desc, col("_id"))
    top.withColumn("rnk", row_number().over(w))
      .select(col("_id").as(idCol), col("n_tokens"), col("logw_fx"),
        (col("logw_fx").cast("double") / lit(1073741824.0)).as("logw"),
        col("rnk"))
  }
}
