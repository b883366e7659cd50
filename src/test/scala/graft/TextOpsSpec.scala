package graft

import org.apache.spark.sql.functions._
import graft.engine.GrainProbe
import graft.ext.TextOps

/** §2.10 text analysis: tokenization contract, shingles, quality metrics,
  * language ID, fingerprints. */
class TextOpsSpec extends SparkSpec {

  test("tokens: lowercase, split on non-alnum runs, drop empties") {
    import spark.implicits._
    val out = Seq("Hello,  World! x2", "", "---").toDF("text")
      .select(TextOps.tokens(col("text")).as("t"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("hello", "world", "x2"))
    assert(out(1) == Seq.empty)
    assert(out(2) == Seq.empty)
  }

  test("shingles: word n-grams; short docs yield empty") {
    import spark.implicits._
    val out = Seq("a b c d", "a b", "a").toDF("text")
      .select(TextOps.shingles(TextOps.tokens(col("text")), 3).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1) == Seq.empty)
    assert(out(2) == Seq.empty)
  }

  test("subwordCount: ceil(len/4) per token") {
    import spark.implicits._
    val out = Seq("abcd abcde a", "").toDF("text")
      .select(TextOps.subwordCount(col("text"))).collect()
    assert(out(0).getLong(0) == 1 + 2 + 1)
    assert(out(1).getLong(0) == 0)
  }

  test("qualityMetrics: ratios and flag") {
    import spark.implicits._
    val df = Seq(("the cat sat on the mat",  // 6 tokens, stopwords the,the
        "good"), ("!!!", "bad")).toDF("text", "tag")
    // keyed by tag: spread repartitions, collect order is not input order
    val m = TextOps.qualityMetrics(df, "text").collect()
      .map(r => r.getAs[String]("tag") -> r).toMap
    val good = m("good")
    assert(good.getAs[Long]("n_tokens") == 6)
    assert(good.getAs[Double]("stopword_ratio") == 2.0 / 6.0)
    assert(good.getAs[Boolean]("quality_ok"))
    val bad = m("bad")
    assert(bad.getAs[Long]("n_tokens") == 0)
    assert(!bad.getAs[Boolean]("quality_ok"))
  }

  test("languageId: marker votes with alphabetical-first tie-break") {
    import spark.implicits._
    // keyed by id: Engine.spread (the narrow-scan guard) repartitions,
    // so collect order is not input order
    val df = Seq((0, "the cat and the dog"),
      (1, "el perro y la casa que es"),
      (2, "der hund und die katze ist")).toDF("id", "text")
    val out = TextOps.languageId(df, "text")
      .select("id", "pred_lang").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out == Map(0 -> "en", 1 -> "es", 2 -> "de"))
  }

  test("assignPackedBins: contiguous bins per partition key, budget honored") {
    import spark.implicits._
    val df = Seq(
      (0L, "s1", 300L), (1L, "s1", 300L), (2L, "s1", 300L),
      (3L, "s2", 600L), (4L, "s2", 100L))
      .toDF("doc_id", "source", "n_tokens")
    val out = TextOps.assignPackedBins(df, "doc_id", "n_tokens", "source",
        maxTokens = 512)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pack_bin")))
    // s1: before = 0, 300, 600 → bins 0, 0, 1; s2: before = 0, 600 → 0, 1
    assert(out.toSeq == Seq((0L, 0L), (1L, 0L), (2L, 1L), (3L, 0L), (4L, 1L)))
  }

  test("languageIdTrigram classifies real-language snippets") {
    import spark.implicits._
    val df = Seq(
      (0, "the quick brown fox is running through the woods and the fields"),
      (1, "la casa de mis padres que está en los montes es muy grande"),
      (2, "der schnelle braune fuchs springt über die faulen hunde im schnee"),
      (3, "le chien de mon père est dans le jardin avec les enfants"))
      .toDF("id", "text")
    val out = TextOps.languageIdTrigram(df, "text")
      .select("id", "pred_lang_trigram").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out == Map(0 -> "en", 1 -> "es", 2 -> "de", 3 -> "fr"))
  }

  test("cleanText strips URLs/emails/control chars and normalizes") {
    import spark.implicits._
    val out = Seq(
      "Go to https://x.io/a?b=1 NOW",
      "ping Bob.Smith@example.com twice",
      "tab\therectl",
      "  spaced   out  ").toDF("t")
      .select(TextOps.cleanText(col("t"))).collect().map(_.getString(0))
    assert(out(0) == "go to now")
    assert(out(1) == "ping twice")
    assert(out(2) == "tab here ctl")
    assert(out(3) == "spaced out")
  }

  test("fingerprint is normalization-insensitive; rollingHash is order-sensitive") {
    import spark.implicits._
    val df = Seq(("  The Quick Fox ", "a b"), ("the quick fox", "b a"))
      .toDF("t1", "t2")
    val fp = df.select(TextOps.fingerprint(col("t1"))).collect()
    assert(fp(0).getString(0) == fp(1).getString(0))
    val rh = df.select(TextOps.rollingHash(TextOps.tokens(col("t2"))))
      .collect()
    assert(rh(0).getLong(0) != rh(1).getLong(0))
  }

  test("rollingHash equals for identical token streams") {
    import spark.implicits._
    val df = Seq("x y z", "x  y,z").toDF("t")
    val rh = df.select(TextOps.rollingHash(TextOps.tokens(col("t"))))
      .collect()
    assert(rh(0).getLong(0) == rh(1).getLong(0))
  }

  test("sentiment: lexicon hits sum, misses score 0, empty text is neutral") {
    import spark.implicits._
    val df = Seq(
      (1L, "This is a GREAT day, really good!"), // great(3)+good(2)=5
      (2L, "terrible and broken"),               // -3 + -2 = -5
      (3L, "neutral words only here"),           // no hits
      (4L, "")                                   // no tokens
    ).toDF("doc_id", "text")
    val out = TextOps.sentiment(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("score")).toSeq == Seq(5L, -5L, 0L, 0L))
    assert(out.map(_.getAs[Int]("polarity")).toSeq == Seq(1, -1, 0, 0))
    assert(out.map(_.getAs[Long]("n_hits")).toSeq == Seq(2L, 2L, 0L, 0L))
    assert(out(3).getAs[Double]("score_norm") == 0.0) // no divide-by-zero
    val r1 = out(0)
    assert(r1.getAs[Double]("score_norm") ==
      5.0 / r1.getAs[Int]("n_tokens"))
  }

  test("sentiment plan broadcasts the lexicon (no dictionary shuffle)") {
    import spark.implicits._
    val df = Seq((1L, "good bad")).toDF("doc_id", "text")
    val plan = TextOps.sentiment(df, "doc_id", "text")
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("vocabulary: frequency-ranked tokens with deterministic ties, top-k plan") {
    import spark.implicits._
    val df = Seq((1L, "b a a c b"), (2L, "a c")).toDF("id", "text")
    val v = TextOps.vocabulary(df, "text", 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(v == Seq(("a", 3L), ("b", 2L))) // b before c at count 2 (tie asc)
    val plan = TextOps.vocabulary(df, "text", 2)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must not globally sort:\n$plan")
  }

  test("redactPii scrubs emails, phone shapes, and long digit runs — and nothing else") {
    import spark.implicits._
    val cases = Seq(
      "mail a.b+c@sub.example.org now" -> "mail [EMAIL] now",
      "call 555-1234 today" -> "call [PHONE] today",
      "acct 1234567 open" -> "acct [NUM] open",
      "v2 build 1234 ok" -> "v2 build 1234 ok", // short digit runs survive
      "x@y.io or 111-2222 ref 99999" -> "[EMAIL] or [PHONE] ref [NUM]")
    val got = cases.map(_._1).toDF("t")
      .select(TextOps.redactPii(col("t"))).collect().map(_.getString(0))
    assert(got.toSeq == cases.map(_._2))
  }

  test("repetitionStats: exact fractions on constructed docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a a a"),         // 4 tokens, 1 distinct; 3 bigrams "a a"
      (2L, "w x y z"),         // all distinct
      (3L, "solo"),            // single token → no bigrams
      (4L, "")                 // no tokens → absent
    ).toDF("id", "text")
    val out = TextOps.repetitionStats(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(!out.contains(4L))
    assert(out(1L) == Seq(0.75, 1.0, 1.0 - 1.0 / 3, 1.0))
    assert(out(2L) == Seq(0.0, 0.25, 0.0, 1.0 / 3))
    assert(out(3L) == Seq(0.0, 1.0, 0.0, 0.0)) // bigram fracs default 0
  }

  test("blocklist filter drops contiguous-phrase matches only, normalized") {
    import spark.implicits._
    val df = Seq(
      (1L, "this has a Bad-Word! inside"),       // matches through punct/case
      (2L, "totally fine text here"),
      (3L, "contains the evil phrase somewhere"), // two-word phrase
      (4L, "evil text with phrase apart"),        // words present, NOT contiguous
      (5L, "")).toDF("id", "text")
    val kept = df.filter(!TextOps.containsBlockedPhrase(col("text"),
        Seq("bad word", "evil phrase")))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 5L))
    intercept[IllegalArgumentException] {
      TextOps.containsBlockedPhrase(col("text"), Seq("  ", ""))
    }
  }

  test("blocklist phrase length derives from the engine tokenizer, not ASCII") {
    import spark.implicits._
    // "İyi Değil" driver-side ASCII split → 2 alnum runs, but the engine
    // tokenizer (lower → split [^a-z0-9]+) yields "i", "yi", "de", "il"
    // (combining marks split the runs) — 4 tokens. A 2-shingle probe
    // would never match; deriving n through tokens() must.
    val df = Seq(
      (1L, "prefix İyi Değil suffix"),
      (2L, "iyi degil ascii variant"), // different normalization: no match
      (3L, "clean row")).toDF("id", "text")
    val kept = df.filter(!TextOps.containsBlockedPhrase(col("text"),
        Seq("İyi Değil")))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), s"got $kept")
  }

  test("blocklist predicate is stream-safe (stateless projection)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val clean = stream.toDF().toDF("id", "text")
      .filter(!TextOps.containsBlockedPhrase(col("text"), Seq("bad stuff")))
    val q = clean.writeStream.format("memory").queryName("blocked")
      .outputMode("append").start()
    stream.addData((1L, "good content"), (2L, "some bad stuff here"))
    q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT id FROM blocked")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L))
  }

  test("removeRepeatedSpans strips only covered positions; clones drop out") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta unique one"),   // shares the 4-gram...
      (2L, "alpha beta gamma delta unique two"),   // ...prefix with doc 1
      (3L, "totally different text entirely here"),
      (4L, "alpha beta gamma delta"),              // fully covered → drops
      (5L, "short text")                            // < n tokens → untouched
    ).toDF("id", "text")
    val out = TextOps.removeRepeatedSpans(df, "id", "text",
        n = 4, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // docs 1/2/4 share "alpha beta gamma delta" (and 1/2 additionally
    // "beta gamma delta unique"): positions 0-4 covered in 1/2, all of 4
    assert(out(1L) == "one" && out(2L) == "two", out.toString)
    assert(out(3L) == "totally different text entirely here")
    assert(!out.contains(4L))
    assert(out(5L) == "short text")
  }

  test("dupWindowFraction: exact per-doc coverage; agrees with the " +
      "removal path by construction") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta unique one"),
      (2L, "alpha beta gamma delta unique two"),
      (3L, "totally different text entirely here"),
      (4L, "alpha beta gamma delta"),              // fully covered
      (5L, "short text")                            // < n tokens → 0
    ).toDF("id", "text")
    val out = TextOps.dupWindowFraction(df, "id", "text",
        n = 4, minDocs = 2).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_tokens"),
          r.getAs[Long]("dup_ppm"))).toMap
    // docs 1/2: positions 0-4 covered ("alpha beta gamma delta" +
    // "beta gamma delta unique") → 5 of 6 tokens
    assert(out(1L) == (6L, 5L, 833333L) && out(2L) == (6L, 5L, 833333L))
    assert(out(3L) == (5L, 0L, 0L))
    assert(out(4L) == (4L, 4L, 1000000L))
    assert(out(5L) == (2L, 0L, 0L))
    // audit == removal: n_tokens − n_dup_tokens equals the kept stream
    val kept = TextOps.removeRepeatedSpans(df, "id", "text",
        n = 4, minDocs = 2).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").length).toMap
    for ((id, (n, d, _)) <- out)
      assert(kept.getOrElse(id, 0) == (n - d).toInt, s"doc $id")
  }

  test("hashEmbed: unit norm, identical texts → identical vectors, " +
      "layout-independent, exact signed counts") {
    import spark.implicits._
    // NB "alpha beta gamma alpha" at dim=16 is the measured zero-vector
    // cancellation case (all three tokens share a bucket, signs cancel)
    // — covered below; the main fixture uses a richer vocabulary.
    val df = Seq((1L, "alpha beta gamma delta epsilon zeta alpha"),
      (2L, "alpha beta gamma delta epsilon zeta alpha"), // clone of 1
      (3L, "totally different words here")).toDF("id", "text")
    val out = graft.ext.TextOps.hashEmbed(df, "id", "text", dim = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("w"), r.getAs[Double]("wn")))
      .toMap
    // clones embed identically
    val v1 = out.collect { case ((1L, j), v) => j -> v }.toMap
    val v2 = out.collect { case ((2L, j), v) => j -> v }.toMap
    assert(v1 == v2 && v1.nonEmpty, out.toString)
    // each vector has unit L2 norm
    for (id <- Seq(1L, 2L, 3L)) {
      val n = out.collect { case ((`id`, _), (_, wn)) => wn * wn }.sum
      assert(math.abs(n - 1.0) < 1e-12, s"doc $id norm $n")
    }
    // every w is a nonzero signed integer count bounded by the token
    // count
    assert(v1.values.forall { case (w, _) => w != 0 && math.abs(w) <= 7 })
    // zero-vector contract: full cancellation vanishes from the sparse
    // output (measured: these 3 tokens share one bucket at dim=16 and
    // the signs cancel 2-1-1)
    val zero = graft.ext.TextOps.hashEmbed(
      Seq((9L, "alpha beta gamma alpha")).toDF("id", "text"),
      "id", "text", dim = 16)
    assert(zero.count() == 0L)
    // layout independence
    val re = graft.ext.TextOps.hashEmbed(
        df.repartition(5, col("text")), "id", "text", dim = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("w"), r.getAs[Double]("wn")))
      .toMap
    assert(re == out)
  }

  test("spanCorrupt: lossless pair (substituting target spans into " +
      "input reproduces the token stream); no shuffle; deterministic") {
    val docs = graft.engine.Engine.table(spark, fixtureDir, "documents")
      .limit(50)
    val out = graft.ext.TextOps.spanCorrupt(docs, "doc_id", "text", 150)
    val rows = out.collect().map(r => r.getLong(0) ->
      (r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toMap
    val orig = docs.select(col("doc_id"),
        concat_ws(" ", graft.ext.TextOps.tokens(col("text"))).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val sentinel = "<extra_id_(\\d+)>".r
    for ((id, (inp, tgt, nSpans, nMasked)) <- rows) {
      // parse target into span k -> tokens
      val parts = sentinel.split(tgt).map(_.trim)
      val keys = sentinel.findAllMatchIn(tgt).map(_.group(1).toInt).toSeq
      assert(keys == (0 until nSpans.toInt), s"doc $id sentinel order")
      val spans = keys.zip(parts.drop(1)).toMap
      val rebuilt = sentinel.replaceAllIn(inp,
        m => java.util.regex.Matcher.quoteReplacement(
          spans(m.group(1).toInt)))
        .replaceAll(" +", " ").trim
      assert(rebuilt == orig(id), s"doc $id round-trip")
      // masked token count == total span tokens
      val spanToks = spans.values.map(
        s => if (s.isEmpty) 0 else s.split(" ").length).sum
      assert(spanToks == nMasked.toInt, s"doc $id mask count")
    }
    // corpus mask rate lands near 15% (binomial, thousands of trials)
    val tot = orig.values.map(_.split(" ").length).sum.toDouble
    val masked = rows.values.map(_._4).sum.toDouble
    assert(masked / tot > 0.10 && masked / tot < 0.20, masked / tot)
    // pure projection: no Exchange in the executed plan
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    // determinism across plans/layouts
    val again = graft.ext.TextOps.spanCorrupt(
        docs.repartition(7), "doc_id", "text", 150)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(again == rows)
  }

  test("bpeMerges releases superseded iterates as it goes") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val corpus = Seq.fill(20)("low lower lowest newer newest").toDF("text")
    val merges = TextOps.bpeMerges(corpus, "text", numMerges = 6)
    assert(merges.count() == 6)
    // Each round explicitly releases the previous iterate's checkpoint
    // blocks, so at most the FINAL iterate stays pinned — deterministic,
    // no GC/ContextCleaner involved (the old behavior left all
    // numMerges+1 iterates pinned until collection).
    val extra = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(extra.size <= 1, s"pinned iterates leaked: $extra")
  }

  test("bpeMerges learns the textbook merges on the classic corpus") {
    import spark.implicits._
    // Sennrich et al.'s running example shape: low×3, lower×2, newest×1
    val df = Seq("low low low", "lower lower", "newest").toDF("text")
    val merges = TextOps.bpeMerges(df, "text", numMerges = 3)
      .orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // 'l o' and 'o w' tie at 5 → lexicographic; then 'lo w' at 5;
    // then 'e r' (2) beats 'low e' (2) lexicographically
    assert(merges(0) == (0, "l o", 5L))
    assert(merges(1) == (1, "lo w", 5L))
    assert(merges(2) == (2, "e r", 2L))
  }

  test("bpeMergesBatched at window=1 equals classic sequential bpeMerges") {
    import spark.implicits._
    // window 1 admits one candidate per round (nothing ranks above it),
    // so every round IS a classic merge step — the batched trainer must
    // reproduce the sequential merge table rank-for-rank
    val df = Seq("low low low", "lower lower", "newest newest wide")
      .toDF("text")
    val seqT = TextOps.bpeMerges(df, "text", numMerges = 6)
      .orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    val batT = TextOps.bpeMergesBatched(df, "text", rounds = 6, window = 1)
      .orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(batT == seqT)
  }

  test("bpeMergesBatched: within-round independence, distinct pairs, " +
      "contiguous ranks") {
    import spark.implicits._
    val df = Seq("low lower lowest", "newer newest news",
      "wide wider widest", "the then there these").toDF("text")
    val out = TextOps.bpeMergesBatched(df, "text", rounds = 3, window = 12)
      .orderBy("merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(out.nonEmpty)
    assert(out.map(_._1).toSeq == out.indices.toSeq) // contiguous ranks
    val pairs = out.map(_._2)
    assert(pairs.distinct.length == pairs.length) // a merged pair never recurs
    // beats sequential depth-per-round: >1 merge somewhere in 3 rounds
    assert(out.length > 3, s"batching yielded no depth: ${out.toSeq}")
  }

  test("bpeEncodeStats applies the learned merges in rank order") {
    import spark.implicits._
    val df = Seq((1L, "low low low"), (2L, "lower lower"),
      (3L, "newest"), (4L, "")).toDF("id", "text")
    // After merges [l o, lo w, e r]: low→[low], lower→[low, er];
    // newest (n e w e s t) contains none of the merge pairs adjacent,
    // so all 6 character symbols remain.
    val out = TextOps.bpeEncodeStats(df, "id", "text",
        Seq("l o", "lo w", "e r"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out(1L) == (3L, 3L))  // 3 words x 1 subword
    assert(out(2L) == (2L, 4L))  // 2 words x [low, er]
    assert(out(3L) == (1L, 6L))  // newest: 6 char symbols
    assert(!out.contains(4L))    // no tokens -> absent
  }

  test("raw-text class tier == row grain for quality metrics and " +
      "langid on clone mass") {
    import spark.implicits._
    // Clone-heavy corpus with the class-key edge cases: null text (keeps
    // its row-grain nulls through the sentinel key), empty text, and a
    // CASE variant that is a DIFFERENT raw class (length/case-sensitive
    // deriveds must not collapse it onto its lowercase sibling).
    val base = Seq("the quick brown fox and the lazy dog in the yard",
      "THE QUICK BROWN FOX AND THE LAZY DOG IN THE YARD",
      "der hund und die katze ist nicht da", "", null)
    val rows = for { (t, i) <- base.zipWithIndex; c <- 0 until 6 }
      yield ((c * 10 + i).toLong, t)
    val df = rows.toDF("id", "text")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq.map {
        case dd: Double => math.round(dd * 1e9)
        case x => x
      }).toSet
    for (op <- Seq[(org.apache.spark.sql.DataFrame, String) =>
        org.apache.spark.sql.DataFrame](
        TextOps.qualityMetrics, TextOps.languageId)) {
      val (rep, _) = GrainProbe.forcing(rep = true)(op(df, "text"))
      val (mem, _) = GrainProbe.forcing(rep = false)(op(df, "text"))
      assert(rep.columns.toSeq == mem.columns.toSeq)
      assert(canon(rep) == canon(mem))
    }
    // The case variant keeps its own class: identical lowercase tokens
    // (same scores/ratios) but its own raw-text class — n_chars equal
    // here by construction, so pin via the zh/en marker asymmetry
    // instead: uppercase text still tokenizes lowercased.
    val q = TextOps.qualityMetrics(df, "text")
      .filter(col("id") === 1L).head()
    assert(q.getAs[Boolean]("quality_ok"))
    // Pre-existing column with a derived NAME (the fixture's documents
    // table carries its own n_chars): row grain replaces in place, and
    // class grain must replace it too, in the same schema position.
    val withClash = df.withColumn("n_chars", lit(-7L))
      .select(col("id"), col("n_chars"), col("text"))
    val (repC, _) = GrainProbe.forcing(rep = true)(
      TextOps.qualityMetrics(withClash, "text"))
    val (memC, _) = GrainProbe.forcing(rep = false)(
      TextOps.qualityMetrics(withClash, "text"))
    assert(repC.columns.toSeq == memC.columns.toSeq)
    assert(canon(repC) == canon(memC))
    assert(!repC.collect().exists(_.getAs[Long]("n_chars") == -7L),
      "derived n_chars must replace the input column at either grain")
  }

  test("repeated-spans family: class tier == row grain per id on clone mass") {
    import spark.implicits._
    val shared = "the license header text goes right here unchanged"
    val texts = Seq(
      s"alpha one $shared tail a of the first document body",
      s"beta two $shared tail b of the second document body",
      "entirely unrelated words that repeat nothing at all today",
      "tiny doc here", // < n tokens: no windows, passes through
      "", null)
    val a = (for { (t, i) <- texts.zipWithIndex; c <- 0 until 6 }
      yield ((c * 10 + i).toLong, t)).toDF("id", "text")
    // filler texts are pairwise-unique: they add no duplicated window,
    // so per-id answers for A's ids are invariant — but they dilute
    // the dup factor below 4, forcing row grain.
    val filler = (1000L until 1150L)
      .map(i => (i, s"singleton filler $i without any repeats ${i * 3}"))
      .toDF("id", "text")
    val b = a.unionAll(filler)
    val aIds = (0 until 6).flatMap(c => texts.indices.map(i =>
      (c * 10 + i).toLong)).toSet
    def frac(d: org.apache.spark.sql.DataFrame) =
      TextOps.dupWindowFraction(d, "id", "text", n = 5, minDocs = 2)
        .collect().filter(r => aIds(r.getLong(0)))
        .map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3))).toSet
    assert(frac(a) == frac(b) && frac(a).nonEmpty)
    def strip(d: org.apache.spark.sql.DataFrame) =
      TextOps.removeRepeatedSpans(d, "id", "text", n = 5, minDocs = 2)
        .collect().filter(r => aIds(r.getLong(0)))
        .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(strip(a) == strip(b) && strip(a).nonEmpty)
    def spans(d: org.apache.spark.sql.DataFrame) =
      TextOps.repeatedSpans(d, "id", "text", n = 5, minDocs = 2)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans(a) == spans(b) && spans(a).nonEmpty)
    // intra-class duplication counts: the 6 copies of each text are ≥2
    // distinct docs, so even the "unrelated" text's own windows are
    // duplicated — its dup_ppm must be 1000000 on the cloned corpus.
    val ppm = TextOps
      .dupWindowFraction(a, "id", "text", n = 5, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(ppm(2L) == 1000000L)
  }

  test("keywordsTfidf class tier == member-grain mirror on clone mass") {
    import spark.implicits._
    val texts = Seq("coffee coffee beans and morning rituals",
      "tea leaves and evening rituals of calm",
      "beans beans beans industrial supply chain")
    val df = (for { (t, i) <- texts.zipWithIndex; c <- 0 until 6 }
      yield ((c * 10 + i).toLong, t)).toDF("id", "text")
    val got = TextOps.keywordsTfidf(df, "id", "text", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        math.round(r.getDouble(3) * 1e9))).toSet
    // member-grain mirror, built from the raw definition in the test
    val tf = df.select(col("id"),
        explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfs = tf.groupBy("term").agg(count(lit(1)).as("dfc"))
    val n = df.count().toDouble
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"))
      .orderBy(col("score").desc, col("term").asc)
    val exp = tf.join(dfs, Seq("term"))
      .withColumn("score", col("tf").cast("double") *
        call_function("graft_ln",
          lit(n + 1.0) / (col("dfc").cast("double") + lit(1.0))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .select(col("id"), col("rnk"), col("term"), col("score"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        math.round(r.getDouble(3) * 1e9))).toSet
    assert(got == exp && got.nonEmpty)
  }

  test("bm25TopK class tier == member-grain mirror on clone mass") {
    import spark.implicits._
    // Clone-heavy corpus with cross-class score TIES (identical texts
    // under different fingerprint classes is impossible, so ties come
    // from clones of the same text vs the id tie-break) and k SMALLER
    // than a clone group, so a single class can fill the whole top-k —
    // the case the top-k-classes cut must survive.
    val texts = Seq("spark catalyst optimizer rules engine",
      "spark catalyst optimizer rules engine extra tokens here",
      "completely different topic about sailing ships")
    val docs = (for { (t, i) <- texts.zipWithIndex; c <- 0 until 8 }
      yield ((c * 10 + i).toLong, t)).toDF("id", "text")
    val qs = Seq((1L, "spark catalyst rules"),
      (2L, "sailing ships topic")).toDF("qid", "qtext")
    val got = TextOps.bm25TopK(docs, qs, "id", "text", "qid", "qtext",
        k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e6), r.getLong(4))).toSet
    // member-grain mirror from the raw definition
    val toks = docs.select(col("id"),
      TextOps.tokens(col("text")).as("tk"))
      .withColumn("dl", size(col("tk")))
    val n = docs.count().toDouble
    val sumdl = toks.agg(sum("dl")).head().getLong(0).toDouble
    val qt = qs.select(col("qid"),
      explode(array_distinct(TextOps.tokens(col("qtext")))).as("term"))
    val post = toks.select(col("id"), col("dl"),
        explode(col("tk")).as("term"))
      .groupBy("id", "term", "dl").agg(count(lit(1)).as("tf"))
    val dfs = post.groupBy("term").agg(count(lit(1)).as("dfc"))
    val avgdl = sumdl / n
    val sc = post.join(dfs, Seq("term")).join(qt, Seq("term"))
      .withColumn("fx", floor(
        call_function("graft_ln", lit(1.0) +
          (lit(n) - col("dfc").cast("double") + lit(0.5)) /
            (col("dfc").cast("double") + lit(0.5))) *
        (col("tf").cast("double") * lit(2.25)) /
          (col("tf").cast("double") + lit(1.25) *
            (lit(0.25) + lit(0.75) * col("dl").cast("double") /
              lit(avgdl))) * lit(1073741824.0)).cast("long"))
      .groupBy("qid", "id")
      .agg(sum("fx").as("sfx"), count(lit(1)).as("nt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sfx").desc, col("id").asc)
    val exp = sc.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .collect().map(r => (r.getLong(0), r.getInt(4), r.getLong(1),
        math.round(r.getLong(2) / 1073741824.0 * 1e6), r.getLong(3)))
      .toSet
    assert(got == exp && got.nonEmpty)
    // the clone-filled case: query 2's top-5 must be the 5 lowest ids
    // of the sailing class (one class fills k)
    assert(got.filter(_._1 == 2L).map(_._3) == Set(2L, 12L, 22L, 32L,
      42L))
  }

  test("dsir doc buckets: class tier == row grain per id on clone mass") {
    import spark.implicits._
    val texts = Seq("alpha beta gamma alpha", "delta epsilon zeta",
      "", null)
    val a = (for { (t, i) <- texts.zipWithIndex; c <- 0 until 6 }
      yield ((c * 10 + i).toLong, t)).toDF("id", "text")
    val filler = (1000L until 1150L)
      .map(i => (i, s"fill $i unique ${i % 11} mix")).toDF("id", "text")
    val b = a.unionAll(filler)
    val aIds = (0 until 6).flatMap(c => texts.indices.map(i =>
      (c * 10 + i).toLong)).toSet
    def run(d: org.apache.spark.sql.DataFrame) =
      TextOps.dsirDocBuckets(d, "id", "text", 16)
        .collect().filter(r => aIds(r.getLong(0)))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run(a) == run(b) && run(a).nonEmpty)
    // clone members score identically through the full dsirSelect, and
    // token-less/null docs surface with zero evidence, not dropped
    val sel = TextOps.dsirSelect(a, a.filter(col("id") % 10 === 0),
        "id", "text", "text", numBuckets = 16, budget = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sel.length == 24)
    val byClass = sel.groupBy(_._1 % 10).view
      .mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    assert(byClass.values.forall(_.size == 1),
      "clone members must carry identical (n_tokens, logw_fx)")
    assert(byClass(2L) == Set((0L, 0L)) && byClass(3L) == Set((0L, 0L)))
  }

  test("collocationsPmi copy-weighted tier: 6x clones scale counts, not PMI") {
    import spark.implicits._
    // PMI is scale-invariant: cloning every document 6× multiplies
    // c12, c1, c2, B, T by 6 and leaves every ratio — hence every PMI
    // and the top-k order — unchanged, while n_pair must read exactly
    // 6× (the copy-weight algebra, fired by the ≥4× probe on the
    // cloned corpus and not on the original).
    val texts = Seq("strong coffee beats weak tea every single morning",
      "strong coffee and strong opinions fuel the morning standup",
      "weak tea calms the late evening reading hour")
    val a1 = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val a6 = (for { (t, i) <- texts.zipWithIndex; c <- 0 until 6 }
      yield ((c * 10 + i).toLong, t)).toDF("id", "text")
    def res(d: org.apache.spark.sql.DataFrame) =
      TextOps.collocationsPmi(d, "text", k = 50, minCount = 1)
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), math.round(r.getDouble(2) * 1e9))).toMap
    val (r1, r6) = (res(a1), res(a6))
    assert(r1.nonEmpty && r1.keySet == r6.keySet)
    for ((p, (c, pmi)) <- r1) assert(r6(p) == (c * 6, pmi), s"pair $p")
  }

  test("per-text aggregate ops: class tier == row grain per id on clone mass") {
    import spark.implicits._
    // Same dilution trick as the contamination pin: per-id outputs are
    // pure text functions, so clone-heavy corpus A (class tier) and
    // A ∪ distinct filler (row grain) must agree on A's ids — covers
    // tokenEntropy, repetitionStats, and qualityClassify.
    val texts = Seq(
      "alpha beta beta gamma gamma gamma repeated tokens here here",
      "one two three four five six seven eight nine ten",
      "spam spam spam spam spam spam spam spam",
      "", null)
    val a = (for { (t, i) <- texts.zipWithIndex; c <- 0 until 6 }
      yield ((c * 10 + i).toLong, t)).toDF("id", "text")
    val filler = (1000L until 1150L)
      .map(i => (i, s"unique filler number $i token mix ${i % 13}"))
      .toDF("id", "text")
    val b = a.unionAll(filler)
    val aIds = (0 until 6).flatMap(c => texts.indices.map(i =>
      (c * 10 + i).toLong)).toSet
    def canon(d: org.apache.spark.sql.DataFrame, idc: String) =
      d.collect().filter(r => aIds(r.getAs[Long](idc)))
        .map(_.toSeq.map {
          case dd: Double => math.round(dd * 1e9)
          case x => x
        }).toSet
    assert(canon(TextOps.tokenEntropy(a, "id", "text"), "id") ==
      canon(TextOps.tokenEntropy(b, "id", "text"), "id"))
    assert(canon(TextOps.repetitionStats(a, "id", "text"), "id") ==
      canon(TextOps.repetitionStats(b, "id", "text"), "id"))
    assert(canon(TextOps.qualityClassify(a, "text"), "id") ==
      canon(TextOps.qualityClassify(b, "text"), "id"))
    // entropy keeps token-less rows visible with zeros at either grain
    val ent = TextOps.tokenEntropy(a, "id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ent(3L) == 0L && ent(4L) == 0L)
  }

  test("bpeEncodeStats distinct-text tier == member grain on clone mass") {
    import spark.implicits._
    // 5 copies of each text (dup factor ≥ 4 fires the rep tier) plus
    // the absence edge cases: empty-token text and null text must stay
    // absent through the fingerprint fan-out join, and a case/trim
    // variant shares its class's stats (tokens() lowercases).
    val base = Seq("low low low", "lower lower", "newest", "", null,
      "  LOW low LOW  ")
    val rows = for {
      (t, i) <- base.zipWithIndex
      c <- 0 until 5
    } yield ((c * 100 + i).toLong, t)
    val df = rows.toDF("id", "text")
    val merges = Seq("l o", "lo w", "e r")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2))
    val rep = TextOps.bpeEncodeStats(df, "id", "text", merges)
      .collect().map(key).toSet
    val (memDf, _) = GrainProbe.forcing(rep = false)(
      TextOps.bpeEncodeStats(df, "id", "text", merges))
    val mem = memDf.collect().map(key).toSet
    assert(rep == mem)
    // absence: ids 3 (empty) and 4 (null) mod 100 never appear
    assert(!rep.exists(r => r._1 % 100 == 3 || r._1 % 100 == 4))
    // the case/trim variant carries "low low low"'s stats
    assert(rep.contains((5L, 3L, 3L)))
  }

  test("repeatedSpans finds planted cross-doc windows; unique spans absent") {
    import spark.implicits._
    val shared = "the license text goes here"
    val df = Seq(
      (1L, s"alpha one $shared tail a"),
      (2L, s"beta two $shared tail b"),
      (3L, s"$shared again $shared"),     // twice in one doc
      (4L, "entirely unrelated words only once")).toDF("id", "text")
    val spans = TextOps.repeatedSpans(df, "id", "text", n = 5, minDocs = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(spans(shared) == (3L, 4L)) // 3 docs, 4 occurrences
    // exactly two cross-doc 5-grams exist: the planted span, and the
    // window shifted one token right ("... goes here tail") which docs
    // 1 and 2 also share
    assert(spans.keySet ==
      Set(shared, "license text goes here tail"))
    assert(spans("license text goes here tail") == (2L, 2L))
  }

  test("removeBoilerplate strips cross-doc lines, keeps order, drops emptied docs") {
    import spark.implicits._
    val footer = "subscribe to our newsletter"
    val df = Seq(
      (1L, s"unique intro one\n$footer\nunique body one"),
      (2L, s"$footer\nunique body two"),
      (3L, s"unique only three\n$footer"),
      (4L, footer),                       // all boilerplate → dropped
      (5L, "twice repeated\nkeep me"),
      (6L, "twice repeated\nand me")      // 2 < minDocs=3 → kept
    ).toDF("id", "text")
    val out = TextOps.removeBoilerplate(df, "id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> "unique intro one\nunique body one",
      2L -> "unique body two",
      3L -> "unique only three",
      5L -> "twice repeated\nkeep me",
      6L -> "twice repeated\nand me"))
  }

  test("removeBoilerplate never counts blank lines as boilerplate") {
    import spark.implicits._
    val df = Seq(
      (1L, "a\n\nb"), (2L, "c\n\nd"), (3L, "e\n\nf")).toDF("id", "text")
    val out = TextOps.removeBoilerplate(df, "id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "a\n\nb") // blank line survives in place
  }

  test("repetitionFilter drops the degenerate doc, keeps diverse text") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "a genuinely varied sentence with many different words here"))
      .toDF("id", "text")
    val kept = TextOps.repetitionFilter(df, "id", "text")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
  }

  test("repetitionFilter keeps token-less docs (no stats ≠ too repetitive)") {
    import spark.implicits._
    val df = Seq((1L, ""), (2L, "!!! ???"),
      (3L, "a long and genuinely varied sentence with many distinct words"))
      .toDF("id", "text")
    val kept = TextOps.repetitionFilter(df, "id", "text")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L))
  }

  test("chunkDocuments: exact layout, overlap, full coverage, short docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks
      (2L, "a b c"),                                  // shorter than chunk
      (3L, "")                                        // no tokens → absent
    ).toDF("doc_id", "text")
    val out = TextOps.chunkDocuments(docs, "doc_id", "text",
        chunkTokens = 4, overlapTokens = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getInt(2), r.getString(3))).toMap
    // stride 3: 10 tokens → ceil((10-4)/3)+1 = 3 chunks at 0, 3, 6 —
    // the last window ends exactly at the document end, nothing dropped
    assert(out.keys.count(_._1 == 1L) == 3)
    assert(out((1L, 0)) == (4, "t1 t2 t3 t4"))
    assert(out((1L, 1)) == (4, "t4 t5 t6 t7")) // 1-token overlap
    assert(out((1L, 2)) == (4, "t7 t8 t9 t10"))
    assert(out((2L, 0)) == (3, "a b c"))
    assert(out.keys.count(_._1 == 2L) == 1)
    assert(!out.keys.exists(_._1 == 3L))
    // coverage: concatenating chunks at stride offsets reproduces
    // every token at least once
    val covered = out.collect { case ((1L, c), (_, txt)) =>
      txt.split(' ').toSeq }.flatten.toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)
  }

  test("collocationsPmi surfaces the planted collocation; minCount guards noise") {
    import spark.implicits._
    // "gila monster" always co-occurs (PMI max); "the" pairs diffusely.
    val docs = (1 to 10).map(i =>
      s"the gila monster sat near the busy road and the gila monster slept")
      .toDF("text")
    val out = TextOps.collocationsPmi(docs, "text", k = 5, minCount = 5L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 5)
    // PMI favors the rarer perfectly-correlated pairs: the 1:1 pairs of
    // once-per-doc words (busy road / road and / sat near, tied, pair
    // asc) outrank gila monster (its words appear twice per doc), and
    // every diffuse "the *" pair falls out of the top 5 entirely.
    assert(out.head._1 == "busy road", s"top was ${out.head}")
    assert(out.map(_._1).contains("gila monster"))
    assert(!out.exists(_._1.split(' ').contains("the")), out.mkString(","))
    assert(out.head._3 > 0.0)
    // every surviving pair met the count floor
    assert(out.forall(_._2 >= 5L))
    // PMI is non-increasing down the ranking
    assert(out.sliding(2).forall(w => w.head._3 >= w.last._3))
  }

  test("tokenDrift: zero on identical slices, positive both ways on shifted ones") {
    import spark.implicits._
    val a = Seq("alpha beta gamma alpha", "beta gamma beta").toDF("text")
    val same = TextOps.tokenDrift(a, a, "text").collect()(0)
    assert(same.getAs[Double]("kl_ab") == 0.0 &&
      same.getAs[Double]("kl_ba") == 0.0)
    val b = Seq("delta epsilon delta", "epsilon zeta").toDF("text")
    val r = TextOps.tokenDrift(a, b, "text").collect()(0)
    assert(r.getAs[Long]("n_vocab") == 6) // union of 3 + 3 disjoint types
    assert(r.getAs[Long]("tokens_a") == 7 && r.getAs[Long]("tokens_b") == 5)
    assert(r.getAs[Double]("kl_ab") > 0.0 && r.getAs[Double]("kl_ba") > 0.0)
  }

  test("lmScore: textbook add-one bigram probabilities, OOV fallback") {
    import spark.implicits._
    // ref "a b a b": uni a→2 b→2 (V = 2 types + 1 = 3);
    // bigrams "a b"→2, "b a"→1.
    val ref = Seq((100L, "a b a b")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "a b c"), // P(b|a) = (2+1)/(2+3), P(c|b) = (0+1)/(2+3)
      (2L, "z z"),   // OOV context: P(z|z) = (0+1)/(0+3)
      (3L, "a")      // no bigrams → absent
    ).toDF("doc_id", "text")
    val out = TextOps.lmScore(docs, ref, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    def fx(p: Double): Long =
      math.floor(-math.log(p) * 1073741824.0).toLong
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L)._1 == 2)
    assert(out(1L)._2 ==
      (fx(3.0 / 5.0) + fx(1.0 / 5.0)).toDouble / 2.0 / 1073741824.0)
    assert(out(2L)._1 == 1)
    assert(out(2L)._2 == fx(1.0 / 3.0).toDouble / 1073741824.0)
    // the fluent doc scores strictly better (lower NLL) than OOV noise
    assert(out(1L)._2 < out(2L)._2)
  }

  test("mixtureWeights: exact integer weights, hard domain upweighted") {
    import spark.implicits._
    // ref "a b a b": uni a→2 b→2 (V = 3); bigrams "a b"→2, "b a"→1.
    val ref = Seq((100L, "a b a b")).toDF("doc_id", "text")
    val docs = Seq(
      ("easy", "a b a b"), ("easy", "a b a b"), // fluent, 3 bigrams each
      ("hard", "z z z")                         // OOV, 2 bigrams
    ).toDF("src", "text")
    def fx(p: Double): Long =
      math.floor(-math.log(p) * 1073741824.0).toLong
    val sfxEasy = 2 * (2 * fx(3.0 / 5.0) + fx(2.0 / 5.0))
    val sfxHard = 2 * fx(1.0 / 3.0)
    val nllEasy = sfxEasy / 6
    val nllHard = sfxHard / 2
    val refFx = (sfxEasy + sfxHard) / 8
    val exEasy = math.max(0L, nllEasy - refFx)
    val exHard = math.max(0L, nllHard - refFx)
    val rawEasy = 666666L * (1073741824L + exEasy)
    val rawHard = 333333L * (1073741824L + exHard)
    def wppm(raw: Long): Long =
      (BigInt(raw) * 1000000 / (BigInt(rawEasy) + BigInt(rawHard))).toLong
    val out = graft.ext.TextOps.mixtureWeights(docs, ref, "src", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    val e = out("easy"); val h = out("hard")
    assert(e.getAs[Long]("n_docs") == 2 && h.getAs[Long]("n_docs") == 1)
    assert(e.getAs[Long]("n_bigrams") == 6 &&
      h.getAs[Long]("n_bigrams") == 2)
    assert(e.getAs[Long]("nll_fx") == nllEasy &&
      h.getAs[Long]("nll_fx") == nllHard)
    assert(e.getAs[Long]("excess_fx") == exEasy &&
      h.getAs[Long]("excess_fx") == exHard)
    assert(e.getAs[Long]("share_ppm") == 666666L &&
      h.getAs[Long]("share_ppm") == 333333L)
    assert(e.getAs[Long]("weight_ppm") == wppm(rawEasy) &&
      h.getAs[Long]("weight_ppm") == wppm(rawHard))
    // the OOV domain is upweighted ABOVE its natural share; weights
    // still form a (floor-rounded) distribution
    assert(h.getAs[Long]("weight_ppm") > 333333L)
    val tot = e.getAs[Long]("weight_ppm") + h.getAs[Long]("weight_ppm")
    assert(tot <= 1000000L && tot >= 999998L)
  }

  test("bm25TopK matches a hand-computed reference on a tiny corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "cat sat on the mat"),
      (2L, "cat cat cat"),
      (3L, "dog ate my homework"),
      (4L, "the mat was flat")).toDF("doc_id", "text")
    val qs = Seq(("q1", "cat mat")).toDF("qid", "qtext")
    val out = TextOps.bm25TopK(docs, qs, "doc_id", "text", "qid", "qtext",
        k = 3, k1 = 1.25, b = 0.75)
      .orderBy(col("rnk")).collect()
    // Reference scores computed the same way the op defines them:
    // idf = ln(1 + (N - df + 0.5)/(df + 0.5)), tf-norm with k1/b,
    // per-term fixed = floor(score * 2^30), summed exactly.
    val corpus = Map(1L -> Seq("cat", "sat", "on", "the", "mat"),
      2L -> Seq("cat", "cat", "cat"), 3L -> Seq("dog", "ate", "my",
        "homework"), 4L -> Seq("the", "mat", "was", "flat"))
    val n = corpus.size.toDouble
    val avgdl = corpus.values.map(_.size).sum.toDouble / n
    def score(id: Long, terms: Seq[String]): Long = terms.map { t =>
      val tf = corpus(id).count(_ == t).toDouble
      if (tf == 0) 0L
      else {
        val df = corpus.values.count(_.contains(t)).toDouble
        val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        val dl = corpus(id).size.toDouble
        val tfn = tf * 2.25 / (tf + 1.25 * (0.25 + 0.75 * dl / avgdl))
        math.floor(idf * tfn * 1073741824.0).toLong
      }
    }.sum
    val want = corpus.keys.map(id => id -> score(id, Seq("cat", "mat")))
      .filter(_._2 > 0).toSeq.sortBy { case (id, s) => (-s, id) }
    assert(out.length == 3) // docs 1, 2, 4 match; doc 3 doesn't
    out.zip(want).zipWithIndex.foreach { case ((row, (id, fx)), i) =>
      assert(row.getAs[String]("qid") == "q1")
      assert(row.getAs[Int]("rnk") == i + 1)
      assert(row.getAs[Long]("doc_id") == id)
      assert(row.getAs[Double]("score") == fx.toDouble / 1073741824.0,
        s"rank ${i + 1}")
    }
  }

  test("bm25TopK is layout-independent and prunes ranks map-side") {
    import spark.implicits._
    val docs = (1L to 60L)
      .map(i => (i, s"term${i % 7} term${i % 5} filler$i common"))
      .toDF("doc_id", "text")
    val qs = Seq(("a", "term1 common"), ("b", "term3")).toDF("qid", "qtext")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextOps.bm25TopK(d, qs, "doc_id", "text", "qid", "qtext", k = 4)
        .orderBy(col("qid"), col("rnk"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
          r.getDouble(3))).toSeq
    val base = run(docs)
    assert(base == run(docs.repartition(13)),
      "score/order must not depend on partition layout")
    val plan = TextOps.bm25TopK(docs, qs, "doc_id", "text", "qid", "qtext",
      k = 4).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "constant rank bound must enable map-side rank pruning")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      "query-side tables must broadcast")
  }

  test("distinctNgramRatios: hand counts; short docs emit no bigrams") {
    import spark.implicits._
    val docs = Seq(("s1", "a a b"), ("s1", "a b"), ("s1", "c"))
      .toDF("src", "txt")
    val r = TextOps.distinctNgramRatios(docs, "src", "txt").collect()(0)
    // unigrams: a,a,b,a,b,c → total 6, distinct 3; bigrams: "a a",
    // "a b", "a b" → total 3, distinct 2 (the 1-token doc adds none —
    // a descending-sequence bug would have fabricated windows)
    assert(r.getLong(1) == 6L && r.getLong(2) == 3L)
    assert(r.getDouble(3) == 0.5)
    assert(r.getLong(4) == 3L && r.getLong(5) == 2L)
    assert(r.getDouble(6) == 2.0 / 3.0)
  }

  test("featurePsi: zero on identical slices, hand-checked on a shift") {
    import spark.implicits._
    val a = Seq(50L, 150L, 250L, 450L, 800L).toDF("x")
    val same = TextOps.featurePsi(a, a, "x", Seq(100.0, 200.0, 300.0,
      500.0)).collect()(0)
    assert(same.getLong(0) == 5L)
    assert(same.getLong(1) == 0L && same.getDouble(2) == 0.0)
    // shifted slice: every value one bucket up from a's
    val b = Seq(150L, 250L, 450L, 800L, 900L).toDF("x")
    val out = TextOps.featurePsi(a, b, "x", Seq(100.0, 200.0, 300.0,
      500.0)).collect()(0)
    // hand-compute with the identical smoothing + fixed-point chain
    val na = Seq(2L, 2L, 2L, 2L, 2L) // +1 smoothing on 1,1,1,1,1
    val nb = Seq(1L, 2L, 2L, 2L, 3L)
    val psiFx = (0 until 5).map { i =>
      val pa = na(i).toDouble / 10.0
      val pb = nb(i).toDouble / 10.0
      math.floor((pa - pb) * math.log(pa / pb) *
        1099511627776.0).toLong
    }.sum
    assert(out.getLong(1) == psiFx)
    assert(out.getDouble(2) > 0.0) // drift is positive
  }

  test("featurePsi excludes nulls instead of top-bucketing them") {
    import spark.implicits._
    val edges = Seq(100.0, 200.0, 300.0, 500.0)
    val a = Seq(50L, 150L, 250L, 450L, 800L).map(Option(_)).toDF("x")
    val b = Seq(150L, 250L, 450L, 800L, 900L).map(Option(_)).toDF("x")
    val clean = TextOps.featurePsi(a, b, "x", edges).collect()(0)
    // nulls sprinkled into BOTH slices must change nothing — the old
    // when-chain fallthrough counted them as '>= last edge'
    val aN = (Seq(50L, 150L, 250L, 450L, 800L).map(Option(_)) ++
      Seq(None, None)).toDF("x")
    val bN = (Seq(150L, 250L, 450L, 800L, 900L).map(Option(_)) ++
      Seq(None)).toDF("x")
    val dirty = TextOps.featurePsi(aN, bN, "x", edges).collect()(0)
    assert(dirty.getLong(0) == clean.getLong(0))
    assert(dirty.getLong(1) == clean.getLong(1))
    assert(dirty.getDouble(2) == clean.getDouble(2))
  }

  test("distinctNgramRatios keeps zero-bigram groups visible") {
    import spark.implicits._
    // s2's documents are all single-token — zero bigrams. The report
    // must still show the group (null bigram columns), not drop it: a
    // diversity report that hides its most degenerate group is useless.
    val docs = Seq(("s1", "a a b"), ("s2", "c"), ("s2", "d"))
      .toDF("src", "txt")
    val out = TextOps.distinctNgramRatios(docs, "src", "txt")
      .orderBy(col("src")).collect()
    assert(out.length == 2)
    val s2 = out(1)
    assert(s2.getString(0) == "s2")
    assert(s2.getLong(1) == 2L && s2.getLong(2) == 2L)
    assert(s2.isNullAt(4) && s2.isNullAt(5) && s2.isNullAt(6))
  }

  test("qualityClassify: hand-computed linear scores, sign gate") {
    import spark.implicits._
    val docs = Seq(
      // 12 stopword hits ("the" x6, "a" x6), 3 distinct, 0 digits:
      // score = -40 + 3*12 + 3 = -1 -> drop (just below the boundary)
      (1L, "the a the a the a the a the a the a cat"),
      // 14 hits -> -40 + 42 + 3 = 5 -> keep
      (2L, "the a the a the a the a the a the a the a cat"),
      // digit spam: 12 hits but 10 digit tokens:
      // -40 + 36 + 13 - 20 = -11 -> drop
      (3L, "the a the a the a the a the a the a " +
        "1 2 3 4 5 6 7 8 9 10 cat")
    ).toDF("doc_id", "text")
    val out = TextOps.qualityClassify(docs, "text")
      .select("doc_id", "clf_score", "keep").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq((1L, -1L, false), (2L, 5L, true),
      (3L, -11L, false)))
  }

  test("corpusZipf: planted rank-frequency fit, fixed-point exact") {
    import spark.implicits._
    // counts 12/rank: a=12, b=6, c=4, d=3 → exactly count ∝ 1/rank,
    // so the log-log fit is linear with slope −1 by construction
    val docs = Seq("a a a a a a a a a a a a b b b",
      "b b b c c c c d d d").toDF("txt")
    val r = TextOps.corpusZipf(docs, "txt", topN = 1000).collect()(0)
    assert(r.getLong(0) == 25L && r.getLong(1) == 4L &&
      r.getLong(2) == 4L)
    // expected slope via the identical fixed-point arithmetic
    val pts = Seq((1, 12), (2, 6), (3, 4), (4, 3)).map { case (rk, c) =>
      (math.log(rk.toDouble), math.log(c.toDouble))
    }
    def fx(v: Double): Long = math.floor(v * 1073741824.0).toLong
    val (sx, sy, sxy, sxx) = pts.foldLeft((0L, 0L, 0L, 0L)) {
      case ((a, b, ab, aa), (x, y)) =>
        (a + fx(x), b + fx(y), ab + fx(x * y), aa + fx(x * x))
    }
    def dq(l: Long): Double = l.toDouble / 1073741824.0
    val n = 4.0
    val slope = (n * dq(sxy) - dq(sx) * dq(sy)) /
      (n * dq(sxx) - dq(sx) * dq(sx))
    assert(r.getDouble(3) == slope)
    assert(slope < -0.999 && slope > -1.001) // Zipfian by construction
    val re = TextOps.corpusZipf(docs.repartition(4), "txt", 1000)
      .collect()(0)
    assert(re.getDouble(3) == r.getDouble(3) &&
      re.getDouble(4) == r.getDouble(4))
    // degenerate single-term vocab: denominator is exactly 0 — slope
    // must be NULL (matching SQL 0/0), never NaN
    val degen = TextOps.corpusZipf(Seq("a a a").toDF("txt"), "txt",
      1000).collect()(0)
    assert(degen.isNullAt(3) && degen.isNullAt(4))
  }

  test("curriculumStages: rarity-ordered stages, empty docs in stage 0") {
    import spark.implicits._
    // 'common' appears in every doc (count 4 → small rarity), 'rare*'
    // tokens appear once (count 1 → rarity 2^30 each). Difficulty order
    // is then: empty doc < common-only < one-rare < two-rares.
    val docs = Seq(
      (1L, "common common"),
      (2L, ""),
      (3L, "common rarex"),
      (4L, "common rarey rarez")
    ).toDF("id", "txt")
    val out = TextOps.curriculumStages(docs, "id", "txt", stages = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2)))
      .toMap
    val common = 1073741824L / 4
    assert(out(2L) == (0L, 0))
    assert(out(1L) == (2 * common, 0))
    assert(out(3L) == (common + 1073741824L, 1))
    assert(out(4L) == (common + 2 * 1073741824L, 1))
    // layout independence: same stages under a different partitioning
    val re = TextOps.curriculumStages(docs.repartition(5), "id", "txt",
      stages = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(re == out)
  }

  test("ngramNovelty: overlap counts, all-novel, gramless group visible") {
    import spark.implicits._
    val docs = Seq(
      ("ref", "a b c"),            // reference bigrams: {a b, b c}
      ("s1", "a b x y"),           // bigrams {a b, b x, x y} → 2 novel
      ("s2", "p q"),               // {p q} → 1 novel of 1
      ("s3", "solo")               // no bigrams → visible, nulls
    ).toDF("src", "txt")
    val out = TextOps.ngramNovelty(docs, "src", "txt", refValue = "ref")
      .collect().map { r =>
        r.getString(0) -> ((Option(r.get(1)), Option(r.get(2)),
          Option(r.get(3))))
      }.toMap
    assert(out("s1") == ((Some(3L), Some(2L), Some(666666L))))
    assert(out("s2") == ((Some(1L), Some(1L), Some(1000000L))))
    assert(out("s3") == ((None, None, None)))
    assert(!out.contains("ref"))
  }

  test("tokenEntropy: 0 for empty and single-token docs, ln(n) when " +
      "all distinct, between otherwise") {
    import spark.implicits._
    val docs = Seq(
      (1L, ""),                   // no tokens → visible, H = 0
      (2L, "a a a a"),            // one repeated token → H = 0
      (3L, "a b c d"),            // all distinct → H = ln(4)
      (4L, "a a b b")             // H = ln(2)
    ).toDF("id", "txt")
    val out = TextOps.tokenEntropy(docs, "id", "txt")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((0L, 0L, 0L)))
    assert(out(2L) == ((4L, 1L, 0L)))
    val ln4fx = math.floor(Math.log(4.0) * 1073741824.0).toLong
    // all-distinct: sfx = 0 (every c = 1), so H_fx = fx(ln 4) exactly
    assert(out(3L) == ((4L, 4L, ln4fx)))
    // two pairs: H = ln(4) − (2·2·ln2·2³⁰ floored) div 4 ≈ ln 2
    val h4 = out(4L)._3
    assert(math.abs(h4 / 1073741824.0 - Math.log(2.0)) < 1e-6, s"$h4")
    assert(h4 > 0L && h4 < ln4fx)
  }

  test("qualityTopFraction: ceil cut keeps >= 1 per group; ties by id") {
    import spark.implicits._
    // identical text → identical clf_score → rank ties break by id
    val docs = Seq(
      (1L, "g1", "the cat"), (2L, "g1", "the cat"), (3L, "g1", "the cat"),
      (10L, "g2", "solo")
    ).toDF("id", "src", "txt")
    val out = TextOps.qualityTopFraction(docs, "id", "txt", "src",
        keepPpm = 300000L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    // g1: n=3, ceil(3*0.3)=1 kept — the tie-min id
    assert(out(1L) == ((1L, 3L, true)))
    assert(out(2L) == ((2L, 3L, false)))
    assert(out(3L) == ((3L, 3L, false)))
    // g2: n=1, ceil(0.3)=1 — every group keeps at least one
    assert(out(10L) == ((1L, 1L, true)))
  }

  test("dsirSelect: target-like docs outrank off-target; empty visible") {
    import spark.implicits._
    // words chosen collision-free under the portable md5 bucket at m=16
    // (apple→4 mango→1 zebra→8 nymph→3 vortex→7 kiwi→15); expected
    // fixed-point scores precomputed with the same libm doubles
    val corpus = Seq(
      (1L, "apple mango apple mango"),     // pure target vocabulary
      (2L, "zebra nymph vortex kiwi"),     // pure off-target
      (3L, "apple mango zebra nymph"),     // mixed
      (4L, "")                             // empty: visible, score 0
    ).toDF("id", "txt")
    val target = Seq("apple mango", "mango apple apple").toDF("t")
    val out = TextOps.dsirSelect(corpus, target, "id", "txt", "t",
      numBuckets = 16, budget = 10).collect()
    assert(out.length == 4)
    val byId = out.map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(4))).toMap
    // pure-target (+) > empty (0) > mixed (−) > pure-off-target (−−):
    // off-target evidence outweighs target affinity in log space, so a
    // half-contaminated doc scores BELOW a no-evidence doc
    assert(byId(1L) == ((4L, 617792546L, 1)))
    assert(byId(4L) == ((0L, 0L, 2)))
    assert(byId(3L) == ((4L, -1432563107L, 3)))
    assert(byId(2L) == ((4L, -2612189070L, 4)))
  }

  test("dsirSelect: score is a pure function of the token bag; budget cut") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "apple banana cherry"),
      (2L, "cherry apple banana"),          // same bag, other order
      (3L, "zebra zebra zebra")
    ).toDF("id", "txt")
    val target = Seq("apple banana").toDF("t")
    val all = TextOps.dsirSelect(corpus, target, "id", "txt", "t",
      numBuckets = 8, budget = 10).collect()
    val score = all.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(score(1L) == score(2L))
    // budget cuts to exactly k rows, ranks contiguous from 1, and the
    // kept set is the global top-k (ties broken by id)
    val top = TextOps.dsirSelect(corpus, target, "id", "txt", "t",
      numBuckets = 8, budget = 2).collect()
    assert(top.length == 2)
    assert(top.map(_.getInt(4)).toSeq == Seq(1, 2))
    assert(top.map(_.getLong(0)).toSet == Set(1L, 2L))
    // layout independence
    val re = TextOps.dsirSelect(corpus.repartition(7), target, "id",
      "txt", "t", numBuckets = 8, budget = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(re == score)
  }

  test("winnowFingerprints: shared w+k-1 run guarantees a shared print") {
    import spark.implicits._
    // k=4, w=4: any shared 7-token run must land one identical
    // fingerprint in both documents (the Schleimer et al. correctness
    // property) — contexts around the run differ completely.
    val run = "alpha beta gamma delta epsilon zeta eta"
    val df = Seq(
      (1L, s"one two three $run four five six seven eight"),
      (2L, s"red blue green $run yellow purple orange pink"),
      (3L, "totally different words everywhere here now ok")
    ).toDF("id", "text")
    val fps = TextOps.winnowFingerprints(df, "id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty, "shared run lost")
    assert((fps(1L) & fps(3L)).isEmpty, "no shared 7-run, no shared fp")
  }

  test("winnowFingerprints: short-doc edges and determinism") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c"),             // < k tokens: no shingles, no rows
      (2L, "a b c d"),           // exactly k: one shingle, one print
      (3L, "a b c d e")          // two shingles, window covers both
    ).toDF("id", "text")
    val fps = TextOps.winnowFingerprints(df, "id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(!fps.contains(1L))
    assert(fps(2L).size == 1)
    assert(fps(3L).size == 1, "one window over 2 shingles -> its min")
    // identical docs produce identical fingerprint sets
    val dup = Seq((10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text")
    val d = TextOps.winnowFingerprints(dup, "id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(d(10L) == d(11L))
  }

  test("winnowFingerprints: per-doc projection, no keyed shuffle") {
    val docs = graft.engine.Engine.table(spark, fixtureDir, "documents")
    val p = TextOps.winnowFingerprints(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("knScore: continuation beats raw frequency on unseen histories " +
    "(the Kneser-Ney signature); exact in-memory mirror") {
    import spark.implicits._
    // "francisco" is FREQUENT but always follows "san" (1 continuation
    // history); "report" is rarer but follows many histories.
    val ref = Seq(
      (100L, "san francisco san francisco san francisco san francisco"),
      (101L, "annual report quarterly report final report"),
      (102L, "the report says san francisco grew")
    ).toDF("doc_id", "text")
    // both scored bigrams have an UNSEEN history word → full backoff
    // to the continuation distribution
    val docs = Seq(
      (1L, "zzz francisco"),
      (2L, "zzz report"),
      (3L, "one")  // <2 tokens: no bigrams, drops (lmScore contract)
    ).toDF("doc_id", "text")
    val got = TextOps.knScore(docs, ref, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L)._1 == 1L && got(2L)._1 == 1L)
    // KN: despite c(francisco)=5 > c(report)=4, report has 3 distinct
    // histories vs francisco's 1 → report is MORE likely after novelty
    assert(got(2L)._2 < got(1L)._2,
      s"report ${got(2L)._2} should beat francisco ${got(1L)._2}")
    // exact mirror: Pc(w2) = (N1+(·w2)+1)/(T+V)
    val refToks = Seq(
      "san francisco san francisco san francisco san francisco",
      "annual report quarterly report final report",
      "the report says san francisco grew")
      .map(_.split(" ").toSeq)
    val bigrams = refToks.flatMap(ts => ts.zip(ts.tail))
    val t = bigrams.distinct.size.toLong
    val v = refToks.flatten.distinct.size.toLong + 1L
    val n1b = bigrams.distinct.groupBy(_._2).view.mapValues(_.size).toMap
    def nll(w: String): Double = {
      val p = (n1b.getOrElse(w, 0) + 1).toDouble / (t + v).toDouble
      math.floor(-math.log(p) * 1073741824.0) / 1073741824.0
    }
    assert(got(1L)._2 == nll("francisco"))
    assert(got(2L)._2 == nll("report"))
  }

  test("streamNbScore == nbQualityScore on the training corpus; pure " +
    "projection; unseen tokens take the zero-count default") {
    import spark.implicits._
    val df = Seq(
      (1L, "good clean prose text", true),
      (2L, "clean prose text good good", true),
      (3L, "spam junk junk buy", false),
      (4L, "good prose with junk", false),
      (5L, "", true)).toDF("id", "text", "trusted")
    val model = TextOps.nbTrainHashed(df, "text", col("trusted"))
    val batch = TextOps.nbQualityScore(df, "id", "text", col("trusted"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    val streamed = TextOps.streamNbScore(df, "id", "text", model)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(streamed == batch)
    // stream-legality: the scorer is a projection — no exchange at all
    val plan = TextOps.streamNbScore(df, "id", "text", model)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // a NEW doc of entirely unseen tokens scores n·default + prior
    val novel = Seq((9L, "qqq www eee")).toDF("id", "text")
    val s = TextOps.streamNbScore(novel, "id", "text", model)
      .collect()(0)
    assert(s.getLong(2) == 3L * model.defaultFx + model.priorFx)
  }

  test("nbQualityScore equals an in-memory NB mirror; empty doc at prior") {
    import spark.implicits._
    val rows = Seq(
      (1L, "good clean prose text", true),
      (2L, "clean prose text good good", true),
      (3L, "spam junk junk buy", false),
      (4L, "good prose with junk", false),
      (5L, "", true))
    val df = rows.toDF("id", "text", "trusted").repartition(5)
    val got = TextOps.nbQualityScore(df, "id", "text", col("trusted"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toMap
    // mirror: same tokenizer (lowercase [^a-z0-9]+ split), add-one NB
    val toks = rows.map { case (id, tx, tr) =>
      (id, tx.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq,
        tr)
    }
    val pos = toks.filter(_._3).flatMap(_._2)
    val neg = toks.filterNot(_._3).flatMap(_._2)
    val vocab = (pos ++ neg).distinct
    val (np, nn, v) = (pos.size.toLong, neg.size.toLong,
      vocab.size.toLong)
    val cp = pos.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cn = neg.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def lam(t: String): Long = math.floor(
      (math.log((cp.getOrElse(t, 0L) + 1).toDouble / (np + v)) -
        math.log((cn.getOrElse(t, 0L) + 1).toDouble / (nn + v))) *
        1073741824.0).toLong
    val dp = toks.count(_._3).toLong
    val dn = toks.count(!_._3).toLong
    val prior = math.floor(
      (math.log(dp.toDouble) - math.log(dn.toDouble)) *
        1073741824.0).toLong
    toks.foreach { case (id, ts, _) =>
      val want = (ts.size.toLong, prior + ts.map(lam).sum)
      assert(got(id) == ((want._1, want._2, want._2 > 0L)),
        s"doc $id: ${got(id)} != $want")
    }
    // empty doc visible, score exactly the prior
    assert(got(5L)._1 == 0L && got(5L)._2 == prior)
    // trusted-looking text keeps, junk-looking drops
    assert(got(1L)._3 && !got(3L)._3)
  }

  test("readabilityReport: hand-computed Flesch ppm; empty text and " +
    "sentence-free text score without errors") {
    import spark.implicits._
    val df = Seq(
      (1L, "The cat sat. It ran!"),
      (2L, ""),
      (3L, "no terminal punctuation here")).toDF("id", "text")
    val got = graft.ext.TextOps.readabilityReport(df, "id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // doc 1: 5 words, 2 sentences ('.' and '!'), 5 vowel groups.
    // asl_ppm = 5e6/2 = 2_500_000; asw_ppm = 5e6/5 = 1_000_000;
    // fre = 206_835_000 - 1015*2_500_000/1000 - 84600*1_000_000/1000
    //     = 206_835_000 - 2_537_500 - 84_600_000 = 119_697_500
    assert(got(1L) == ((5L, 2L, 5L, 119697500L)))
    // empty text: 0 words, clamped 1 sentence, 0 syllables -> base score
    assert(got(2L) == ((0L, 1L, 0L, 206835000L)))
    // sentence-free: clamps to 1 sentence, doesn't error
    assert(got(3L)._2 == 1L && got(3L)._1 == 4L)
  }

  test("rep-grain nb/lm training is bit-identical to the per-row " +
    "explode on a clone-heavy corpus (weighted distinct-text counts)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = Seq(
      (1L, "the cat sat on the mat", true),
      (2L, "der hund und die katze", false),
      (3L, "the dog and the cat ran", true),
      (4L, null.asInstanceOf[String], false))
      .toDF("id", "text", "trusted")
    // uneven clone mass: doc 1 x4, doc 2 x2, doc 3 x1 — and one clone
    // of doc 1 with the OPPOSITE trusted flag (classes split per
    // (text, flag), not per text)
    val cloned = base
      .unionAll(base.filter(col("id") === 1L).withColumn("id", lit(11L)))
      .unionAll(base.filter(col("id") === 1L).withColumn("id", lit(12L)))
      .unionAll(base.filter(col("id") === 1L).withColumn("id", lit(13L))
        .withColumn("trusted", lit(false)))
      .unionAll(base.filter(col("id") === 2L).withColumn("id", lit(21L)))
    val m = TextOps.nbTrainHashed(cloned, "text", col("trusted"))
    // per-row mirror of the pre-rep-grain counting
    val perRow = cloned
      .select(col("trusted").cast("boolean").as("_pos"),
        explode(TextOps.tokens(col("text"))).as("_w"))
      .groupBy(col("_w"))
      .agg(sum(when(col("_pos"), 1L).otherwise(0L)).as("_cp"),
        sum(when(col("_pos"), 0L).otherwise(1L)).as("_cn"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // same vocabulary size and, via the score surface, same lambdas:
    // score every doc with the trained model and with a model trained
    // on a row-shuffled copy (order independence), then check the
    // trained counts against the per-row mirror through the priors
    assert(m.keys.length == perRow.size)
    val m2 = TextOps.nbTrainHashed(cloned.orderBy(rand(7)), "text",
      col("trusted"))
    assert(m.keys.toSeq == m2.keys.toSeq &&
      m.vals.toSeq == m2.vals.toSeq && m.priorFx == m2.priorFx)
    // independent count check: "the" appears 4x in doc1 (x3 trusted
    // copies = 12 pos) + 1x in doc1-untrusted clone (4 neg)... derive
    // from the mirror instead of hand-counting and require the model
    // to reproduce EVERY lambda from those counts
    def hashWord(w: String): Long =
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(w), 42L)
    val v = perRow.size.toLong
    val np = perRow.values.map(_._1).sum
    val nn = perRow.values.map(_._2).sum
    def lam(cp: Long, cn: Long): Long = math.floor(
      (math.log((cp + 1).toDouble / (np + v).toDouble) -
        math.log((cn + 1).toDouble / (nn + v).toDouble)) *
        1073741824.0).toLong
    perRow.foreach { case (w, (cp, cn)) =>
      val i = java.util.Arrays.binarySearch(m.keys, hashWord(w))
      assert(i >= 0, s"token '$w' missing from the model")
      assert(m.vals(i) == lam(cp, cn), s"lambda mismatch for '$w'")
    }
    // LM twin: unigram/bigram counts from the rep-grain trainer match
    // the per-row explode counts exactly
    val lm = TextOps.lmTrainHashed(cloned, "text")
    val uniRow = cloned
      .select(explode(TextOps.tokens(col("text"))).as("_w"))
      .groupBy(col("_w")).agg(count(lit(1)).as("_c"))
      .collect().map(r => (hashWord(r.getString(0)), r.getLong(1)))
      .sortBy(_._1)
    assert(lm.uniKeys.toSeq == uniRow.map(_._1).toSeq)
    assert(lm.uniVals.toSeq == uniRow.map(_._2).toSeq)
    assert(lm.biKeys.length > 0 && lm.v == uniRow.length + 1.0)
  }

  test("containsBlockedPhrase builds its phrase hash sets without a Spark job") {
    import spark.implicits._
    val phrases = Seq("bad word", "evil phrase here", "single")
    val (pred, c) = org.apache.spark.graft.JobBudget.measure(spark)(
      TextOps.containsBlockedPhrase(col("text"), phrases))
    assert(c.jobs == 0, c.toString)
    val hits = Seq((1L, "a Bad-Word! here"), (2L, "the evil phrase here"),
        (3L, "evil phrase apart here"), (4L, "single"), (5L, "fine"))
      .toDF("id", "text").filter(pred)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(hits == Set(1L, 2L, 4L))
  }
}
