package graft

import org.apache.spark.sql.functions._
import graft.ext.{DedupOps, TextOps}

/** §2.10 near-dup dedup: exact, Jaccard, MinHash-LSH, SimHash — on
  * constructed corpora with KNOWN duplicate structure. */
class DedupOpsSpec extends SparkSpec {

  private def corpus() = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " +
      "while the sly cat watches from the old wooden fence nearby"
    val nearDup = base.replace("lazy", "sleepy") // one-token edit
    val distinct1 = "completely different content about spark catalyst " +
      "optimizer rules and whole stage code generation for queries"
    val distinct2 = "yet another unrelated document mentioning minhash " +
      "signatures locality sensitive hashing and banding tricks"
    Seq((0L, base), (1L, nearDup), (2L, distinct1), (3L, distinct2),
      (4L, base) // exact clone of 0
    ).toDF("id", "text")
  }

  test("exactByText keeps lowest id per identical text") {
    val kept = DedupOps.exactByText(corpus(), "id", "text")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 1L, 2L, 3L)) // clone id=4 dropped, near-dup kept
  }

  test("jaccardPairs: clone pair at 1.0; near-dup high; distinct low") {
    val pairs = DedupOps.jaccardPairs(corpus(), "id", "text", n = 2)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 4L)) == 1.0)
    assert(pairs((0L, 1L)) > 0.7) // one-token edit on 20 tokens
    assert(pairs((2L, 3L)) < 0.1)
  }

  test("minhash LSH finds clones and near-dups, not distinct pairs") {
    val pairs = DedupOps.nearDupPairsMinhash(corpus(), "id", "text",
        shingleN = 2, numPerm = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 4L)))
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.contains((2L, 3L)))
  }

  test("minhash pair jaccard is exactly 1.0 for clones") {
    val j = DedupOps.nearDupPairsMinhash(corpus(), "id", "text")
      .filter(col("id_a") === 0 && col("id_b") === 4)
      .collect()(0).getDouble(2)
    assert(j == 1.0)
  }

  test("dedupeNearMinhash drops the higher-id member of each pair") {
    val kept = DedupOps.dedupeNearMinhash(corpus(), "id", "text")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(0L) && kept.contains(2L) && kept.contains(3L))
    assert(!kept.contains(4L)) // clone of 0
    assert(!kept.contains(1L)) // near-dup of 0
  }

  test("dedupeCorpus composes exact + near dedup, keeping min ids") {
    val kept = DedupOps.dedupeCorpus(corpus(), "id", "text")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L, 3L)) // 4 = clone, 1 = near-dup of 0
  }

  test("simhash: clones at hamming 0; near-dups within bound; blocking finds them") {
    val pairs = DedupOps.nearDupPairsSimhash(corpus(), "id", "text",
        maxHamming = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((0L, 4L)) == 0)
    assert(pairs.get((0L, 1L)).forall(_ <= 10))
    assert(!pairs.contains((2L, 3L)))
  }

  test("portable simhash: clones at hamming 0; near-dups within bound; no false positives") {
    val pairs = DedupOps.nearDupPairsSimhashPortable(corpus(), "id", "text",
        maxHamming = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs((0L, 4L)) == 0)
    assert(pairs.get((0L, 1L)).forall(_ <= 10))
    assert(!pairs.contains((2L, 3L)))
  }

  test("simhash rep tier == member grain on a clone-heavy corpus, both variants") {
    import spark.implicits._
    // Edge cases the presence contract must preserve: null texts (never
    // pair in either variant), zero-token texts (pair with each other in
    // the xxhash64 variant — graft_simhash([]) = 0 — but are absent from
    // the portable explode→groupBy form), trim/case clones (same
    // fingerprint class), and heavy clone mass on one text.
    val base = "the quick brown fox jumps over the lazy dog " +
      "while the sly cat watches from the old wooden fence nearby"
    val rows: Seq[(Long, String)] =
      (0L until 12L).map(i => (i, base)) ++ Seq(
        (12L, base.replace("lazy", "sleepy")),
        (13L, "  " + base.toUpperCase + "  "), // trim/case clone of base
        (14L, "completely different content about spark catalyst " +
          "optimizer rules and whole stage code generation"),
        (15L, "!!!"), (16L, "???"), (17L, "!!!"),
        (18L, null), (19L, null))
    val df = rows.toDF("id", "text")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2))
    for (mh <- Seq(3, 10)) {
      val repX = DedupOps.nearDupPairsSimhash(df, "id", "text", mh)
        .collect().map(key).toSet
      val memX = DedupOps.nearDupPairsSimhashMemberGrain(df, "id", "text", mh)
        .collect().map(key).toSet
      assert(repX == memX, s"xxhash64 variant diverged at maxHamming=$mh")
      val repP = DedupOps.nearDupPairsSimhashPortable(df, "id", "text", mh)
        .collect().map(key).toSet
      val memP = DedupOps
        .nearDupPairsSimhashPortableMemberGrain(df, "id", "text", mh)
        .collect().map(key).toSet
      assert(repP == memP, s"portable variant diverged at maxHamming=$mh")
      // The presence contracts themselves, not just agreement: empty-token
      // texts pair at hamming 0 in the xxhash64 variant only; null texts
      // pair in neither; the trim/case clone rides the base clique.
      assert(repX.contains((15L, 17L, 0)) && repX.contains((15L, 16L, 0)))
      assert(!repP.exists(p => Set(p._1, p._2).intersect(Set(15L, 16L, 17L))
        .nonEmpty))
      assert(!repX.exists(p => Set(p._1, p._2).intersect(Set(18L, 19L))
        .nonEmpty))
      assert(repP.contains((0L, 13L, 0)))
      // Clone clique is complete: 13 members of the base class (ids 0-11
      // plus 13) → C(13,2) = 78 hamming-0 intra pairs.
      assert(repP.count(_._3 == 0) >= 78)
    }
  }

  test("portable simhash stays within 60 bits and is order-insensitive") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"))
      .toDF("id", "text")
    val h = DedupOps.simhashPortable(df, "id", "text")
      .orderBy("_id").collect().map(_.getLong(1))
    assert(h(0) == h(1))
    assert(h(0) >= 0L && h(0) < (1L << 60))
  }

  test("simhash64 is deterministic and order-insensitive for token multisets") {
    import spark.implicits._
    val df = Seq("alpha beta gamma", "gamma beta alpha").toDF("text")
    val h = df.select(DedupOps.simhash64(TextOps.tokens(col("text"))))
      .collect().map(_.getLong(0))
    assert(h(0) == h(1))
  }

  test("fuzzyPairsEdit1: substitutions, insertions, deletions, equals — and nothing at distance 2") {
    import spark.implicits._
    val df = Seq(
      (1L, "abc"), (2L, "abd"),  // substitution
      (3L, "abcd"),              // insertion vs 1
      (4L, "ab"),                // deletion vs 1
      (5L, "abc"),               // exact duplicate of 1
      (6L, "ba"),                // distance 2 from "ab" (swap) — excluded
      (7L, "xyz")                // unrelated
    ).toDF("id", "s")
    val got = DedupOps.fuzzyPairsEdit1(df, "id", "s")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(4))).toMap
    assert(got == Map(
      (1L, 2L) -> 1, (1L, 3L) -> 1, (1L, 4L) -> 1, (1L, 5L) -> 0,
      (2L, 3L) -> 1, (2L, 4L) -> 1, // abd→abcd (insert c), abd→ab (del d)
      (2L, 5L) -> 1, (3L, 5L) -> 1, (4L, 5L) -> 1))
  }

  test("fuzzyPairsEdit1 under duplicate mass: copies expand to exactly the true pairs") {
    import spark.implicits._
    // 3 copies of "aa", 2 of "ab": within-group C(3,2)+C(2,2) dist-0
    // pairs plus 3×2 cross dist-1 pairs — the distinct-string tier must
    // expand to all 10, with str columns tracking the id order
    val df = Seq((1L, "aa"), (5L, "aa"), (9L, "aa"), (3L, "ab"),
      (7L, "ab")).toDF("id", "s")
    val got = DedupOps.fuzzyPairsEdit1(df, "id", "s").collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getString(2), r.getString(3), r.getInt(4)))).toMap
    assert(got.size == 10)
    assert(got.keys.forall { case (a, b) => a < b })
    assert(got((1L, 5L)) == ("aa", "aa", 0))
    assert(got((3L, 7L)) == ("ab", "ab", 0))
    assert(got((1L, 3L)) == ("aa", "ab", 1))
    assert(got((3L, 5L)) == ("ab", "aa", 1)) // swap keeps str-id pairing
    assert(got((7L, 9L)) == ("ab", "aa", 1))
  }

  test("contamination family: class tier == row grain per id on clone mass") {
    import spark.implicits._
    // Per-id verdicts/counts are pure functions of (text, benchmark),
    // so adding unrelated filler rows cannot change them — corpus A is
    // clone-heavy (class tier fires), corpus B = A ∪ distinct filler
    // (dup factor < 4 → row grain); results restricted to A's ids must
    // be identical. Null/empty texts ride along as absence cases.
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog near the old fence",
      "completely different content about catalyst optimizer rules",
      "shared benchmark trigram fragment lives right here verbatim",
      "", null)
    val a = (for { (t, i) <- texts.zipWithIndex; c <- 0 until 6 }
      yield ((c * 10 + i).toLong, t)).toDF("id", "text")
    val filler = (1000L until 1150L)
      .map(i => (i, s"filler doc $i with its own token salad ${i * 7}"))
      .toDF("id", "text")
    val b = a.unionAll(filler)
    val bench = Seq((1L,
      "a benchmark doc containing the shared benchmark trigram " +
        "fragment lives right here verbatim and nothing else"))
      .toDF("id", "text")
    val aIds = (0 until 6).flatMap(c => texts.indices.map(i =>
      (c * 10 + i).toLong)).toSet
    val idsA = DedupOps.contaminatedIds(a, bench, "id", "text")
      .collect().map(_.getLong(0)).toSet
    val idsB = DedupOps.contaminatedIds(b, bench, "id", "text")
      .collect().map(_.getLong(0)).toSet.intersect(aIds)
    assert(idsA == idsB && idsA.nonEmpty)
    def stats(df: org.apache.spark.sql.DataFrame) =
      DedupOps.contaminationStats(df, bench, "id", "text")
        .collect().filter(r => aIds(r.getLong(0)))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          math.round(r.getDouble(3) * 1e9))).toSet
    assert(stats(a) == stats(b) && stats(a).nonEmpty)
    // absence: empty/null-text ids never appear
    assert(!stats(a).exists(s => s._1 % 10 == 3 || s._1 % 10 == 4))
  }

  test("clusterCohesion class tier == row grain per component on clone mass") {
    import spark.implicits._
    // Components are PASSED IN, so filler rows (absent from them)
    // cannot change any component's report — corpus A (6× clones,
    // class tier) vs A ∪ filler (row grain) must agree per component.
    // Texts chosen so one cluster chains A~B~C with J(A,C) low (the
    // over-merge alarm the op exists for) and clones inflate member
    // counts: n_pairs must read C(M,2) with M = member rows, min must
    // see the cross-class floor, intra cliques contribute j=1.0 mass.
    val tA = "the quick brown fox jumps over the lazy dog by the fence"
    val tB = "the quick brown fox jumps over the sleepy dog by the gate"
    val tC = "a sleepy dog by the gate watches quiet ships sail far away"
    val rows = (for { (t, i) <- Seq(tA, tB, tC).zipWithIndex
                      c <- 0 until 6 }
      yield ((c * 10 + i).toLong, t)) :+ (99L, "unrelated loner text")
    val a = rows.toDF("id", "text")
    val filler = (1000L until 1120L)
      .map(i => (i, s"distinct filler $i with spare tokens ${i % 17}"))
      .toDF("id", "text")
    val b = a.unionAll(filler)
    val comp = rows.collect { case (id, t) if t != "unrelated loner text" =>
      (id, 0L) }.toDF("id", "component")
    def run(d: org.apache.spark.sql.DataFrame) =
      DedupOps.clusterCohesion(d, "id", "text", comp, n = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    val (ra, rb) = (run(a), run(b))
    assert(ra == rb && ra.size == 1)
    val (_, m, p, mn, av) = ra.head
    assert(m == 18L && p == 153L) // C(18,2)
    assert(mn < 500000L, s"chained extremes must floor the min: $mn")
    assert(av > mn && av <= 1000000L)
  }

  test("fuzzy rep contract: pairs+classes reconstruct the member-grain list") {
    import spark.implicits._
    // The rep-grain contract (str pairs with member counts + the class
    // map) must carry the SAME information as the quadratic id-pair
    // list: expanding rep pairs through the class map and adding each
    // multi-member class's intra clique reproduces fuzzyPairsEdit1.
    val df = Seq((1L, "aa"), (5L, "aa"), (9L, "aa"), (3L, "ab"),
      (7L, "ab"), (11L, "abc"), (13L, "zz"), (15L, null))
      .toDF("id", "s")
    val rep = DedupOps.fuzzyPairsEdit1Rep(df, "id", "s").collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getInt(2), r.getLong(3), r.getLong(4)))).toMap
    // Distinct-pair face: counts are the member masses.
    assert(rep == Map(
      ("aa", "ab") -> (1, 3L, 2L),
      ("ab", "abc") -> (1, 2L, 1L)))
    val cls = DedupOps.fuzzyClassesEdit1(df, "id", "s").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // Participants only: "zz" has no neighbor and one member → absent;
    // null strings never participate.
    assert(cls == Map("aa" -> (3L, 1L), "ab" -> (2L, 3L),
      "abc" -> (1L, 11L)))
    // Reconstruction == member grain.
    val ids = df.filter(col("s").isNotNull)
      .collect().map(r => r.getString(1) -> r.getLong(0))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val rebuilt = scala.collection.mutable.Set[(Long, Long, Int)]()
    for (((sa, sb), (d, _, _)) <- rep; a <- ids(sa); b <- ids(sb))
      rebuilt += ((math.min(a, b), math.max(a, b), d))
    for ((s, (n, _)) <- cls if n >= 2; a <- ids(s); b <- ids(s) if a < b)
      rebuilt += ((a, b, 0))
    val member = DedupOps.fuzzyPairsEdit1(df, "id", "s").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    assert(rebuilt.toSet == member)
  }

  test("connectedComponents: chains collapse transitively, clusters stay separate") {
    import spark.implicits._
    // 1-2-3-4-5-6 is a diameter-5 chain (forces several propagation
    // rounds); 10-11 is a separate pair; 20-21/21-22 a triangle-free vee.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (20L, 21L), (21L, 22L)).toDF("id_a", "id_b")
    val got = DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 6L).forall(got(_) == 1L))
    assert(got(10L) == 10L && got(11L) == 10L)
    assert(Seq(20L, 21L, 22L).forall(got(_) == 20L))
    assert(got.size == 11)
  }

  test("resolveClusters keeps the best-quality row per cluster, singletons untouched") {
    import spark.implicits._
    // Cluster {1,2,3} via chain; 3 has the best quality. 4-5 pair: tie
    // on quality → lowest id (4) wins. 9 is a singleton.
    val rows = Seq(
      (1L, "a", 0.1), (2L, "a'", 0.5), (3L, "a''", 0.9),
      (4L, "b", 0.7), (5L, "b'", 0.7),
      (9L, "c", 0.0)
    ).toDF("id", "text", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = DedupOps.resolveClusters(rows, "id", pairs, "quality")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L, 9L))
    // Contrast: pairwise drop-higher-id would keep 1 (worst quality).
  }

  test("connectedComponents cleans superseded reliable checkpoints per round") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt_cc").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    spark.conf.set("spark.graft.tierBudgetBytes", "0") // iterative tier
    try {
      // A 12-node chain: hook rounds plus compression jumps run several
      // materializes — each must delete its predecessor's checkpoint
      // files, not pile them up for the job's lifetime.
      val pairs = (0 until 11).map(i => (i.toLong, i.toLong + 1))
        .toDF("id_a", "id_b")
      val comp = DedupOps.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((0L to 11L).forall(comp(_) == 0L))
      val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .iterator().asScala
        .filter(_.getFileName.toString.startsWith("rdd-")).toSeq
      assert(rddDirs.size <= 2,
        s"superseded checkpoints left behind: $rddDirs")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      spark.conf.unset("spark.graft.tierBudgetBytes")
    }
  }

  test("connectedComponents at adversarial diameter: 200-node path in O(log d) rounds") {
    import spark.implicits._
    // A 200-node path (diameter 199) is the worst case for plain
    // min-label propagation — one hop per round would need ~200 rounds
    // and trip the maxIter=25 guard. With hook + compress-to-flat the
    // round-1 label forest IS the path (label(v) = v−1), compression
    // flattens it to 0 in ~log₂(199) jumps, and round 2 confirms the
    // fixpoint: 2 outer rounds total.
    val pairs = (0 until 199).map(i => (i.toLong, i.toLong + 1))
      .toDF("id_a", "id_b")
    // pin the ITERATIVE tier: this test probes round mechanics, which
    // the r18 driver-local union-find tier (result-identical, pinned
    // in R18KernelsSpec) would bypass
    spark.conf.set("spark.graft.tierBudgetBytes", "0")
    val got = DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 200)
    assert((0L to 199L).forall(got(_) == 0L))
    assert(DedupOps.lastCcRounds.get() == 2,
      s"expected 2 rounds, took ${DedupOps.lastCcRounds.get()}")
    assert(DedupOps.lastCcJumps.get() <= 12, // ⌈log₂ 199⌉ + confirms
      s"too many compression jumps: ${DedupOps.lastCcJumps.get()}")
    spark.conf.unset("spark.graft.tierBudgetBytes")
  }

  test("connectedComponents at adversarial diameter: ids against the grain") {
    import spark.implicits._
    // Same shape, but path order is the BIT-REVERSED id sequence: every
    // node's graph neighbors are numerically distant, and the min id
    // sits behind zig-zag detours. This layout defeats hop+single-jump
    // (it needed >25 rounds before compress-to-flat existed — coverage
    // doubling requires the min's ball to extend the node's own, which
    // this layout denies). Full compression must converge well inside
    // the guard on ANY layout — the property, not an exact count.
    val ids = (0 until 256).map(i =>
      Integer.reverse(i) >>> 24).map(_.toLong)
    val pairs = ids.sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("id_a", "id_b")
    spark.conf.set("spark.graft.tierBudgetBytes", "0")
    val got = DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 256)
    assert(got.values.forall(_ == 0L))
    assert(DedupOps.lastCcRounds.get() <= 10,
      s"guard at risk: ${DedupOps.lastCcRounds.get()} rounds " +
        s"(${DedupOps.lastCcJumps.get()} jumps)")
    spark.conf.unset("spark.graft.tierBudgetBytes")
  }

  test("connectedComponents fails loudly past maxIter instead of returning a partial merge") {
    import spark.implicits._
    // maxIter=1: the first hook+compress round DOES move labels (so the
    // sum changes and convergence cannot be declared), and no confirm
    // round is allowed — the guard must throw, not return the
    // (possibly complete but UNVERIFIED) labeling.
    val pairs = (0 until 40).map(i => (i.toLong, i.toLong + 1))
      .toDF("id_a", "id_b")
    spark.conf.set("spark.graft.tierBudgetBytes", "0")
    val e = intercept[IllegalStateException] {
      DedupOps.connectedComponents(pairs, maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge"))
    spark.conf.unset("spark.graft.tierBudgetBytes")
  }

  test("connectedComponents on an empty edge list returns an empty frame") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(DedupOps.connectedComponents(empty).isEmpty)
  }

  test("fuzzyPairsEdit1 equals the naive all-pairs levenshtein join on fixture customers") {
    val cust = graft.engine.Engine.table(spark, fixtureDir, "customer")
    val fast = DedupOps.fuzzyPairsEdit1(cust, "c_custkey", "c_name")
      .select("id_a", "id_b", "dist")
    val a = cust.select(col("c_custkey").as("id_a"), col("c_name").as("na"))
    val b = cust.select(col("c_custkey").as("id_b"), col("c_name").as("nb"))
    val naive = a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("na"), col("nb")).as("dist"))
      .filter(col("dist") <= 1)
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty,
      "deletion-neighborhood blocking must lose no pair vs all-pairs")
  }

  test("decontaminate removes trigram-overlap docs; short docs are immune") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated words about spark physical plans"),
      (3L, "quick brown fox"),   // exactly the benchmark trigram
      (4L, "quick brown")        // <3 tokens: cannot be contaminated
    ).toDF("id", "text")
    val bench = Seq((100L, "a quick brown fox appeared")).toDF("id", "text")
    val kept = DedupOps.decontaminate(corpus, bench, "id", "text", n = 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L))
    val bad = DedupOps.contaminatedIds(corpus, bench, "id", "text", n = 3)
      .collect().map(_.getLong(0)).toSet
    assert(bad == Set(1L, 3L))
  }

  test("incrementalDedup equals the naive anti-join; Bloom prunes tier 2") {
    import spark.implicits._
    val history = graft.engine.Engine.table(spark, fixtureDir, "documents")
      .select(col("doc_id"), col("text"))
    // new batch: 30 genuinely new docs + 10 exact re-crawls of history
    val fresh = (1L to 30L)
      .map(i => (100000L + i, s"entirely novel crawl document number $i"))
    val recrawled = history.filter(col("doc_id") < 10)
      .collect().map(r => (200000L + r.getLong(0), r.getString(1))).toSeq
    val batch = (fresh ++ recrawled).toDF("doc_id", "text")
    val got = DedupOps.incrementalDedup(batch, history, "doc_id", "text",
        expectedHistoryRows = 1000L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // ground truth: plain anti-join on the fingerprint
    val naive = batch
      .withColumn("_fp", graft.ext.TextOps.fingerprint(col("text")))
      .join(history.select(
          graft.ext.TextOps.fingerprint(col("text")).as("_hfp")),
        col("_fp") === col("_hfp"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == naive, "two-tier result must equal the exact anti-join")
    assert(got == fresh.map(_._1).toSet, "all re-crawls dropped, all fresh kept")
    // tier-1 really prunes: at fpp 1% the candidate side is ~the dups,
    // not the batch — count Bloom positives directly
    val bloom = history
      .select(graft.ext.TextOps.fingerprint(col("text")).as("_hfp"))
      .stat.bloomFilter("_hfp", 1000L, 0.01)
    val positives = batch.collect().map(_.getString(1)).count(t =>
      bloom.mightContainString(
        java.security.MessageDigest.getInstance("MD5")
          .digest(t.toLowerCase.trim.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString))
    assert(positives < 20, s"Bloom should pass ~10 dups, saw $positives")
  }

  test("incrementalComponents == full recluster: merges, extensions, " +
      "new clusters, unlabeled-old endpoints") {
    import spark.implicits._
    // day-1 graph: {1,2}, {3,4}, {5,6}; 7/8 were day-1 singletons (no
    // pairs → NOT in the label table)
    val day1Pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val day1Labels = DedupOps.connectedComponents(day1Pairs)
    // day-2 pairs exercise every case: (2,3) merges two existing
    // components; (6,9) attaches a new node to an old component;
    // (9,10) chains new-new off that; (11,12) is a brand-new cluster;
    // (8,13) pairs an UNLABELED old doc with a new one; (1,2) re-crawls
    // an existing in-component edge (must be a no-op)
    val day2Pairs = Seq((2L, 3L), (6L, 9L), (9L, 10L), (11L, 12L),
      (8L, 13L), (1L, 2L)).toDF("id_a", "id_b")
    val got = DedupOps.incrementalComponents(day1Labels, day2Pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = DedupOps.connectedComponents(
        day1Pairs.unionAll(day2Pairs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == full,
      s"incremental must equal full recluster:\n got=$got\nfull=$full")
    // spot-check the semantics, not just the equivalence
    val m = got.toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(m(_) == 1L), "merged to min id 1")
    assert(Seq(5L, 6L, 9L, 10L).forall(m(_) == 5L), "extension keeps 5")
    assert(m(11L) == 11L && m(12L) == 11L, "new cluster labels at 11")
    assert(m(8L) == 8L && m(13L) == 8L, "unlabeled-old endpoint works")
    assert(!m.contains(7L), "never-paired docs stay out of the labels")
  }

  test("incrementalComponents == full recluster on seeded random " +
      "graphs and random day splits") {
    import spark.implicits._
    val rnd = new scala.util.Random(12)
    (1 to 4).foreach { trial =>
      val n = 30 + rnd.nextInt(40)
      val edges = (0 until n * 2).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      // random day split — any edge may land in either day, including
      // duplicate re-crawls of day-1 edges in day 2
      val (d1, d2raw) = edges.partition(_ => rnd.nextBoolean())
      val d2 = d2raw ++ d1.filter(_ => rnd.nextInt(4) == 0) // re-crawls
      // skip degenerate trials (either day empty)
      if (d1.nonEmpty && d2.nonEmpty) {
        val day1 = d1.toDF("id_a", "id_b")
        val day2 = d2.toDF("id_a", "id_b")
        val got = DedupOps.incrementalComponents(
            DedupOps.connectedComponents(day1), day2)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val full = DedupOps.connectedComponents(day1.unionAll(day2))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == full, s"trial $trial: n=$n |d1|=${d1.size} " +
          s"|d2|=${d2.size}\n got=$got\nfull=$full")
      }
    }
  }

  test("near-dup index persists to parquet and reproduces the " +
      "recompute path exactly (the daily-cadence round trip)") {
    val hist = graft.engine.Engine.table(spark, fixtureDir, "documents")
      .select(col("doc_id"), col("text"))
    val batch = hist.filter(col("doc_id") < 15)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val toPairs = (df: org.apache.spark.sql.DataFrame) =>
      df.select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // day 1 writes its index; day 2 reads it back
    val ixPath = s"/tmp/graft_ndix_${System.nanoTime()}"
    DedupOps.buildNearDupIndex(hist, "doc_id", "text")
      .write.parquet(ixPath)
    val viaIndex = toPairs(DedupOps.incrementalNearDupPairsWithIndex(
      batch, spark.read.parquet(ixPath), "doc_id", "text",
      shingleN = 2, numPerm = 64, bands = 16, threshold = 0.8))
    val recomputed = toPairs(DedupOps.incrementalNearDupPairsMinhash(
      batch, hist, "doc_id", "text", shingleN = 2, numPerm = 64,
      bands = 16, threshold = 0.8))
    assert(viaIndex == recomputed)
    assert(viaIndex.nonEmpty, "planted clones must pair")
    // append-only across days: index ∪ batch index = next day's index
    val day2Ix = spark.read.parquet(ixPath).unionByName(
      DedupOps.buildNearDupIndex(batch, "doc_id", "text"))
    assert(day2Ix.count() ==
      DedupOps.buildNearDupIndex(hist.unionAll(batch), "doc_id", "text")
        .count())
  }

  test("componentsAndIndexNearMinhash: one corpus pass yields labels " +
      "== componentsNearMinhash and index == buildNearDupIndex on a " +
      "clone-heavy corpus") {
    val base = graft.engine.Engine.table(spark, fixtureDir, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 120)
    val corpus = base
      .unionAll(base.filter(col("doc_id") < 40)
        .select((col("doc_id") + 1000).as("doc_id"), col("text")))
    val (labels, index) = DedupOps.componentsAndIndexNearMinhash(
      corpus, "doc_id", "text", shingleN = 2, numPerm = 64,
      bands = 16, threshold = 0.8)
    val gotLabels = labels.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantLabels = DedupOps.componentsNearMinhash(corpus, "doc_id",
        "text", shingleN = 2, numPerm = 64, bands = 16, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotLabels == wantLabels && gotLabels.nonEmpty)
    def ixRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector,
        r.getSeq[Long](2).toVector)).toSet
    val gotIx = ixRows(index)
    val wantIx = ixRows(DedupOps.buildNearDupIndex(corpus, "doc_id",
      "text", shingleN = 2, numPerm = 64))
    assert(gotIx == wantIx && gotIx.nonEmpty)
    // and the combined index drives the incremental pair stage the
    // same as a from-scratch history build (the day-1 consumer)
    val batch = base.filter(col("doc_id") < 15)
      .select((col("doc_id") + 5000).as("doc_id"), col("text"))
    val viaCombined = DedupOps.incrementalNearDupPairsWithIndex(batch,
        index, "doc_id", "text", 2, 64, 16, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaScratch = DedupOps.incrementalNearDupPairsMinhash(batch,
        corpus, "doc_id", "text", 2, 64, 16, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaCombined == viaScratch && viaCombined.nonEmpty)
  }

  test("nearDupPairsMinhash representative tier is bit-equal to the " +
      "naive per-row LSH pipeline on a clone-heavy corpus") {
    val base = graft.engine.Engine.table(spark, fixtureDir, "documents")
      .select(col("doc_id"), col("text")).filter(col("doc_id") < 100)
    // multi-member identity classes: docs < 30 twice-cloned, < 10 thrice
    val corpus = base
      .unionAll(base.filter(col("doc_id") < 30)
        .select((col("doc_id") + 1000).as("doc_id"), col("text")))
      .unionAll(base.filter(col("doc_id") < 10)
        .select((col("doc_id") + 2000).as("doc_id"), col("text")))
    // the naive pipeline the rewrite replaced: every ROW is shingled,
    // signed, banded and verified
    val shing = DedupOps.hashedShingleSets(corpus, "doc_id", "text", 2)
      .filter(size(col("_sh")) > 0)
    val sigs = shing.select(col("_id"),
      call_function("graft_minhash_sig", col("_sh"), lit(64)).as("_sig"))
    val banded = sigs.select(col("_id"),
        posexplode(DedupOps.bandHashes(col("_sig"), 16, 4)))
      .withColumnsRenamed(Map("pos" -> "_band", "col" -> "_bh"))
    val cand = banded.select(col("_band"), col("_bh"),
        col("_id").as("id_a"))
      .join(banded.select(col("_band"), col("_bh"), col("_id").as("id_b")),
        Seq("_band", "_bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).dropDuplicates("id_a", "id_b")
    val naive = cand
      .join(shing.select(col("_id").as("id_a"), col("_sh").as("sh_a")),
        Seq("id_a"))
      .join(shing.select(col("_id").as("id_b"), col("_sh").as("sh_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    val toSet = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = toSet(DedupOps.nearDupPairsMinhash(corpus, "doc_id",
      "text", 2, 64, 16, 0.5))
    val want = toSet(naive)
    assert(got == want,
      s"rep-tier pairs must equal naive pairs: got ${got.size}, " +
        s"want ${want.size}")
    // the clone structure actually exercised the expansion: intra-class
    // triangles (i, i+1000, i+2000) for i < 10 all at jaccard 1.0
    assert((0L until 10L).forall(i =>
      got.contains((i, i + 1000L, 1.0)) &&
        got.contains((i, i + 2000L, 1.0)) &&
        got.contains((i + 1000L, i + 2000L, 1.0))))
  }

  test("incrementalNearDupPairsMinhash = the full-corpus pairs that " +
      "touch the batch") {
    val hist = graft.engine.Engine.table(spark, fixtureDir, "documents")
      .select(col("doc_id"), col("text"))
    // batch: clones of history docs (certain near-dups) + novel text
    val batch = hist.filter(col("doc_id") < 20)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val toPairs = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = toPairs(DedupOps.incrementalNearDupPairsMinhash(
      batch, hist, "doc_id", "text", shingleN = 2, numPerm = 64,
      bands = 16, threshold = 0.8))
    val full = toPairs(DedupOps.nearDupPairsMinhash(
      hist.unionAll(batch), "doc_id", "text", shingleN = 2,
      numPerm = 64, bands = 16, threshold = 0.8))
    val batchIds = batch.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val expected = full.filter { case (a, b) =>
      batchIds.contains(a) || batchIds.contains(b) }
    assert(got == expected,
      s"batch-touching pairs must match the full run: got ${got.size}," +
        s" expected ${expected.size}")
    assert(got.nonEmpty, "planted clones must pair")
    // every planted clone must pair with its original (J = 1.0)
    assert((0L until 20L).forall(i => got.contains((i, i + 10000L))),
      "each clone pairs with its original")
  }

  // ------------------------------------------------- all-pairs cosine

  test("allPairsCosine equals the unpruned definition (prefix filter " +
      "drops nothing)") {
    val docs = graft.engine.Engine.table(spark, fixtureDir, "documents")
    for ((tn, td) <- Seq((2, 5), (3, 5), (4, 5))) {
      val got = DedupOps.allPairsCosine(docs, "doc_id", "text", tn, td,
          gramN = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getDouble(3))).toMap
      // naive mirror: full posting self-join, same fixed-point weights
      val n = docs.count()
      val toks = TextOps.tokens(col("text"))
      val tf = docs.select(col("doc_id").as("_id"),
          explode(TextOps.shingles(toks, 3)).as("_t"))
        .groupBy("_id", "_t").agg(count(lit(1)).as("_tf"))
      val dfr = tf.groupBy("_t").agg(count(lit(1)).as("_df"))
      val w = tf.join(dfr, "_t")
        .select(col("_id"), col("_t"),
          (col("_tf") * floor(call_function("graft_ln",
            lit(n.toDouble) / col("_df").cast("double")) * 1000L)
            .cast("long")).as("_w"))
        .filter(col("_w") > 0)
      val norms = w.groupBy("_id").agg(sum(col("_w") * col("_w")).as("_n"))
      val want = w.select(col("_id").as("_a"), col("_t"), col("_w").as("_wa"))
        .join(w.select(col("_id").as("_b"), col("_t"), col("_w").as("_wb")),
          Seq("_t"))
        .filter(col("_a") < col("_b"))
        .groupBy("_a", "_b").agg(sum(col("_wa") * col("_wb")).as("dot"))
        .join(norms.select(col("_id").as("_a"), col("_n").as("_na")), Seq("_a"))
        .join(norms.select(col("_id").as("_b"), col("_n").as("_nb")), Seq("_b"))
        .withColumn("score", round(col("dot").cast("double") /
          (sqrt(col("_na").cast("double")) * sqrt(col("_nb").cast("double"))),
          6))
        .filter(col("score") >= lit(tn.toDouble / td))
        .collect().map(r => (r.getAs[Long]("_a"), r.getAs[Long]("_b")) ->
          (r.getAs[Long]("dot"), r.getAs[Double]("score"))).toMap
      assert(got == want, s"t=$tn/$td: ${got.size} vs ${want.size} pairs")
      assert(want.nonEmpty, s"vacuous fixture at t=$tn/$td")
    }
  }

  test("allPairsCosine under duplicate mass: clone expansion equals " +
      "the naive definition run over every copy") {
    // The sf1 probe caught the naive shape OOMing under 10x exact
    // replication; the distinct-text tier must expand to EXACTLY the
    // pairs the unpruned definition produces over the full corpus —
    // intra-class pairs at dot = ‖x‖², cross-class pairs replicated,
    // idf computed over ALL copies (df sums class sizes).
    val base = graft.engine.Engine.table(spark, fixtureDir, "documents")
      .filter(col("doc_id") < 40).select(col("doc_id"), col("text"))
    val docs = base
      .unionAll(base.filter(col("doc_id") < 15)
        .select((col("doc_id") + 1000).as("doc_id"), col("text")))
      .unionAll(base.filter(col("doc_id") < 5)
        .select((col("doc_id") + 2000).as("doc_id"), col("text")))
    val got = DedupOps.allPairsCosine(docs, "doc_id", "text", 3, 5,
        gramN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val n = docs.count()
    val toks = TextOps.tokens(col("text"))
    val tf = docs.select(col("doc_id").as("_id"),
        explode(TextOps.shingles(toks, 3)).as("_t"))
      .groupBy("_id", "_t").agg(count(lit(1)).as("_tf"))
    val dfr = tf.groupBy("_t").agg(count(lit(1)).as("_df"))
    val w = tf.join(dfr, "_t")
      .select(col("_id"), col("_t"),
        (col("_tf") * floor(call_function("graft_ln",
          lit(n.toDouble) / col("_df").cast("double")) * 1000L)
          .cast("long")).as("_w"))
      .filter(col("_w") > 0)
    val norms = w.groupBy("_id").agg(sum(col("_w") * col("_w")).as("_n"))
    val want = w.select(col("_id").as("_a"), col("_t"), col("_w").as("_wa"))
      .join(w.select(col("_id").as("_b"), col("_t"), col("_w").as("_wb")),
        Seq("_t"))
      .filter(col("_a") < col("_b"))
      .groupBy("_a", "_b").agg(sum(col("_wa") * col("_wb")).as("dot"))
      .join(norms.select(col("_id").as("_a"), col("_n").as("_na")), Seq("_a"))
      .join(norms.select(col("_id").as("_b"), col("_n").as("_nb")), Seq("_b"))
      .withColumn("score", round(col("dot").cast("double") /
        (sqrt(col("_na").cast("double")) * sqrt(col("_nb").cast("double"))),
        6))
      .filter(col("score") >= lit(0.6))
      .collect().map(r => (r.getAs[Long]("_a"), r.getAs[Long]("_b")) ->
        (r.getAs[Long]("dot"), r.getAs[Double]("score"))).toMap
    assert(got == want, {
      val miss = want.keySet -- got.keySet
      val extra = got.keySet -- want.keySet
      s"missing=${miss.take(5)} extra=${extra.take(5)} " +
        s"(${got.size} vs ${want.size})"
    })
    // the clone structure actually exercised both expansion tiers
    assert(want.keys.exists { case (a, b) => b - a == 1000L }) // intra
    assert(want.size > 20)
  }

  test("allPairsCosine: the prefix index is a strict subset of the " +
      "postings, and shrinks as the threshold rises") {
    val docs = graft.engine.Engine.table(spark, fixtureDir, "documents")
    def counts(tn: Int, td: Int) = {
      val (w, _, prefix, _) = DedupOps.apssPostings(docs, "doc_id", "text",
        tn, td, 3, 1000L)
      (prefix.count(), w.count())
    }
    val (p35, full) = counts(3, 5)
    val (p45, _) = counts(4, 5)
    assert(p35 < full, s"prefix $p35 !< postings $full")
    assert(p45 <= p35, s"tighter threshold grew the prefix: $p45 > $p35")
    // monotone output sanity on the same corpus
    val loose = DedupOps.allPairsCosine(docs, "doc_id", "text", 2, 5,
      gramN = 3).count()
    val tight = DedupOps.allPairsCosine(docs, "doc_id", "text", 4, 5,
      gramN = 3).count()
    assert(tight <= loose && loose > 0)
  }

  test("allPairsCosine plan: no cartesian product, id-partitioned window") {
    val docs = graft.engine.Engine.table(spark, fixtureDir, "documents")
    val p = DedupOps.allPairsCosine(docs, "doc_id", "text", 3, 5, gramN = 3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("clusterCohesion: clone clusters read 1.0; a chained cluster's " +
      "min falls below the edge threshold; singletons never shingle") {
    import spark.implicits._
    // A~B and B~C are near-dups, A~C share almost nothing: the classic
    // transitive-closure chain. D/E are exact clones. F is a singleton.
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta iota kappa"),
      (3L, "iota kappa lambda mu nu xi omicron pi"),
      (4L, "the same exact clone text here"),
      (5L, "the same exact clone text here"),
      (6L, "a lonely unrelated document about nothing"))
      .toDF("id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val comps = DedupOps.connectedComponents(pairs)
    val out = DedupOps.clusterCohesion(df, "id", "text", comps)
      .collect()
      .map(r => r.getAs[Long]("component") ->
        (r.getAs[Long]("n_members"), r.getAs[Long]("n_pairs"),
          r.getAs[Long]("min_jaccard_ppm"),
          r.getAs[Long]("avg_jaccard_ppm"))).toMap
    assert(out.keySet == Set(1L, 4L)) // singleton 6 absent
    val (nm, np, mn, av) = out(1L)
    assert(nm == 3L && np == 3L)
    // the A-C extreme shares only "iota kappa": far below any sane
    // near-dup threshold, while the mean stays moderate
    assert(mn < 200000L, s"min=$mn")
    assert(av > mn)
    assert(out(4L) == ((2L, 1L, 1000000L, 1000000L)))
  }

  test("minhashEstimateAudit: clones agree on every permutation; " +
      "disjoint pairs agree on none; error bounded by granularity") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // clone of 1
      (3L, "entirely different words about completely other things here"))
      .toDF("id", "text")
    val out = DedupOps.minhashEstimateAudit(df, "id", "text",
        n = 2, numPerm = 16).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Long]("n_agree"), r.getAs[Long]("est_ppm"),
          r.getAs[Double]("jaccard"), r.getAs[Long]("err_ppm"))).toMap
    // identical shingle sets -> identical signatures, est exactly 1
    val clone = out((1L, 2L))
    assert(clone._1 == 16L && clone._2 == 1000000L && clone._3 == 1.0
      && clone._4 == 0L)
    // disjoint shingle sets -> min over disjoint hash sets; agreement
    // only by md5 collision (none on this fixture), est exactly 0
    val disj = out((1L, 3L))
    assert(disj._3 == 0.0 && disj._1 == 0L && disj._4 == 0L)
    // estimator granularity: est_ppm is a multiple of 1e6/16
    assert(out.values.forall(v => v._2 % 62500L == 0L))
  }

  test("containmentPairs: asymmetric — catches the embedded doc that " +
    "Jaccard misses; exact dups fire both ways") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta"), // prefix of 1: contained
      (3L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
      (4L, "totally different words here")
    ).toDF("id", "text")
    val got = DedupOps.containmentPairs(docs, "id", "text",
        n = 2, tauPpm = 600000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // doc 2 (3 bigrams) fully inside docs 1 and 3 → 10^6 both
    assert(got((2L, 1L)) == ((3L, 3L, 1000000L)))
    assert(got((2L, 3L)) == ((3L, 3L, 1000000L)))
    // the reverse direction is 3/7 — BELOW threshold (what Jaccard-like
    // symmetric measures would also miss, but here by design)
    assert(!got.contains((1L, 2L)))
    // exact duplicates contain each other
    assert(got((1L, 3L))._3 == 1000000L && got((3L, 1L))._3 == 1000000L)
    // the unrelated doc pairs with nothing
    assert(got.keys.forall { case (a, b) => a != 4L && b != 4L })
    assert(got.size == 4)
  }

  /** Clone-heavy corpus with INTERLEAVED ids across classes — reps are
    * not uniformly smaller than adjacent classes' members, singleton
    * and multi-member classes both occur, and one multi-member class
    * ("x") has an EMPTY shingle set at shingleN=2 (single token — no
    * bigrams), so its members must be absent from every pair-graph
    * consumer. */
  private def supernodeCorpus() = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " +
      "while the sly cat watches from the old wooden fence nearby"
    val near = base.replace("lazy", "sleepy")
    val other = "completely different content about spark catalyst " +
      "optimizer rules and whole stage code generation for queries"
    Seq(
      (5L, base), (7L, base), (13L, base), // class rep 5
      (6L, near), // singleton class adjacent to 5's
      (2L, other), (11L, other), // separate clone class, rep 2
      (3L, "x"), (4L, "x") // multi-member but shingle-free: absent
    ).toDF("id", "text")
  }

  test("componentsNearMinhash == connectedComponents over the expanded " +
    "pair graph (labels expand, edges don't)") {
    val df = supernodeCorpus()
    val sup = DedupOps.componentsNearMinhash(df, "id", "text",
        threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = DedupOps.connectedComponents(
        DedupOps.nearDupPairsMinhash(df, "id", "text", threshold = 0.5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sup == full)
    // structure sanity: base+near one cluster labeled 5, other-class
    // labeled 2, shingle-free members absent
    assert(sup(6L) == 5L && sup(7L) == 5L && sup(13L) == 5L)
    assert(sup(11L) == 2L && sup(2L) == 2L)
    assert(!sup.contains(3L) && !sup.contains(4L))
  }

  test("communitiesNearMinhash == member-grain LPA over the expanded " +
    "pair graph") {
    val df = supernodeCorpus()
    for (rounds <- Seq(1, 3)) {
      val sup = DedupOps.communitiesNearMinhash(df, "id", "text",
          threshold = 0.5, rounds = rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val full = graft.ext.GraphOps.labelPropagation(
          DedupOps.nearDupPairsMinhash(df, "id", "text", threshold = 0.5),
          "id_a", "id_b", rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sup == full, s"rounds=$rounds")
    }
  }

  test("dedupeNearMinhash class-grain keep set == expanded-pair " +
    "anti-join; rep survives when smaller than every neighbor") {
    val df = supernodeCorpus()
    val kept = DedupOps.dedupeNearMinhash(df, "id", "text",
        threshold = 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    // direct expanded-path computation of the same contract
    val losers = DedupOps.nearDupPairsMinhash(df, "id", "text",
        threshold = 0.5)
      .select("id_b").distinct().collect().map(_.getLong(0)).toSet
    val expect = Set(5L, 7L, 13L, 6L, 2L, 11L, 3L, 4L) -- losers
    assert(kept == expect)
    // hand trace: 5 keeps (rep, min of its cluster), 7/13 intra-drop,
    // 6 drops (adjacent rep 5 < 6), 2 keeps, 11 intra-drops,
    // 3/4 keep (shingle-free class never pairs)
    assert(kept == Set(5L, 2L, 3L, 4L))
  }

  test("dedupeCorpus (rep-tier skipped by proof) == dedupeNearMinhash " +
    "after exactByText") {
    val df = supernodeCorpus()
    val viaCorpus = DedupOps.dedupeCorpus(df, "id", "text")
      .select("id").collect().map(_.getLong(0)).toSet
    val viaCompose = DedupOps.dedupeNearMinhash(
        DedupOps.exactByText(df, "id", "text"), "id", "text")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(viaCorpus == viaCompose)
  }

  test("benchmarkGramHashes: one scan job, no shuffle; same array as the " +
      "explode + distinct form") {
    import org.apache.spark.sql.Row
    val texts = Seq("alpha beta gamma delta", "beta gamma delta alpha beta",
      "short", null, "alpha beta gamma", "")
    val bench = spark.createDataFrame(
      spark.sparkContext.parallelize(texts.map(Row(_)), 3),
      org.apache.spark.sql.types.StructType.fromDDL("text STRING"))
    val (got, c) = org.apache.spark.graft.JobBudget.measure(spark)(
      DedupOps.benchmarkGramHashes(bench, "text"))
    assert(c.jobs == 1 && c.shuffleStages == 0, c.toString)
    val exploded = bench.select(explode(call_function("graft_shingle_hashes",
        call_function("graft_hash_tokens", TextOps.tokens(col("text"))),
        lit(3))).as("_h"))
      .distinct().collect().map(_.getLong(0)).sorted
    assert(got.nonEmpty && got.toSeq == exploded.toSeq)
  }
}
