package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.{GrainProbe, TextClasses}

/** Mergeable corpus sketches — the cardinality / frequency / coverage
  * summaries a 100 TB pipeline computes where the exact plan's shuffle
  * would be corpus- or vocabulary-sized. Every sketch here is
  * DETERMINISTIC (a pure function of the input set, independent of
  * partitioning and row order) over the repo's portable 60-bit md5 hash
  * (`conv(substring(md5(x),1,15),16,10)` ≡ DuckDB
  * `('0x'||substr(md5(x),1,15))::BIGINT`, the DSIR convention —
  * [[TextOps.dsirSelect]]), so the DuckDB oracle reproduces not just
  * the answer but the sketch itself bit-for-bit. Reference scope: the
  * reference profiles corpora with exact pandas passes
  * (`core/utils/db_core.py` value_counts/nunique); these are the
  * scale-true replacements.
  *
  *  - [[kmvSketch]]: distinct counting with k-long state
  *    (Bar-Yossef et al. 2002) — vs `COUNT(DISTINCT)` whose exact plan
  *    shuffles every distinct value.
  *  - [[cmsSketch]]: token-frequency point queries from a fixed
  *    depth×width counter grid (Cormode & Muthukrishnan 2005) — vs the
  *    vocabulary-sized exact count relation.
  *  - [[vocabCoverage]]: tokenizer-design coverage curve (what token
  *    mass does a top-k vocabulary capture) without a corpus- or
  *    vocab-wide window.
  *
  * [[kmvSketch]] and [[cmsSketch]] are STREAM-LEGAL: both are grouped
  * aggregations whose state is bounded (k longs / the d×w grid) and
  * whose merge is associative, so they maintain themselves
  * incrementally in a Structured Streaming aggregation — the live
  * distinct/frequency monitors of the ingest DAG (StreamingSpec pins
  * micro-batch == batch equality for both).
  */
object SketchOps {

  /** Portable 60-bit hash, uniform on [0, 2⁶⁰): the first 15 hex chars
    * of md5 — small enough to stay exact through BIGINT/DOUBLE math in
    * every engine. Compiled ([[graft.expressions.NativeExprs.h60]]):
    * bit-identical to `conv(substring(md5(c), 1, 15), 16, 10)
    * .cast(long)` without the two intermediate string
    * materializations per row. */
  def h60(c: Column): Column =
    call_function("graft_h60", c.cast("string"))

  private final val Pow2_60 = 1152921504606846976.0 // exact double

  /** The countable unit: tokens (gramN = 1) or space-joined gramN-token
    * shingles — n-grams are what dedup/novelty sketches count, and on
    * low-diversity corpora they are also what keeps the sketch regime
    * non-trivial (a 31-type token vocabulary never fills a k=256
    * sketch; its 3-gram space does). */
  private def units(textCol: Column, gramN: Int): Column =
    if (gramN <= 1) TextOps.tokens(textCol)
    else coalesce(TextOps.shingles(TextOps.tokens(textCol), gramN),
      array().cast("array<string>"))

  /** KMV distinct-token sketch per group: the k smallest distinct
    * token-hash values, the k-th of which estimates the group's
    * distinct-token count as `(k−1)·2⁶⁰ / h₍ₖ₎`; groups with fewer
    * than k distinct hashes report exactly (the sketch IS the set).
    *
    * Scale shape: explode to the token stream, hash (narrow,
    * codegen'd), then ONE grouped [[graft.expressions.KMinDistinct]]
    * aggregate — map-side partials put at most k longs per (task,
    * group) on the wire; no distinct-reduce of the token stream, no
    * vocabulary-sized exchange anywhere. The estimator arithmetic is
    * engine-exact: `(k−1)·2⁶⁰` is an exact double (8-bit significand
    * shifted), the BIGINT→DOUBLE cast of h₍ₖ₎ and the division are
    * correctly rounded identically under IEEE 754, and `floor` pins
    * the result to a BIGINT.
    *
    * Output: group, `n_seen` (min(k, distinct) — sketch fill), and
    * `est_distinct`. */
  /** The raw per-group k-min arrays — the mergeable sketch itself;
    * [[kmvSketch]] decodes it to an estimate, [[kmvOverlapMatrix]]
    * set-operates on it. */
  def kmvMins(df0: DataFrame, groupCol: String, textCol: String,
              k: Int, gramN: Int): DataFrame = {
    require(k >= 2, s"kmvMins: k must be >= 2: $k")
    groupTextClasses(graft.engine.Engine.spread(df0), groupCol, textCol)
      .relation(col(groupCol))
      .select(col(groupCol), explode(units(col("_t"), gramN)).as("_u"))
      .select(col(groupCol), h60(col("_u")).as("_h"))
      .groupBy(col(groupCol))
      .agg(call_function("graft_kmin", col("_h"), lit(k)).as("_mins"))
  }

  /** The class tier of every DUPLICATE-BLIND sketch, keyed on the
    * (group, raw text) pair: KMV keeps k distinct minima, HLL takes a
    * register max, Bloom bit_ors masks, so identical (group, text)
    * rows contribute identical state, and the relation
    * (`.relation(col(groupCol))`: one row per distinct pair at class
    * grain) is a semantic no-op while the unit explode — the dominant
    * cost (r16 sweep: 86–158 s member-grain at sf10 on a 100×-clone
    * corpus) — shrinks to distinct mass. Instance-counting sketches
    * (CMS, heavy hitters) must NOT use this; they weight by copy count
    * instead ([[textClasses]]). */
  private[graft] def groupTextClasses(df: DataFrame, groupCol: String,
                                      textCol: String): TextClasses =
    GrainProbe.classes(df, concat_ws("\u0000",
      col(groupCol).cast("string"), md5(col(textCol))), col(textCol))

  /** KMV estimate from a k-min array: exact when under-full (the
    * sketch IS the distinct set), `(k−1)·2⁶⁰/h₍ₖ₎` when full. */
  def kmvEstimate(mins: Column, k: Int): Column =
    when(size(mins) < k, size(mins).cast("long"))
      .otherwise(floor(lit((k - 1).toDouble * Pow2_60) /
        element_at(mins, k).cast("double")).cast("long"))

  def kmvSketch(df0: DataFrame, groupCol: String, textCol: String,
                k: Int = 256, gramN: Int = 1): DataFrame =
    kmvMins(df0, groupCol, textCol, k, gramN)
      .select(col(groupCol),
        size(col("_mins")).as("n_seen"),
        kmvEstimate(col("_mins"), k).as("est_distinct"))

  /** Pairwise corpus-overlap matrix from per-group KMV sketches — the
    * "how much does source A duplicate source B" audit WITHOUT any
    * cross-source join of actual content. The k-mins of A ∪ B are
    * exactly the k smallest of `mins(A) ∪ mins(B)` (k-min-of-union =
    * k-min of the k-min unions), so the union sketch, the Jaccard
    * estimator ρ = |U ∩ A ∩ B| / |U| (Beyer et al. 2007), and the
    * union-cardinality estimate all derive from the G tiny sketch rows
    * alone: the corpus is read ONCE to build per-group sketches, and
    * the G²/2 pair stage touches only k-long arrays. Integer/exact-
    * double arithmetic end to end — the DuckDB twin reproduces every
    * cell. */
  def kmvOverlapMatrix(df0: DataFrame, groupCol: String,
                       textCol: String, k: Int = 256,
                       gramN: Int = 1): DataFrame = {
    val sk = kmvMins(df0, groupCol, textCol, k, gramN)
    val a = sk.select(col(groupCol).as("src_a"), col("_mins").as("_ma"))
    val b = sk.select(col(groupCol).as("src_b"), col("_mins").as("_mb"))
    val u = slice(array_sort(array_distinct(
      concat(col("_ma"), col("_mb")))), 1, k)
    a.join(broadcast(b), col("src_a") < col("src_b"))
      .withColumn("_u", u)
      .select(col("src_a"), col("src_b"),
        size(col("_u")).as("k_union"),
        size(array_intersect(array_intersect(col("_u"), col("_ma")),
          col("_mb"))).as("n_shared"),
        kmvEstimate(col("_u"), k).as("union_est_distinct"))
      .withColumn("jaccard_ppm",
        expr("cast(n_shared as bigint) * 1000000 div k_union"))
  }

  /** Count-min sketch of the corpus token-frequency distribution:
    * a fixed depth×width grid of counters, counter `(j, c)` summing
    * every occurrence of any token with `hash_j(token) = c`; a token's
    * frequency estimate is the MIN over its depth cells (never an
    * undercount; overcounts only from hash collisions). `hash_j` is
    * the portable 60-bit hash of `"j:token"`, reduced mod width.
    *
    * Scale shape: the token stream fans out ×depth and collapses into
    * ≤ depth·width cells with full map-side partial aggregation — per
    * task, only the tiny grid crosses the network, and the sketch
    * never holds the vocabulary. Returns the grid (`j`, `cell`,
    * `cnt`); probe with [[cmsEstimate]]. */
  /** The fingerprint class tier of the token/gram-INSTANCE counting
    * sketches: instance counts are pure per-text functions, so
    * Σ_rows count_g(text) = Σ_classes m·count_g(text), exactly, over
    * the (copy-weight `_m`, text `_t`) relation, while the explode/hash
    * pipeline (the dominant cost — the sf10 sweep measured cms at 324x
    * and heavy hitters at 238x their sf0.1 time on a 100x-clone
    * corpus) scales with distinct mass. At row grain `_m = 1` and the
    * plan keeps its zero-text-shuffle shape. */
  private def textClasses(df: DataFrame, textCol: String): TextClasses =
    GrainProbe.classes(df, graft.ext.TextOps.fingerprint(col(textCol)),
      col(textCol))

  /** [[cmsSketch]] over a prepared (copy-weight `_m`, text `_t`)
    * relation — the shared core of the public sketch and the
    * heavy-hitter grid build. */
  private def cmsSketchWeighted(mt: DataFrame, depth: Int, width: Int,
                                gramN: Int): DataFrame =
    // One compiled flattened-positions pass per doc (unit-major, so
    // j = pos mod depth) replaces the unit explode × depth fan-out ×
    // interpreted concat→md5→hex→conv chain — identical (j, cell, _m)
    // rows, same grid (graft_bloom_positions shares the "<j>:<unit>"
    // salt anatomy with the Bloom build).
    mt.select(col("_m"),
        posexplode(bloomPositionsArr(units(col("_t"), gramN), width,
          depth)))
      .select(pmod(col("pos"), lit(depth)).as("j"),
        col("col").as("cell"), col("_m"))
      .groupBy(col("j"), col("cell"))
      .agg(sum(col("_m")).as("cnt"))

  def cmsSketch(df0: DataFrame, textCol: String,
                depth: Int = 4, width: Int = 64,
                gramN: Int = 1): DataFrame = {
    require(depth >= 1 && width >= 2,
      s"cmsSketch: bad depth/width $depth/$width")
    cmsSketchWeighted(
      textClasses(graft.engine.Engine.spread(df0), textCol).relation(),
      depth, width, gramN)
  }

  /** EXACT heavy hitters (all units with global count ≥ minCount) at
    * sketch cost: the CMS grid — d·w longs, a driver-bounded plan
    * literal like the Bloom/LM/centroid tiers — never undercounts, so
    * filtering the unit stream by the LITERAL-grid estimate before the
    * exact count drops no true heavy hitter (no false negatives), and
    * the exact count then removes the collision false positives. The
    * only keyed shuffle carries candidate occurrences — collision mass
    * bounded by d·w cells at T/width expected each — instead of the
    * whole vocabulary; the candidate filter itself is a codegen'd
    * narrow projection (element_at over literal arrays). Result is
    * PROVABLY equal to the exact `HAVING count ≥ minCount` — the
    * DuckDB twin just runs that. */
  def heavyHitters(df0: DataFrame, textCol: String, minCount: Long,
                   depth: Int = 4, width: Int = 64,
                   gramN: Int = 1): DataFrame = {
    require(minCount >= 1, s"heavyHitters: bad minCount $minCount")
    val df = graft.engine.Engine.spread(df0)
    // The weighted-distinct relation feeds BOTH the grid build and the
    // candidate-filtered exact count (heavy hitters used to pay the
    // member-grain explode twice) — materialized so the fingerprint
    // group runs once, not per consumer.
    val mt = graft.engine.Engine.materialize(
      textClasses(df, textCol).relation().select(col("_m"), col("_t")))
    val grid = Array.fill(depth)(new Array[Long](width))
    cmsSketchWeighted(mt, depth, width, gramN).collect()
      .foreach(r => grid(r.getInt(0))(r.getLong(1).toInt) = r.getLong(2))
    val unit = col("_t")
    val est = (0 until depth).map { j =>
      element_at(lit(grid(j)),
        (call_function("graft_bloom_pos", unit, lit(width.toLong),
          lit(j)) + lit(1L)).cast("int"))
    }.reduce(least(_, _))
    mt.select(col("_m"), explode(units(col("_t"), gramN)).as("_t"))
      .filter(est >= minCount)
      .groupBy(col("_t")).agg(sum(col("_m")).as("n_exact"))
      .filter(col("n_exact") >= minCount)
      .select(col("_t").as("gram"), col("n_exact"))
  }

  /** HyperLogLog distinct sketch per group (Flajolet et al. 2007) —
    * the fixed-REGISTER complement of [[kmvSketch]]: m = 2ᵖ 6-bit
    * registers per group (vs k 64-bit minima), merged by elementwise
    * MAX, which makes the sketch trivially stream-legal and
    * partition-independent. Hash anatomy over [[h60]]: the top p bits
    * pick a register j, the remaining W = 60−p bits y score
    * ρ = W − bitlen(y) + 1 (position of the highest set bit from the
    * left; ρ = W+1 when y = 0) via the engine-portable
    * `length(bin(y))` — no float log anywhere. Registers fold in ONE
    * grouped max + ONE grouped sum; the harmonic denominator
    * T = Σⱼ 2^(W+1−Mⱼ) is EXACT INTEGER arithmetic (Mⱼ ≤ W+1 so every
    * term is a long; T ≤ m·2^(W+1) < 2⁶² at p ≤ 8), with empty
    * registers contributing 2^(W+1) each. The estimate is then one
    * double division `αₘ·m²·2^(W+1) / T` — the numerator is a single
    * Scala-computed literal the oracle SQL interpolates verbatim, so
    * both engines perform the identical IEEE operation — with the
    * standard linear-counting fallback `m·ln(m/V)` (V = empty
    * registers) when the raw estimate ≤ 2.5m and V > 0.
    *
    * Output: group, `n_zero_registers`, `t_harmonic` (the exact T) and
    * `est_distinct`. Relative error ≈ 1.04/√m (~6.5% at p = 8) at
    * 3 KB of state per group against COUNT(DISTINCT)'s
    * every-distinct-value shuffle. */
  def hllSketch(df0: DataFrame, groupCol: String, textCol: String,
                p: Int = 8, gramN: Int = 1): DataFrame =
    hllEstimate(hllRegisters(df0, groupCol, textCol, p, gramN),
      groupCol, p)

  /** The raw (group, register j, Mⱼ) frame — ONE grouped max, so it is
    * the STREAM-LEGAL face of the sketch (bounded state: ≤ m rows per
    * group in the state store, max-merge across micro-batches);
    * [[hllEstimate]] decodes it. */
  def hllRegisters(df0: DataFrame, groupCol: String, textCol: String,
                   p: Int, gramN: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"hllRegisters: p out of range: $p")
    val W = 60 - p
    // register max is duplicate-blind → distinct (group, text) tier
    groupTextClasses(graft.engine.Engine.spread(df0), groupCol, textCol)
      .relation(col(groupCol))
      .select(col(groupCol), explode(units(col("_t"), gramN)).as("_u"))
      .select(col(groupCol), h60(col("_u")).as("_h"))
      .select(col(groupCol),
        shiftright(col("_h"), W).cast("int").as("_j"),
        col("_h").bitwiseAND(lit((1L << W) - 1L)).as("_y"))
      .select(col(groupCol), col("_j"),
        when(col("_y") === 0L, lit(W + 1))
          .otherwise(lit(W + 1) - length(bin(col("_y"))).cast("int"))
          .as("_rho"))
      .groupBy(col(groupCol), col("_j"))
      .agg(max(col("_rho")).as("_mj"))
  }

  /** Decode a [[hllRegisters]] frame to per-group estimates — register-
    * table-sized work (≤ m rows per group), shared by the batch sketch
    * and any streaming register sink. */
  def hllEstimate(regs: DataFrame, groupCol: String, p: Int): DataFrame = {
    val m = 1 << p
    val W = 60 - p
    val num = hllNumerator(p) // exact literal shared with the oracle
    val perEmpty = 1L << (W + 1)
    regs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("_np"),
        sum(expr(s"shiftleft(1L, ${W + 1} - _mj)")).as("_tp"))
      .select(col(groupCol),
        (lit(m) - col("_np")).cast("int").as("n_zero_registers"),
        (col("_tp") + (lit(m.toLong) - col("_np")) * lit(perEmpty))
          .as("t_harmonic"))
      .withColumn("_eraw", lit(num) / col("t_harmonic").cast("double"))
      .withColumn("est_distinct",
        when(col("n_zero_registers") > 0 && col("_eraw") <= lit(2.5 * m),
          floor(lit(m.toDouble) * call_function("graft_ln",
            lit(m.toDouble) / col("n_zero_registers").cast("double")))
            .cast("long"))
          .otherwise(floor(col("_eraw")).cast("long")))
      .drop("_eraw")
  }

  /** The shared estimator-numerator literal of [[hllSketch]] — exposed
    * so the oracle SQL builder interpolates the IDENTICAL double. */
  private[graft] def hllNumerator(p: Int): Double = {
    val m = 1 << p
    val alpha =
      if (m == 16) 0.673 else if (m == 32) 0.697
      else if (m == 64) 0.709 else 0.7213 / (1.0 + 1.079 / m)
    alpha * m * m * math.pow(2.0, 60 - p + 1)
  }

  /** Point-query a [[cmsSketch]] grid for each probe token: the
    * estimate is `min_j grid(j, hash_j(token))`. The grid side is
    * depth·width rows — broadcast; the probe side only ever carries
    * the probe tokens. Missing cells read as 0 (token never seen). A
    * null token has no cell positions; the outer explode keeps its
    * probe row, which matches no cell and reads 0. */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame,
                  tokenCol: String,
                  depth: Int = 4, width: Int = 64): DataFrame = {
    val probed = probes
      .select(col("*"),
        posexplode_outer(
          bloomPositionsArr(array(col(tokenCol)), width, depth))
          .as(Seq("j", "cell")))
    probed.join(broadcast(sketch), Seq("j", "cell"), "left")
      .groupBy(probes.columns.map(col): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** Vocabulary coverage curve: the fraction (ppm) of the corpus token
    * MASS captured by a frequency-ranked top-k vocabulary, at each cut
    * in `ks` — the tokenizer-design question ("how big must the vocab
    * be for 99% coverage") answered corpus-wide.
    *
    * Scale shape: the corpus reduces once to the (token, count)
    * relation; the global frequency rank comes from
    * [[graft.transform.Ids.assignContiguousIds]]'s two-pass
    * range-partitioned shape (NO single-partition window over the
    * vocabulary — rank by (count desc, token) via an integer-negated
    * struct key); each cut is then a conditional sum in ONE global
    * aggregate, so no prefix-sum window exists anywhere. Ties and the
    * ragged tail follow the deterministic (count desc, token asc)
    * order, mirrored in the oracle's ROW_NUMBER.
    *
    * Output: one row per cut — `top_k`, `covered_tokens`,
    * `total_tokens`, `coverage_ppm` (floor division, engine-exact). */
  def vocabCoverage(df0: DataFrame, textCol: String,
                    ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"vocabCoverage: bad ks $ks")
    val df = graft.engine.Engine.spread(df0)
    // Instance counts via the weighted distinct-text tier (the CMS
    // discipline): on a clone-heavy corpus the tokenize+explode — the
    // dominant cost — runs once per DISTINCT text and each class row
    // carries its copy multiplicity `_m`; sum(_m) over the class's
    // exploded instances = Σ m·tf = the exact member-grain instance
    // count. Row grain is the identity `_m = 1` case.
    val vocab = textClasses(df, textCol).relation()
      .select(col("_m"), explode(TextOps.tokens(col("_t"))).as("_t2"))
      .groupBy(col("_t2").as("_t")).agg(sum(col("_m")).as("_c"))
    val ranked = graft.transform.Ids.assignContiguousIds(
      vocab, struct((-col("_c")).as("_nc"), col("_t")), "_rk0")
      .withColumn("_rk", col("_rk0") + lit(1L))
    val sorted = ks.sorted
    val aggs = sorted.map(k =>
      sum(when(col("_rk") <= k, col("_c")).otherwise(lit(0L)))
        .as(s"_cov_$k")) :+ sum(col("_c")).as("_tot")
    val wide = ranked.agg(aggs.head, aggs.tail: _*)
    val stackArgs = sorted.map(k => s"$k, _cov_$k").mkString(", ")
    wide.selectExpr(
        s"stack(${sorted.length}, $stackArgs) as (top_k, covered_tokens)",
        "_tot as total_tokens")
      .select(col("top_k"), col("covered_tokens"), col("total_tokens"))
      .withColumn("coverage_ppm",
        expr("covered_tokens * 1000000 div total_tokens"))
  }

  /** The d seeded Bloom bit positions of every unit in an array, as one
    * flattened `array<long>`: `pmod(h60("j:" + u), m)` for j < depth —
    * the same salted-hash anatomy as [[cmsSketch]], so the DuckDB twin
    * reproduces every position. Compiled ([[graft.expressions
    * .NativeExprs.bloomPositions]]): one digest-byte loop per unit
    * instead of depth interpreted concat→md5→hex→substring→conv chains
    * (r17 verdict ask #7 — x_sketch_bloom's fan-out was the sf0.1/sf10
    * pole). */
  private def bloomPositionsArr(unitsArr: Column, mBits: Int,
                                depth: Int): Column =
    call_function("graft_bloom_positions", unitsArr,
      lit(mBits.toLong), lit(depth))

  /** Bloom-filter membership sketch per group, as a relation: the m-bit
    * filter is (≤ ⌈m/63⌉) `(group, word, bits)` rows, each word a
    * 63-bit slab folded with `bit_or` — ONE grouped aggregation with
    * full map-side partials, so at most ⌈m/63⌉ longs per (task, group)
    * cross the network regardless of corpus size (Bloom 1970; the same
    * filter family [[graft.ext.DedupOps]] ships as a plan literal for
    * incremental dedup — here the filter is built IN the engine, as
    * data, so it can be grouped, stored, and streamed). `bit_or` is
    * associative and the state is bounded, so the face is STREAM-LEGAL:
    * a streaming grouped aggregate maintains the identical words
    * incrementally (StreamingSpec pins micro-batch == batch).
    *
    * Membership of unit u sets depth bits `pmod(h60("j:" + u), m)` —
    * salted exactly like the CMS rows, reproduced bit-for-bit by the
    * oracle. Slabs are 63 bits (shifts 0..62, masks always positive)
    * because DuckDB's checked `<<` raises on `1::BIGINT << 63` —
    * sign-bit slabs would be inexpressible on the oracle side. */
  def bloomWords(df0: DataFrame, groupCol: String, textCol: String,
                 mBits: Int, depth: Int, gramN: Int): DataFrame = {
    require(mBits >= 63 && depth >= 1,
      s"bloomWords: bad m/depth $mBits/$depth")
    // bit_or is duplicate-blind → distinct (group, text) tier;
    // streaming frames take row grain (stream-legal contract).
    groupTextClasses(graft.engine.Engine.spread(df0), groupCol, textCol)
      .relation(col(groupCol))
      .select(col(groupCol),
        explode(bloomPositionsArr(units(col("_t"), gramN), mBits, depth))
          .as("_pos"))
      .select(col(groupCol), (col("_pos") / 63L).cast("long").as("word"),
        call_function("shiftleft", lit(1L),
            pmod(col("_pos"), lit(63L)).cast("int"))
          .as("_mask"))
      .groupBy(col(groupCol), col("word"))
      .agg(call_function("bit_or", col("_mask")).as("bits"))
  }

  /** Probe a [[bloomWords]] sketch: for each probe row, `bloom_hit` is
    * true iff ALL depth salted bits are set in the filter of that
    * probe's group. The sketch side is ≤ groups·⌈m/63⌉ rows —
    * broadcast `depth` times (one aliased join per salted hash), so
    * the probe stream NEVER shuffles: no explode, no re-group — the
    * first shape fanned ×depth and collapsed with a grouped min keyed
    * on the unit STRING, which at sf0.1 shuffled millions of gram
    * strings for a 380-row answer (measured 9.2 s → 1.8 s). Missing
    * words read as 0 (bit absent). No false negatives, by
    * construction: a unit that was fed to the filter build always
    * probes true. */
  /** Attach the depth salted bit positions (`_p0.._p{d-1}`) to a unit
    * frame — exposed so callers probing one unit against MANY filters
    * can hash each unit once and let the fan-out replicate the
    * positions instead of recomputing depth md5s per (unit, filter)
    * pair ([[bloomProbe]] reuses existing `_p*` columns). */
  def bloomPositionsFor(df: DataFrame, unitCol: String, mBits: Int,
                        depth: Int): DataFrame =
    df.select(col("*") +: (0 until depth).map { j =>
      call_function("graft_bloom_pos", col(unitCol),
        lit(mBits.toLong), lit(j)).as(s"_p$j")
    }: _*)

  def bloomProbe(sketch: DataFrame, probes: DataFrame, groupCol: String,
                 unitCol: String, mBits: Int, depth: Int): DataFrame = {
    val withPos =
      if (probes.columns.contains("_p0")) probes
      else bloomPositionsFor(probes, unitCol, mBits, depth)
    val joined = (0 until depth).foldLeft(withPos) { (df, j) =>
      val sk = sketch.select(col(groupCol).as(s"_g$j"),
        col("word").as(s"_w$j"), col("bits").as(s"_b$j"))
      df.join(broadcast(sk),
          col(groupCol) === col(s"_g$j") &&
            (col(s"_p$j") / 63L).cast("long") === col(s"_w$j"), "left")
        .drop(s"_g$j", s"_w$j")
    }
    val hit = (0 until depth).map { j =>
      coalesce(col(s"_b$j"), lit(0L))
        .bitwiseAND(call_function("shiftleft", lit(1L),
          pmod(col(s"_p$j"), lit(63L)).cast("int"))) =!= lit(0L)
    }.reduce(_ && _)
    joined.select(probes.columns.filterNot(_.matches("_p\\d+"))
      .map(col) :+ hit.as("bloom_hit"): _*)
  }

  /** Log₂-bucket quantile sketch — the HDR-histogram discipline
    * (Tene, HdrHistogram; the same relative-error-bucket family as
    * DDSketch, Masson et al. 2019) with NO transcendental anywhere:
    * a value is fixed-pointed to `i = floor(v·scale)` (one
    * correctly-rounded IEEE multiply — identical in every engine) and
    * bucketed by clearing all but its top `mBits+1` significant bits,
    * `b = i − i mod 2^max(0, bitlen(i)−1−mBits)`, so bucket width is
    * RELATIVE: every value in a bucket satisfies
    * `b ≤ i < b·(1+2^−mBits)`. Bit-length rides the engine-portable
    * `length(bin(i))` (the [[hllSketch]] trick), making the whole
    * sketch EXACT integer arithmetic the DuckDB twin reproduces bucket
    * for bucket. Positive-domain by contract (log buckets need
    * positive support): rows with `i < 1` are excluded — shift or
    * split by sign upstream if the domain crosses zero.
    *
    * Scale shape: one narrow codegen'd projection, then ONE grouped
    * count on (group, bucket) with map-side partials — state per group
    * is ≤ 2^mBits buckets per octave × ~40 octaves of long range
    * (≈ 2.6k longs at mBits = 6 vs quantile-exact's full value sort).
    * Merging two sketches is adding counts (associative, commutative),
    * so the sketch is STREAM-LEGAL: it maintains itself incrementally
    * as a Structured Streaming grouped aggregation like the KMV/CMS
    * monitors. */
  def logHistSketch(df0: DataFrame, groupCol: String, valueCol: String,
                    mBits: Int = 6, scale: Double = 100.0): DataFrame = {
    require(mBits >= 1 && mBits <= 40,
      s"logHistSketch: bad mBits $mBits")
    require(scale > 0, s"logHistSketch: bad scale $scale")
    val df = graft.engine.Engine.spread(df0)
    df.select(col(groupCol),
        floor(col(valueCol) * lit(scale)).cast("long").as("_i"))
      .filter(col("_i") >= 1L)
      .select(col(groupCol), col("_i"),
        greatest(lit(0),
          length(bin(col("_i"))) - lit(1 + mBits)).as("_s"))
      .select(col(groupCol),
        expr("_i - _i % shiftleft(cast(1 as bigint), _s)").as("bucket"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Quantile decode over a [[logHistSketch]]: for each group and each
    * requested percentile p ∈ ps, the smallest bucket whose cumulative
    * count reaches rank `⌈n·p/100⌉` (the `quantile_disc` convention),
    * with the rank computed as pure integer `(n·p + 99) div 100`. The
    * cumulative window runs over the SKETCH — partitions are bounded
    * by the bucket count (~2.6k at mBits = 6), never the corpus — the
    * one place a per-group running window is scale-legal by
    * construction. Output per (group, p): `n` (positive-domain row
    * count), `bucket_lo` (the fixed-point bucket lower bound; the true
    * p-quantile lies in `[bucket_lo, bucket_lo·(1+2^−mBits))`), and
    * `est = bucket_lo/scale`. */
  def histQuantiles(sketch: DataFrame, groupCol: String, ps: Seq[Int],
                    scale: Double = 100.0): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100),
      s"histQuantiles: bad percentiles $ps")
    import org.apache.spark.sql.expressions.Window
    val cum = sketch
      .withColumn("_cum", sum(col("cnt"))
        .over(Window.partitionBy(col(groupCol)).orderBy(col("bucket"))))
      .withColumn("_n", sum(col("cnt"))
        .over(Window.partitionBy(col(groupCol))))
    val pdf = sketch.sparkSession.range(1)
      .select(explode(lit(ps.map(_.toLong).toArray)).as("p"))
    cum.crossJoin(broadcast(pdf))
      .filter(col("_cum") >= expr("(_n * p + 99) div 100"))
      .groupBy(col(groupCol), col("p"))
      .agg(min(col("bucket")).as("bucket_lo"), max(col("_n")).as("n"))
      .select(col(groupCol), col("p"), col("n"), col("bucket_lo"),
        (col("bucket_lo").cast("double") / lit(scale)).as("est"))
  }
}
