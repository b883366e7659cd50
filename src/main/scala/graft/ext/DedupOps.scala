package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tiers

/** Deduplication operators for LLM training-data pipelines (SURVEY §2.10):
  * exact (hash-groupBy), n-gram Jaccard, MinHash+LSH banding, SimHash.
  *
  * Algorithms are the published classics: MinHash resemblance (Broder,
  * "On the resemblance and containment of documents", 1997), LSH banding
  * (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch. 3), SimHash
  * (Charikar, "Similarity estimation techniques from rounding algorithms",
  * STOC 2002; Manku et al., "Detecting near-duplicates for web crawling",
  * WWW 2007 for the Hamming block trick).
  *
  * Scale shapes (the part that matters at 100 TB):
  *  - exact dedup: one shuffle on the fingerprint, partial agg map-side;
  *  - MinHash-LSH: signatures are a narrow projection; candidate generation
  *    shuffles only (band_id, band_hash, doc_id) tuples — never text — and
  *    joins within buckets, so the all-pairs O(n²) comparison is avoided
  *    entirely; verification touches only bucket-collision pairs;
  *  - SimHash: a 64-bit projection; pairing is again bucket-bounded.
  * The only all-pairs op here is [[jaccardPairs]], kept as the small-input
  * verification/oracle path (its input is meant to be a pre-bounded slice —
  * the LSH path is the scale path).
  */
object DedupOps {

  /** Exact near-layout dedup: keep the lowest-id row per normalized-text
    * fingerprint. One shuffle; deterministic winner (min id), matching the
    * reference's keep-first semantics (`core/utils/sheets_core.py:171-176`
    * keeps existing rows and drops incoming duplicates). */
  def exactByText(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(TextOps.fingerprint(col(textCol)))
      .orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Distinct word-n-gram shingle set per document: (id, shingle set).
    * String shingles — the oracle-comparable form used by the exact
    * [[jaccardPairs]] path. */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
                          n: Int): DataFrame =
    df.select(col(idCol).as("_id"),
      array_distinct(TextOps.shingles(TextOps.tokens(col(textCol)), n))
        .as("_sh"))

  /** Distinct HASHED shingle set per document (id, array<long>): tokens
    * are hashed once, the n-gram windows are combined and deduped by the
    * native [[graft.expressions.ShingleHashes]] — no shingle strings are
    * ever materialized. This is the MinHash-pipeline form: ~10× cheaper
    * than string shingling, and set-Jaccard over hashed shingles equals
    * string-shingle Jaccard up to 64-bit hash collisions. */
  private[graft] def hashedShingleSets(df: DataFrame, idCol: String,
                                       textCol: String, n: Int): DataFrame =
    graft.engine.Engine.spread(df).select(col(idCol).as("_id"),
      call_function("graft_shingle_hashes",
        call_function("graft_hash_tokens", TextOps.tokens(col(textCol))),
        lit(n))
        .as("_sh"))

  /** MinHash-estimator accuracy audit (Broder 1997): per candidate
    * pair, the fraction of `numPerm` seeded permutation minima that
    * agree — the estimator the LSH tier thresholds on — next to the
    * EXACT shingle Jaccard, with the absolute error in ppm. This is
    * the measurement you run before trusting a banding threshold: the
    * estimator's standard error is √(J(1−J)/P), and the audit makes
    * that abstract bound concrete on the corpus at hand.
    *
    * Unlike the production signature ([[minhashSignature]], seeded
    * xxhash64 — engine-private), the permutations here are the
    * PORTABLE md5 family `h60("p:" + shingle)`, so a DuckDB twin
    * reproduces every signature component and the audit is
    * hash-oracled end to end, not rows-only.
    *
    * Scale shape: the signature build is one grouped min over
    * (doc, permutation) — numPerm longs per doc on the wire; the audit
    * joins the candidate-pair list (caller-bounded, e.g. one LSH
    * bucket or a sampled slice) against that id-sized relation twice.
    * Deliberately all-pairs on the bounded slice, like
    * [[jaccardPairs]]. */
  def minhashEstimateAudit(df: DataFrame, idCol: String,
                           textCol: String, n: Int = 2,
                           numPerm: Int = 16): DataFrame = {
    require(numPerm >= 1, s"minhashEstimateAudit: bad numPerm $numPerm")
    val pairs = jaccardPairs(df, idCol, textCol, n)
    val sig = df.select(col(idCol).as("_id"),
        explode(array_distinct(
          TextOps.shingles(TextOps.tokens(col(textCol)), n))).as("_g"))
      .select(col("_id"),
        explode(array((0 until numPerm).map(lit): _*)).as("p"),
        col("_g"))
      .select(col("_id"), col("p"),
        SketchOps.h60(concat(col("p").cast("string"), lit(":"),
          col("_g"))).as("_h"))
      .groupBy(col("_id"), col("p")).agg(min(col("_h")).as("_mh"))
    val a = sig.select(col("_id").as("id_a"), col("p"),
      col("_mh").as("_ha"))
    val b = sig.select(col("_id").as("id_b"), col("p"),
      col("_mh").as("_hb"))
    pairs.join(a, Seq("id_a")).join(b, Seq("id_b", "p"))
      .groupBy(col("id_a"), col("id_b"), col("jaccard"))
      .agg(sum(when(col("_ha") === col("_hb"), 1L).otherwise(0L))
        .as("n_agree"))
      .withColumn("est_ppm",
        expr(s"n_agree * 1000000 div $numPerm"))
      .withColumn("err_ppm",
        abs(col("est_ppm") -
          floor(col("jaccard") * lit(1000000.0)).cast("long")))
  }

  /** Duplicate-cluster cohesion audit: per multi-member component of
    * the near-dup graph, the minimum and mean pairwise shingle Jaccard
    * among its members — the "did transitive closure over-merge"
    * measurement. Banding admits pairs at the threshold; CHAINS of such
    * pairs can pull documents into one cluster whose extremes share
    * almost nothing (A~B~C with J(A,C) ≈ 0), and min_jaccard_ppm is
    * exactly that alarm: clusters whose floor sits far below the edge
    * threshold were merged by chaining, not similarity.
    *
    * Scale shape: singleton components (the overwhelming majority) are
    * dropped before anything shingles — only members of multi-document
    * clusters tokenize; the pair stage joins within components, so its
    * cost is Σ |cluster|², bounded by the same band discipline that
    * built the edges (a pathological mega-cluster is itself the
    * finding). Integer ppm floors keep the aggregate engine-exact.
    *
    * Contract: every member id in `components` must exist in `df`
    * (components are derived FROM df by construction everywhere in
    * this engine). The clone-mass class tier derives n_pairs =
    * C(n_members, 2) from the components frame alone, while the
    * row-grain tier counts only pairs whose ids joined back to df —
    * the two tiers agree exactly under the contract and would diverge
    * on inputs that violate it (r16 advice note). */
  def clusterCohesion(df: DataFrame, idCol: String, textCol: String,
                      components: DataFrame, n: Int = 2): DataFrame = {
    val multi = components.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
    val member = components.join(multi.select(col("component")),
      Seq("component"))
    val jppmOf = (sa: Column, sb: Column) => when(
      size(array_union(sa, sb)) > 0,
      floor((size(array_intersect(sa, sb)).cast("double") /
        size(array_union(sa, sb)).cast("double")) *
        lit(1000000.0)).cast("long"))
    // Class tier (r16 sweep's worst absolute pole, 90.5 s at sf10):
    // intra-component pairs decompose into identical-text cliques
    // (j = 1.0, multiplicity C(m,2)) and cross-class bundles (one
    // jaccard per class pair, multiplicity m_x·m_y), so the
    // aggregates collapse exactly — n_pairs = C(M,2) from the member
    // count, the mean weights each class-pair value by its bundle
    // size, and the min never cared about multiplicity. The pair
    // stage's cost drops from Σ|cluster|² to Σ|distinct classes|².
    val base = graft.engine.Engine.spread(df)
    val tier = graft.engine.GrainProbe.classes(base,
      coalesce(TextOps.fingerprint(col(textCol)), lit(" null")),
      col(textCol), col(idCol))
    // The pair algebra differs by grain (member pairs vs class-pair
    // bundles), so the two plans stay separate.
    val perComp =
      if (!tier.rep) {
        val sh = shingleSets(base, idCol, textCol, n)
          .join(member.select(col("id").as("_id"), col("component")),
            Seq("_id"))
        val a = sh.select(col("component"), col("_id").as("id_a"),
          col("_sh").as("sh_a"))
        val b = sh.select(col("component").as("_cb"),
          col("_id").as("id_b"), col("_sh").as("sh_b"))
        a.join(b, col("component") === col("_cb") &&
            col("id_a") < col("id_b"))
          .select(col("component"),
            jppmOf(col("sh_a"), col("sh_b")).as("j_ppm"))
          .groupBy(col("component"))
          .agg(count(lit(1)).as("n_pairs"),
            min(col("j_ppm")).as("min_jaccard_ppm"),
            expr("sum(j_ppm) div count(1)").as("avg_jaccard_ppm"))
      } else {
        val shC = shingleSets(
          tier.relation().select(col("_k"), col("_t")), "_k", "_t", n)
          .select(col("_id").as("_k"), col("_sh"))
        val node = member.select(col("id").as("_id"), col("component"))
          .join(tier.keys("_id"), Seq("_id"))
          .groupBy(col("component"), col("_k"))
          .agg(count(lit(1)).as("_m"))
          .join(shC, Seq("_k"))
        val aN = node.select(col("component"), col("_k").as("_ka"),
          col("_m").as("_ma"), col("_sh").as("sh_a"))
        val bN = node.select(col("component").as("_cb"),
          col("_k").as("_kb"), col("_m").as("_mb"),
          col("_sh").as("sh_b"))
        val cross = aN.join(bN, col("component") === col("_cb") &&
            col("_ka") < col("_kb"))
          .select(col("component"), (col("_ma") * col("_mb")).as("_w"),
            jppmOf(col("sh_a"), col("sh_b")).as("j_ppm"))
        val intra = node.filter(col("_m") >= 2)
          .select(col("component"),
            expr("_m * (_m - 1) div 2").as("_w"),
            when(size(col("_sh")) > 0, lit(1000000L)).as("j_ppm"))
        cross.unionByName(intra)
          .groupBy(col("component"))
          .agg(min(col("j_ppm")).as("min_jaccard_ppm"),
            sum(col("_w") * col("j_ppm")).as("_sumj"))
      }
    if (!tier.rep)
      perComp.join(multi, Seq("component"))
        .select(col("component"), col("n_members"), col("n_pairs"),
          col("min_jaccard_ppm"), col("avg_jaccard_ppm"))
    else
      perComp.join(multi, Seq("component"))
        .withColumn("n_pairs",
          expr("n_members * (n_members - 1) div 2"))
        .withColumn("avg_jaccard_ppm", expr("_sumj div n_pairs"))
        .select(col("component"), col("n_members"), col("n_pairs"),
          col("min_jaccard_ppm"), col("avg_jaccard_ppm"))
  }

  /** All-pairs n-gram Jaccard similarity (id_a < id_b). Exact — and
    * deliberately O(n²): this is the verification/oracle twin of the LSH
    * path. Bound the input (e.g. one LSH bucket, or a sampled slice) before
    * calling at scale. Jaccard = |A∩B| / |A∪B| on distinct shingle sets. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 2): DataFrame = {
    val s = shingleSets(df, idCol, textCol, n)
    val a = s.select(col("_id").as("id_a"), col("_sh").as("sh_a"))
    val b = s.select(col("_id").as("id_b"), col("_sh").as("sh_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
          .as("jaccard"))
  }

  /** Containment near-dup pairs — the ASYMMETRIC overlap
    * `C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|` (Broder 1997's "roughly
    * contained in"): the duplication Jaccard structurally misses. A
    * short document embedded verbatim in a long one (a quote farm, a
    * template wrapping real content, a truncated crawl twin) has
    * containment ≈ 1 while Jaccard ≈ |A|/|B| → 0 — so a Jaccard
    * threshold never fires. Emits BOTH directions (C(A→B) and C(B→A)
    * differ by construction) for every ordered pair at or above
    * `tauPpm`, with exact integer ppm (`inter·10⁶ div |A|`).
    *
    * Scale shape: documents reduce to DISTINCT hashed shingle sets
    * (codegen'd window hashes — no shingle strings in flight), explode
    * once to (id, hash) pairs, and candidates come from ONE shingle-
    * keyed equi-join + one (a, b)-keyed count — ids-only exchanges.
    * Like [[jaccardPairs]], this is the exact, oracle-comparable tier:
    * candidate mass is Σ df(shingle)² over shared shingles, so the
    * production screen bounds it (slice by id, or drop ubiquitous
    * shingles above a df cap — the standard prefix-filter move —
    * before the join); the LSH route for containment needs the
    * asymmetric-transform trick and is out of scope here. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 2, tauPpm: Long = 600000L): DataFrame = {
    // Shingle ONCE: three consumers below (sizes + both join sides)
    // would otherwise re-run the tokenize→shingle→hash chain — the
    // same re-evaluation class the r11c sf10 probe measured 4× costs
    // on in the rank ops (review catch).
    val ex = graft.engine.Engine.materialize(
      hashedShingleSets(df, idCol, textCol, n)
        .select(col("_id"), explode(col("_sh")).as("_h")))
    val sizes = ex.groupBy(col("_id").as("id_a"))
      .agg(count(lit(1)).as("n_a"))
    ex.select(col("_id").as("id_a"), col("_h"))
      .join(ex.select(col("_id").as("id_b"), col("_h")), Seq("_h"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes, Seq("id_a"))
      .withColumn("containment_ppm", expr("n_inter * 1000000 div n_a"))
      .filter(col("containment_ppm") >= tauPpm)
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_inter"),
        col("containment_ppm"))
  }

  /** MinHash signature of an `array<string>` shingle column: each shingle
    * is string-hashed once (native [[graft.expressions.TokenHashes]] —
    * analysis REJECTS non-string arrays loudly; pre-hashed `array<long>`
    * shingles go straight to `graft_minhash_sig`), then the k permutation
    * minima are computed by the native codegen'd
    * [[graft.expressions.MinHashSig]] expression — the k×n inner loop
    * runs as compiled long arithmetic, not k interpreted higher-order
    * lambdas. Empty shingle sets → null signature (callers filter those
    * docs out — nothing to near-dup match on). */
  def minhashSignature(sh: Column, numPerm: Int): Column =
    call_function("graft_minhash_sig",
      call_function("graft_hash_tokens", sh), lit(numPerm))

  /** LSH band hashes of a signature: `bands` groups of `rowsPerBand`
    * components, each group collapsed to one 64-bit bucket key by hashing
    * the component longs directly (no string building). Two docs land in
    * the same (band, hash) bucket iff that band of their signatures agrees
    * exactly — the classic banding amplification. */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { j =>
      xxhash64((0 until rowsPerBand)
        .map(i => element_at(sig, j * rowsPerBand + i + 1)): _*)
    }: _*)

  /** MinHash-LSH near-duplicate pairs: banded candidate generation, exact
    * shingle-Jaccard verification.
    *
    * Pipeline: one REPRESENTATIVE per distinct normalized text →
    * tokenize → shingle → signature (narrow projections over the
    * representatives only) → explode band hashes → self-join per bucket
    * (shuffles only (band, hash, id) triples) → distinct pairs → verify
    * with exact Jaccard on the candidates only → threshold → expand
    * representative pairs back to original ids.
    *
    * Duplicate-mass discipline (the APSS/[[allPairsCosine]] lesson,
    * r12 verdict ask #2): dedup operators meet duplicate-heavy corpora
    * BY DEFINITION, and the naive shape shingles/signs every raw row —
    * at sf10 (100× exact-clone replication) the day-1 setup of the
    * incremental family spent its 127 s almost entirely re-signing
    * clones. Identity classes come from [[graft.ext.TextOps.fingerprint]]
    * (equal fingerprints ⇒ equal token arrays ⇒ equal shingle sets), the
    * class representative's text is picked MAP-SIDE by `min_by` partial
    * aggregation — clone mass collapses before the exchange — and only
    * representatives reach the signature/band/verify stages, so those
    * scale with DISTINCT mass. Expansion is two id-only joins: a
    * qualifying representative pair fans out to every cross pair of its
    * two classes (same jaccard — identical texts have identical shingle
    * sets), and every multi-member class with a non-empty shingle set
    * contributes its intra pairs at jaccard exactly 1.0 — bit-equal to
    * the naive all-rows pipeline, which is what the `x_dedup_minhash`
    * oracle row (threshold where LSH provably equals exact all-pairs,
    * over a corpus WITH planted clones) keeps proving.
    *
    * numPerm/bands defaults (64 perms, 16 bands × 4 rows) put the LSH
    * S-curve threshold at (1/16)^(1/4) ≈ 0.5 — pairs above ~0.5 Jaccard
    * are near-certain to become candidates, pairs far below almost never
    * do; the exact verification then removes banding false positives.
    */
  def nearDupPairsMinhash(df: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = 2, numPerm: Int = 64,
                          bands: Int = 16,
                          threshold: Double = 0.5): DataFrame =
    expandStages(
      minhashRepStages(df, idCol, textCol, shingleN, numPerm, bands,
        threshold),
      threshold)

  /** Expansion back to original ids — id-only joins, the only stages
    * duplicate mass multiplies. Consumers that can stay at rep grain
    * (components, communities, the apply path) should; this is for the
    * contracts that genuinely owe the member-grain pair list. */
  private[graft] def expandStages(st: RepStages,
                                  threshold: Double): DataFrame = {
    val inter = st.repPairs
      .join(st.classes.select(col("_rid").as("id_a"), col("_oid").as("_ia")),
        Seq("id_a"))
      .join(st.classes.select(col("_rid").as("id_b"), col("_oid").as("_ib")),
        Seq("id_b"))
      .select(least(col("_ia"), col("_ib")).as("id_a"),
        greatest(col("_ia"), col("_ib")).as("id_b"), col("jaccard"))
    val intra = st.shing.select(col("_id").as("_rid")) // non-empty sets only
      .join(st.classes.select(col("_rid"), col("_oid").as("_ia")), Seq("_rid"))
      .join(st.classes.select(col("_rid"), col("_oid").as("_ib")), Seq("_rid"))
      .filter(col("_ia") < col("_ib"))
      .select(col("_ia").as("id_a"), col("_ib").as("id_b"),
        lit(1.0).as("jaccard"))
      .filter(lit(1.0) >= threshold)
    inter.unionByName(intra)
  }

  /** The rep-grain relations every MinHash-family operator is built
    * from — computed ONCE and consumed by the pair expansion
    * ([[nearDupPairsMinhash]]), the supernode closure
    * ([[componentsNearMinhash]]), the supernode community pass
    * ([[communitiesNearMinhash]]), and the expansion-free apply path
    * ([[dedupeNearMinhash]]):
    *
    *  - `classes` — (`_rid`, `_oid`): identity-class membership, rep
    *    id = the class's MINIMUM original id (the invariant the
    *    supernode algebra leans on: min over a set of classes' members
    *    = min over their rep ids).
    *  - `shing` — (`_id`, `_sh`): hashed shingle sets of the
    *    representatives with non-empty sets (empty-shingle classes
    *    never pair, intra or inter).
    *  - `repPairs` — (`id_a`, `id_b`, `jaccard`): verified qualifying
    *    pairs at REP grain. Identical texts have identical shingle
    *    sets, so a rep pair's jaccard is every cross-member pair's
    *    jaccard — the expanded pair graph is exactly the clique
    *    blow-up of this graph (each class a clique via jaccard-1.0
    *    intra edges, each rep edge a complete bipartite bundle).
    *
    * `assumeDistinct = true` skips the fingerprint tier when the
    * CALLER proves texts are pairwise distinct (e.g. directly after
    * [[exactByText]], which keeps one row per [[graft.ext.TextOps
    * .fingerprint]] — the same fingerprint this tier groups on):
    * classes degrade to singletons and the groupBy+join vanish. This
    * is the adaptive rep-tier skip done by proof rather than probe —
    * no extra corpus pass, zero behavior risk. */
  private[graft] case class RepStages(classes: DataFrame, shing: DataFrame,
                                      repPairs: DataFrame)

  private[graft] def minhashRepStages(df: DataFrame, idCol: String,
                                      textCol: String, shingleN: Int,
                                      numPerm: Int, bands: Int,
                                      threshold: Double,
                                      assumeDistinct: Boolean = false)
      : RepStages = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    val r = numPerm / bands
    val docs = graft.engine.Engine.spread(df)
      .select(col(idCol).as("_oid"), col(textCol).as("_txt"))
    // Identity classes: one shuffle on the text fingerprint carrying
    // (fp, id, one-text-per-class-per-partition thanks to the min_by
    // map-side partial); `classes` (rep id ↔ original id) is the only
    // relation the expansion joins need.
    val (reps, classes) =
      if (assumeDistinct)
        (docs.select(col("_oid").as("_rid"), col("_txt")),
          docs.select(col("_oid").as("_rid"), col("_oid")))
      else {
        val rp = graft.engine.Engine.materialize(
          docs.groupBy(graft.ext.TextOps.fingerprint(col("_txt")).as("_fp"))
            .agg(min(col("_oid")).as("_rid"),
              min_by(col("_txt"), col("_oid")).as("_txt")))
        val cl = graft.engine.Engine.materialize(
          docs.select(col("_oid"),
              graft.ext.TextOps.fingerprint(col("_txt")).as("_fp"))
            .join(rp.select(col("_fp"), col("_rid")), Seq("_fp"))
            .select(col("_rid"), col("_oid")))
        (rp, cl)
      }
    // Shingle/sign the representatives ONLY. Materialized: feeds the
    // signature projection and both sides of the verification join.
    val shing = graft.engine.Engine.materialize(
      hashedShingleSets(reps, "_rid", "_txt", shingleN)
        .filter(size(col("_sh")) > 0))
    val sigs = shing.select(col("_id"),
      call_function("graft_minhash_sig", col("_sh"), lit(numPerm))
        .as("_sig"))
    val banded = sigs.select(col("_id"),
        posexplode(bandHashes(col("_sig"), bands, r)))
      .withColumnsRenamed(Map("pos" -> "_band", "col" -> "_bh"))
    val left = banded.select(col("_band"), col("_bh"), col("_id").as("id_a"))
    val right = banded.select(col("_band"), col("_bh"), col("_id").as("id_b"))
    val pairs = left.join(right, Seq("_band", "_bh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val repPairs = pairs
      .join(shing.select(col("_id").as("id_a"), col("_sh").as("sh_a")),
        Seq("id_a"))
      .join(shing.select(col("_id").as("id_b"), col("_sh").as("sh_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    RepStages(classes, shing, repPairs)
  }

  /** Identity classes eligible to appear in the EXPANDED pair graph:
    * classes whose rep is an endpoint of a qualifying rep pair
    * (covered by the caller through `repPairs`/closure output), plus —
    * returned here — multi-member classes with a non-empty shingle set
    * (their jaccard-1.0 intra clique puts every member in the graph
    * even with no inter pair). Mirrors [[nearDupPairsMinhash]]'s
    * `intra` branch exactly, including its threshold guard. */
  private def multiMemberShingled(st: RepStages,
                                  threshold: Double): DataFrame = {
    val multi = st.classes.groupBy(col("_rid"))
      .agg(count(lit(1)).as("_sz"))
      .filter(col("_sz") >= 2).select(col("_rid"))
      .join(st.shing.select(col("_id").as("_rid")), Seq("_rid"),
        "left_semi")
    if (threshold <= 1.0) multi else multi.limit(0)
  }

  /** Connected components of the near-dup graph computed at
    * REPRESENTATIVE grain — bit-equal to
    * `connectedComponents(nearDupPairsMinhash(...))` without ever
    * materializing the clone-expanded pair set (the r13 sf10 long
    * pole: ~25M expanded pairs fed the closure where ~250k rep pairs
    * carry the same connectivity).
    *
    * Why labels expand and edges don't: the expanded graph is the
    * clique blow-up of the rep graph, so (a) reachability between
    * classes is decided entirely at rep grain, and (b) a component's
    * label — its minimum member id — equals the minimum rep id over
    * its classes, because each rep IS its class minimum. Members of a
    * multi-member shingled class with no rep pair form their own
    * clique and label with their rep. One id↔class join per member
    * replaces the closure over member-grain edges; closure cost
    * scales with DISTINCT mass.
    *
    * Output: (`id` long, `component` long), the
    * [[connectedComponents]] contract — nodes in no expanded pair are
    * absent. */
  def componentsNearMinhash(df: DataFrame, idCol: String, textCol: String,
                            shingleN: Int = 2, numPerm: Int = 64,
                            bands: Int = 16, threshold: Double = 0.5,
                            maxIter: Int = 25): DataFrame =
    componentsFromStages(
      minhashRepStages(df, idCol, textCol, shingleN, numPerm, bands,
        threshold),
      threshold, maxIter)

  /** DAY-1 of the daily near-dup cadence in ONE corpus pass: the
    * supernode closure labels AND the persistable index from a single
    * [[RepStages]]. Calling [[componentsNearMinhash]] then
    * [[buildNearDupIndex]] pays the tokenize → shingle → signature
    * pipeline twice-adjacent over the same corpus (the r14 sf10
    * probe's residual day-1 cost); both outputs are pure functions of
    * the same rep relations, so one `minhashRepStages` feeds both.
    * Returns (labels, index): labels per the [[connectedComponents]]
    * contract, index bit-equal to [[buildNearDupIndex]] (pinned in
    * DedupOpsSpec) and already materialized — the band probe and the
    * verification join of the incremental pair stage both read it. */
  def componentsAndIndexNearMinhash(df: DataFrame, idCol: String,
                                    textCol: String, shingleN: Int = 2,
                                    numPerm: Int = 64, bands: Int = 16,
                                    threshold: Double = 0.5,
                                    maxIter: Int = 25)
      : (DataFrame, DataFrame) = {
    val st = minhashRepStages(df, idCol, textCol, shingleN, numPerm,
      bands, threshold)
    (componentsFromStages(st, threshold, maxIter),
      graft.engine.Engine.materialize(indexFromStages(st, numPerm)))
  }

  /** The [[buildNearDupIndex]] relation derived from ALREADY-COMPUTED
    * rep stages — (_id, _sh, _sig) for every ORIGINAL id whose class
    * has a non-empty shingle set. Bit-equal to building from scratch
    * (sh/sig are pure functions of the text and the rep tier groups on
    * the same fingerprint); the corpus shingles zero extra times. */
  private[graft] def indexFromStages(st: RepStages,
                                     numPerm: Int): DataFrame =
    st.classes.join(
        st.shing.select(col("_id").as("_rid"), col("_sh"),
          call_function("graft_minhash_sig", col("_sh"), lit(numPerm))
            .as("_sig")),
        Seq("_rid"))
      .select(col("_oid").as("_id"), col("_sh"), col("_sig"))

  private[graft] def componentsFromStages(st: RepStages, threshold: Double,
                                          maxIter: Int = 25): DataFrame = {
    val repCC = connectedComponents(st.repPairs, maxIter = maxIter)
    val eligible = repCC.select(col("id").as("_rid"))
      .unionByName(multiMemberShingled(st, threshold)
        .select(col("_rid").cast("long").as("_rid")))
      .distinct()
    // Materialized: [[connectedComponents]]' contract is a
    // checkpoint-backed, lineage-free label frame, and consumers lean
    // on it — incrementalComponents scans its history labels twice,
    // the CC-family cache serves four queries — so the expansion joins
    // must not replay per downstream action.
    graft.engine.Engine.materialize(st.classes
      .select(col("_rid").cast("long").as("_rid"),
        col("_oid").cast("long").as("_oid"))
      .join(eligible, Seq("_rid"), "left_semi")
      .join(repCC.select(col("id").as("_rid"), col("component")),
        Seq("_rid"), "left")
      .select(col("_oid").as("id"),
        coalesce(col("component"), col("_rid")).as("component")))
  }

  /** Label-propagation communities of the near-dup graph at
    * REPRESENTATIVE grain — bit-equal to
    * `GraphOps.labelPropagation(nearDupPairsMinhash(...))` (see
    * [[graft.ext.GraphOps.labelPropagationBlowup]] for the round-by-
    * round exactness argument: the expanded graph is the clique
    * blow-up of the rep graph with class sizes as weights, so the
    * sync vote is a weighted vote at rep grain and members inherit
    * their class's label). Edges never expand; labels do, through one
    * id↔class join. Output: (`id` long, `community` long). */
  def communitiesNearMinhash(df: DataFrame, idCol: String, textCol: String,
                             shingleN: Int = 2, numPerm: Int = 64,
                             bands: Int = 16, threshold: Double = 0.5,
                             rounds: Int = 4): DataFrame =
    communitiesFromStages(
      minhashRepStages(df, idCol, textCol, shingleN, numPerm, bands,
        threshold),
      threshold, rounds)

  /** Fixed-point PageRank of the near-dup graph at REPRESENTATIVE
    * grain — bit-equal to `GraphOps.pageRankFx(nearDupPairsMinhash(
    * ...))` (see [[graft.ext.GraphOps.pageRankBlowupFx]] for the
    * class-shared-rank argument); members inherit their class's rank
    * through one id↔class join. Output: (`id` long, `pr_fx` long). */
  private[graft] def pagerankFromStages(st: RepStages, threshold: Double,
                                        rounds: Int): DataFrame = {
    val sizes = st.classes.groupBy(col("_rid"))
      .agg(count(lit(1)).as("_sz"))
    val endpoints = st.repPairs.select(col("id_a").as("_rid"))
      .unionByName(st.repPairs.select(col("id_b").as("_rid")))
    val eligible = endpoints
      .unionByName(multiMemberShingled(st, threshold))
      .distinct()
    val nodes = sizes.join(eligible, Seq("_rid"), "left_semi")
      .select(col("_rid").as("node"), col("_sz").as("weight"))
    val sup = graft.ext.GraphOps.pageRankBlowupFx(
      st.repPairs, "id_a", "id_b", nodes, rounds)
    st.classes
      .select(col("_rid").cast("long").as("_rid"),
        col("_oid").cast("long").as("_oid"))
      .join(sup.select(col("id").as("_rid"), col("pr_fx")), Seq("_rid"))
      .select(col("_oid").as("id"), col("pr_fx"))
  }

  private[graft] def communitiesFromStages(st: RepStages, threshold: Double,
                                           rounds: Int): DataFrame = {
    val sizes = st.classes.groupBy(col("_rid"))
      .agg(count(lit(1)).as("_sz"))
    // Same node set as the expanded graph: rep-pair endpoints plus
    // multi-member shingled classes (self-clique members).
    val endpoints = st.repPairs.select(col("id_a").as("_rid"))
      .unionByName(st.repPairs.select(col("id_b").as("_rid")))
    val eligible = endpoints
      .unionByName(multiMemberShingled(st, threshold))
      .distinct()
    val nodes = sizes.join(eligible, Seq("_rid"), "left_semi")
      .select(col("_rid").as("node"), col("_sz").as("weight"))
    val sup = graft.ext.GraphOps.labelPropagationBlowup(
      st.repPairs, "id_a", "id_b", nodes, rounds)
    st.classes
      .select(col("_rid").cast("long").as("_rid"),
        col("_oid").cast("long").as("_oid"))
      .join(sup.select(col("id").as("_rid"), col("community")),
        Seq("_rid"))
      .select(col("_oid").as("id"), col("community"))
  }

  /** Apply MinHash-LSH dedup: drop the higher-id member of every near-dup
    * pair (connected components collapse transitively to the min id via
    * the anti-join on "appears as id_b").
    *
    * Computed WITHOUT expanding rep pairs to member pairs — the loser
    * set has a closed form at class grain. A member `m` of class `A`
    * appears as some pair's `id_b` iff a smaller id pairs with it:
    *  - intra (A multi-member, shingled): every member but the class
    *    minimum — i.e. `m ≠ rid_A`;
    *  - inter (some class B adjacent to A by a qualifying rep pair):
    *    iff any member of B is smaller, and B's minimum member IS
    *    `rid_B` — i.e. `min over adjacent B of rid_B < m`.
    * Two class-grain joins replace the clone-mass-sized pair
    * materialization + distinct. */
  def dedupeNearMinhash(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 2, numPerm: Int = 64,
                        bands: Int = 16,
                        threshold: Double = 0.5): DataFrame =
    dedupeFromStages(df, idCol,
      minhashRepStages(df, idCol, textCol, shingleN, numPerm, bands,
        threshold),
      threshold)

  /** [[dedupeNearMinhash]] for a population the CALLER proves is
    * pairwise-distinct by text (e.g. the survivors of [[exactByText]],
    * which keeps one row per fingerprint — the rep tier's own
    * fingerprint): skips the identity-class tier outright. Same keep
    * set by construction. */
  private[graft] def dedupeNearMinhashDistinct(df: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 2,
      numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.5): DataFrame =
    dedupeFromStages(df, idCol,
      minhashRepStages(df, idCol, textCol, shingleN, numPerm, bands,
        threshold, assumeDistinct = true),
      threshold)

  private def dedupeFromStages(df: DataFrame, idCol: String,
                               st: RepStages,
                               threshold: Double): DataFrame = {
    val adjMin = st.repPairs
      .select(col("id_a").as("_rid"), col("id_b").as("_adj"))
      .unionByName(st.repPairs
        .select(col("id_b").as("_rid"), col("id_a").as("_adj")))
      .groupBy(col("_rid")).agg(min(col("_adj")).as("_madj"))
    val multi = multiMemberShingled(st, threshold)
      .withColumn("_intra", lit(1))
    val losers = st.classes
      .join(adjMin, Seq("_rid"), "left")
      .join(multi, Seq("_rid"), "left")
      .filter((col("_intra").isNotNull && col("_oid") =!= col("_rid")) ||
        (col("_madj").isNotNull && col("_madj") < col("_oid")))
      .select(col("_oid").as("_loser"))
    df.join(losers, col(idCol) === col("_loser"), "left_anti")
  }

  /** The composed corpus-dedup pipeline a training-data run actually
    * wants: exact dedup first (cheap hash-groupBy removes clones so the
    * LSH stage never wastes candidates on them), then MinHash-LSH
    * near-dup removal. Keeps the lowest id of every duplicate cluster.
    *
    * The LSH stage runs with `assumeDistinct`: [[exactByText]] keeps
    * exactly one row per text fingerprint — the SAME fingerprint the
    * rep tier groups on — so every identity class is a singleton by
    * construction and the rep tier's groupBy+join would be pure
    * identity work (the r13 `x_dedup_corpus` overhead, erased by proof
    * rather than by a count-distinct probe). */
  def dedupeCorpus(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 2, numPerm: Int = 64, bands: Int = 16,
                   threshold: Double = 0.5): DataFrame =
    dedupeNearMinhashDistinct(exactByText(df, idCol, textCol), idCol,
      textCol, shingleN, numPerm, bands, threshold)

  /** Benchmark decontamination — the eval-leak guard every LLM training
    * pipeline runs before a corpus ships (the n-gram collision rule of
    * the GPT-3 appendix-C / PaLM / Llama data cards): a corpus document
    * is CONTAMINATED when it shares at least one word n-gram with any
    * benchmark document. Returns the distinct ids of contaminated rows.
    *
    * Scale shape: both sides reduce to (n-gram) tokens before anything
    * joins — document text never crosses the network. The benchmark side
    * is eval-sized by contract, so its distinct n-gram set is BROADCAST
    * and contamination is a map-side semi join over the corpus n-gram
    * stream; the only shuffle is the final distinct on ids. */
  def contaminatedIds(corpus: DataFrame, bench: DataFrame, idCol: String,
                      textCol: String, n: Int = 3): DataFrame = {
    val base = graft.engine.Engine.spread(corpus)
    val bg = bench.select(
        explode(TextOps.shingles(TextOps.tokens(col(textCol)), n)).as("_g"))
      .distinct()
    // Contamination is a pure text predicate, so on clone-heavy corpora
    // the gram explode + benchmark probe runs once per DISTINCT raw
    // text and verdicts fan out through one key join.
    val tier = TextOps.rawTextClasses(base, textCol, idCol)
    val hits = tier.relation()
      .select(col("_k"),
        explode(TextOps.shingles(TextOps.tokens(col("_t")), n)).as("_g"))
      .join(broadcast(bg), Seq("_g"), "left_semi")
      .select(col("_k")).distinct()
    tier.fanOut(hits, "_id").distinct()
  }

  /** Drop contaminated rows ([[contaminatedIds]]) from the corpus. */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 3): DataFrame = {
    val bad = contaminatedIds(corpus, bench, idCol, textCol, n)
    corpus.join(bad, corpus(idCol) === bad("_id"), "left_anti")
  }

  /** Graded contamination report — the threshold-setting companion to
    * the binary [[decontaminate]] (GPT-3's appendix-C methodology keeps
    * documents below an overlap FRACTION rather than dropping on any
    * single collision): per document, its distinct word-n-gram count,
    * how many of those occur in the benchmark, and the exact fraction
    * (integer-count division — bit-identical across engines). Documents
    * with no n-grams are absent. Same scale shape as the binary op: the
    * benchmark side reduces to its distinct gram set and broadcasts;
    * corpus text never shuffles, only (id, gram-hit) pairs aggregate. */
  def contaminationStats(corpus: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 3): DataFrame = {
    val base = graft.engine.Engine.spread(corpus)
    val bg = bench.select(
        explode(TextOps.shingles(TextOps.tokens(col(textCol)), n)).as("_g"))
      .distinct().withColumn("_hit", lit(1))
    def gramAggs(keyed: DataFrame): DataFrame =
      keyed.select(col("_k"),
          explode(array_distinct(
            TextOps.shingles(TextOps.tokens(col("_t")), n))).as("_g"))
        .join(broadcast(bg), Seq("_g"), "left")
        .groupBy(col("_k"))
        .agg(count(lit(1)).as("n_grams"),
          count(col("_hit")).as("n_overlap"))
    // Same class tier as [[contaminatedIds]]: the counts are pure
    // text functions — per distinct raw text on clone-heavy corpora,
    // fanned out through one inner key join (gram-less classes produce
    // no aggregate row, so their members stay absent, matching the row
    // grain's explode semantics).
    val tier = TextOps.rawTextClasses(base, textCol, idCol)
    tier.fanOut(gramAggs(tier.relation()), "_id")
      .select(col("_id").as(idCol), col("n_grams"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_grams"))
          .as("overlap_frac"))
  }

  /** The benchmark's distinct hashed n-gram set (native codegen'd
    * token-hash → shingle-hash pipeline), collected driver-side and
    * SORTED for binary-search probing. Eval sets are small by contract
    * (the same bounded-collect pattern as the LSH hyperplane / IVF
    * centroid literals), so the whole set folds into downstream plans
    * as a constant. */
  def benchmarkGramHashes(bench: DataFrame, textCol: String,
                          n: Int = 3): Array[Long] =
    // One scan, deduped on the driver: the result is a plan literal
    // shipped with every task, so the small-eval-set contract already
    // bounds this collect — a distributed distinct adds only a shuffle.
    bench.select(call_function("graft_shingle_hashes",
        call_function("graft_hash_tokens", TextOps.tokens(col(textCol))),
        lit(n)))
      .collect().iterator.filterNot(_.isNullAt(0))
      .flatMap(_.getSeq[Long](0)).toArray.distinct.sorted

  /** STATELESS contamination predicate: true when the text shares any
    * word n-gram with the benchmark set. Because the benchmark gram
    * hashes are a plan constant and the check is a pure projection — no
    * join, no state, no shuffle — the same expression filters a batch
    * frame or a structured stream (`readStream.filter(!isContaminated
    * (...))`), where the join-based [[decontaminate]] would need
    * streaming aggregation. Fully codegen'd: native token/shingle
    * hashing plus a binary-search set probe (O(grams · log |bench|) per
    * document — `arrays_overlap` against an array literal would scan
    * the whole benchmark set per row).
    *
    * Semantics caveat vs [[decontaminate]]: this path compares 64-bit
    * gram HASHES where the batch join compares gram strings, so a hash
    * collision (expected count ≈ |corpus grams|·|bench grams| / 2⁶⁴)
    * can falsely drop a clean document. Exact-match batch dedup remains
    * the authority; this is the stream-side guard. */
  def isContaminated(textCol: Column, benchGramHashes: Array[Long],
                     n: Int = 3): Column =
    isContaminatedFromHashes(
      call_function("graft_hash_tokens", TextOps.tokens(textCol)),
      benchGramHashes, n)

  /** [[isContaminated]] over a pre-hashed token column (shared
    * wide-pass discipline). */
  def isContaminatedFromHashes(th: Column, benchGramHashes: Array[Long],
                               n: Int = 3): Column =
    call_function("graft_any_in_set",
      call_function("graft_shingle_hashes", th, lit(n)),
      lit(benchGramHashes))

  /** SimHash from pre-hashed tokens (`array<long>`): per bit position,
    * the majority vote of the token hashes' bits becomes that bit.
    * Delegates to the native codegen'd [[graft.expressions.SimHashBits]]
    * (the `aggregate`+`zip_with` formulation allocates two 64-slot arrays
    * per token per row, all interpreted). */
  def simhashFromTokenHashes(hs: Column): Column =
    call_function("graft_simhash", hs)

  /** SimHash: 64-bit locality-sensitive fingerprint of the token multiset.
    * Near-identical documents end up within a few bits of Hamming
    * distance. Single projection, no shuffle. Callers doing bulk hashing
    * should materialize `graft_hash_tokens(toks)` as a column first and
    * use [[simhashFromTokenHashes]] so the token hashing runs once. */
  def simhash64(toks: Column): Column =
    simhashFromTokenHashes(call_function("graft_hash_tokens", toks))

  /** SimHash near-dup pairs under a Hamming-distance bound. Candidate
    * blocking: split the 64-bit hash into 4 16-bit blocks — any pair within
    * Hamming ≤ 3 must agree exactly on at least one block (pigeonhole), so
    * joining per block finds all such pairs while shuffling only
    * (block_id, block_value, id) triples. This keeps the op linear-ish at
    * 100 TB, vs the all-pairs O(n²) naive form.
    *
    * Runs at REPRESENTATIVE grain (see [[simhashRepStages]]): identical
    * texts share a SimHash, so hashing, blocking, and Hamming
    * verification all happen once per DISTINCT text fingerprint and the
    * member-grain pair list is the clique blow-up of the rep graph —
    * bit-equal to hashing every row (pinned in DedupOpsSpec), while the
    * candidate join scales with distinct mass instead of clone mass. */
  def nearDupPairsSimhash(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3): DataFrame =
    expandSimhashStages(
      simhashRepStages(df, idCol, textCol, simhashXxhashOf,
        nBlocks = 4, blockBits = 16, maxHamming),
      maxHamming)

  /** Member-grain form of [[nearDupPairsSimhash]] — every row hashed and
    * block-joined directly. Quadratic in clone copies at every stage
    * (the r15 sf10 sweep's top pole: 1179 s / 646× on a 100×-clone
    * corpus); kept as the equivalence proof the rep-tier spec pins
    * against, not as a production path. */
  private[graft] def nearDupPairsSimhashMemberGrain(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashBlockPairs(
      simhashXxhashOf(graft.engine.Engine.spread(df)
        .select(col(idCol).as("_id"), col(textCol).as("_txt"))),
      nBlocks = 4, blockBits = 16, maxHamming)

  /** xxhash64 SimHash projection over an (_id, _txt) relation →
    * (_id, _sh). Null texts hash to null (they never pair — null block
    * values fail every equi-join); zero-token texts hash to 0L and DO
    * pair with each other, matching [[graft.expressions.SimHashBits]]'
    * empty-array vote. The hash-presence contract travels WITH the hash
    * function so the rep tier inherits each variant's semantics. */
  private def simhashXxhashOf(docs: DataFrame): DataFrame =
    docs.select(col("_id"),
        call_function("graft_hash_tokens", TextOps.tokens(col("_txt")))
          .as("_th"))
      .select(col("_id"), simhashFromTokenHashes(col("_th")).as("_sh"))

  /** Pigeonhole candidate join shared by the SimHash variants: `hashed`
    * is (_id, _sh); any pair within Hamming < nBlocks must agree exactly
    * on at least one of the nBlocks disjoint bit blocks, so a per-block
    * equi-join finds every such pair while shuffling only (block_id,
    * block_value, id, sh) rows. For maxHamming ≥ nBlocks the guarantee
    * weakens to best-effort recall (a pair can differ in every block) —
    * allowed, matching how SimHash dedup is used with loose bounds. */
  private def simhashBlockPairs(hashed: DataFrame, nBlocks: Int,
                                blockBits: Int, maxHamming: Int): DataFrame = {
    val mask = (1L << blockBits) - 1
    val blocks = hashed.select(col("_id"), col("_sh"),
        posexplode(array((0 until nBlocks).map { b =>
          call_function("shiftright", col("_sh"), lit(b * blockBits))
            .bitwiseAND(lit(mask))
        }: _*)))
      .withColumnsRenamed(Map("pos" -> "_blk", "col" -> "_bv"))
    val l = blocks.select(col("_blk"), col("_bv"), col("_id").as("id_a"),
      col("_sh").as("sh_a"))
    val rgt = blocks.select(col("_blk"), col("_bv"), col("_id").as("id_b"),
      col("_sh").as("sh_b"))
    l.join(rgt, Seq("_blk", "_bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Portable 60-bit SimHash from md5-derived token hashes — the
    * oracle-checkable twin of the xxhash64 path: md5, the hex→int prefix,
    * and the per-bit majority vote all have exact DuckDB counterparts, so
    * the FULL near-dup pipeline (hash → vote → block join → Hamming
    * filter) can be verified end-to-end against an independent engine.
    * 60 bits = 15 hex chars, the widest md5 prefix that fits a signed
    * 64-bit int in both engines; the xxhash64 variant stays the fast
    * default (one native expression vs an md5+conv per token).
    *
    * Scale shape: explode tokens once, then ONE grouped aggregation with
    * 60 conditional sums (codegen'd, map-side partials) — a single
    * shuffle of (id, token_hash) pairs. */
  def simhashPortable(df: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val bits = 60
    val th = graft.engine.Engine.spread(df).select(col(idCol).as("_id"),
        explode(TextOps.tokens(col(textCol))).as("_t"))
      .select(col("_id"),
        SketchOps.h60(col("_t")).as("_h"))
    val votes = (0 until bits).map { b =>
      sum(shiftright(col("_h"), b).bitwiseAND(lit(1L)) * lit(2L) - lit(1L))
        .as(s"_s$b")
    }
    val voted = th.groupBy(col("_id")).agg(votes.head, votes.tail: _*)
    val sh = (0 until bits).map { b =>
      when(col(s"_s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    voted.select(col("_id"), sh.as("_sh"))
  }

  /** [[nearDupPairsSimhash]] over the portable 60-bit hash: 4×15-bit
    * pigeonhole blocks, same output shape (id_a, id_b, hamming). Same
    * representative-grain execution; the DuckDB twin stays the
    * member-grain pipeline, so the oracle-green row IS the equivalence
    * proof of the rep-tier algebra. Presence contract difference vs the
    * xxhash64 variant, inherited through the hash function: the
    * explode→groupBy form drops zero-token AND null texts outright, so
    * neither ever pairs (not even intra-class). */
  def nearDupPairsSimhashPortable(df: DataFrame, idCol: String,
                                  textCol: String,
                                  maxHamming: Int = 3): DataFrame =
    expandSimhashStages(
      simhashRepStages(df, idCol, textCol,
        d => simhashPortable(d, "_id", "_txt"),
        nBlocks = 4, blockBits = 15, maxHamming),
      maxHamming)

  /** Member-grain form of [[nearDupPairsSimhashPortable]] — the literal
    * shape of the DuckDB twin, kept for the rep-tier equivalence spec. */
  private[graft] def nearDupPairsSimhashPortableMemberGrain(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashBlockPairs(simhashPortable(df, idCol, textCol),
      nBlocks = 4, blockBits = 15, maxHamming)

  /** The rep-grain relations of the SimHash family, mirroring
    * [[RepStages]] (the MinHash rep tier):
    *
    *  - `classes` — (`_rid`, `_oid`): identity classes keyed on
    *    [[TextOps.fingerprint]] (md5 ∘ lower ∘ trim), rep = class
    *    minimum id. Fingerprint equality implies an identical TOKEN
    *    array ([[TextOps.tokens]] lowercases and the trim delta only
    *    sheds empty splits), hence an identical SimHash — the algebra's
    *    whole load-bearing fact.
    *  - `hashed` — (`_id`, `_sh`): the hash function applied to the
    *    REPRESENTATIVES only. Which classes appear (zero-token, null
    *    text) is the hash function's contract, so each variant's
    *    member-grain presence semantics carry over verbatim.
    *  - `repPairs` — (`id_a`, `id_b`, `hamming`): block-join candidates
    *    verified at rep grain. A member pair (a∈A, b∈B) shares a block
    *    iff its rep pair does (same hashes) and has the same Hamming
    *    distance, so the expanded pair list is exactly the clique
    *    blow-up: rep edges as complete bipartite bundles + intra-class
    *    cliques at Hamming 0. */
  private[graft] case class SimhashStages(classes: DataFrame,
                                          hashed: DataFrame,
                                          repPairs: DataFrame)

  private[graft] def simhashRepStages(df: DataFrame, idCol: String,
      textCol: String, hashFn: DataFrame => DataFrame, nBlocks: Int,
      blockBits: Int, maxHamming: Int): SimhashStages = {
    val docs = graft.engine.Engine.spread(df)
      .select(col(idCol).as("_oid"), col(textCol).as("_txt"))
    // One fingerprint shuffle builds reps; classes is the id↔rep map the
    // expansion joins on. Both materialized: reps feeds the hash
    // projection and classes is read twice per expansion branch.
    val reps = graft.engine.Engine.materialize(
      docs.groupBy(TextOps.fingerprint(col("_txt")).as("_fp"))
        .agg(min(col("_oid")).as("_rid"),
          min_by(col("_txt"), col("_oid")).as("_txt")))
    val classes = graft.engine.Engine.materialize(
      docs.select(col("_oid"), TextOps.fingerprint(col("_txt")).as("_fp"))
        .join(reps.select(col("_fp"), col("_rid")), Seq("_fp"))
        .select(col("_rid"), col("_oid")))
    val hashed = graft.engine.Engine.materialize(
      hashFn(reps.select(col("_rid").as("_id"), col("_txt"))))
    SimhashStages(classes, hashed,
      simhashBlockPairs(hashed, nBlocks, blockBits, maxHamming))
  }

  /** Closed-form expansion of [[SimhashStages]] to the member-grain
    * (id_a, id_b, hamming) contract — id-only joins, the only stage
    * clone mass multiplies (it is the OUTPUT's own size). Inter pairs
    * inherit the rep pair's Hamming distance; intra pairs are Hamming 0
    * by identity, present only for classes the hash function kept
    * (non-null `_sh` — a null hash never equi-joins at member grain, so
    * its class must not self-pair here either) and only when the bound
    * admits 0 (a negative bound returns an empty frame at member grain
    * too). Each member pair arises exactly once — classes partition the
    * id space and rep pairs are distinct — so no dedup shuffle. */
  private[graft] def expandSimhashStages(st: SimhashStages,
                                         maxHamming: Int): DataFrame = {
    val inter = st.repPairs
      .join(st.classes.select(col("_rid").as("id_a"), col("_oid").as("_ia")),
        Seq("id_a"))
      .join(st.classes.select(col("_rid").as("id_b"), col("_oid").as("_ib")),
        Seq("id_b"))
      .select(least(col("_ia"), col("_ib")).as("id_a"),
        greatest(col("_ia"), col("_ib")).as("id_b"), col("hamming"))
    val intra0 = st.hashed.filter(col("_sh").isNotNull)
      .select(col("_id").as("_rid"))
      .join(st.classes.select(col("_rid"), col("_oid").as("_ia")),
        Seq("_rid"))
      .join(st.classes.select(col("_rid"), col("_oid").as("_ib")),
        Seq("_rid"))
      .filter(col("_ia") < col("_ib"))
      .select(col("_ia").as("id_a"), col("_ib").as("id_b"),
        lit(0).as("hamming"))
    val intra = if (maxHamming >= 0) intra0 else intra0.limit(0)
    inter.unionByName(intra)
  }

  /** Connected components over a near-duplicate pair graph — the missing
    * last step of dedup-at-scale: pairwise near-dup edges form CLUSTERS
    * (a≈b, b≈c ⇒ {a,b,c} even when a≉c), and keep-one-per-cluster needs
    * the component id, not the edge list. Returns (id, component) where
    * component = the smallest id reachable from `id`; nodes not in any
    * pair are absent (they are their own singleton cluster by definition).
    *
    * Algorithm: hook + full path compression (the Shiloach-Vishkin
    * shape, in DataFrame joins) — every node starts labeled with
    * itself; each round, every node first takes the min of its own and
    * its neighbors' labels (the HOOK: one hop along the graph), then
    * the label forest is compressed TO FLAT (component :=
    * label(label(v)) repeated until the label sum stops moving — each
    * jump halves the forest depth, so the inner loop runs
    * ~log₂(forest depth) label-sized joins). The invariant is
    * preserved because label(v) = u always means u is reachable from
    * v, so u's label is also a reachable id. A single jump per round is
    * NOT enough: an adversarial id layout (bit-reversed path, pinned in
    * DedupOpsSpec) defeats hop+one-jump — coverage doubling needs the
    * min's ball to extend the node's own, which adversarial layouts
    * deny — and plain propagation needs diameter rounds outright. With
    * full compression the outer rounds stay O(log n) on ANY layout
    * (cf. Shiloach & Vishkin 1982; Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014 — compression
    * plays the large-star/small-star role): a 200-node ordered path
    * finishes in 2 outer rounds (the round-1 label forest IS the path
    * and compression flattens it), the bit-reversed variant in a small
    * handful — both pinned. Labels frames are the dup-cluster nodes
    * only, far smaller than the corpus, so the extra compression joins
    * are cheap; shallow real corpora flatten after one jump.
    *
    * Convergence is verified, not assumed: if labels still change after
    * `maxIter` rounds the call FAILS loudly rather than returning a
    * partially-merged clustering. */
  /** Outer (hook) rounds the most recent [[connectedComponents]] call
    * took to reach AND confirm its fixpoint, and the total compression
    * jumps across them — observability for the diameter tests and for
    * capacity planning (rounds = O(log n); jumps ≈ Σ log₂ forest
    * depth). */
  private[graft] val lastCcRounds = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] val lastCcJumps = new java.util.concurrent.atomic.AtomicInteger(0)

  def connectedComponents(pairs: DataFrame, srcCol: String = "id_a",
                          dstCol: String = "id_b",
                          maxIter: Int = 25): DataFrame = {
    // Materialize the edge list BEFORE mirroring it: the union of
    // forward + reversed edges reads the `pairs` subtree twice, and that
    // subtree is typically the whole near-dup candidate pipeline
    // (tokenize → signatures → band join) — paying it once halves the
    // setup cost of every CC call.
    // Lineage cut via Engine.materialize: localCheckpoint by default,
    // reliable checkpoint when spark.graft.checkpointDir is set.
    val edges = graft.engine.Engine.materialize(
      pairs.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst")))
    // DRIVER-LOCAL tier: the closure's inputs are rep-grain or
    // frontier-contracted BY DESIGN, so the typical edge list is
    // thousands of rows while the iterative path costs
    // join+agg+checkpoint+probe JOBS per round. An edge list that fits
    // the tier budget as driver objects runs as union-find on the
    // driver and returns as a LocalRelation. Labels are min member ids
    // either way (union-find tracks the component minimum), so the two
    // tiers are result-identical (pinned in R18KernelsSpec).
    val spark = pairs.sparkSession
    val edgeBytes = Tiers.measure(edges).bytes
    if (Tiers.fitsLocal(spark)(edgeBytes)) {
      val rows = edges.collect()
      graft.engine.Engine.release(edges)
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) { // path halving
          val gp = parent.getOrDefault(p, p)
          parent.put(x, gp)
          x = gp
          p = parent.getOrDefault(x, x)
        }
        x
      }
      def union(a: Long, b: Long): Unit = {
        val ra = find(a)
        val rb = find(b)
        if (ra != rb) { // min id becomes the root — the label contract
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val nodes = new java.util.TreeSet[java.lang.Long]()
      rows.foreach { r =>
        val a = r.getLong(0)
        val b = r.getLong(1)
        nodes.add(a)
        nodes.add(b)
        union(a, b)
      }
      val out = new scala.collection.mutable.ArrayBuffer[
        (Long, Long)](nodes.size)
      nodes.forEach(n => out += ((n.longValue(), find(n.longValue()))))
      import spark.implicits._
      return out.toSeq.toDF("id", "component")
    }
    val bidir = graft.engine.Engine.materialize(edges
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()) // reused every round; computed once
    graft.engine.Engine.release(edges) // folded into bidir; dead now
    var labels = graft.engine.Engine.materialize(
      bidir.select(col("src").as("id")).distinct()
        .withColumn("component", col("id")))
    // Convergence probe: labels only ever DECREASE, so any change makes
    // the label sum strictly smaller — equal consecutive sums ⇔ fixpoint.
    // One decimal aggregate per round (overflow-safe at any id range)
    // instead of a join against the previous round's frame.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("component").cast("decimal(38,0)")))
        .collect()(0).getDecimal(0)
    var round = 0
    var totalJumps = 0
    var converged = graft.engine.Engine.isEmpty(bidir)
    var prevSum = if (converged) null else labelSum(labels)
    while (!converged && round < maxIter) {
      val msgs = bidir.join(labels, bidir("src") === labels("id"))
        .select(col("dst").as("id"), col("component"))
      // Graph hook: every node takes the min of its own and its
      // neighbors' labels. Materialized because it feeds the tree-hook
      // joins below twice.
      val hooked = graft.engine.Engine.materialize(
        labels.unionByName(msgs)
          .groupBy("id").agg(min("component").as("component")))
      val hookSum = labelSum(hooked)
      if (hookSum.compareTo(prevSum) == 0) {
        // Confirm-round fast path: the hop moved nothing, so every edge
        // already joins equal labels and `labels` (flat from last
        // round's compression) IS the fixpoint — tree hook and
        // compression would be identity work on an iterative footprint
        // that is pure scheduler overhead under co-tenant load.
        graft.engine.Engine.release(labels)
        labels = hooked
        converged = true
        round += 1
      } else {
      // TREE hook (the Shiloach-Vishkin step a naive formulation
      // misses): when any member of a tree found a smaller label, the
      // WHOLE tree — keyed by its pre-round root, i.e. the previous
      // label — adopts that tree-wide minimum at once. Without this a
      // star-shaped tree re-absorbs a boundary node's discovery one
      // graph hop per round, and adversarial layouts (bit-reversed
      // path, pinned in DedupOpsSpec) stretch that past any O(log n)
      // bound. SKIPPED in round 0: the pre-round labels are the
      // identity seeding, so every tree is a singleton and the adopt
      // join is three stages of identity work.
      var cur =
        if (round == 0) hooked
        else {
          val old = labels.select(col("id").as("_tid"),
            col("component").as("_troot"))
          // Materialized: feeds the per-tree aggregate AND the adopt
          // join.
          val withRoot = graft.engine.Engine.materialize(
            hooked.join(old, hooked("id") === old("_tid"))
              .select(col("id"), col("component"), col("_troot")))
          graft.engine.Engine.release(hooked)
          val treeMin = withRoot.groupBy(col("_troot"))
            .agg(min(col("component")).as("_tmin"))
            .select(col("_troot").as("_mroot"), col("_tmin"))
          // Materialized: the tree-hooked frame feeds BOTH sides of
          // every compression join below — without the cut the
          // aggregation subtree would re-run per jump (AQE exchange
          // reuse is not guaranteed across the join).
          val adopted = graft.engine.Engine.materialize(
            withRoot.join(treeMin,
                withRoot("_troot") === treeMin("_mroot"))
              .select(col("id"),
                least(col("component"), col("_tmin")).as("component")))
          graft.engine.Engine.release(withRoot)
          adopted
        }
      var curSum = if (round == 0) hookSum else labelSum(cur)
      // Path compression to flat: follow the label forest (label of my
      // label) until the label sum stops moving — each jump halves the
      // forest depth. Every label value is itself a node id present in
      // `cur` (all of bidir's nodes are seeded), so the inner join is
      // total; least() keeps monotone decrease, which also bounds the
      // loop (the sum strictly decreases until flat).
      var flat = false
      var jumps = 0
      while (!flat) {
        val jump = cur.select(col("id").as("_jid"),
          col("component").as("_jcomp"))
        val nxt = graft.engine.Engine.materialize(
          cur.join(jump, cur("component") === jump("_jid"))
            .select(col("id"),
              least(col("component"), col("_jcomp")).as("component")))
        val s = labelSum(nxt)
        flat = s.compareTo(curSum) == 0
        graft.engine.Engine.release(cur)
        cur = nxt
        curSum = s
        jumps += 1
        // NOT tied to maxIter (the user-facing diameter guard): the
        // inner loop terminates by monotonicity alone — labels strictly
        // decrease until flat — so 64 jumps (forest depth 2^64) is
        // unreachable except through a bug.
        if (jumps > 64)
          throw new IllegalStateException(
            "path compression did not flatten in 64 jumps — " +
              "monotonicity violated; this is a bug")
      }
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      graft.engine.Engine.release(labels) // superseded iterate
      labels = cur
      totalJumps += jumps
      round += 1
      }
    }
    // bidir is no longer read once the fixpoint is reached (the returned
    // labels frame is checkpoint-backed, lineage-free).
    graft.engine.Engine.release(bidir)
    lastCcRounds.set(round)
    lastCcJumps.set(totalJumps)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "graph diameter exceeds the bound; raise maxIter")
    labels
  }

  /** Resolve duplicate CLUSTERS to one surviving row each: connected
    * components over the pair graph, then per-component argmax on
    * `preferCol` (ties → lowest id). This is the quality-aware keeper a
    * training pipeline wants — "keep the longest/cleanest copy", not
    * "keep the lowest id" — and the reason components matter: with
    * chains a≈b≈c, pairwise drop-the-higher-id can keep the WORST copy
    * or several copies.
    *
    * Rows in no pair survive untouched (singleton clusters). Scale
    * shape: components shuffle (id, label) pairs; the argmax is one
    * window over components-sized data; the full rows join back by id.
    *
    * `srcCol`/`dstCol` name the edge columns in `pairs` (defaults match
    * the pair-generating ops here: id_a/id_b). */
  def resolveClusters(df: DataFrame, idCol: String, pairs: DataFrame,
                      preferCol: String, srcCol: String = "id_a",
                      dstCol: String = "id_b"): DataFrame =
    resolveClustersWith(df, idCol,
      connectedComponents(pairs, srcCol, dstCol), preferCol)

  /** [[resolveClusters]] over PRECOMPUTED components (`id`, `component`)
    * — the entry point when one materialized closure serves several
    * downstream consumers (resolution, sizing, splitting), so the
    * candidate pipeline and the iterative closure run once per corpus
    * snapshot instead of once per consumer. */
  def resolveClustersWith(df: DataFrame, idCol: String,
                          components: DataFrame,
                          preferCol: String): DataFrame = {
    val comp = components
      .select(col("id").as("_cc_id"), col("component").as("_cc_comp"))
    val withComp = df.join(comp, df(idCol) === comp("_cc_id"), "left")
      .withColumn("_comp", coalesce(col("_cc_comp"), col(idCol)))
      .drop("_cc_id", "_cc_comp")
    val w = Window.partitionBy(col("_comp"))
      .orderBy(desc(preferCol), col(idCol).asc)
    withComp.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .drop("_rk", "_comp")
  }

  /** Leakage-safe train/valid/test split: connected components over the
    * near-dup pair graph, then the whole component splits together by
    * the md5 hash of its label ([[graft.transform.Split.componentSplit]]
    * holds the split core and the scale notes). Guarantees no near-dup
    * pair straddles train and test — the standard contamination vector
    * of naive per-document splits (Lee et al. 2021 §6.2). Singletons
    * split exactly as `Split.hashSplit` would. */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
                       fractions: Seq[(String, Double)],
                       rest: String = "train", srcCol: String = "id_a",
                       dstCol: String = "id_b"): DataFrame =
    graft.transform.Split.componentSplit(df, idCol,
      connectedComponents(pairs, srcCol, dstCol), fractions, rest)

  /** Incremental exact dedup of a new batch against a (huge) history —
    * the daily-crawl-vs-100-TB-archive shape, where joining the whole
    * history per batch is the thing to avoid:
    *
    *  - tier 1: a Bloom filter over the HISTORY's text fingerprints
    *    (one aggregate pass over history, MB-sized result regardless
    *    of history row count) folds into the new batch's plan as a
    *    binary literal; `graft_bloom_contains` = false is DEFINITELY
    *    new (Bloom has no false negatives), and at fpp=1% that settles
    *    ~99% of a mostly-novel batch as a pure projection.
    *  - tier 2: only Bloom-positive candidates anti-join the history
    *    fingerprints for exact confirmation — the join's left side is
    *    (true dups + fpp·|batch|) rows, not the batch.
    *
    * The RESULT equals the naive `batch ANTI JOIN history` exactly
    * (false positives are weeded by the verify join; unit-asserted) —
    * the tiers only change how much data moves. The filter build is
    * per-batch here; a production pipeline persists and unions
    * filters across batches (sketch BloomFilters merge). Intra-batch
    * duplicates are [[exactByText]]'s job — compose as
    * `exactByText(incrementalDedup(...))`. */
  def incrementalDedup(newDf: DataFrame, history: DataFrame,
                       idCol: String, textCol: String,
                       expectedHistoryRows: Long = 1000000L,
                       fpp: Double = 0.01): DataFrame = {
    val (bytes, histFp) = buildDedupIndex(history, textCol,
      expectedHistoryRows, fpp)
    incrementalDedupWith(newDf, textCol, bytes, histFp)
  }

  /** The tier-1 Bloom (serialized) + the exact fingerprint frame —
    * built ONCE per history snapshot and reusable across batches /
    * micro-batches (the constants-before-the-stream pattern
    * StreamIngestJob uses for gram sets and LM models). */
  def buildDedupIndex(history: DataFrame, textCol: String,
                      expectedHistoryRows: Long = 1000000L,
                      fpp: Double = 0.01): (Array[Byte], DataFrame) = {
    val histFp = history
      .select(TextOps.fingerprint(col(textCol)).as("_hfp"))
    val bloom = histFp.stat.bloomFilter("_hfp", expectedHistoryRows, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    (bos.toByteArray, histFp)
  }

  /** Two-tier core over a prebuilt index; stream-legal (tier 1 is a
    * projection, tier 2 a stream-static left-anti join). */
  def incrementalDedupWith(newDf: DataFrame, textCol: String,
                           bloomBytes: Array[Byte],
                           histFp: DataFrame): DataFrame = {
    val withFp = newDf.withColumn("_fp",
      TextOps.fingerprint(col(textCol)))
    val definitelyNew = withFp.filter(!call_function(
      "graft_bloom_contains", col("_fp"), lit(bloomBytes)))
    val candidates = withFp.filter(call_function(
      "graft_bloom_contains", col("_fp"), lit(bloomBytes)))
      .join(histFp, col("_fp") === col("_hfp"), "left_anti")
    definitelyNew.unionByName(candidates).drop("_fp")
  }

  /** Near-dup candidate pairs of a NEW batch against an existing corpus
    * snapshot — the cross-run companion of [[nearDupPairsMinhash]] for
    * the daily-crawl cadence: emits only pairs TOUCHING the batch
    * (new↔new and new↔old; old↔old pairs were the previous run's
    * output), banded-candidate-generated and exact-Jaccard-verified
    * like the full-corpus op.
    *
    * Scale shape: the history side reduces to its (band, hash, id)
    * index — in production PERSIST that index alongside the corpus (it
    * is signature-sized, append-only across days, and this op never
    * needs history text except for the exact verification join on the
    * candidate ids). The band join's left side is batch-sized, so the
    * per-day cost is O(batch) band probes + O(candidates) verification,
    * never a full-corpus self-join. Ids must be globally unique across
    * days (the [[incrementalComponents]] contract). */
  def incrementalNearDupPairsMinhash(newDf: DataFrame, history: DataFrame,
                                     idCol: String, textCol: String,
                                     shingleN: Int = 2, numPerm: Int = 64,
                                     bands: Int = 16,
                                     threshold: Double = 0.5): DataFrame =
    incrementalNearDupPairsWithIndex(newDf,
      graft.engine.Engine.materialize(
        buildNearDupIndex(history, idCol, textCol, shingleN, numPerm)),
      idCol, textCol, shingleN, numPerm, bands, threshold)

  /** The PERSISTABLE near-dup index of a corpus snapshot —
    * `(_id, _sh hashed-shingle set, _sig minhash signature)`, one row
    * per document with a non-empty shingle set. Write it to parquet at
    * the end of each daily run ([[buildDedupIndex]]'s pattern for the
    * exact tier); the next day's [[incrementalNearDupPairsWithIndex]]
    * reads it back instead of re-shingling the whole archive, and the
    * day's own index rows append with a plain union — the index is
    * append-only across runs because signatures are a pure function of
    * the text. Band hashes are NOT stored: they derive from `_sig` by
    * a cheap projection ([[bandHashes]]), so one persisted index
    * serves any banding scheme with the same `numPerm`. */
  def buildNearDupIndex(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 2,
                        numPerm: Int = 64): DataFrame = {
    val docs = graft.engine.Engine.spread(df)
      .select(col(idCol).as("_id"), col(textCol).as("_txt"))
    // Representative-per-distinct-text (the nearDupPairsMinhash
    // discipline — archives are clone-heavy BY DEFINITION): shingling
    // and the k×n signature loop run once per DISTINCT text (min_by
    // collapses clone mass map-side), then one fingerprint-keyed join
    // fans (sh, sig) back out to every id — sh/sig are pure functions
    // of the text, so the output is bit-equal to the per-row build
    // while the compute scales with distinct mass (sf10 probe: 30 s →
    // ~8 s for the 100×-clone-mass archive build). Output stays one
    // row per non-empty-shingle document.
    val reps = docs
      .groupBy(graft.ext.TextOps.fingerprint(col("_txt")).as("_fp"))
      .agg(min_by(col("_txt"), col("_id")).as("_txt"))
    // Signature in its OWN projection (here, at build time — never
    // inlined into bandHashes): bandHashes references its input once
    // per band-row element (64 element_at's), and under the Generate
    // there is no subexpression elimination — an inlined sig call
    // would be recomputed 64x per document (measured: 48 s -> 0.9 s
    // for the band join at sf0.1).
    val repIx = reps
      .select(col("_fp"),
        call_function("graft_shingle_hashes",
          call_function("graft_hash_tokens",
            graft.ext.TextOps.tokens(col("_txt"))), lit(shingleN))
          .as("_sh"))
      .filter(size(col("_sh")) > 0)
      .select(col("_fp"), col("_sh"),
        call_function("graft_minhash_sig", col("_sh"), lit(numPerm))
          .as("_sig"))
    docs.select(col("_id"),
        graft.ext.TextOps.fingerprint(col("_txt")).as("_fp"))
      .join(repIx, Seq("_fp"))
      .select(col("_id"), col("_sh"), col("_sig"))
  }

  /** [[incrementalNearDupPairsMinhash]] over a PREBUILT history index
    * ([[buildNearDupIndex]], typically read back from parquet) — the
    * production entry point for the daily cadence: per day it pays one
    * index build for the BATCH only, one batch-vs-archive band probe
    * (banding is a projection over stored signatures), and one
    * candidate-sized verification join over the stored shingle sets.
    * The archive is never re-shingled. */
  def incrementalNearDupPairsWithIndex(newDf: DataFrame,
                                       histIndex: DataFrame,
                                       idCol: String, textCol: String,
                                       shingleN: Int = 2,
                                       numPerm: Int = 64,
                                       bands: Int = 16,
                                       threshold: Double = 0.5): DataFrame =
    // Index the batch ONCE: the band probe and the verification join
    // both read it (the materialize-before-reuse discipline).
    incrementalNearDupPairsBetweenIndexes(
      graft.engine.Engine.materialize(
        buildNearDupIndex(newDf, idCol, textCol, shingleN, numPerm)),
      histIndex, numPerm, bands, threshold)

  /** Band rows (`_band`, `_bh`, `id`) of a near-dup index. */
  private def bandRows(ix: DataFrame, id: String, numPerm: Int,
                       bands: Int): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    ix.select(col("_id"),
        posexplode(bandHashes(col("_sig"), bands, numPerm / bands)))
      .select(col("pos").as("_band"), col("col").as("_bh"),
        col("_id").as(id))
  }

  /** Bucket-sharing pairs (`id_a` from the batch index `ixNew` of
    * `nNew` rows, `id_b` from the band rows `index`). Both indexes are
    * checkpoint- or parquet-backed without planner stats, so nothing
    * auto-broadcasts; the batch is the small side BY CONTRACT, and its
    * band rows broadcast when they fit the tier budget so the archive's
    * bands×|archive| rows stream map-side instead of shuffling. */
  private def bandProbe(ixNew: DataFrame, nNew: Long, index: DataFrame,
                        numPerm: Int, bands: Int): DataFrame = {
    val probe = bandRows(ixNew, "id_a", numPerm, bands)
    Tiers.broadcastIfFits(probe)(
        BigInt(nNew) * bands * Tiers.rowBytes(probe.schema))
      .join(index, Seq("_band", "_bh"))
  }

  /** [[incrementalNearDupPairsWithIndex]] when the BATCH index is also
    * prebuilt (and materialized by the caller) — the shape
    * [[graft.jobs.IncrementalDedupJob]] needs: it appends the batch's
    * index rows to the archive at end-of-run anyway, so building them
    * twice would pay the tokenize → shingle → signature pipeline once
    * per consumer. */
  def incrementalNearDupPairsBetweenIndexes(ixNew: DataFrame,
                                            histIndex: DataFrame,
                                            numPerm: Int = 64,
                                            bands: Int = 16,
                                            threshold: Double = 0.5)
      : DataFrame = {
    val eng = graft.engine.Engine
    // Join POSTURE: the band probe ([[bandProbe]]) streams the archive
    // map-side, and the verification reads only the FRONTIER SLICE of
    // the shingle table (one broadcast semi-join: history is scanned,
    // never shuffled), each within the tier budget.
    val index = bandRows(histIndex, "id_b", numPerm, bands)
      .unionByName(bandRows(ixNew, "id_b", numPerm, bands))
    val nNew = Tiers.measure(ixNew.select()).rows
    val pairs = eng.materialize(
      bandProbe(ixNew, nNew, index, numPerm, bands)
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .dropDuplicates("id_a", "id_b"))
    val shAll = histIndex.select(col("_id"), col("_sh"))
      .unionByName(ixNew.select(col("_id"), col("_sh")))
    val nPairs = Tiers.measure(pairs).rows
    // ends holds at most two ids per pair
    val ends = pairs.select(col("id_a").as("_id"))
      .unionByName(pairs.select(col("id_b").as("_id"))).distinct()
    val shTouched = eng.materialize(shAll.join(Tiers.broadcastIfFits(ends)(
      BigInt(nPairs) * 2 * Tiers.rowBytes(ends.schema)), Seq("_id"),
      "left_semi"))
    // measured, so long documents cannot slip past the budget
    val shBytes = Tiers.measure(shTouched).bytes
    def side(a: String, b: String): DataFrame = Tiers.broadcastIfFits(
      shTouched.select(col("_id").as(a), col("_sh").as(b)))(shBytes)
    pairs
      .join(side("id_a", "sh_a"), Seq("id_a"))
      .join(side("id_b", "sh_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Ids of batch rows that near-dup-match ANY document in the history
    * index at `threshold` Jaccard — the HISTORY-GATE face of
    * [[incrementalNearDupPairsWithIndex]]: only batch-vs-archive
    * matches (intra-batch duplicates are a different stage's job), and
    * only the batch ids come back. This is the near-dup sibling of the
    * exact [[incrementalDedupWith]] tier for the streaming-ingest DAG:
    * inside `foreachBatch` the micro-batch is a plain batch frame, the
    * index is a static one, and the whole chain is
    * projection → band equi-join → candidate-sized verify → distinct —
    * no state across micro-batches (the index updates between runs,
    * like the Bloom/gram/LM constants). */
  def nearDupMatchedIds(batch: DataFrame, histIndex: DataFrame,
                        idCol: String, textCol: String,
                        shingleN: Int = 2, numPerm: Int = 64,
                        bands: Int = 16,
                        threshold: Double = 0.5): DataFrame = {
    val index = bandRows(histIndex, "id_b", numPerm, bands)
    val eng = graft.engine.Engine
    val ixNew = eng.materialize(
      buildNearDupIndex(batch, idCol, textCol, shingleN, numPerm))
    // Same join posture as [[incrementalNearDupPairsBetweenIndexes]]:
    // the archive is scanned, never shuffled.
    val ixSize = Tiers.measure(ixNew.select(col("_id"), col("_sh")))
    val cand = eng.materialize(
      bandProbe(ixNew, ixSize.rows, index, numPerm, bands)
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b"))
    // The history slice is priced at the batch's own measured bytes per
    // (id, shingles) row — same corpus, so its width samples the slice
    // about to broadcast; its id list goes with it.
    val sliceBytes = BigInt(Tiers.measure(cand).rows) * ixSize.bytes /
      math.max(1L, ixSize.rows)
    val bIds = cand.select(col("id_b").as("_id")).distinct()
    val histSide = Tiers.broadcastIfFits(histIndex
      .select(col("_id"), col("_sh"))
      .join(Tiers.broadcastIfFits(bIds)(sliceBytes), Seq("_id"), "left_semi")
      .select(col("_id").as("id_b"), col("_sh").as("sh_b")))(sliceBytes)
    cand
      .join(ixNew.select(col("_id").as("id_a"), col("_sh").as("sh_a")),
        Seq("id_a"))
      .join(histSide, Seq("id_b"))
      .filter(
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
          >= threshold)
      .select(col("id_a").as("_nd_id")).distinct()
  }

  /** Cross-run INCREMENTAL connected components — the missing piece
    * between [[incrementalDedup]] (exact fingerprints vs history) and
    * the daily near-dup cadence: merge a new batch's pair graph into a
    * PERSISTED clustering without re-running the closure over history.
    *
    * `historyLabels` is a previous [[connectedComponents]] output
    * (`id`, `component` with component = min member id — the invariant
    * this op both requires and preserves); `newPairs` are the edges
    * touching this run (from [[incrementalNearDupPairsMinhash]], or any
    * pair source). Ids must be globally unique across runs.
    *
    * Algorithm — contraction to the frontier: each endpoint maps to its
    * history label (itself when unlabeled), collapsing every existing
    * component to ONE supernode, so the iterative closure runs on a
    * graph with at most 2·|newPairs| nodes regardless of history size.
    * Because old labels are the min ids of their components, the min
    * over merged supernodes IS the global min over the merged member
    * sets — the result is bit-equal to a full re-cluster over
    * (history pairs ∪ new pairs), which is exactly what the
    * `x_dedup_incremental_cc` oracle row proves (its DuckDB twin
    * computes the full-recluster closure from scratch).
    *
    * Scale shape — history is SCANNED, never shuffled: the batch's
    * endpoint set (frontier-sized by the daily-batch contract)
    * broadcasts into one map-side LEFT-SEMI over the history label
    * table, and everything else joins frontier-sized relations against
    * frontier-sized relations. (The naive `e LEFT JOIN history` shape
    * would sort-merge BOTH sides — Spark can only broadcast the
    * non-preserved side of an outer join, and that side is the huge
    * one.) The final label update is one broadcast remap join over
    * history (remap is touched-components-sized); untouched components
    * coalesce through unchanged. No history closure anywhere. */
  def incrementalComponents(historyLabels: DataFrame, newPairs: DataFrame,
                            srcCol: String = "id_a",
                            dstCol: String = "id_b",
                            maxIter: Int = 25): DataFrame = {
    val hist = historyLabels.select(col("id").cast("long").as("id"),
      col("component").cast("long").as("component"))
    // Materialized: the edge list feeds the contraction AND the
    // new-node discovery below.
    val e = graft.engine.Engine.materialize(
      newPairs.select(col(srcCol).cast("long").as("_a"),
        col(dstCol).cast("long").as("_b")))
    val endpoints = graft.engine.Engine.materialize(
      e.select(col("_a").as("id"))
        .unionByName(e.select(col("_b").as("id")))
        .distinct())
    // Frontier slice of history: ONE map-side semi join (endpoints
    // broadcast; history streams through without an exchange).
    // Materialized: feeds the two endpoint-label joins AND the
    // new-node anti-join.
    val histTouched = graft.engine.Engine.materialize(
      hist.join(broadcast(endpoints), Seq("id"), "left_semi"))
    val la = histTouched.select(col("id").as("_a"),
      col("component").as("_ca"))
    val lb = histTouched.select(col("id").as("_b"),
      col("component").as("_cb"))
    val contracted = e
      .join(la, Seq("_a"), "left")
      .join(lb, Seq("_b"), "left")
      .select(coalesce(col("_ca"), col("_a")).as("id_a"),
        coalesce(col("_cb"), col("_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val remap = connectedComponents(contracted, maxIter = maxIter)
      .select(col("id").as("_rold"), col("component").as("_rnew"))
    val hUpd = hist.join(broadcast(remap),
        hist("component") === remap("_rold"), "left")
      .select(hist("id"),
        coalesce(col("_rnew"), hist("component")).as("component"))
    // endpoints minus the touched history slice — frontier-sized on
    // BOTH sides (an anti-join against full history could not
    // broadcast the preserved side and would shuffle history).
    val newNodes = endpoints
      .join(histTouched.select(col("id")), Seq("id"), "left_anti")
    val nUpd = newNodes.join(broadcast(remap),
        newNodes("id") === remap("_rold"), "left")
      .select(newNodes("id"),
        coalesce(col("_rnew"), newNodes("id")).as("component"))
    hUpd.unionByName(nUpd)
  }

  /** Fuzzy-match pairs at edit distance ≤ 1 via deletion-neighborhood
    * blocking (the SymSpell trick: two strings are within one
    * insert/delete/substitute iff they are equal, or share a 1-deletion
    * variant, or one equals a 1-deletion of the other — so the variant
    * set {s} ∪ del1(s) of each string overlaps). Candidates are generated
    * by an equi-join on variants and then VERIFIED with `levenshtein`, so
    * the result is exact.
    *
    * Scale shape, two tiers both immune to exact-duplicate mass (the
    * normal state of a crawl corpus — and the sf1 validation's finding:
    * a per-ROW variant join multiplies every bucket by the copy count
    * and the candidate volume quadratically with it, 71× observed at
    * 10× replicated keys):
    *
    *  - DISTINCT-STRING tier: variants explode, bucket-join, and
    *    levenshtein-verify once per distinct string — O(d·L) shuffle
    *    for d distinct values regardless of row count; verified string
    *    pairs then expand to id pairs by two id joins, so the
    *    quadratic-in-copies part is exactly the true output size.
    *  - SAME-STRING tier: identical strings (edit distance 0) pair by
    *    one self-join on the string key — again output-bound.
    *
    * Meant for short keys (names, codes, titles) — the string itself is
    * a join key here; for document-scale text use the MinHash/SimHash
    * paths above. */
  def fuzzyPairsEdit1(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val strs = df.filter(col(strCol).isNotNull)
      .select(col(idCol).as("_id"), col(strCol).as("_s"))
    val strPairs0 = fuzzyStrPairsEdit1(strs)
    // The verified pair list is DISTINCT-grain tiny, so AQE coalesces
    // its shuffle to ~one partition — and the two id-expansion joins
    // below FUSE into that stage, forcing the (copies_a × copies_b)
    // fan-out (the true output mass on a clone-heavy corpus; ~10⁴× at
    // 100 copies/string) through a single core (sf10 sweep: one
    // 50-CPU-minute task). An explicit-count repartition pins the
    // expansion's parallelism — AQE never coalesces user-specified
    // partition counts — so the output-bound stage scales with cores.
    val strPairs = strPairs0.repartition(
      df.sparkSession.sparkContext.defaultParallelism, col("_sa"))
    val crossIds = strPairs
      .join(strs.select(col("_s").as("_sa"), col("_id").as("_ia")),
        Seq("_sa"))
      .join(strs.select(col("_s").as("_sb"), col("_id").as("_ib")),
        Seq("_sb"))
      .select(least(col("_ia"), col("_ib")).as("id_a"),
        greatest(col("_ia"), col("_ib")).as("id_b"),
        when(col("_ia") < col("_ib"), col("_sa")).otherwise(col("_sb"))
          .as("str_a"),
        when(col("_ia") < col("_ib"), col("_sb")).otherwise(col("_sa"))
          .as("str_b"),
        col("dist"))
    val sameIds = strs
      .join(strs.select(col("_s"), col("_id").as("_ib")), Seq("_s"))
      .filter(col("_id") < col("_ib"))
      .select(col("_id").as("id_a"), col("_ib").as("id_b"),
        col("_s").as("str_a"), col("_s").as("str_b"),
        lit(0).as("dist"))
    crossIds.unionByName(sameIds)
  }

  /** The distinct-grain core of the fuzzy family: verified edit-1 pairs
    * (`_sa`, `_sb`, `dist`) over the DISTINCT values of `strs._s`.
    * Candidates from the deletion-neighborhood equi-join (native
    * codegen'd [[graft.expressions.DeletionVariants]] — the HOF form,
    * transform + substr, pays an interpreted lambda call per character
    * per row), then exact `levenshtein` verification. */
  private[graft] def fuzzyStrPairsEdit1(strs: DataFrame): DataFrame = {
    val dstrs = strs.select(col("_s")).distinct()
    val exploded = dstrs.select(col("_s"),
      explode(call_function("graft_del_variants", col("_s"))).as("_v"))
    val l = exploded.select(col("_v"), col("_s").as("_sa"))
    val r = exploded.select(col("_v"), col("_s").as("_sb"))
    l.join(r, Seq("_v"))
      .filter(col("_sa") < col("_sb"))
      .select(col("_sa"), col("_sb"))
      .dropDuplicates("_sa", "_sb")
      .withColumn("dist", levenshtein(col("_sa"), col("_sb")))
      .filter(col("dist") <= 1)
  }

  /** [[fuzzyPairsEdit1]]'s REP-GRAIN contract — the scale-safe output
    * shape (r15 sf10's one DNF was the member-grain id-pair list, whose
    * SIZE is quadratic in clone copies: ~10⁴× the sf0.1 answer at 100
    * copies/string; no plan fixes an output-bound query whose output
    * explodes). One row per verified DISTINCT-string pair:
    * (`str_a`, `str_b`, `dist`, `n_a`, `n_b`), str_a < str_b, with each
    * side's member count — so `n_a·n_b` is exactly the member-pair mass
    * the old contract materialized, and joining twice through
    * [[fuzzyClassesEdit1]] reproduces the full id-pair list on demand
    * (the expansion algebra itself stays oracle-pinned by the bounded
    * member-grain query). Output scales with DISTINCT mass only. */
  def fuzzyPairsEdit1Rep(df: DataFrame, idCol: String,
                         strCol: String): DataFrame = {
    val strs = df.filter(col(strCol).isNotNull)
      .select(col(idCol).as("_id"), col(strCol).as("_s"))
    fuzzyPairsEdit1RepFrom(strs, fuzzyStrPairsEdit1(strs))
  }

  /** [[fuzzyPairsEdit1Rep]] over an ALREADY-COMPUTED verified pair
    * stage — callers holding several consumers of the same corpus
    * (the registered pair + class-map queries) materialize
    * [[fuzzyStrPairsEdit1]] once and feed both. */
  private[graft] def fuzzyPairsEdit1RepFrom(strs: DataFrame,
                                            pairs: DataFrame): DataFrame = {
    val cls = strs.groupBy(col("_s")).agg(count(lit(1)).as("_n"))
    pairs
      .join(cls.select(col("_s").as("_sa"), col("_n").as("n_a")),
        Seq("_sa"))
      .join(cls.select(col("_s").as("_sb"), col("_n").as("n_b")),
        Seq("_sb"))
      .select(col("_sa").as("str_a"), col("_sb").as("str_b"),
        col("dist"), col("n_a"), col("n_b"))
  }

  /** The id↔string class map completing [[fuzzyPairsEdit1Rep]]'s
    * contract: one row per string PARTICIPATING in the edit-≤1 graph —
    * an endpoint of a verified distinct pair, or a multi-member clone
    * class (whose members pair with each other at distance 0) — with
    * `(str, n_ids, min_id)`. Consumers expand rep pairs through it or
    * route dedup keep/drop decisions by `min_id` without the engine
    * ever materializing the quadratic id-pair list. */
  def fuzzyClassesEdit1(df: DataFrame, idCol: String,
                        strCol: String): DataFrame = {
    val strs = df.filter(col(strCol).isNotNull)
      .select(col(idCol).as("_id"), col(strCol).as("_s"))
    fuzzyClassesEdit1From(strs, fuzzyStrPairsEdit1(strs))
  }

  /** [[fuzzyClassesEdit1]] over an already-computed pair stage (see
    * [[fuzzyPairsEdit1RepFrom]]). */
  private[graft] def fuzzyClassesEdit1From(strs: DataFrame,
                                           pairs: DataFrame): DataFrame = {
    val cls = strs.groupBy(col("_s"))
      .agg(count(lit(1)).as("n_ids"), min(col("_id")).as("min_id"))
    val parts = pairs.select(col("_sa").as("_s"))
      .unionByName(pairs.select(col("_sb").as("_s")))
      .distinct()
    cls.join(parts.withColumn("_in", lit(1)), Seq("_s"), "left")
      .filter(col("n_ids") >= 2 || col("_in").isNotNull)
      .select(col("_s").as("str"), col("n_ids"), col("min_id"))
  }

  /** All-pairs cosine similarity over sparse TF-IDF n-gram vectors with
    * L2 PREFIX FILTERING (Bayardo, Ma & Srikant, WWW 2007) — the
    * term-based near-dup miner, complementary to MinHash (set overlap)
    * and the embedding family (dense vectors): finds every document
    * pair whose tf-idf cosine ≥ `tNum/tDen`, without the full
    * posting-list self-join.
    *
    * Scale shape: candidate pairs come from joining the PREFIX posting
    * list against the full one. Each document orders its terms by
    * (document-frequency asc, term asc) — rarest first — and indexes
    * only the leading terms while the remaining suffix could still,
    * alone, reach the threshold: row i is indexed iff
    * `suffix²(i−1) · tDen² ≥ tNum² · ‖x‖²` — EXACT integer arithmetic,
    * no float in the bound, so the pruning proof (a qualifying pair
    * must share at least one indexed term: if every shared term sat in
    * x's un-indexed tail, dot ≤ ‖x_tail‖·‖y‖ < t·‖x‖·‖y‖) holds
    * bit-for-bit. The heavy common-term postings thus never meet each
    * other — only a rare-prefix entry can open a candidate — and the
    * exact verification join touches candidates only. The DuckDB
    * oracle computes the DEFINITION (full posting self-join, no
    * pruning), so the CORRECTNESS row proves the filter drops nothing.
    *
    * Determinism: weights are fixed-point longs
    * `tf · floor(ln(N/df)·idfScale)` (platform-libm [[graft_ln]], one
    * float op per distinct df value, floored before any sum), dots and
    * norms² are exact integer sums, and only the final
    * `round(dot/(‖a‖·‖b‖), 6)` touches doubles — the embedding
    * family's engine-parity discipline. Terms with idf weight 0
    * (df ≈ N) drop out on both sides.
    *
    * Output: (id_a, id_b, dot, score), id_a < id_b. */
  def allPairsCosine(df0: DataFrame, idCol: String, textCol: String,
                     tNum: Int, tDen: Int, gramN: Int = 3,
                     idfScale: Long = 1000L): DataFrame = {
    val (w, norms, prefix, classes) =
      apssPostings(df0, idCol, textCol, tNum, tDen, gramN, idfScale)
    // Join POSTURE: every relation in the quadratic core is
    // REPRESENTATIVE-sized — clone mass collapsed before it — so when
    // they fit the tier budget the prefix postings broadcast (map-side
    // candidate join over the streamed full postings), the per-rep
    // (term, weight) vectors broadcast twice into one compiled
    // merge-dot projection per candidate (graft_merge_dot), and the
    // norms attach by broadcast; larger rep relations take the shuffle
    // joins, never an oversized broadcast.
    val wRows = Tiers.measure(w).rows
    // DUAL-WITNESS pruning (r18; Bayardo's bound applied on BOTH
    // sides): the one-sided theorem — if every shared term sits in
    // x's below-threshold tail, dot ≤ ‖x_tail‖·‖y‖ < t·‖x‖·‖y‖ —
    // holds independently for x AND y, so a qualifying pair must have
    // a shared term inside EACH side's prefix (possibly different
    // terms). The candidate groupBy therefore keeps a pair only when
    // prefix rows from both endpoints witnessed it, replacing the
    // plain distinct at the same shuffle cost (sf0.1: 626,517 →
    // 521,733 candidates — the DuckDB twin computes the unpruned
    // definition, so the green oracle row proves the filter drops
    // nothing).
    val full = w.select(col("_t"), col("_id").as("_fid"))
    // prefix rows are a subset of w's
    val cand = Tiers.broadcastIfFits(prefix)(
        BigInt(wRows) * Tiers.rowBytes(prefix.schema))
      .join(full, Seq("_t"))
      .filter(col("_pid") =!= col("_fid"))
      .select(least(col("_pid"), col("_fid")).as("_a"),
        greatest(col("_pid"), col("_fid")).as("_b"),
        (col("_pid") < col("_fid")).as("_wlo"))
      .groupBy(col("_a"), col("_b"))
      .agg(max(col("_wlo")).as("_hasLo"), min(col("_wlo")).as("_notHi"))
      .filter(col("_hasLo") && !col("_notHi"))
      .select(col("_a"), col("_b"))
    val vec = graft.engine.Engine.materialize(
      w.groupBy(col("_id"))
        .agg(sort_array(collect_list(struct(col("_t"), col("_w"))))
          .as("_vec")))
    // one vec row per rep: its measure also counts the norms' rows
    val vecSize = Tiers.measure(vec)
    val dots = cand
      .join(Tiers.broadcastIfFits(vec.select(col("_id").as("_a"),
        col("_vec").as("_va")))(vecSize.bytes), Seq("_a"))
      .join(Tiers.broadcastIfFits(vec.select(col("_id").as("_b"),
        col("_vec").as("_vb")))(vecSize.bytes), Seq("_b"))
      .select(col("_a"), col("_b"),
        call_function("graft_merge_dot", col("_va"), col("_vb"))
          .as("dot"))
    val normBytes = BigInt(vecSize.rows) * Tiers.rowBytes(norms.schema)
    val repPairs = dots
      .join(Tiers.broadcastIfFits(norms.select(col("_id").as("_a"),
        col("_nsq").as("_na")))(normBytes), Seq("_a"))
      .join(Tiers.broadcastIfFits(norms.select(col("_id").as("_b"),
        col("_nsq").as("_nb")))(normBytes), Seq("_b"))
      .withColumn("score", round(col("dot").cast("double") /
        (sqrt(col("_na").cast("double")) * sqrt(col("_nb").cast("double"))), 6))
      .filter(col("score") >= lit(tNum.toDouble / tDen.toDouble))
    // Expansion back to ORIGINAL ids (the duplicate-mass half): a
    // qualifying representative pair fans out to every cross pair of
    // the two identity classes, and every multi-member class whose
    // vector is non-empty contributes all its intra pairs at
    // dot = ‖x‖² — with the SAME score expression evaluated, not an
    // assumed 1.0, so the rounding matches the definition bit-for-bit.
    val mem = classes.select(col("_rid"), col("_oid"))
    val inter = repPairs
      .join(mem.select(col("_rid").as("_a"), col("_oid").as("_ia")),
        Seq("_a"))
      .join(mem.select(col("_rid").as("_b"), col("_oid").as("_ib")),
        Seq("_b"))
      .select(least(col("_ia"), col("_ib")).as("id_a"),
        greatest(col("_ia"), col("_ib")).as("id_b"),
        col("dot"), col("score"))
    val intra = norms // only classes with a non-empty vector can pair
      .join(mem.select(col("_rid").as("_id"), col("_oid").as("_ia")),
        Seq("_id"))
      .join(mem.select(col("_rid").as("_id"), col("_oid").as("_ib")),
        Seq("_id"))
      .filter(col("_ia") < col("_ib"))
      .withColumn("dot", col("_nsq"))
      .withColumn("score", round(col("dot").cast("double") /
        (sqrt(col("_nsq").cast("double")) *
          sqrt(col("_nsq").cast("double"))), 6))
      .filter(col("score") >= lit(tNum.toDouble / tDen.toDouble))
      .select(col("_ia").as("id_a"), col("_ib").as("id_b"),
        col("dot"), col("score"))
    inter.unionByName(intra)
  }

  /** The (weights, norms², prefix-postings, identity-classes)
    * relations of [[allPairsCosine]] — package-private so tests can
    * assert the prefix index is a strict subset of the postings (the
    * bound actually prunes) without reconstructing the fixed-point
    * arithmetic.
    *
    * Duplicate-mass discipline (the r9 fuzzy-match lesson — dedup
    * operators meet duplicate-heavy corpora BY DEFINITION, and the
    * sf1 record caught the naive shape failing with executor OOM
    * after 500 s under 10× replication): the miner runs over ONE
    * REPRESENTATIVE per distinct normalized text, so exact-duplicate
    * mass multiplies only the final expansion join, never the
    * quadratic candidate/dot stages. The tf-idf weights still match
    * the full-corpus definition exactly: identical texts have
    * identical tf vectors, and df/N are computed over ALL documents
    * by summing class sizes — so every representative's weight,
    * norm², and prefix bound is bit-equal to the naive pipeline's.
    *
    * Terms ride as 8-byte WINDOW HASHES end to end (the
    * lmTrainHashed contract — identical output absent 64-bit
    * collisions, which the string-keyed DuckDB twin hash-verifies),
    * and the weight/norm relations are MATERIALIZED: they feed 4 and
    * 3 consumers whose aliased branches defeat exchange reuse
    * (hash keys + materialization: 10.9 → ~5.5 s solo at sf0.1; the
    * distinct-text tier then costs ~2-3 s back on a duplicate-FREE
    * corpus — the same trade the fuzzy-match rewrite recorded — and
    * buys sf1-under-replication going from executor OOM at 500 s to
    * 10.9 s clean). */
  private[graft] def apssPostings(
      df0: DataFrame, idCol: String, textCol: String,
      tNum: Int, tDen: Int, gramN: Int, idfScale: Long)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(tNum > 0 && tDen > 0 && tNum < tDen,
      s"threshold must be a rational in (0,1): $tNum/$tDen")
    val docs = graft.engine.Engine.spread(df0)
      .select(col(idCol).cast("long").as("_oid"),
        col(textCol).as("_txt"))
    val nDocs = docs.count()
    require(nDocs > 0, "allPairsCosine needs a non-empty corpus")
    // identity classes: (_fp, _oid) + per-class representative (min
    // id) and size; `classes` carries (_rid, _oid, _sz) for expansion
    val fp = graft.engine.Engine.materialize(
      docs.select(col("_oid"), TextOps.fingerprint(col("_txt")).as("_fp")))
    val reps = fp.groupBy(col("_fp"))
      .agg(min(col("_oid")).as("_rid"), count(lit(1)).as("_sz"))
    val classes = graft.engine.Engine.materialize(
      fp.join(reps, Seq("_fp"))
        .select(col("_rid"), col("_oid"), col("_sz")))
    val repDocs = classes.filter(col("_oid") === col("_rid"))
      .join(docs.withColumnRenamed("_oid", "_rid"), Seq("_rid"))
    val toks = TextOps.tokens(col("_txt"))
    val grams = call_function("graft_window_hashes",
      call_function("graft_hash_tokens", toks), lit(math.max(gramN, 1)))
    // Materialized (r18): tf feeds BOTH the document-frequency
    // aggregate and the weight join — without the cut the whole
    // tokenize → window-hash explode → grouped-count pipeline ran
    // twice per construction (aliased consumers defeat exchange
    // reuse, the same argument as w/norms below).
    val tf = graft.engine.Engine.materialize(
      repDocs.select(col("_rid").as("_id"), col("_sz"),
          explode(grams).as("_t"))
        .groupBy(col("_id"), col("_sz"), col("_t"))
        .agg(count(lit(1)).as("_tf")))
    // FULL-corpus document frequency: every duplicate counts, via the
    // class sizes — keeps idf identical to the unpruned definition
    val dfRel = tf.groupBy(col("_t")).agg(sum(col("_sz")).as("_df"))
    val w = graft.engine.Engine.materialize(
      tf.join(dfRel, Seq("_t"))
        .select(col("_id"), col("_t"), col("_df"),
          (col("_tf") * floor(call_function("graft_ln",
            lit(nDocs.toDouble) / col("_df").cast("double")) *
            lit(idfScale)).cast("long")).as("_w"))
        .filter(col("_w") > 0))
    val norms = graft.engine.Engine.materialize(
      w.groupBy(col("_id"))
        .agg(sum(col("_w") * col("_w")).as("_nsq")))
    // prefix membership: rarest-first order, cumulative weight mass;
    // per-DOC window — partitions by id, no corpus-wide frame
    val ord = Window.partitionBy(col("_id"))
      .orderBy(col("_df").asc, col("_t").asc)
    val prefix = w.join(norms, Seq("_id"))
      .withColumn("_cum", sum(col("_w") * col("_w")).over(ord))
      .filter((col("_nsq") - (col("_cum") - col("_w") * col("_w"))) *
        lit(tDen.toLong * tDen) >= lit(tNum.toLong * tNum) * col("_nsq"))
      .select(col("_t"), col("_id").as("_pid"))
    (w, norms, prefix, classes)
  }
}
