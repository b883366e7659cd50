package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{Engine, GrainProbe, Tiers}
import graft.ext.{DedupOps, TextOps}
import graft.sinks.Sinks
import graft.sources.Sources
import graft.transform.{Checks, Split}

/** The end-to-end batch CURATION pipeline as one call — the engine's
  * headline use-case composed from the individually-oracled stages
  * (r11 verdict ask #5): rule quarantine → language gate → Gopher
  * repetition gate → exact dedup → MinHash near-dup dedup → benchmark
  * decontamination → trained-NB quality gate → LM fluency gate →
  * deterministic split. [[StreamIngestJob]] is the streaming sibling
  * (stateless stages only); this batch form adds the stages that need
  * cross-document state (language stats aside, the two dedup stages).
  *
  * The contract is the per-document DISPOSITION table: every input row
  * appears EXACTLY once with either the first stage that dropped it or
  * its final split — nothing is silently discarded, and the stage
  * ordering is part of the proven semantics (`x_curation`'s DuckDB twin
  * replays the stages in the same order).
  *
  * Scale shape: ALL per-document gates (rules, langid, repetition,
  * contamination, NB, LM — each a plan-literal or native-expression
  * projection, the repetition fractions per-row via
  * `graft_gram_stats`) compute in ONE materialized pass over the
  * corpus — no gate pays its own corpus scan or join; the two dedup
  * stages then operate on id+text only (exact: one fingerprint
  * groupBy; near-dup: the banded LSH pipeline) and rejoin as id-only
  * keep-lists. Stage ORDER matters only for the dedup populations —
  * a document dropped by an earlier gate must not survive as a
  * cluster's keeper — which is exactly how the populations are wired.
  */
object CurationJob {

  /** Stage configuration. Gates default OFF (empty/None/∞) so a config
    * names exactly what it runs. */
  case class Config(
    idCol: String,
    textCol: String,
    rules: Seq[Checks.Rule] = Nil,
    allowedLangs: Seq[String] = Nil,
    maxDupTokenFrac: Double = 1.0,
    maxTopBigramFrac: Double = 1.0,
    exactDedup: Boolean = true,
    nearDupThreshold: Double = 0.0, // 0 = off
    shingleN: Int = 2, numPerm: Int = 64, bands: Int = 16,
    benchGramHashes: Array[Long] = Array.empty,
    nbModel: Option[TextOps.NbModel] = None,
    lmModel: Option[TextOps.LmModel] = None,
    maxMeanNll: Double = Double.PositiveInfinity,
    testFrac: Double = 0.05, validFrac: Double = 0.05)

  /** Disposition statuses in stage order (kept rows carry their split
    * name instead). */
  val Stages: Seq[String] = Seq("quarantined", "non_target_lang",
    "repetitive", "exact_dup", "near_dup", "contaminated", "low_quality",
    "influent")

  /** The gate pass BEFORE materialization — every per-document flag
    * (`_quar`, `_badlang`, `_rep`, `_contam`, `_lowq`, `_influent`).
    * The rule flag is per row (rules may reference any column); the
    * five text flags are pure functions of the text, so they ride the
    * class tier ([[GrainProbe.classes]], key = text fingerprint with a
    * null sentinel so null-text rows keep their row): once per
    * DISTINCT text on a clone-heavy corpus, fanned out by one key join.
    * At row grain the frame is ONE projection chain over the corpus:
    * rules, langid, the per-row repetition fractions and the
    * plan-literal contamination/NB/LM folds are all scan-bound, so the
    * whole frame is one FileScan with zero exchanges (pinned in
    * PlanShapeSpec). Package-private because [[disposition]]
    * materializes it (the final plan starts at the checkpoint, hiding
    * the scan shape — the keySkew hidden-stage discipline). */
  private[graft] def gateFrame(df: DataFrame, cfg: Config): DataFrame = {
    val text = col(cfg.textCol)
    val flagged = Checks.flagRows(df, cfg.rules)
      .withColumn("_quar", size(col("violations")) > 0)
      .drop("violations")
    // The tokenizer and the token-hash array are computed ONCE as real
    // columns and every flag family consumes the shared attribute:
    // langid, repetition, contamination, NB and LM each used to carry
    // their own `graft_hash_tokens(tokens(text))` subtree, and with
    // higher-order functions outside whole-stage codegen's
    // subexpression elimination the regex tokenizer ran 6+ times per
    // row — the dominant cost of the sf10 wide pass (measured: 62 s of
    // x_curation's 75 s). CollapseProject keeps the layering because
    // the shared columns are multiply-referenced and non-cheap, so the
    // pass stays ONE FileScan + stacked projections, zero exchanges
    // (still pinned in PlanShapeSpec).
    GrainProbe.classes(flagged,
        coalesce(TextOps.fingerprint(text), lit("\u0000null")), text)
      .derive(t => Seq(
        "_toks" -> TextOps.tokens(t),
        "_th" -> call_function("graft_hash_tokens", col("_toks"))) ++
        textFlagCols(cfg))
      .drop("_toks", "_th")
  }

  /** The five TEXT-ONLY gate flags over a shared pre-hashed token
    * column named `_th` — pure functions of the text, which is what
    * lets [[gateFrame]] evaluate them once per DISTINCT text on a
    * clone-heavy corpus, bit-identically to the per-row evaluation.
    *
    * NULL-text rows have a null langid prediction (null tokens
    * propagate through the hash probes and the when-chain — same as
    * the string-exact languageId), so `!pred.isin(...)` is null too:
    * the row would fall out of the survivor filter WITHOUT ever
    * earning a "non_target_lang" disposition (null is not true in
    * either the filter or the status when-chain). Coalesce to true:
    * an undetermined language is not a target language. Pinned in
    * JobsSpec (null-text doc → non_target_lang). */
  private def textFlagCols(cfg: Config): Seq[(String, Column)] = {
    val th = col("_th")
    val badlang: Column =
      if (cfg.allowedLangs.isEmpty) lit(false)
      else coalesce(!TextOps.predLangFromHashes(th)
        .isin(cfg.allowedLangs: _*), lit(true))
    val repGateOn = cfg.maxDupTokenFrac < 1.0 || cfg.maxTopBigramFrac < 1.0
    val rep: Column =
      if (!repGateOn) lit(false)
      else {
        // Fused into the wide pass (r12 verdict ask #4): the fractions
        // are a per-row projection, so the gate costs zero extra
        // scans/joins. Token-less/null docs have null fractions —
        // coalesce keeps them un-flagged, exactly the old
        // repetitionStats-join-miss semantics.
        val rf = TextOps.repetitionFracsFromHashes(th)
        coalesce(
          rf.getField("dup_token_frac") > cfg.maxDupTokenFrac ||
            rf.getField("top_bigram_frac") > cfg.maxTopBigramFrac,
          lit(false))
      }
    val contam: Column =
      if (cfg.benchGramHashes.isEmpty) lit(false)
      else DedupOps.isContaminatedFromHashes(th, cfg.benchGramHashes)
    val lowq: Column = cfg.nbModel.fold(lit(false)) { m =>
      (TextOps.nbScoreFromHashes(th, m).getField("sum") +
        lit(m.priorFx)) <= 0L
    }
    val influent: Column = cfg.lmModel.fold(lit(false)) { m =>
      val s = TextOps.lmNllFromHashes(th, m)
      s.isNotNull &&
        ((s.getField("sfx").cast("double") /
          s.getField("n_bigrams").cast("double")) /
          lit(1073741824.0)) > cfg.maxMeanNll
    }
    Seq("_badlang" -> badlang, "_rep" -> rep, "_contam" -> contam,
      "_lowq" -> lowq, "_influent" -> influent)
  }

  /** Per-document disposition: `(idCol, status)`, one row per input
    * row, status = first failing stage or the split name. */
  def disposition(df: DataFrame, cfg: Config): DataFrame = {
    val id = col(cfg.idCol)
    // Materialized NARROW — id + text FINGERPRINT + the six flags;
    // never the text: checkpointing the full-width frame serialized
    // every document's text to local disk, and at sf10 that WRITE was
    // the pipeline's dominant cost (measured: 57 s I/O vs 12 s flag
    // compute over 6.05M docs). With the fingerprint riding the
    // narrow frame, the exact-dedup stage runs entirely at
    // (id, 16-byte fp) grain — survivor texts never shuffle — and the
    // near-dup stage fetches text by semi-join for the EXACT
    // SURVIVORS only (one per distinct fingerprint: on a duplicate-
    // heavy corpus, the broadcast-sized set the LSH stage actually
    // needs).
    val flagCols = Seq("_quar", "_badlang", "_rep", "_contam",
      "_lowq", "_influent")
    val pre = Engine.materialize(gateFrame(df, cfg)
      .select(id +: TextOps.fingerprint(col(cfg.textCol)).as("_fp") +:
        flagCols.map(col): _*))
    // ---- dedup stages on the surviving population ----------------
    val s4n = pre.filter(!col("_quar") && !col("_badlang") && !col("_rep"))
    val (withKeeps, dedupCase) = {
      var acc = pre
      var cases = List.empty[(Column, String)]
      // near-dup population: (id, text) of the rows the near stage
      // must shingle — exact survivors when the exact stage ran,
      // every gate survivor otherwise.
      var popIds = s4n.select(id)
      if (cfg.exactDedup) {
        // exactByText at fingerprint grain: same fingerprint, same
        // keep-the-lowest-id window — but over the narrow frame, so
        // the shuffle carries (id, fp), not documents.
        val w = Window.partitionBy(col("_fp")).orderBy(id)
        val keep = Engine.materialize(
          s4n.withColumn("_rn", row_number().over(w))
            .filter(col("_rn") === 1).select(id.as("_ekid")))
        popIds = keep.select(col("_ekid").as(cfg.idCol))
        acc = acc.join(keep, id === col("_ekid"), "left")
        cases ::= (col("_ekid").isNull, "exact_dup")
      }
      if (cfg.nearDupThreshold > 0.0) {
        // The id list is checkpoint-backed, so the planner sees no
        // size stats and would sort-merge this semi join — shuffling
        // the corpus TEXT to meet a list that is usually
        // broadcast-sized (one id per distinct surviving text). Over
        // the tier budget the shuffle join stays: moving the
        // population's text once is the honest cost of shingling it.
        val popBytes = Tiers.measure(popIds).bytes
        val popIdsHinted = Tiers.broadcastIfFits(popIds)(popBytes)
        val pop = df.select(id, col(cfg.textCol))
          .join(popIdsHinted, Seq(cfg.idCol), "left_semi")
        // Materialized like the exact keep list: the full LSH band-join
        // pipeline must run once, not once per downstream consumer
        // (curate() reads disposition's plan twice — filter + join).
        // When the exact stage ran, `pop` is pairwise-distinct by text
        // (one survivor per fingerprint), so the rep tier is skipped by
        // proof — the dedupeCorpus discipline.
        val near =
          if (cfg.exactDedup)
            DedupOps.dedupeNearMinhashDistinct(pop, cfg.idCol,
              cfg.textCol, cfg.shingleN, cfg.numPerm, cfg.bands,
              cfg.nearDupThreshold)
          else
            DedupOps.dedupeNearMinhash(pop, cfg.idCol, cfg.textCol,
              cfg.shingleN, cfg.numPerm, cfg.bands, cfg.nearDupThreshold)
        val keep = Engine.materialize(near.select(id.as("_nkid")))
        acc = acc.join(keep, id === col("_nkid"), "left")
        cases ::= (col("_nkid").isNull, "near_dup")
      }
      (acc, cases.reverse)
    }
    // ---- disposition in stage order ------------------------------
    val split = Split.hashSplit(withKeeps, cfg.idCol,
      Seq("test" -> cfg.testFrac, "valid" -> cfg.validFrac))
    val gateCases: Seq[(Column, String)] =
      Seq((col("_quar"), "quarantined"),
        (col("_badlang"), "non_target_lang"),
        (col("_rep"), "repetitive")) ++ dedupCase ++
      Seq((col("_contam"), "contaminated"),
        (col("_lowq"), "low_quality"),
        (col("_influent"), "influent"))
    val status = gateCases.foldRight(col("split")) {
      case ((cond, name), elseC) => when(cond, lit(name)).otherwise(elseC)
    }
    split.select(id, status.as("status"))
  }

  /** The curated corpus: input columns + `split`, survivors only. */
  def curate(df: DataFrame, cfg: Config): DataFrame = {
    val disp = disposition(df, cfg)
      .filter(!col("status").isin(Stages: _*))
      .select(col(cfg.idCol).as("_disp_id"), col("status").as("split"))
    df.join(disp, col(cfg.idCol) === col("_disp_id")).drop("_disp_id")
  }

  /** args: <inTable> <dispositionOut> <curatedOut> <idCol> <textCol>
    *       <rulesSpec> <allowedLangs,csv|-> <benchParquet|->
    *       [maxDupTokenFrac=1.0] [maxTopBigramFrac=1.0]
    *       [nearDupThreshold=0] [nbRefParquet|-] [nbTrustedCol|-]
    *       [lmRefParquet|-] [maxMeanNll=+inf] [testFrac=0.05]
    *       [validFrac=0.05]
    * rulesSpec uses [[QualityGateJob.parseRule]] syntax; '-' disables
    * the corresponding stage. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val Array(in, dispOut, curatedOut, idCol, textCol, rulesSpec,
      langsCsv, benchPath, rest @ _*) = args
    val docs = Sources.readParquet(spark, in)
    val cfg = Config(
      idCol = idCol, textCol = textCol,
      rules = rulesSpec.split(";").toSeq.filter(_.nonEmpty)
        .map(QualityGateJob.parseRule),
      allowedLangs =
        if (langsCsv == "-") Nil
        else langsCsv.split(",").toSeq.filter(_.nonEmpty),
      benchGramHashes =
        if (benchPath == "-") Array.empty[Long]
        else DedupOps.benchmarkGramHashes(
          Sources.readParquet(spark, benchPath), textCol),
      maxDupTokenFrac = rest.headOption.map(_.toDouble).getOrElse(1.0),
      maxTopBigramFrac = rest.lift(1).map(_.toDouble).getOrElse(1.0),
      nearDupThreshold = rest.lift(2).map(_.toDouble).getOrElse(0.0),
      nbModel = (rest.lift(3).filter(_ != "-"),
          rest.lift(4).filter(_ != "-")) match {
        case (Some(p), Some(flag)) => Some(TextOps.nbTrainHashed(
          Sources.readParquet(spark, p), textCol, col(flag)))
        case (None, None) => None
        case _ => throw new IllegalArgumentException(
          "nbRefParquet and nbTrustedCol must be given together")
      },
      lmModel = rest.lift(5).filter(_ != "-").map(p =>
        TextOps.lmTrainHashed(Sources.readParquet(spark, p), textCol)),
      maxMeanNll = rest.lift(6).map(_.toDouble)
        .getOrElse(Double.PositiveInfinity),
      testFrac = rest.lift(7).map(_.toDouble).getOrElse(0.05),
      validFrac = rest.lift(8).map(_.toDouble).getOrElse(0.05))
    val disp = Engine.materialize(disposition(docs, cfg))
    Sinks.writeParquet(disp, dispOut)
    val kept = disp.filter(!col("status").isin(Stages: _*))
      .select(col(idCol).as("_disp_id"), col("status").as("split"))
    Sinks.writeParquet(
      docs.join(kept, col(idCol) === col("_disp_id")).drop("_disp_id"),
      curatedOut)
  }
  def main(args: Array[String]): Unit =
    Jobs.withSession("graft-curation")(run(_, args))
}
