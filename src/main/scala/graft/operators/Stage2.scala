package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.lid.LidModels
import graft.model._

/** Stage 2 — the per-row decision cascade fused with the graft keep/drop
  * gate (= `decide_lg`, lib/impresso_ensemble_lid.py:564-808; SURVEY.md
  * §2.9; rules quoted per step below).
  *
  * Plan shape (scale notes): the per-source stats table is one row per
  * source (~20 at test scale, ~10^4 at worst in production), so the J1
  * join is a driver-collected `Broadcast[Map]` resolved inside one typed
  * map — the data path has ZERO shuffles and stays in a single
  * whole-stage-codegen'd stage. At 10^12 rows this is the only sane plan:
  * the alternative (shuffle join on `source`) would move the full corpus.
  */
object Stage2 {

  final case class Params(
      thresholdConfidenceOrigLg: Double = Thresholds.ThresholdConfidenceOrigLg,
      minimalTextLength: Int = Thresholds.Stage2MinimalTextLength,
      minProb: Double = Thresholds.MinimalLidProbabilityStage2,
      minVotingScore: Double = Thresholds.MinimalVotingScore,
      alphaThreshold: Double = Thresholds.AlphabeticalRatioThresholdStage2,
      dominantThreshold: Double = Thresholds.DominantLanguageThreshold,
      weightLb: Double = Thresholds.WeightLbImpressoFt,
      pplKeepMax: Double = Thresholds.PplKeepMax,
      audioRmsMin: Double = Thresholds.AudioRmsMin,
      admissible: Set[String] = Thresholds.AdmissibleLanguages,
      /** Sources whose `lb` predictions are vetoed in voting (F7,
        * `--exclude-lb` EL:969-978). */
      excludeLb: Set[String] = Set.empty)

  /** Empty stats for sources unseen by stage 1b (cold start). */
  def emptyStats(source: String): SourceStats = SourceStats(
    source, LidModels.Names, Thresholds.BoostedLids.toSeq.sorted,
    Thresholds.BoostFactor, null, null, 0.0, None, 0L,
    Map.empty, Map.empty, Map.empty, Map.empty, Map.empty, 0L,
    Thresholds.FixedTs)

  /** The cascade — pure, unit-testable without Spark. */
  def decide(r: Stage1Row, stats: SourceStats, p: Params): DecisionRow = {

    // ---- step 1: undecodable passthrough (img analog, EL:603-604 —
    // runs BEFORE rule 1, so orig_lg passes through ungated)
    if (!r.audio_ok) {
      return finish(r, stats, p, lg = null, decision = "undecodable",
        votes = Array.empty, outOrig = r.orig_lg)
    }

    val tops = Votes.top1s(Stage1b.systemsOf(r))

    // ---- step 2: orig_lg gating (EL:606-655): trust iff
    // overall_orig_lg_support > threshold. In the REFERENCE the trusted
    // pseudo-prediction is written into the item's orig_lg attr but can
    // never reach rules 2a/2b or voting — get_best_lid and get_votes
    // both iterate self.lids, from which "orig_lg" is stripped at
    // construction (EL:116, 340, 379) and never re-added. Its only
    // observable effect is the OUTPUT orig_lg field: null when
    // untrusted, the original value when trusted (we keep the string
    // form where the reference writes a 1-element array). The r1-r3a
    // cascade here fed the pseudo-prediction into 2a/2b, which flipped
    // decisions for trusted sources — fixed to reference semantics.
    val origTrusted = r.orig_lg != null &&
      stats.overall_orig_lg_support.exists(_ > p.thresholdConfidenceOrigLg)
    val outOrig = if (origTrusted) r.orig_lg else null

    val allLangs = tops.map(_.lang).distinct.sorted

    // ---- step 3: rule 2a "all" (EL:657-682): all present top-1
    // SYSTEM predictions (orig_lg is not a system) name one language
    if (allLangs.size == 1) {
      return finish(r, stats, p, allLangs.head, "all", Array.empty,
        outOrig)
    }

    // ---- step 4: rule 2b "all-but-impresso_ft" (EL:684-742)
    val butFt = tops.filterNot(_.lid == "impresso_ft")
      .map(_.lang).distinct
    if (butFt.size == 1) {
      val l = butFt.head
      val inEnsembleDist = stats.lid_distributions
        .getOrElse("ensemble", Map.empty).contains(l)
      val lenRatioOk = r.alphabetical_ratio.exists(a =>
        r.len * a >= p.minimalTextLength) // null-safe (quirk Q2)
      if (!Set("de", "fr", "en", "it").contains(l) && inEnsembleDist && lenRatioOk)
        return finish(r, stats, p, l, "all-but-impresso_ft", Array.empty,
          outOrig)
    }

    // ---- step 5: rule 2c "dominant-by-len" (EL:744-758): the
    // reference guards with `if text_len and ...` — len == 0 is FALSY,
    // so zero-length items skip 2c and fall through to voting (ending
    // as dominant-by-lowvote with empty votes)
    if (r.len > 0 && r.len < p.minimalTextLength) {
      return finish(r, stats, p, stats.dominant_language, "dominant-by-len",
        Array.empty, outOrig)
    }

    // ---- step 6: weighted voting (EL:346-551; quirk Q4: orig not a voter)
    val votes = Votes.stage2Votes(tops, r.alphabetical_ratio, stats,
      p.minProb, p.alphaThreshold, p.dominantThreshold, p.weightLb,
      vetoLb = p.excludeLb.contains(r.source)).toArray

    // ---- step 7: low-vote fallbacks (EL:773-796)
    if (votes.isEmpty || votes.head.vote < p.minVotingScore) {
      return finish(r, stats, p, stats.dominant_language,
        "dominant-by-lowvote", votes, outOrig)
    }

    // ---- step 8: "voting" (EL:798-808); tie-break already deterministic
    // (score desc, lang asc) per the FIXTURES.md contract
    finish(r, stats, p, votes.head.lang, "voting", votes, outOrig)
  }

  /** Keep/drop fusion — gates in priority order; first failing gate is
    * the drop reason (BASELINE.json.north_star). `outOrig` is the
    * rule-1-gated orig_lg (null when untrusted — EL:639). */
  private def finish(r: Stage1Row, stats: SourceStats, p: Params,
      lg: String, decision: String, votes: Array[LangVote],
      outOrig: String): DecisionRow = {
    val dropReason: String =
      if (!r.audio_ok) "undecodable_audio"
      else if (r.audio_rms < p.audioRmsMin) "silent_audio"
      else if (r.skip_reason != null) r.skip_reason // F2 taxonomy from stage 1
      else if (r.len == 0) "no_text" // fallbacks for rows built off-pipeline
      else if (r.alphabetical_ratio.isEmpty) "short_text"
      else if (r.alphabetical_ratio.exists(_ < p.alphaThreshold)) "low_alpha"
      else if (r.ppl.exists(_ > p.pplKeepMax)) "high_ppl"
      else if (lg == null) "no_lang"
      else if (!p.admissible.contains(lg)) "inadmissible_lang"
      else null
    DecisionRow(
      clip_id = r.clip_id, source = r.source, year = r.year, len = r.len,
      orig_lg = outOrig, alphabetical_ratio = r.alphabetical_ratio,
      lg = lg, lg_decision = decision, votes = votes, ppl = r.ppl,
      keep = dropReason == null, drop_reason = dropReason,
      transcript = r.transcript, ts = Thresholds.FixedTs)
  }

  def apply(spark: SparkSession, s1: Dataset[Stage1Row],
      stats: Seq[SourceStats], p: Params = Params()): Dataset[DecisionRow] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(stats.map(s => s.source -> s).toMap)
    s1.map { r =>
      val st = bc.value.getOrElse(r.source, emptyStats(r.source))
      decide(r, st, p)
    }
  }
}
