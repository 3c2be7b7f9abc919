package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.lid.LidModels
import graft.operators._
import graft.operators.Votes.Top1
import graft.model._

/** Table-driven tests of the vote + decision rules (SURVEY.md §2.5 A5/A6,
  * §2.9 steps 1-8, quirks Q1-Q4) at their boundary values. */
class VotesSpec extends AnyFunSuite {

  private def tops(ls: (String, String, Double)*) =
    ls.map { case (lid, l, p) => Top1(lid, l, p) }

  test("stage1b: prob below 0.25 does not vote (NS:678-687)") {
    val r = Votes.stage1bEnsemble(
      tops(("impresso_ft", "de", 0.24), ("wp_ft", "fr", 0.9),
        ("langid_nb", "fr", 0.9)), origLg = null)
    assert(r.contains("fr"))
    // exactly at the threshold DOES vote (>=)
    val r2 = Votes.stage1bEnsemble(
      tops(("impresso_ft", "de", 0.25)), origLg = "de")
    assert(r2.contains("de")) // 1.5 (boosted, 2 voters) + 1.5 orig-boost
  }

  test("stage1b: boost applies ONLY when >= 2 systems voted (NS:437-438)") {
    // impresso_ft alone on "de": no boost => score 1.0 < 1.5 => dropped
    val alone = Votes.stage1bEnsemble(
      tops(("impresso_ft", "de", 0.9)), origLg = null)
    assert(alone.isEmpty)
    // two voters incl. boosted => 1.5 + 1 = 2.5 >= 1.5
    val two = Votes.stage1bEnsemble(
      tops(("impresso_ft", "de", 0.9), ("wp_ft", "de", 0.9)), origLg = null)
    assert(two.contains("de"))
  }

  test("stage1b: exact tie between top two kills the decision (NS:509-511)") {
    // de: impresso_ft(boosted 1.5) + wp_ft(1) = 2.5
    // fr: lingua_rank(1) + orig_lg(boosted 1.5)  = 2.5  -> tie -> None
    val r = Votes.stage1bEnsemble(
      tops(("impresso_ft", "de", 0.9), ("wp_ft", "de", 0.9),
        ("lingua_rank", "fr", 0.9)), origLg = "fr")
    assert(r.isEmpty)
  }

  test("stage1b: minimal vote score drops weak langs (NS:688-696)") {
    val r = Votes.stage1bEnsemble(
      tops(("wp_ft", "de", 0.9), ("langid_nb", "fr", 0.9)), origLg = null)
    assert(r.isEmpty) // each lang scores 1.0 < 1.5
  }

  test("stage1b: admissible-language gate (NS:417-420)") {
    val r = Votes.stage1bEnsemble(
      tops(("wp_ft", "xx", 0.9), ("langid_nb", "xx", 0.9),
        ("impresso_ft", "de", 0.9), ("lingua_rank", "de", 0.9)),
      origLg = null, admissible = Set("de", "fr"))
    assert(r.contains("de"))
  }

  private def stats(
      support: Map[String, Map[String, Double]] = Map(
        "impresso_ft" -> Map("de" -> 0.9, "fr" -> 0.9, "lb" -> 0.9),
        "wp_ft" -> Map("de" -> 0.9, "fr" -> 0.9),
        "langid_nb" -> Map("de" -> 0.9, "fr" -> 0.9),
        "lingua_rank" -> Map("de" -> 0.9, "fr" -> 0.9)),
      dominant: String = "de",
      ratio: Double = 0.7) = SourceStats(
    "s", LidModels.Names, Seq("impresso_ft", "orig_lg"), 1.5, null,
    dominant, ratio, Some(0.9), 100L,
    Map("ensemble" -> Map("de" -> 0.7, "fr" -> 0.2, "lb" -> 0.1)),
    Map.empty, support, Map.empty, Map.empty, 80L, "ts")

  test("stage2 votes: zero lg_support kills the vote (EL:416-417, 496-503)") {
    val v = Votes.stage2Votes(
      tops(("impresso_ft", "it", 0.99)), Some(0.8), stats())
    assert(v.isEmpty) // 'it' has no support entry
  }

  test("stage2 votes: vote = prob * support (EL:429)") {
    val v = Votes.stage2Votes(
      tops(("impresso_ft", "de", 0.8)), Some(0.8), stats())
    assert(math.abs(v.head.vote - 0.8 * 0.9) < 1e-9)
  }

  test("stage2 votes: prob gate is 0.5 (EL:882-891)") {
    val v = Votes.stage2Votes(
      tops(("impresso_ft", "de", 0.49)), Some(0.8), stats())
    assert(v.isEmpty)
  }

  test("stage2 votes: alpha below 0.5 => {dominant: 1} (EL:360-372)") {
    val v = Votes.stage2Votes(
      tops(("impresso_ft", "fr", 0.99)), Some(0.49), stats())
    assert(v.toSeq == Seq(LangVote("de", 1.0)))
    // an ABSENT ratio defaults to 1.0 in the reference (EL:361-364):
    // the degenerate branch does NOT fire — a stage-1-skipped row takes
    // the normal path and, with no predictions, ends with empty votes
    val v2 = Votes.stage2Votes(tops(), None, stats())
    assert(v2.isEmpty)
    // and with predictions present the normal loop runs
    val v3 = Votes.stage2Votes(
      tops(("impresso_ft", "fr", 0.99)), None, stats())
    assert(v3.nonEmpty && v3.head.lang == "fr")
  }

  test("stage2 votes: lb boost x3 for impresso_ft (EL:473-485)") {
    val v = Votes.stage2Votes(
      tops(("impresso_ft", "lb", 0.6)), Some(0.8), stats())
    assert(math.abs(v.head.vote - 0.6 * 0.9 * 3.0) < 1e-9)
  }

  test("stage2 votes: per-source lb veto skips any system's lb (F7, EL:401-412)") {
    // vetoed: impresso_ft's lb prediction never votes (even with support
    // present and the x3 lb boost it would otherwise get)
    val v = Votes.stage2Votes(
      tops(("impresso_ft", "lb", 0.9)), Some(0.8), stats(), vetoLb = true)
    assert(v.isEmpty)
    // other languages unaffected under the veto
    val v2 = Votes.stage2Votes(
      tops(("impresso_ft", "lb", 0.9), ("wp_ft", "de", 0.8)), Some(0.8),
      stats(), vetoLb = true)
    assert(v2.map(_.lang) == Seq("de"))
    // degenerate low-alpha branch is NOT vetoed (check lives in the
    // prediction loop only): dominant 'lb' still returned
    val v3 = Votes.stage2Votes(
      tops(("impresso_ft", "de", 0.9)), Some(0.3), stats(dominant = "lb"),
      vetoLb = true)
    assert(v3.toSeq == Seq(LangVote("lb", 1.0)))
  }

  test("stage2 votes: dominance penalty live once ratio emitted (quirk Q1)") {
    // ratio 0.95 >= 0.90 threshold: non-dominant vote scaled by
    // 1 - (0.95-0.9)/0.1 = 0.5
    val v = Votes.stage2Votes(
      tops(("wp_ft", "fr", 0.8)), Some(0.8), stats(ratio = 0.95))
    assert(math.abs(v.head.vote - 0.8 * 0.9 * 0.5) < 1e-9)
    // dominant lang unpenalized
    val vd = Votes.stage2Votes(
      tops(("wp_ft", "de", 0.8)), Some(0.8), stats(ratio = 0.95))
    assert(math.abs(vd.head.vote - 0.8 * 0.9) < 1e-9)
    // below threshold: no penalty (reference default behavior)
    val v0 = Votes.stage2Votes(
      tops(("wp_ft", "fr", 0.8)), Some(0.8), stats(ratio = 0.89))
    assert(math.abs(v0.head.vote - 0.8 * 0.9) < 1e-9)
  }
}

class CascadeSpec extends AnyFunSuite {
  import VotesFixtures._

  test("rule order: img-analog passthrough first (EL:603-604)") {
    val r = Stage2.decide(row(audioOk = false), st(), p)
    assert(r.lg == null && r.lg_decision == "undecodable" && !r.keep)
    assert(r.drop_reason == "undecodable_audio")
  }

  test("rule 2a 'all': unanimity incl. trusted orig pseudo (EL:657-682)") {
    val r = Stage2.decide(row(preds = all("de"), orig = "de"), st(), p)
    assert(r.lg == "de" && r.lg_decision == "all" && r.keep)
  }

  test("orig gating: pseudo-prediction never reaches 2a/2b; output gated (EL:116,639)") {
    val r = Stage2.decide(row(preds = all("de"), orig = "fr"),
      st(origSupport = Some(0.5)), p)
    assert(r.lg == "de" && r.lg_decision == "all")
    assert(r.orig_lg == null) // untrusted → output orig nulled (EL:639)
    // trusted wrong orig does NOT break unanimity — "orig_lg" is
    // stripped from self.lids at construction (EL:116), so get_best_lid
    // can never see the pseudo-prediction; its only effect is the
    // output orig_lg field surviving
    val r2 = Stage2.decide(row(preds = all("de"), orig = "fr"),
      st(origSupport = Some(0.9)), p)
    assert(r2.lg == "de" && r2.lg_decision == "all")
    assert(r2.orig_lg == "fr") // trusted → carried through
  }

  test("rule 2c: len == 0 is FALSY and skips to dominant-by-lowvote (EL:745)") {
    // no_text row (stage-1 skipped, no predictions, no ratio): the
    // reference's `if text_len and text_len < minimal` guard skips 2c,
    // voting sees ratio-default 1.0 and zero voters → empty votes
    val r = Stage2.decide(row(preds = Map.empty, len = 0, ratio = None), st(), p)
    assert(r.lg_decision == "dominant-by-lowvote", r.lg_decision)
    assert(r.votes.isEmpty && r.lg == "de")
    // 0 < len < 20 still takes 2c
    val r2 = Stage2.decide(row(preds = Map.empty, len = 5, ratio = None), st(), p)
    assert(r2.lg_decision == "dominant-by-len")
  }

  test("orig trust threshold is strict > 0.75 (EL:853-858)") {
    val r = Stage2.decide(row(preds = all("de"), orig = "fr"),
      st(origSupport = Some(0.75)), p)
    assert(r.lg_decision == "all") // 0.75 is NOT trusted
  }

  test("rule 2b: all-but-impresso_ft, lb only, in ensemble dist, len*ratio gate (EL:684-742)") {
    val preds = Map("impresso_ft" -> "de", "wp_ft" -> "lb",
      "langid_nb" -> "lb", "lingua_rank" -> "lb")
    val r = Stage2.decide(row(preds = preds), st(), p)
    assert(r.lg == "lb" && r.lg_decision == "all-but-impresso_ft")
    // same shape but agreeing on 'fr' (in the excluded {de,fr,en,it} set):
    // falls through to voting
    val predsFr = Map("impresso_ft" -> "de", "wp_ft" -> "fr",
      "langid_nb" -> "fr", "lingua_rank" -> "fr")
    val r2 = Stage2.decide(row(preds = predsFr), st(), p)
    assert(r2.lg_decision == "voting")
    // lb but too short for 2b (len * ratio < 20): falls through
    val r3 = Stage2.decide(row(preds = preds, len = 24, ratio = Some(0.5)),
      st(), p)
    assert(r3.lg_decision != "all-but-impresso_ft")
  }

  test("rule 2c: len < 20 => dominant-by-len (EL:744-758)") {
    val r = Stage2.decide(
      row(preds = Map("impresso_ft" -> "de", "wp_ft" -> "fr"), len = 19),
      st(), p)
    assert(r.lg == "de" && r.lg_decision == "dominant-by-len")
  }

  test("low-vote fallback: best vote < 0.5 => dominant-by-lowvote (EL:783-796)") {
    // fr vote = 0.6 prob * 0.6 support = 0.36 < 0.5
    val r = Stage2.decide(
      row(preds = Map("impresso_ft" -> "fr", "wp_ft" -> "de"),
        probs = Map("impresso_ft" -> 0.6, "wp_ft" -> 0.4)),
      st(support = Map("impresso_ft" -> Map("fr" -> 0.6))), p)
    assert(r.lg == "de" && r.lg_decision == "dominant-by-lowvote")
  }

  test("voting: argmax with deterministic tie-break (score desc, lang asc)") {
    val r = Stage2.decide(
      row(preds = Map("impresso_ft" -> "fr", "wp_ft" -> "de",
        "langid_nb" -> "de", "lingua_rank" -> "fr")),
      st(), p)
    // fr: .9*.9*2 = 1.62 == de: 1.62 -> tie -> lexicographically 'de'
    assert(r.lg == "de" && r.lg_decision == "voting")
  }

  test("quirk Q4: orig_lg is not a stage-2 voter") {
    // orig 'fr' trusted; detectors split de/de/fr/fr; if orig voted, fr
    // would win — with Q4 preserved the tie-break gives 'de'
    val r = Stage2.decide(
      row(preds = Map("impresso_ft" -> "fr", "wp_ft" -> "de",
        "langid_nb" -> "de", "lingua_rank" -> "fr"), orig = "fr"),
      st(origSupport = Some(0.9)), p)
    assert(r.lg == "de")
  }

  test("F7: excluded source's lb votes are vetoed in the cascade") {
    // lb/lb/de/de split: rules 2a/2b don't fire; without the veto lb wins
    // the vote (0.9*0.9*3 + 0.81 = 3.24 vs de 1.62)
    val preds = Map("impresso_ft" -> "lb", "wp_ft" -> "lb",
      "langid_nb" -> "de", "lingua_rank" -> "de")
    val r = Stage2.decide(row(preds = preds), st(), p)
    assert(r.lg == "lb" && r.lg_decision == "voting")
    // same row, source excluded: lb vetoed, de wins on its own votes
    val r2 = Stage2.decide(row(preds = preds), st(),
      p.copy(excludeLb = Set("src99")))
    assert(r2.lg == "de" && r2.lg_decision == "voting")
    // a different excluded source leaves this row untouched
    val r3 = Stage2.decide(row(preds = preds), st(),
      p.copy(excludeLb = Set("src00")))
    assert(r3.lg == "lb")
  }

  test("keep gates: ppl ceiling and admissible language") {
    val r = Stage2.decide(row(preds = all("de"), ppl = Some(25.0)), st(), p)
    assert(!r.keep && r.drop_reason == "high_ppl")
    val r2 = Stage2.decide(row(preds = all("xx")),
      st(support = Map("impresso_ft" -> Map("xx" -> 0.9))), p)
    assert(!r2.keep && r2.drop_reason == "inadmissible_lang")
  }
}

object VotesFixtures {
  val p = Stage2.Params()

  def all(l: String): Map[String, String] = Map("impresso_ft" -> l,
    "wp_ft" -> l, "langid_nb" -> l, "langdetect_nb" -> l,
    "lingua_rank" -> l, "impresso_lp" -> l)

  def row(preds: Map[String, String] = Map.empty,
      probs: Map[String, Double] = Map.empty,
      orig: String = null, len: Int = 200,
      ratio: Option[Double] = Some(0.8),
      ppl: Option[Double] = Some(6.0),
      audioOk: Boolean = true): Stage1Row = {
    def arr(lid: String): Array[LangProb] =
      preds.get(lid).map(l =>
        Array(LangProb(l, probs.getOrElse(lid, 0.9)))).orNull
    Stage1Row("src99-1900-01-01-a-i0001", "src99", "1900", len, orig,
      ratio, arr("impresso_ft"), arr("wp_ft"), arr("langid_nb"),
      arr("langdetect_nb"), arr("lingua_rank"), arr("impresso_lp"),
      ppl, audioOk,
      if (audioOk) 5000.0 else 0.0, 800, "text " * 40, "ts", "v")
  }

  def st(dominant: String = "de",
      ratio: Double = 0.7,
      origSupport: Option[Double] = Some(0.9),
      support: Map[String, Map[String, Double]] = Map(
        "impresso_ft" -> Map("de" -> 0.9, "fr" -> 0.9, "lb" -> 0.9),
        "wp_ft" -> Map("de" -> 0.9, "fr" -> 0.9, "lb" -> 0.9),
        "langid_nb" -> Map("de" -> 0.9, "fr" -> 0.9, "lb" -> 0.9),
        "lingua_rank" -> Map("de" -> 0.9, "fr" -> 0.9, "lb" -> 0.9))): SourceStats =
    SourceStats("src99", LidModels.Names, Seq("impresso_ft", "orig_lg"),
      1.5, null, dominant, ratio, origSupport, 100L,
      Map("ensemble" -> Map("de" -> 0.6, "fr" -> 0.3, "lb" -> 0.1)),
      Map.empty, support, Map.empty, Map.empty, 80L, "ts")
}

/** The synthetic-corpus oracle harness must stay MEANINGFUL: if a recipe
  * change quietly collapses the corpus onto a few decision paths, the
  * engine-independent pin in `cascade_decide`/`stage1b_stats` stops
  * guarding anything. These tests assert path coverage and that the pin
  * is SENSITIVE — flipping one threshold changes decisions. */
class SynthCascadeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private lazy val rows = (0L until 500L).map(SynthCascade.row)

  private def decide(p: Stage2.Params) = {
    val bySrc = SynthCascade.stats.map(s => s.source -> s).toMap
    rows.map(r => r.clip_id ->
      Stage2.decide(r, bySrc(r.source), p)).toMap
  }

  test("synthetic corpus exercises every decision code and drop reason") {
    val d = decide(SynthCascade.params).values.toSeq
    val codes = d.map(_.lg_decision).toSet
    assert(codes == Set("all", "all-but-impresso_ft", "dominant-by-len",
      "dominant-by-lowvote", "voting", "undecodable"),
      s"decision codes degenerated to $codes")
    val reasons = d.flatMap(x => Option(x.drop_reason)).toSet
    assert(Set("undecodable_audio", "silent_audio", "low_alpha", "no_text",
      "short_text", "high_ppl", "no_lang", "inadmissible_lang")
      .subsetOf(reasons), s"drop reasons degenerated to $reasons")
    assert(d.count(_.keep) > 50, "keep path must stay populated")
    // the skip_reason pass-through gate (id % 13 with ratio >= 0.5) is
    // distinct from the ratio<0.5 low_alpha gate
    val skipGate = decide(SynthCascade.params).collect {
      case (cid, x) if {
        val r = SynthCascade.row(cid.stripPrefix("d").toLong)
        cid.stripPrefix("d").toLong % 13 == 0 &&
          r.alphabetical_ratio.exists(_ >= 0.5) &&
          r.audio_ok && r.audio_rms >= 10.0 // audio gates fire first
      } => x.drop_reason
    }
    assert(skipGate.nonEmpty && skipGate.forall(_ == "low_alpha"))
  }

  test("the pin is sensitive: each threshold flip changes decisions") {
    val base = decide(SynthCascade.params)
    // compare exactly the surface the oracle pins: lg, decision, keep,
    // orig_lg, and the votes head (weightLb can reorder small votes
    // without flipping the winner — top_lang/top_vote still change)
    def changed(p: Stage2.Params): Int =
      decide(p).count { case (k, v) =>
        val b = base(k)
        v.lg != b.lg || v.lg_decision != b.lg_decision ||
          v.keep != b.keep || v.orig_lg != b.orig_lg ||
          v.votes.headOption != b.votes.headOption ||
          v.votes.length != b.votes.length
      }
    assert(changed(SynthCascade.params.copy(minVotingScore = 2.0)) > 0)
    assert(changed(SynthCascade.params.copy(minProb = 0.7)) > 0)
    assert(changed(SynthCascade.params.copy(minimalTextLength = 40)) > 0)
    assert(changed(SynthCascade.params.copy(alphaThreshold = 0.4)) > 0)
    assert(changed(SynthCascade.params.copy(
      thresholdConfidenceOrigLg = 0.77)) > 0) // kills s3's 0.76 trust
    assert(changed(SynthCascade.params.copy(weightLb = 1.0)) > 0)
    assert(changed(SynthCascade.params.copy(excludeLb = Set.empty)) > 0)
    assert(changed(SynthCascade.params.copy(dominantThreshold = 0.99)) > 0)
  }

  test("stage1b over the synthetic corpus: boost-iff->=2 and " +
      "denominator-n quirk are load-bearing") {
    import spark.implicits._
    val ds = spark.createDataset(rows)
    val stats = Stage1b(spark, ds).collect().map(s => s.source -> s).toMap
    assert(stats.keySet == Set("s0", "s1", "s2", "s3"))
    // every source has ensemble decisions AND at least one valid row
    stats.values.foreach { s =>
      assert(s.n > 0 && s.lid_absolute_counts.contains("ensemble"), s.source)
      // denominator quirk: dist sums over a lid can exceed... no — each
      // lid's dist sums to cnt_lid/n <= 1, == 1 only when the lid
      // predicted on every valid row
      val distSum = s.lid_distributions("ensemble").values.sum
      val cntSum = s.lid_absolute_counts("ensemble").values.sum
      assert(math.abs(distSum - cntSum.toDouble / s.n) < 1e-6)
    }
    // voting-knob sensitivity: a boost large enough to cross plain
    // 3-voter scores, and a minProb raise that drops voters, must both
    // move the ensemble counts (boost 1.5->1.0 happens not to flip any
    // winner on this corpus — 2.5 vs 2.0 never crosses a 3.0)
    def ensCounts(p: Stage1b.Params) =
      Stage1b(spark, ds, p).collect()
        .map(s => s.source ->
          s.lid_absolute_counts.getOrElse("ensemble", Map.empty)).toMap
    val baseEns = ensCounts(Stage1b.Params())
    assert(baseEns != ensCounts(Stage1b.Params(boostFactor = 3.0)),
      "boostFactor=3.0 should change some ensemble outcome")
    assert(baseEns != ensCounts(Stage1b.Params(minProb = 0.6)),
      "minProb=0.6 should change some ensemble outcome")
  }
}
