package graft.operators

import graft.lid.LidModels
import graft.model.{LangProb, SourceStats, Stage1Row, StatsVersion}

/** SQL-reproducible synthetic inputs for the §2.9 decision cascade and
  * the stage-1b aggregate bundle — the "sampler trick": every field is
  * integer arithmetic mod small primes over `doc_id`, so an independent
  * engine (the DuckDB oracle) regenerates the EXACT same rows and the
  * cascade / aggregate semantics get pinned value-for-value against a
  * from-scratch SQL reimplementation of the reference rules
  * (lib/impresso_ensemble_lid.py:564-808, lib/newspaper_statistics.py:
  * 388-599). Until round 5 these two operators were only unit-tested:
  * `pipeline_decisions` rides the trained detectors (not SQL), but the
  * rule arithmetic itself never needed them — only top-1 (lang, prob)
  * pairs, which this generator supplies.
  *
  * Numeric-compat contract with the oracle: probs have 2 decimals,
  * supports 1 decimal, so every vote product is a 3-decimal value whose
  * nearest half-up boundary at scale 3 is ≥ 1e-4 away; the only non-1.0
  * dominance penalty is s0's `1 - (0.98-0.90)/0.1` (≈0.2), computed with
  * the same IEEE ops on both sides, which keeps 4th decimals EVEN —
  * never on a rounding boundary. Sums fold in system order on both
  * sides (`list_reduce` over `ORDER BY j` mirrors the Scala
  * accumulation), so ordering ties break identically.
  */
object SynthCascade {

  val Langs: IndexedSeq[String] = Vector("de", "en", "fr", "it", "lb", "pt")

  // per-system constants, index order = LidModels.Names
  private val Pj = Array(1L, 3L, 5L, 7L, 9L, 11L) // presence
  private val Lj = Array(5L, 11L, 17L, 23L, 31L, 41L) // language
  private val Kj = Array(7L, 13L, 19L, 29L, 43L, 53L) // probability

  /** One synthetic prediction: present iff (id·Pj) mod 23 ≥ 2 (so id ≡ 0
    * (mod 23) kills ALL systems → empty-voting path), lang from a
    * per-system stride with two forced sub-populations (id ≡ 7 (mod 10):
    * all systems agree → rule 2a "all"; id ≡ 3 (mod 10): all but
    * impresso_ft agree → rule 2b), prob ∈ [0.15, 0.99] in cents (so both
    * the stage-1b 0.25 gate and the stage-2 0.5 gate bite). */
  private def pred(id: Long, j: Int): Array[LangProb] = {
    if ((id * Pj(j)) % 23 < 2) return null
    val langIdx =
      if (id % 10 == 7) (id / 10) % 6
      else if (id % 10 == 3 && j == 0) (id / 10 + 1) % 6
      else if (id % 10 == 3) (id / 10) % 6
      else (id * Lj(j) + j) % 6
    val prob = (15 + ((id * Kj(j) + 3 * j) % 85)) / 100.0
    Array(LangProb(Langs(langIdx.toInt), prob))
  }

  /** The full synthetic Stage1Row for a doc_id. Field recipes are part
    * of the oracle contract — change one and `cascade_decide` /
    * `stage1b_stats` go red. */
  def row(id: Long): Stage1Row = Stage1Row(
    clip_id = "d" + id,
    source = "s" + (id % 4),
    year = "2020",
    len = ((id * 37 + 11) % 421).toInt,
    orig_lg = if (id % 3 == 0) Langs(((id / 3 * 7) % 6).toInt) else null,
    alphabetical_ratio =
      if (id % 17 == 0) None else Some(((id * 13 + 5) % 101) / 100.0),
    impresso_ft = pred(id, 0), wp_ft = pred(id, 1),
    langid_nb = pred(id, 2), langdetect_nb = pred(id, 3),
    lingua_rank = pred(id, 4), impresso_lp = pred(id, 5),
    ppl = if (id % 19 == 0) None else Some(((id * 23 + 1) % 300) / 10.0),
    audio_ok = id % 31 != 0,
    audio_rms = ((id * 29 + 3) % 40) * 2.5,
    n_samples = 0,
    transcript = null,
    ts = Thresholds.FixedTs,
    stage1_version = Thresholds.Stage1Version,
    skip_reason = if (id % 13 == 0) "low_alpha" else null)

  /** lang → lg_support, 1 decimal each (see the numeric contract).
    * lb's 0.8 is deliberately high: with the ×3 impresso_ft weight it
    * can WIN the vote (0.8·0.2·3 = 0.48·prob on s0 beats the penalized
    * 0.14·prob of en), so `weightLb` is load-bearing for the oracle's
    * top_lang/top_vote pin — at the old 0.2 the lb vote could never
    * reach the head and a weightLb regression was invisible. */
  private val SupportByLang = Map(
    "de" -> 0.9, "en" -> 0.7, "fr" -> 0.5,
    "it" -> 0.3, "lb" -> 0.8, "pt" -> 0.4)

  private def supportMap(zeroAll: Boolean): Map[String, Map[String, Double]] =
    LidModels.Names.map { lid =>
      lid -> SupportByLang.map { case (lang, s) =>
        // the zero-support vote kill (EL:416-417): langid_nb never
        // supports "it" — votes for it through langid_nb vanish
        lang -> (if (zeroAll || (lid == "langid_nb" && lang == "it")) 0.0
                 else s)
      }
    }.toMap

  private def ensDist(langs: Seq[String]): Map[String, Map[String, Double]] =
    Map("ensemble" -> langs.map(_ -> 0.1).toMap) // membership-only for 2b

  private def base(source: String): SourceStats = SourceStats(
    source, LidModels.Names, Thresholds.BoostedLids.toSeq.sorted,
    Thresholds.BoostFactor, null, null, 0.0, None, 100L,
    Map.empty, Map.empty, Map.empty, Map.empty, Map.empty, 0L,
    Thresholds.FixedTs)

  /** Four fixed per-source stats rows, each pinning a different corner:
    *  - s0: trusted orig (0.8 > 0.75), dominant de at ratio 0.98 → the
    *    LIVE dominance penalty (×(1-(0.98-0.9)/0.1)), all langs
    *    admissible, ensemble dist has lb+pt (2b can fire);
    *  - s1: UNtrusted orig (0.6), admissible excludes lb/pt (vote-kill),
    *    ensemble dist excludes lb/pt (2b can never fire), no penalty;
    *  - s2: cold-start shape — no orig support (None), NO dominant
    *    language, zero lg_support everywhere → every voting row falls
    *    to dominant-by-lowvote with lg = null;
    *  - s3: trust EXACTLY above threshold (0.76 > 0.75 pins the strict
    *    >), ratio EXACTLY 0.90 pins the ≥ penalty trigger at factor 1.0,
    *    and the per-source lb veto (F7 --exclude-lb) is on. */
  def stats: Seq[SourceStats] = Seq(
    base("s0").copy(dominant_language = "de", dominant_language_ratio = 0.98,
      overall_orig_lg_support = Some(0.8), lg_support = supportMap(false),
      lid_distributions = ensDist(Langs)),
    base("s1").copy(dominant_language = "fr", dominant_language_ratio = 0.5,
      overall_orig_lg_support = Some(0.6),
      admissible_languages = Seq("de", "en", "fr", "it"),
      lg_support = supportMap(false),
      lid_distributions = ensDist(Seq("de", "en", "fr", "it"))),
    base("s2").copy(lg_support = supportMap(true),
      lid_distributions = ensDist(Langs)),
    base("s3").copy(dominant_language = "en", dominant_language_ratio = 0.90,
      overall_orig_lg_support = Some(0.76), lg_support = supportMap(false),
      lid_distributions = ensDist(Langs)))

  /** s3 carries the `--exclude-lb` veto (EL:969-978). */
  def params: Stage2.Params = Stage2.Params(excludeLb = Set("s3"))
}
