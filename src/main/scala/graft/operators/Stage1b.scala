package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.lid.{LidModels, TextStats}
import graft.model._

/** Stage 1b — per-source statistics (= `lib/newspaper_statistics.py`,
  * SURVEY.md §2.5 A1-A12, §3.2).
  *
  * Plan shape (scale notes): ONE job. Each input partition folds its
  * rows into per-source counter bundles (the A5/A6 ensemble vote and
  * top-1 extraction are row-local and happen inside the fold), and
  * `treeAggregate` merges the partials. Up to 5 input partitions they
  * go straight to the driver, with no exchange; beyond that it adds a
  * foldByKey level (fan-in ~√#partitions) inside the same job, which
  * shuffles at most (#partitions × #sources) counter bundles, never
  * data rows. The merged stats are tiny (one row per source), so
  * `apply` is eager and returns them as a local Dataset.
  *
  * The A4 relfreq denominator is `n` (valid-row count) for ALL systems,
  * not the per-LID total (NS:583-585) — honored in `finish` below.
  */
object Stage1b {

  final case class Params(
      minimalTextLength: Int = Thresholds.StatsMinimalTextLength,
      alphaMin: Double = Thresholds.StatsAlphabeticalRatioMin,
      boostFactor: Double = Thresholds.BoostFactor,
      boostedLids: Set[String] = Thresholds.BoostedLids,
      minProb: Double = Thresholds.MinimalLidProbabilityStage1b,
      minVoteScore: Double = Thresholds.MinimalVoteScore,
      admissible: Set[String] = null)

  /** (name, predictions) pairs of every LID system on a row, named by
    * [[LidModels.Names]] — the one place the row's prediction fields are
    * listed for voting/stats/diagnostics. */
  def systemsOf(r: Stage1Row): Seq[(String, Array[LangProb])] = LidModels.Names.zip(Seq(
    r.impresso_ft, r.wp_ft, r.langid_nb, r.langdetect_nb, r.lingua_rank, r.impresso_lp))

  // A4/A8 counter rows: the six systems, then the orig_lg and ensemble
  // pseudo-systems
  private val CountedLids: IndexedSeq[String] =
    (LidModels.Names :+ "orig_lg" :+ "ensemble").toVector
  private val OrigIdx = LidModels.Names.size
  private val EnsIdx = OrigIdx + 1

  private type Counts = scala.collection.mutable.HashMap[String, Long]

  private def bump(m: Counts, k: String, by: Long = 1L): Unit =
    m.update(k, m.getOrElse(k, 0L) + by)

  /** Mergeable per-source counter bundle; the per-system counts are kept
    * per `CountedLids` index, lang → count. */
  final class SrcAgg extends Serializable {
    var n = 0L // valid rows (A3)
    val typeDist = new Counts // over ALL rows (A1)
    val lidCnt = Array.fill(CountedLids.size)(new Counts) // absolute counts (A4)
    val lidSupp = Array.fill(CountedLids.size)(new Counts) // top1==ensemble counts (A8)
    var origTotal = 0L // A9/A10
    var origSupp = 0L
    val disagree = new Counts // "orig->ens" (A9)

    def merge(o: SrcAgg): this.type = {
      def m(a: Counts, b: Counts): Unit = b.foreach { case (k, v) => bump(a, k, v) }
      n += o.n
      m(typeDist, o.typeDist)
      CountedLids.indices.foreach { i =>
        m(lidCnt(i), o.lidCnt(i)); m(lidSupp(i), o.lidSupp(i))
      }
      origTotal += o.origTotal
      origSupp += o.origSupp
      m(disagree, o.disagree)
      this
    }
  }

  /** Fold one row into its source's accumulator. */
  private def accumulate(acc: SrcAgg, r: Stage1Row, p: Params): Unit = {
    // A1 — type distribution over ALL rows (img analog incl., NS:479)
    val tp =
      if (!r.audio_ok) "undecodable"
      else if (r.audio_rms == 0.0) "silent"
      else "clip"
    bump(acc.typeDist, tp)

    // F3 + F4 (NS:481-495)
    val valid = r.audio_ok && r.audio_rms > 0.0 &&
      r.alphabetical_ratio.exists(a =>
        a >= p.alphaMin && r.len * a >= p.minimalTextLength)
    if (!valid) return
    acc.n += 1

    val tops = Votes.top1s(systemsOf(r))
    val ens = Votes.stage1bEnsemble(tops, r.orig_lg, p.admissible,
      p.boostedLids, p.boostFactor, p.minProb, p.minVoteScore).orNull

    // A4/A8 per system + orig_lg + ensemble pseudo-systems
    def count(li: Int, lang: String): Unit = {
      bump(acc.lidCnt(li), lang)
      if (ens != null && ens == lang) bump(acc.lidSupp(li), lang)
    }
    tops.foreach(t => count(CountedLids.indexOf(t.lid), t.lang))
    if (r.orig_lg != null) count(OrigIdx, r.orig_lg)
    if (ens != null) count(EnsIdx, ens)

    // A9/A10 — orig_lg_total_decisions counts EVERY valid row carrying
    // orig_lg (NS:532-534), whether or not the ensemble decided; support
    // needs agreement, disagreement needs a non-null ensemble. The r2
    // gate on `ens != null` under-counted the A10 denominator, which
    // INFLATED overall_orig_lg_support and could flip a source across
    // the 0.75 trust threshold.
    if (r.orig_lg != null) {
      acc.origTotal += 1
      if (ens != null) {
        if (r.orig_lg == ens) acc.origSupp += 1
        else bump(acc.disagree, r.orig_lg + "->" + ens)
      }
    }
  }

  /** Assemble the public stats row from a merged counter bundle. */
  def finish(source: String, a: SrcAgg, p: Params): SourceStats = {
    def perLid[V](f: (Int, String, Long) => V) =
      CountedLids.indices.filter(a.lidCnt(_).nonEmpty).map { li =>
        CountedLids(li) -> a.lidCnt(li).map { case (lang, c) => lang -> f(li, lang, c) }.toMap
      }.toMap
    val absolute = perLid((_, _, c) => c)
    val dist = perLid((_, _, c) => TextStats.roundTo(c.toDouble / a.n, 9))
    val support = perLid((li, lang, c) =>
      TextStats.roundTo(a.lidSupp(li).getOrElse(lang, 0L).toDouble / c, 9))
    val ensDist = absolute.getOrElse("ensemble", Map.empty)
    // A12 — dominant, deterministic tie-break (cnt desc, lang asc)
    val dominant = ensDist.toSeq.sortBy { case (l, c) => (-c, l) }
      .headOption.map(_._1).orNull
    val domCnt = ensDist.values.maxOption.getOrElse(0L)
    SourceStats(
      source = source,
      lids = LidModels.Names,
      boosted_lids = p.boostedLids.toSeq.sorted,
      boost_factor = p.boostFactor,
      admissible_languages = Option(p.admissible).map(_.toSeq.sorted).orNull,
      dominant_language = dominant,
      dominant_language_ratio = if (a.n == 0) 0.0 else domCnt.toDouble / a.n,
      overall_orig_lg_support =
        if (a.origTotal == 0) None
        else Some(a.origSupp.toDouble / a.origTotal),
      n = a.n,
      lid_distributions = dist,
      lid_absolute_counts = absolute,
      lg_support = support,
      clip_type_distribution = a.typeDist.toMap,
      orig_lg_ensemble_disagreements = a.disagree.toMap,
      orig_lg_total_decisions = a.origTotal,
      ts = Thresholds.FixedTs)
  }

  def apply(spark: SparkSession, s1: Dataset[Stage1Row],
      p: Params = Params()): Dataset[SourceStats] = {
    import spark.implicits._
    val merged = s1.rdd.treeAggregate(
      new scala.collection.mutable.HashMap[String, SrcAgg])(
      (accs, r) => {
        accumulate(accs.getOrElseUpdate(r.source, new SrcAgg), r, p)
        accs
      },
      (a, b) => {
        b.foreach { case (src, agg) =>
          a.get(src) match {
            case Some(x) => x.merge(agg)
            case None => a.update(src, agg)
          }
        }
        a
      })
    spark.createDataset(merged.toSeq.map { case (src, agg) => finish(src, agg, p) })
  }
}
