package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.codec.Audio
import graft.lid.{LidModels, LidText, TextStats}
import graft.model._

/** Stage 1 — per-clip inference (= `lib/language_identification.py`,
  * SURVEY.md §3.1, plus the graft's codec-decode + perplexity).
  *
  * Plan shape (scale notes):
  *  - one narrow `mapPartitions` pipeline, ZERO shuffles;
  *  - models arrive via a `Broadcast` handle and are resolved once per
  *    partition (mirrors the reference's per-process model load,
  *    LI:285-351) — on a 1000-executor cluster each executor deserializes
  *    the bundle once, not once per task. One broadcast serves every call
  *    on a SparkContext;
  *  - each gated row is normalized once ([[LidText]]) and every detector
  *    and the char LM score that one normalization;
  *  - the validity gate is a conditional projection, NOT a filter:
  *    invalid rows pass through with base fields only (LI:630-662);
  *  - cheap text gates run BEFORE the expensive detectors so short/no-text
  *    rows never touch a model (filter-before-model, LI:630-662).
  */
object Stage1 {

  final case class Params(
      minimalTextLength: Int = Thresholds.MinimalTextLength,
      alphaThreshold: Double = Thresholds.AlphabeticalRatioThresholdStage1,
      roundNDigits: Int = Thresholds.RoundNDigits)

  /** Parse source/year from the clip id (P5: source = id[:-19],
    * year = id[-18:-14] — lib/impresso_lid_eval.py:81-84). Python slice
    * semantics for short/malformed ids: `id[:-19]` and `id[-18:-14]`
    * both yield "" when the id is too short — NOT the whole id / null —
    * so every malformed id lands in the single "" source bucket exactly
    * as the reference's stats would group it. */
  def parseSource(clipId: String): String =
    if (clipId == null) null
    else if (clipId.length < 19) ""
    else clipId.substring(0, clipId.length - 19)

  def parseYear(clipId: String): String =
    if (clipId == null) null
    else if (clipId.length < 18) ""
    else clipId.substring(clipId.length - 18, clipId.length - 14)

  /** Pure per-row function — unit-testable without Spark. */
  def processClip(clip: ClipRow, models: LidModels, p: Params): Stage1Row = {
    // ---- audio decode (mapPartitions codec stage; undecodable => img analog)
    val pcm = Audio.decode(clip.codec, clip.bytes)
    val audioOk = pcm != null && pcm.length > 0
    val rms = if (audioOk) Audio.rms(pcm) else 0.0

    // ---- text validity gate (F1, LI:508-526) with the three-way
    // skip-reason taxonomy (F2, LI:633-659): a missing/non-string field
    // is no_text; present-but-short (post-trim) is short_text; long
    // enough but ratio below threshold is low_alpha
    val text = clip.transcript
    val trimmedLen = if (text == null) 0 else text.trim.length
    val len = if (text == null) 0 else text.length
    val ratio = TextStats.alphabeticalRatio(text)
    val ratioRounded = TextStats.roundTo(ratio, 2) // LI:522
    val skipReason: String =
      if (text == null) "no_text"
      else if (trimmedLen < p.minimalTextLength) "short_text"
      else if (ratioRounded < p.alphaThreshold) "low_alpha"
      else null

    if (skipReason != null) {
      // pass through with base fields only (F1 note: not dropped)
      Stage1Row(clip.clip_id, parseSource(clip.clip_id), parseYear(clip.clip_id),
        len, clip.orig_lg, None, null, null, null, null, null, null,
        None, audioOk, rms, if (pcm == null) 0 else pcm.length,
        clip.transcript, Thresholds.FixedTs, Thresholds.Stage1Version,
        skip_reason = skipReason)
    } else {
      // per-system inference with per-system error isolation (LI:353-439)
      val in = new LidText(text)
      def safe(f: LidText => Array[(String, Double)]): Array[LangProb] =
        try {
          val r = f(in)
          if (r == null || r.isEmpty) null else r.map(t => LangProb(t._1, t._2))
        } catch { case _: Exception => null }

      Stage1Row(
        clip.clip_id, parseSource(clip.clip_id), parseYear(clip.clip_id),
        len, clip.orig_lg, Some(ratioRounded),
        safe(models.impressoFt.score),
        safe(models.wpFt.score),
        safe(models.langidNb.score),
        safe(models.langdetectNb.score),
        safe(models.linguaRank.score),
        safe(models.impressoLp.score),
        Some(TextStats.roundTo(models.charLm.perplexity(in), p.roundNDigits)),
        audioOk, rms, if (pcm == null) 0 else pcm.length,
        clip.transcript, Thresholds.FixedTs, Thresholds.Stage1Version)
    }
  }

  // one model broadcast per SparkContext; weak keys plus the isStopped
  // sweep drop the entries of stopped contexts
  private val modelsBcs =
    new java.util.WeakHashMap[SparkContext, Broadcast[LidModels]]()

  /** The `LidModels.default` broadcast of `sc`, created on first use. */
  private[graft] def modelsBc(sc: SparkContext): Broadcast[LidModels] =
    modelsBcs.synchronized {
      modelsBcs.keySet.removeIf(c => c == null || c.isStopped)
      var bc = modelsBcs.get(sc)
      if (bc == null) {
        bc = sc.broadcast(LidModels.default)
        modelsBcs.put(sc, bc)
      }
      bc
    }

  def apply(spark: SparkSession, clips: Dataset[ClipRow],
      params: Params = Params()): Dataset[Stage1Row] = {
    import spark.implicits._
    val bc = modelsBc(spark.sparkContext)
    clips.mapPartitions { it =>
      val models = bc.value // resolved once per partition
      it.map(processClip(_, models, params))
    }
  }
}
