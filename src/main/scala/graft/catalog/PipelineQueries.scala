package graft.catalog

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.SparkEntry.pipe
import graft.codec.{Audio, Fft}
import graft.lid.LidModels
import graft.lid.TextStats.roundTo
import graft.model.Stage1Row
import graft.operators.{Stage1b, Stage2, SynthCascade}

/** The clip pipeline's stages (one shared run feeds the pipeline_*
  * queries; rows-only), its audio feature front end over generated
  * clips, and the §2.9 cascade + stage-1b VALUE oracles: the two
  * flagship rule engines run over SQL-reproducible synthetic inputs
  * (SynthCascade — every field is integer arithmetic mod primes over
  * doc_id), so a DuckDB reimplementation of EL:603-808 / NS:388-599 pins
  * rule order and every threshold against an independent engine. */
object PipelineQueries extends Queries {

  /** [[SynthCascade]]'s synthetic Stage1Rows, one per `documents.doc_id`. */
  private def synthRows(s: SparkSession, d: String): Dataset[Stage1Row] = {
    import s.implicits._
    t(s, d, "documents").select(col("doc_id")).as[Long].map(SynthCascade.row)
  }

  /** Shared DuckDB CTE prefix regenerating [[SynthCascade]]'s synthetic
    * Stage1Rows from `documents.doc_id` — every recipe here must stay
    * byte-for-byte in sync with SynthCascade.row/pred. `base` carries the
    * row-scalar fields; `preds` one row per present (doc, system) with
    * its top-1 (lang, prob). */
  private val synthRowsSql: String =
    s"""base AS (
         SELECT doc_id AS id,
           'd' || doc_id AS clip_id,
           's' || (doc_id % 4) AS source,
           CAST((doc_id * 37 + 11) % 421 AS INT) AS len,
           CASE WHEN doc_id % 3 = 0 THEN
             ['de','en','fr','it','lb','pt'][CAST((doc_id // 3 * 7) % 6 AS INT) + 1]
           END AS orig_lg,
           CASE WHEN doc_id % 17 = 0 THEN NULL
                ELSE ((doc_id * 13 + 5) % 101) / 100.0 END AS ratio,
           CASE WHEN doc_id % 19 = 0 THEN NULL
                ELSE ((doc_id * 23 + 1) % 300) / 10.0 END AS ppl,
           (doc_id % 31 <> 0) AS audio_ok,
           ((doc_id * 29 + 3) % 40) * 2.5 AS rms,
           CASE WHEN doc_id % 13 = 0 THEN 'low_alpha' END AS skip_reason
         FROM documents),
       sysc AS (
         SELECT j,
           ${LidModels.Names.mkString("['", "','", "']")}[CAST(j AS INT) + 1] AS lid,
           [1,3,5,7,9,11][CAST(j AS INT) + 1] AS pj,
           [5,11,17,23,31,41][CAST(j AS INT) + 1] AS lj,
           [7,13,19,29,43,53][CAST(j AS INT) + 1] AS kj
         FROM generate_series(0, 5) g(j)),
       preds AS (
         SELECT b.id, s.j, s.lid,
           ['de','en','fr','it','lb','pt'][CAST(
             CASE WHEN b.id % 10 = 7 THEN (b.id // 10) % 6
                  WHEN b.id % 10 = 3 AND s.j = 0 THEN (b.id // 10 + 1) % 6
                  WHEN b.id % 10 = 3 THEN (b.id // 10) % 6
                  ELSE (b.id * s.lj + s.j) % 6 END AS INT) + 1] AS lang,
           (15 + ((b.id * s.kj + 3 * s.j) % 85)) / 100.0 AS prob
         FROM base b CROSS JOIN sysc s
         WHERE (b.id * s.pj) % 23 >= 2)"""

  val all: Seq[Query] = Seq(
    // ---------------- clip pipeline stages (non-SQL; rows-only checks)
    query("pipeline_stage1", (s, _) =>
      pipe(s).stage1.select(col("clip_id"), col("source"), col("len"),
        col("alphabetical_ratio"), col("ppl"), col("audio_ok"))),
    query("pipeline_decisions", (s, _) =>
      pipe(s).decisions.select(col("clip_id"), col("lg"), col("lg_decision"),
        col("keep"), col("drop_reason"))),
    query("pipeline_scrubbed", (s, _) => pipe(s).scrubbed.toDF()),
    query("pipeline_metrics", (s, _) =>
      Pipeline.metrics(s, pipe(s).decisions).toDF()
        .select(col("partition_id"), col("source"), col("rows_in"),
          col("rows_out"))),

    // ---------------- §2.9 decision cascade + stage-1b aggregates
    query("cascade_decide", (s, d) => {
      import s.implicits._
      Stage2(s, synthRows(s, d), SynthCascade.stats, SynthCascade.params)
        .select($"clip_id", $"source", $"lg", $"lg_decision",
          $"orig_lg", $"keep", $"drop_reason",
          size($"votes").as("n_votes"),
          // try_: ANSI element_at throws on the empty votes of the
          // non-voting decision codes
          try_element_at($"votes", lit(1)).getField("lang").as("top_lang"),
          try_element_at($"votes", lit(1)).getField("vote").as("top_vote"))
    },
      // §2.9 decision cascade (EL:603-808) as a from-scratch DuckDB CASE
      // cascade over SynthCascade's synthetic rows + fixed per-source
      // stats. Every threshold (0.75 trust / 0.5 minProb / 0.5 minVote /
      // 0.5 alpha / 0.90 dominance / 20 len), the rule ORDER
      // (undecodable → all → all-but-impresso_ft → dominant-by-len →
      // degenerate → lowvote → voting), the vote arithmetic
      // ((prob·support)·penalty·lbWeight folded in system order), the
      // s3 lb veto, and the keep/drop gate order are pinned: flip any one
      // and this row goes red.
      s"""WITH $synthRowsSql,
          stats AS (SELECT * FROM (VALUES
            ('s0', 'de', 0.98, 0.8,  ['de','en','fr','it','lb','pt'], CAST(NULL AS VARCHAR[]), false),
            ('s1', 'fr', 0.5,  0.6,  ['de','en','fr','it'], ['de','en','fr','it'], false),
            ('s2', CAST(NULL AS VARCHAR), 0.0, CAST(NULL AS DOUBLE), ['de','en','fr','it','lb','pt'], CAST(NULL AS VARCHAR[]), false),
            ('s3', 'en', 0.90, 0.76, ['de','en','fr','it','lb','pt'], CAST(NULL AS VARCHAR[]), true)
          ) v(source, dominant, dom_ratio, orig_support, ens_langs, adm, veto_lb)),
          supp AS (SELECT * FROM (VALUES
            ('de', 0.9), ('en', 0.7), ('fr', 0.5),
            ('it', 0.3), ('lb', 0.8), ('pt', 0.4)) v(lang, sup)),
          vraw AS (
            SELECT p.id, p.j, p.lang,
              ((p.prob * sp.sup)
                * (CASE WHEN st.dom_ratio >= 0.9 AND st.dominant IS NOT NULL
                        AND p.lang <> st.dominant
                        THEN 1 - (st.dom_ratio - 0.9) / 0.1 ELSE 1.0 END))
                * (CASE WHEN p.lid = 'impresso_ft' AND p.lang = 'lb'
                        THEN 3.0 ELSE 1.0 END) AS vote
            FROM preds p
            JOIN base b ON b.id = p.id
            JOIN stats st ON st.source = b.source
            JOIN (SELECT s.lang, l.lid,
                    CASE WHEN l.lid = 'langid_nb' AND s.lang = 'it'
                         THEN 0.0 ELSE s.sup END AS sup
                  FROM supp s CROSS JOIN (SELECT DISTINCT lid FROM preds) l) sp
              ON sp.lang = p.lang AND sp.lid = p.lid
            WHERE (st.adm IS NULL OR list_contains(st.adm, p.lang))
              AND NOT (st.veto_lb AND p.lang = 'lb')
              AND p.prob >= 0.5
              AND (CASE WHEN st.source = 's2' THEN 0.0 ELSE sp.sup END) > 0),
          vsum AS (
            SELECT id, lang,
              list_reduce(list(vote ORDER BY j), (a, x) -> a + x) AS v
            FROM vraw GROUP BY id, lang),
          vtop AS (
            SELECT id, lang, v,
              row_number() OVER (PARTITION BY id ORDER BY v DESC, lang ASC) AS rn,
              count(*) OVER (PARTITION BY id) AS nv
            FROM vsum),
          vhead AS (SELECT id, lang AS vlang, v AS vv, nv FROM vtop WHERE rn = 1),
          la AS (SELECT id, count(DISTINCT lang) AS n_all, min(lang) AS one_lang
                 FROM preds GROUP BY id),
          lb2 AS (SELECT id, count(DISTINCT lang) AS n_but, min(lang) AS but_lang
                  FROM preds WHERE lid <> 'impresso_ft' GROUP BY id),
          dec AS (
            SELECT b.*, st.dominant, st.orig_support, st.ens_langs,
              coalesce(la.n_all, 0) AS n_all, la.one_lang,
              coalesce(lb2.n_but, 0) AS n_but, lb2.but_lang,
              vh.vlang, vh.vv, coalesce(vh.nv, 0) AS nv,
              CASE
                WHEN NOT b.audio_ok THEN 'undecodable'
                WHEN coalesce(la.n_all, 0) = 1 THEN 'all'
                WHEN coalesce(lb2.n_but, 0) = 1
                     AND lb2.but_lang NOT IN ('de','fr','en','it')
                     AND list_contains(st.ens_langs, lb2.but_lang)
                     AND b.ratio IS NOT NULL AND b.len * b.ratio >= 20
                  THEN 'all-but-impresso_ft'
                WHEN b.len > 0 AND b.len < 20 THEN 'dominant-by-len'
                WHEN coalesce(b.ratio, 1.0) < 0.5 THEN
                  CASE WHEN st.dominant IS NULL
                       THEN 'dominant-by-lowvote' ELSE 'voting' END
                WHEN coalesce(vh.nv, 0) = 0 OR round(vh.vv, 3) < 0.5
                  THEN 'dominant-by-lowvote'
                ELSE 'voting' END AS lg_decision
            FROM base b
            JOIN stats st USING (source)
            LEFT JOIN la ON la.id = b.id
            LEFT JOIN lb2 ON lb2.id = b.id
            LEFT JOIN vhead vh ON vh.id = b.id),
          named AS (
            SELECT *,
              CASE lg_decision
                WHEN 'undecodable' THEN NULL
                WHEN 'all' THEN one_lang
                WHEN 'all-but-impresso_ft' THEN but_lang
                WHEN 'dominant-by-len' THEN dominant
                WHEN 'dominant-by-lowvote' THEN dominant
                ELSE CASE WHEN coalesce(ratio, 1.0) < 0.5
                          THEN dominant ELSE vlang END
              END AS lg,
              CASE
                WHEN lg_decision IN ('undecodable','all','all-but-impresso_ft','dominant-by-len') THEN 0
                WHEN coalesce(ratio, 1.0) < 0.5 THEN
                  CASE WHEN dominant IS NULL THEN 0 ELSE 1 END
                ELSE nv END AS n_votes,
              CASE
                WHEN lg_decision IN ('undecodable','all','all-but-impresso_ft','dominant-by-len') THEN NULL
                WHEN coalesce(ratio, 1.0) < 0.5 THEN dominant
                ELSE vlang END AS top_lang,
              CASE
                WHEN lg_decision IN ('undecodable','all','all-but-impresso_ft','dominant-by-len') THEN NULL
                WHEN coalesce(ratio, 1.0) < 0.5 THEN
                  CASE WHEN dominant IS NULL THEN NULL ELSE 1.0 END
                ELSE round(vv, 3) END AS top_vote
            FROM dec),
          gated AS (
            SELECT *,
              CASE
                WHEN NOT audio_ok THEN 'undecodable_audio'
                WHEN rms < 10.0 THEN 'silent_audio'
                WHEN skip_reason IS NOT NULL THEN skip_reason
                WHEN len = 0 THEN 'no_text'
                WHEN ratio IS NULL THEN 'short_text'
                WHEN ratio < 0.5 THEN 'low_alpha'
                WHEN ppl > 20.0 THEN 'high_ppl'
                WHEN lg IS NULL THEN 'no_lang'
                WHEN lg NOT IN ('de','en','fr','it','lb') THEN 'inadmissible_lang'
              END AS drop_reason
            FROM named)
          SELECT clip_id, source, lg, lg_decision,
            CASE WHEN NOT audio_ok THEN orig_lg
                 WHEN orig_lg IS NOT NULL AND orig_support > 0.75
                 THEN orig_lg END AS orig_lg,
            drop_reason IS NULL AS keep, drop_reason,
            n_votes, top_lang, top_vote
          FROM gated"""),
    query("stage1b_stats", (s, d) => {
      import s.implicits._
      Stage1b(s, synthRows(s, d)).flatMap { st =>
        st.lid_absolute_counts.toSeq.flatMap { case (lid, langs) =>
          langs.toSeq.map { case (lang, cnt) =>
            (st.source, lid, lang, cnt,
              st.lid_distributions(lid)(lang), st.lg_support(lid)(lang),
              st.n, st.dominant_language, st.dominant_language_ratio,
              st.overall_orig_lg_support, st.orig_lg_total_decisions)
          }
        }
      }.toDF("source", "lid", "lang", "cnt", "dist", "supp", "n",
        "dominant", "dom_ratio", "orig_support", "orig_total")
    },
      // Stage-1b aggregate bundle (NS:388-599) — boost-iff-≥2 (score 1.5
      // only when a lang has ≥2 voters and the voter is impresso_ft /
      // orig_lg), tie-kill, the denominator-=-n quirk (dist = cnt/n for
      // ALL systems, NS:583-585), per-(lid,lang) lg_support, A12 dominant
      // with deterministic tie-break, A9/A10 orig-support accounting.
      s"""WITH $synthRowsSql,
          valid AS (
            SELECT id, source, orig_lg FROM base
            WHERE audio_ok AND rms > 0 AND ratio IS NOT NULL
              AND ratio >= 0.5 AND len * ratio >= 200),
          voters AS (
            SELECT v.id, p.lid, p.lang
            FROM valid v JOIN preds p ON p.id = v.id WHERE p.prob >= 0.25
            UNION ALL
            SELECT id, 'orig_lg', orig_lg FROM valid WHERE orig_lg IS NOT NULL),
          lcnt AS (SELECT id, lang, count(*) AS c FROM voters GROUP BY id, lang),
          lscore AS (
            SELECT w.id, w.lang,
              sum(CASE WHEN lc.c >= 2 AND w.lid IN ('impresso_ft','orig_lg')
                       THEN 1.5 ELSE 1.0 END) AS score
            FROM voters w JOIN lcnt lc ON lc.id = w.id AND lc.lang = w.lang
            GROUP BY w.id, w.lang),
          ranked AS (
            SELECT id, lang, score,
              row_number() OVER (PARTITION BY id ORDER BY score DESC, lang ASC) AS rn,
              lead(score) OVER (PARTITION BY id ORDER BY score DESC, lang ASC) AS s2
            FROM lscore WHERE score >= 1.5),
          ens AS (
            SELECT id, CASE WHEN s2 IS NOT NULL AND score = s2
                            THEN NULL ELSE lang END AS ens
            FROM ranked WHERE rn = 1),
          ensof AS (SELECT v.id, v.source, v.orig_lg, e.ens
                    FROM valid v LEFT JOIN ens e ON e.id = v.id),
          entr AS (
            SELECT x.id, x.source, x.lid, x.lang, eo.ens FROM (
              SELECT v.id, v.source, p.lid, p.lang
              FROM valid v JOIN preds p ON p.id = v.id
              UNION ALL
              SELECT id, source, 'orig_lg', orig_lg FROM valid
              WHERE orig_lg IS NOT NULL
              UNION ALL
              SELECT id, source, 'ensemble', ens FROM ensof
              WHERE ens IS NOT NULL) x
            JOIN ensof eo ON eo.id = x.id),
          cnts AS (
            SELECT source, lid, lang, count(*) AS cnt,
              sum(CASE WHEN ens = lang THEN 1 ELSE 0 END) AS supp_cnt
            FROM entr GROUP BY source, lid, lang),
          srcn AS (SELECT source, count(*) AS n FROM valid GROUP BY source),
          dom AS (
            SELECT source, lang AS dominant, cnt AS domcnt,
              row_number() OVER (PARTITION BY source ORDER BY cnt DESC, lang ASC) AS rn
            FROM cnts WHERE lid = 'ensemble'),
          dom1 AS (SELECT source, dominant, domcnt FROM dom WHERE rn = 1),
          orig AS (
            SELECT source,
              count(*) FILTER (WHERE orig_lg IS NOT NULL) AS orig_total,
              count(*) FILTER (WHERE orig_lg IS NOT NULL AND ens IS NOT NULL
                               AND ens = orig_lg) AS orig_supp
            FROM ensof GROUP BY source)
          SELECT c.source, c.lid, c.lang, c.cnt,
            round(c.cnt / sn.n, 9) AS dist,
            round(c.supp_cnt / c.cnt, 9) AS supp,
            sn.n, d.dominant,
            CASE WHEN sn.n = 0 THEN 0.0
                 ELSE coalesce(d.domcnt, 0) / sn.n END AS dom_ratio,
            o.orig_supp / nullif(o.orig_total, 0) AS orig_support,
            o.orig_total
          FROM cnts c
          JOIN srcn sn USING (source)
          LEFT JOIN dom1 d USING (source)
          JOIN orig o USING (source)"""),
    query("stage1b_typedist", (s, d) => {
      import s.implicits._
      Stage1b(s, synthRows(s, d)).flatMap { st =>
        st.clip_type_distribution.toSeq.map { case (tp, c) =>
          (st.source, tp, c)
        }
      }.toDF("source", "clip_type", "cnt")
    },
      // A1 clip-type census over ALL rows (undecodable / silent / clip).
      s"""WITH $synthRowsSql
          SELECT source,
            CASE WHEN NOT audio_ok THEN 'undecodable'
                 WHEN rms = 0.0 THEN 'silent'
                 ELSE 'clip' END AS clip_type,
            count(*) AS cnt
          FROM base GROUP BY 1, 2"""),

    // ---------------- audio front end over generated clips (rows-only)
    query("pipeline_audio_resample", (s, _) => {
      // audio analog of mm_resize: decode -> RMS loudness normalization
      // (heterogeneous sources to one level) -> linear-interpolation
      // SRC to a target rate, all inside the same narrow mapPartitions
      // stage; rms_16k lands at the 6000 target for every voiced clip
      import s.implicits._
      Pipeline.clips(s, 1000L, partitions = 8).map { c =>
        val pcm = Audio.decode(c.codec, c.bytes)
        if (pcm == null) (c.clip_id, c.sr_hz, 0, 0, 0.0)
        else {
          val normed = Audio.normalizeRms(pcm, 6000.0)
          val re = Audio.resampleLinear(normed, c.sr_hz, 16000)
          (c.clip_id, c.sr_hz, pcm.length, re.length,
            roundTo(Audio.rms(re), 1))
        }
      }.toDF("clip_id", "sr_hz", "n_in", "n_16k", "rms_16k")
    }),
    query("pipeline_audio_features", (s, _) => {
      // mapPartitions feature-extraction over the binary column: decode,
      // zero-crossing rate, RMS, peak, 4x frame downsample length
      import s.implicits._
      Pipeline.clips(s, 2000L, partitions = 8).map { c =>
        val pcm = Audio.decode(c.codec, c.bytes)
        if (pcm == null) (c.clip_id, c.codec, false, 0.0, 0.0, 0, 0, 0.0, 0.0)
        else (c.clip_id, c.codec, true, roundTo(Audio.zeroCrossingRate(pcm), 4),
          roundTo(Audio.rms(pcm), 1), Audio.peak(pcm),
          Audio.frameSample(pcm, 4).length, roundTo(Audio.clipRatio(pcm), 4),
          roundTo(Audio.dcOffset(pcm), 4))
      }.toDF("clip_id", "codec", "decoded", "zcr", "rms", "peak",
        "n_frames_4x", "clip_ratio", "dc_offset")
    }),
    query("pipeline_audio_spectral", (s, _) => {
      // FFT spectral features + energy VAD in the same narrow codec
      // stage: centroid/rolloff/flatness/bandwidth (radix-2 Cooley-
      // Tukey, codec/Fft) plus speech ratio and silence-trimmed length
      import s.implicits._
      Pipeline.clips(s, 1000L, partitions = 8).map { c =>
        val pcm = Audio.decode(c.codec, c.bytes)
        if (pcm == null)
          (c.clip_id, false, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0)
        else {
          // ONE framing/FFT pass feeds every spectral stat (the separate
          // features/dominant/flux calls re-ran it three times per row)
          val sp = Fft.spectralBundle(pcm, c.sr_hz)
          val (ratio, from, until) = Fft.vad(pcm)
          (c.clip_id, true, roundTo(sp.centroidHz, 1), roundTo(sp.rolloffHz, 1),
            roundTo(sp.flatness, 4), roundTo(sp.bandwidthHz, 1),
            roundTo(ratio, 4), until - from,
            roundTo(sp.dominantHz, 1), roundTo(sp.flux, 4))
        }
      }.toDF("clip_id", "decoded", "centroid_hz", "rolloff_hz", "flatness",
        "bandwidth_hz", "speech_ratio", "voiced_samples", "dominant_hz",
        "spectral_flux")
    }),
    query("pipeline_audio_chunks", (s, _) => {
      // time-domain segmentation: explode each clip into 1 s windows
      // with 0.5 s hop (the training-data prep for fixed-length audio
      // models) — a narrow flatMap, chunk rows carry offsets so the
      // original is reconstructible; per-chunk RMS + active flag feed
      // chunk-level filtering
      import s.implicits._
      Pipeline.clips(s, 500L, partitions = 8).flatMap { c =>
        val pcm = Audio.decode(c.codec, c.bytes)
        if (pcm == null) Iterator.empty
        else {
          val win = c.sr_hz; val hop = c.sr_hz / 2
          val starts = 0 until math.max(1, pcm.length - win + 1) by hop
          starts.iterator.map { st =>
            val seg = java.util.Arrays.copyOfRange(pcm, st,
              math.min(pcm.length, st + win))
            val r = Audio.rms(seg)
            (c.clip_id, st / hop, st * 1000L / c.sr_hz,
              seg.length, roundTo(r, 1), r / 32768.0 > 0.01)
          }
        }
      }.toDF("clip_id", "chunk_idx", "start_ms", "n_samples", "rms",
        "active")
    }),
    query("pipeline_audio_mel", (s, _) => {
      // log-mel + MFCC in the narrow codec stage (the standard speech
      // feature front end; O'Shaughnessy mel scale + orthonormal DCT-II)
      import s.implicits._
      Pipeline.clips(s, 1000L, partitions = 8).map { c =>
        val pcm = Audio.decode(c.codec, c.bytes)
        val lm = if (pcm == null) null else Fft.logMel(pcm, c.sr_hz)
        if (lm == null) (c.clip_id, false, 0, 0.0, 0.0, 0.0)
        else {
          val mf = Fft.mfcc(lm)
          (c.clip_id, true, lm.indices.maxBy(lm(_)),
            roundTo(mf(0), 3), roundTo(mf(1), 3), roundTo(mf(2), 3))
        }
      }.toDF("clip_id", "decoded", "peak_mel", "c0", "c1", "c2")
    }))
}
