package graft.catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.SparkEntry.cachedBc
import graft.lid.TextStats
import graft.operators.Dedup

/** Text analysis queries (training-data ops): token counts, quality
  * signals, fingerprints, tf-idf, windowed LID, perplexity tiers, BPE and
  * sequence packing over `documents`. */
object TextQueries extends Queries {

  /** Gopher quality-filter scalar rules (Rae et al. 2021, A1) over a
    * frame carrying `text` and its whitespace split `ws` ([[words]]):
    * word count, mean word length, symbol-to-word ratio,
    * alphabetic-word fraction, required-stopword hits and the fused keep
    * decision. All built-in Columns — whole-stage codegen, no UDF. The
    * typed pipeline twin (incl. line-repetition rules the flat corpus
    * can't exercise) is TextStats.gopher; the oracle side is
    * `Sql.gopherMetrics`. */
  private[catalog] final class Gopher {
    private val nW = size(col("ws")).cast("double")
    val nWords: Column = size(col("ws"))
    val meanLen: Column =
      round(length(regexp_replace(trim(col("text")), "\\s+", "")) / nW, 4)
    val symRatio: Column = {
      val hashCnt =
        length(col("text")) - length(regexp_replace(col("text"), "#", ""))
      val dotsCnt = (length(col("text")) -
        length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / lit(3)
      val ellCnt =
        length(col("text")) - length(regexp_replace(col("text"), "…", ""))
      round((hashCnt + dotsCnt + ellCnt) / nW, 4)
    }
    val alphaFrac: Column =
      round(size(expr("filter(ws, w -> w rlike '\\\\p{L}')")) / nW, 4)
    val stopHits: Column = size(array_intersect(
      expr("transform(ws, w -> lower(w))"),
      array(TextStats.GopherStopwords.map(lit): _*)))
    // keep gate: paper thresholds are 50 ≤ words and ≥2 stopword hits;
    // the synthetic corpus is clip-transcript-sized and draws from a
    // vocab containing only "the", so the queries instantiate the gate
    // at (10, ≥1) to exercise both outcomes — the operator
    // (TextStats.gopher) takes these as parameters
    val keep: Column = nWords.between(10, 100000) &&
      meanLen.between(3.0, 10.0) && symRatio <= 0.1 &&
      alphaFrac >= 0.8 && stopHits >= 1
  }
  private[catalog] def words: Column = split(trim(col("text")), "\\s+")

  /** Whole-word hits of the alternation `ws` in the lower-cased `text`. */
  private def wordHits(ws: String): Column =
    size(expr(s"regexp_extract_all(lower(text), '\\\\b($ws)\\\\b', 0)"))
  private def wordHitsSql(ws: String) =
    s"length(regexp_extract_all(lower(text), '\\b($ws)\\b'))"
  private val (enWords, frWords, deWords) =
    ("the|and|of|is|was", "le|la|les|et|des", "der|die|das|und|nicht")

  val all: Seq[Query] = Seq(
    query("text_tokens", (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        size(words).as("n_ws"),
        size(expr("regexp_extract_all(text, '\\\\w+|[^\\\\w\\\\s]', 0)"))
          .as("n_re")),
      raw"""SELECT doc_id, length(${Sql.words}) AS n_ws, length(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_re FROM documents"""),
    query("text_quality", (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        round(length(regexp_replace(col("text"), "[\\w\\s]+", ""))
          .cast("double") / length(col("text")), 4).as("punct_ratio"),
        round(length(regexp_replace(col("text"), "[^0-9]+", ""))
          .cast("double") / length(col("text")), 4).as("digit_ratio"),
        round(wordHits("the|and|of|to|in|a").cast("double") / size(words), 4)
          .as("stop_ratio")),
      raw"""SELECT doc_id,
          round(length(regexp_replace(text, '[\w\s]+', '', 'g')) / CAST(length(text) AS DOUBLE), 4) AS punct_ratio,
          round(length(regexp_replace(text, '[^0-9]+', '', 'g')) / CAST(length(text) AS DOUBLE), 4) AS digit_ratio,
          round(${wordHitsSql("the|and|of|to|in|a")} / CAST(length(${Sql.words}) AS DOUBLE), 4) AS stop_ratio
          FROM documents"""),
    query("text_langid_heuristic", (s, d) => {
      val (en, fr, de) = (wordHits(enWords), wordHits(frWords), wordHits(deWords))
      t(s, d, "documents").select(col("doc_id"),
        when(en >= fr && en >= de, "en")
          .when(fr >= de, "fr").otherwise("de").as("pred_lang"))
    }, {
      val (en, fr, de) = (wordHitsSql(enWords), wordHitsSql(frWords), wordHitsSql(deWords))
      s"""SELECT doc_id, CASE WHEN $en >= $fr AND $en >= $de THEN 'en'
          WHEN $fr >= $de THEN 'fr' ELSE 'de' END AS pred_lang FROM documents"""
    }),
    query("text_fingerprint", (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        substring(md5(Dedup.normText(col("text"))), 1, 16).as("fp")),
      s"SELECT doc_id, substr(md5(${Sql.normText("text")}), 1, 16) AS fp FROM documents"),
    query("text_gopher", (s, d) => {
      val g = new Gopher
      t(s, d, "documents").select(col("doc_id"), col("text"), words.as("ws"))
        .select(col("doc_id"),
          g.nWords.as("n_words"), g.meanLen.as("mean_word_len"),
          g.symRatio.as("symbol_ratio"), g.alphaFrac.as("alpha_word_frac"),
          g.stopHits.as("stop_hits"), g.keep.as("keep"))
    },
      s"""WITH w AS (SELECT doc_id, text, ${Sql.words} AS ws FROM documents),
          g AS (SELECT doc_id, ${Sql.gopherMetrics} FROM w)
          SELECT *, (${Sql.gopherKeep}) AS keep FROM g"""),
    query("text_gopher_top2gram", (s, d) => {
      // Gopher repetition rule: fraction of characters inside the most
      // frequent word 2-gram (ties broken lexicographically). Row-LOCAL
      // typed map (TextStats.topBigram) — a doc's top bigram needs only
      // that doc, so the plan is narrow with ZERO shuffle; the r2
      // explode → groupBy(doc, bigram) → window shape exchanged every
      // bigram occurrence in the corpus for the same answer (1.3 s →
      // 0.2 s at sf0.1, and no exchange to skew at 100 TB).
      import s.implicits._
      t(s, d, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          Option(TextStats.topBigram(text)).map { case (bg, c) =>
            (id, bg, c.toLong, TextStats.roundTo(
              c.toDouble * bg.length / text.length, 4))
          }
        }.toDF("doc_id", "top_bigram", "cnt", "top2gram_char_frac")
    },
      raw"""WITH w AS (SELECT doc_id, length(text) AS n, ${Sql.words} AS ws FROM documents WHERE len(${Sql.words}) >= 2),
          b AS (SELECT doc_id, n, unnest(list_transform(generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i + 1])) AS bg FROM w),
          c AS (SELECT doc_id, n, bg, count(*) AS cnt FROM b GROUP BY 1, 2, 3),
          r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bg ASC) AS rn FROM c)
          SELECT doc_id, bg AS top_bigram, cnt, round(cnt * length(bg) / CAST(n AS DOUBLE), 4) AS top2gram_char_frac FROM r WHERE rn = 1"""),
    query("text_tfidf_topk", (s, d) => {
      // corpus-level TF-IDF, top-3 terms per doc (smooth sklearn-style
      // idf = ln((N+1)/(df+1)) + 1). Doc count is a broadcast 1-row
      // frame off the doc_id column only. At 100 TB: one explode pass,
      // exchanges keyed by (doc,term) / term / doc — all bounded by
      // corpus tokens; nothing driver-side.
      val tf = t(s, d, "documents").select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val nDocs = t(s, d, "documents")
        .agg(countDistinct(col("doc_id")).as("n"))
      // df as a groupBy census + join, NOT a window over the term
      // partition (guide §2.5): tf rows are distinct (doc, term) pairs,
      // so count per term group ≡ the window count — but the window
      // shuffled and sorted EVERY tf row by term (natural-language vocab
      // is Zipfian: the hot terms serialize on a few tasks), while the
      // census partial-aggregates map-side down to one row per distinct
      // term and the tf frame's exchange is REUSED by both consumers
      // (same canonical subtree), so tf computes once. No broadcast
      // hint: the census has one row per distinct term, and vocabulary
      // grows with the corpus (typos, URLs, ids), so AQE picks the join
      // from the census's measured size.
      val dfCensus = tf.groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
      val scored = tf
        .join(dfCensus, Seq("term"))
        .crossJoin(broadcast(nDocs))
        .withColumn("score", round(col("tf") *
          (log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)), 4))
      val win = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)
      scored.withColumn("rank", row_number().over(win))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"), col("score"))
    },
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
          df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
          n AS (SELECT count(DISTINCT doc_id) AS n FROM tok),
          sc AS (SELECT doc_id, t.term, round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 4) AS score FROM tf t JOIN df USING (term) CROSS JOIN n),
          r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank FROM sc)
          SELECT doc_id, rank, term, score FROM r WHERE rank <= 3"""),
    query("text_normalize_nfc", (s, d) => {
      // Unicode NFC normalization — the first cleaning step of any text
      // pipeline (decomposed é = e+U+0301 → composed é, etc.). Narrow
      // typed map over java.text.Normalizer; oracle via DuckDB's
      // nfc_normalize on the same rows.
      import s.implicits._
      t(s, d, "documents").select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val norm = if (text == null) null
          else java.text.Normalizer.normalize(text,
            java.text.Normalizer.Form.NFC)
          (id, norm, norm != null && !(norm == text))
        }.toDF("doc_id", "text_nfc", "changed")
    },
      "SELECT doc_id, nfc_normalize(text) AS text_nfc, (nfc_normalize(text) <> text) AS changed FROM documents"),
    query("text_lang_segments", (s, d) => {
      // window-level language ID → code-switching detection: the doc-
      // level reference pipeline assigns ONE language per item; mixed-
      // language items are exactly what that misses. 120-char windows
      // (short tail merged), top-1 prediction per window via the same
      // broadcast detector the pipeline ships, per-doc distinct-lang
      // roll-up — all row-local, zero shuffles. A window only counts
      // when TWO independent detectors agree confidently (top-1 match,
      // both probs ≥ 0.5) — the ensemble-agreement principle the
      // pipeline itself votes with. A single confident detector is not
      // enough: out-of-domain word salad drew confident-but-conflicting
      // top-1s and flagged 53% of this monolingual corpus "mixed"
      // ungated, 29% with a one-detector prob gate, 1% gated on
      // agreement (measured at sf0.001).
      import s.implicits._
      val bc = graft.operators.Stage1.modelsBc(s.sparkContext)
      // fanOut: the detector map is the expensive pass and the fixture
      // parquet plans as one scan task — see Dedup.fanOut
      Dedup.fanOut(t(s, d, "documents").select(col("doc_id"), col("text")))
        .as[(Long, String)]
        .map { case (id, text) =>
          val wins = TextStats.charWindows(text)
          val langs = wins.map { w =>
            val p1 = bc.value.impressoFt.predict(w)
            val p2 = bc.value.langidNb.predict(w)
            if (p1 == null || p1.isEmpty || p2 == null || p2.isEmpty ||
              p1.head._1 != p2.head._1 ||
              p1.head._2 < 0.5 || p2.head._2 < 0.5) "und"
            else p1.head._1
          }
          val confident = langs.filter(_ != "und").distinct.sorted
          (id, wins.length, confident.length, confident.mkString(","),
            confident.length > 1)
        }.toDF("doc_id", "n_segments", "n_langs", "langs", "mixed")
    }),
    query("text_compression_ratio", (s, d) => {
      // Deflate ratio — the cheap entropy proxy for boilerplate/
      // repetition (compresses far below natural prose). Narrow map;
      // rows-only (no deflate in SQL), ordering proven in unit tests.
      import s.implicits._
      Dedup.fanOut(t(s, d, "documents").select(col("doc_id"), col("text")))
        .as[(Long, String)]
        .map { case (id, text) =>
          (id, TextStats.roundTo(TextStats.compressionRatio(text), 4))
        }.toDF("doc_id", "deflate_ratio")
    }),
    query("quality_ppl_buckets", (s, d) => {
      // CCNet-style perplexity bucketing (Wenzek et al. 2020): score
      // each doc with the char-LM, then ntile(3) per language →
      // head/middle/tail quality tiers, the split CCNet uses to select
      // training data. The LM rides the same broadcast as the pipeline
      // detectors; buckets are a windowed rank per language partition
      // (one shuffle keyed by lang — bounded cardinality). Rows-only
      // (the LM is not SQL-expressible); tier ordering proven below by
      // construction of ntile.
      import s.implicits._
      val bc = graft.operators.Stage1.modelsBc(s.sparkContext)
      val scored = Dedup.fanOut(t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text")))
        .as[(Long, String, String)]
        .map { case (id, lang, text) =>
          (id, lang, TextStats.roundTo(bc.value.charLm.perplexity(text), 4))
        }.toDF("doc_id", "lang", "ppl")
      val win = Window.partitionBy(col("lang"))
        .orderBy(col("ppl").asc, col("doc_id").asc)
      scored.withColumn("nt", ntile(3).over(win))
        .withColumn("tier", when(col("nt") === 1, "head")
          .when(col("nt") === 2, "middle").otherwise("tail"))
        .drop("nt")
    }),
    query("text_bpe_tokens", (s, d) => {
      // BPE subword tokenization (Sennrich 2016): merges trained on a
      // bounded deterministic sample DRIVER-side (the merge table is a
      // model artifact, like the LID weights), broadcast, then token
      // counts computed in the narrow map stage. compression = chars
      // per token — a standard quality/fertility signal. Rows-only
      // (BPE is not SQL-expressible); algorithm correctness in BpeSpec.
      import s.implicits._
      val bc = cachedBc(s, "bpe:" + d) {
        // bounded deterministic driver-side training sample — inside the
        // cache block so repeat invocations skip the collect too
        val sample = t(s, d, "documents").select(col("doc_id"), col("text"))
          .orderBy(col("doc_id")).limit(100)
          .collect().map(_.getString(1))
        s.sparkContext.broadcast(
          graft.lid.Bpe.ranks(graft.lid.Bpe.train(sample, 200)))
      }
      Dedup.fanOut(t(s, d, "documents").select(col("doc_id"), col("text")))
        .as[(Long, String)]
        .map { case (id, text) =>
          val n = graft.lid.Bpe.tokenCount(text, bc.value)
          (id, n, TextStats.roundTo(
            if (n == 0) 0.0 else text.length.toDouble / n, 3))
        }.toDF("doc_id", "n_bpe", "chars_per_token")
    }),
    query("pack_sequences", (s, d) =>
      // greedy per-bucket sequence packing to a 512-token budget
      // (pretraining batch prep). Composition is pure arithmetic
      // (token count = ws split, 0 for null/blank; bucket = id mod 32,
      // greedy in id order) so the DuckDB oracle reproduces it exactly
      // with a sequential recursive CTE (acc resets whenever adding the
      // doc would exceed the budget, so an oversize doc forms a
      // singleton pack); invariants (full coverage, budget respected,
      // determinism) also in PackSpec.
      graft.operators.Pack.packDocuments(
        t(s, d, "documents"), "doc_id", "text", maxTokens = 512)
        .withColumn("doc_ids", concat_ws(",", col("doc_ids"))),
      raw"""WITH RECURSIVE d AS (
           SELECT doc_id,
                  CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                       ELSE length(${Sql.words}) END AS n_tok,
                  doc_id % 32 AS bucket,
                  row_number() OVER (PARTITION BY doc_id % 32 ORDER BY doc_id) AS rn
           FROM documents),
         p AS (
           SELECT bucket, rn, doc_id, n_tok, doc_id AS pack_id,
                  CAST(n_tok AS BIGINT) AS acc
           FROM d WHERE rn = 1
           UNION ALL
           SELECT d.bucket, d.rn, d.doc_id, d.n_tok,
                  CASE WHEN p.acc + d.n_tok > 512 THEN d.doc_id ELSE p.pack_id END,
                  CASE WHEN p.acc + d.n_tok > 512 THEN CAST(d.n_tok AS BIGINT) ELSE p.acc + d.n_tok END
           FROM d JOIN p ON d.bucket = p.bucket AND d.rn = p.rn + 1)
         SELECT pack_id,
                string_agg(doc_id, ',' ORDER BY doc_id) AS doc_ids,
                count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                sum(n_tok) > 512 AS oversize
         FROM p GROUP BY pack_id"""))
}
