package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{Dedup, Similarity, Stage1b, Stage2, SynthCascade}

/** Driver contract (SURVEY.md §7 + TESTDATA.md): one `queries` entry per
  * implemented operator from SURVEY.md §2 plus the training-data-pipeline
  * surface (dedup / similarity / text analysis), each with DuckDB oracle
  * SQL where SQL-expressible. Column names and value rounding are kept
  * IDENTICAL between the Spark expression and the oracle so the driver's
  * sorted-column hash compare is stable.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Per-query recall@5 of an ANN result against exact brute force:
    * left-join brute's top-5 to the ANN top-5 on (qid, vid) and count
    * hits, so a query with zero overlap still emits recall 0.0. The ANN
    * frame is at most |queries|·k rows — Catalyst broadcasts it. */
  private def annRecall(emb: DataFrame,
      ann: (DataFrame, Seq[Long]) => DataFrame): DataFrame = {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val hits = ann(emb, qids)
      .select(col("qid"), col("vid"), lit(1).as("hit"))
    Similarity.bruteForceTopK(emb, "vec_id", "embedding", qids, k = 5)
      .join(hits, Seq("qid", "vid"), "left")
      .groupBy(col("qid"))
      .agg(round(sum(coalesce(col("hit"), lit(0))) / 5.0, 4)
        .as("recall_at_5"))
  }

  /** Audio dedup fixture: n originals (distinct synth seeds) plus one
    * planted copy per 10th clip — volume-scaled 0.85x with fresh small
    * jitter — ids n+k for original k*10. */
  /** Non-stationary "melody" clip: 8 concatenated tone segments (1024
    * samples each) — peaks move every ~4 frames, so landmark hashes
    * carry temporal structure (a pure tone's (f, f, dt) hashes are
    * anchor-independent and cannot be offset-aligned). */
  private[graft] def melodyClip(seed: Long): Array[Short] = {
    val out = new Array[Short](8192)
    var g = 0
    while (g < 8) {
      val seg = graft.codec.Audio.synth(seed * 31 + g, 8000, 1024)
      System.arraycopy(seg, 0, out, g * 1024, 1024)
      g += 1
    }
    out
  }

  /** Melody corpus with planted TIME-SHIFTED copies: every 10th clip
    * reappears as id n+k, delayed by 512 samples (= exactly 2 hops of
    * the landmark framing), volume-scaled and re-noised — the shape the
    * whole-clip band-energy tier cannot pair but landmark alignment
    * can. */
  private[graft] def audioMelodyCorpus(s: SparkSession, n: Long): DataFrame = {
    import s.implicits._
    // generation partitions = the session's core count (was a constant
    // 8): the synth + encode map is the expensive pass and rows are a
    // pure function of the range index, so the partitioning changes
    // parallelism only, never a row
    val p = s.sparkContext.defaultParallelism
    val base = s.range(0, n, 1, p).map { i =>
      (i.toLong, "pcm_s16le",
        graft.codec.Audio.pcm16Encode(melodyClip(i)))
    }
    val dups = s.range(0, n / 10, 1, p).map { k =>
      val pcm = melodyClip(k * 10)
      val mod = new Array[Short](pcm.length)
      var st = k * 977L
      var i = 512 // leading 512-sample silence = 2-hop delay
      while (i < pcm.length) {
        st = st * 6364136223846793005L + 1442695040888963407L
        val jit = ((st >>> 33) % 120L) - 60L
        mod(i) = math.max(Short.MinValue,
          math.min(Short.MaxValue, (pcm(i - 512) * 0.7 + jit).toInt)).toShort
        i += 1
      }
      (n + k, "pcm_s16le", graft.codec.Audio.pcm16Encode(mod))
    }
    base.union(dups).toDF("id", "codec", "bytes")
  }

  private[graft] def audioDedupCorpus(s: SparkSession, n: Long): DataFrame = {
    import s.implicits._
    // same parallelism rule as audioMelodyCorpus (rows are index-pure)
    val p = s.sparkContext.defaultParallelism
    val base = s.range(0, n, 1, p).map { i =>
      val pcm = graft.codec.Audio.synth(i, 8000, 4096)
      (i.toLong, "pcm_s16le", graft.codec.Audio.pcm16Encode(pcm))
    }
    val dups = s.range(0, n / 10, 1, p).map { k =>
      val pcm = graft.codec.Audio.synth(k * 10, 8000, 4096)
      val mod = new Array[Short](pcm.length)
      var st = k * 977L; var i = 0
      while (i < pcm.length) {
        st = st * 6364136223846793005L + 1442695040888963407L
        val jit = ((st >>> 33) % 120L) - 60L
        mod(i) = math.max(Short.MinValue,
          math.min(Short.MaxValue, (pcm(i) * 0.85 + jit).toInt)).toShort
        i += 1
      }
      (n + k, "pcm_s16le", graft.codec.Audio.pcm16Encode(mod))
    }
    base.union(dups).toDF("id", "codec", "bytes")
  }

  // Shared pipeline run — the pipeline_* queries expose the clip-
  // pipeline stages; one run feeds all of them. Keyed by the run's
  // ACTUAL inputs (corpus size, layout) AND the session OBJECT in a
  // weak-key map: a cached Result holds Datasets bound to one
  // SparkContext, and a second session in the same JVM (test suites)
  // must never receive frames from a possibly-stopped first session.
  // (r3 keyed on System.identityHashCode(session) — identity hashes can
  // be REUSED after the old session is GC'd, so a new session could
  // collide onto frames of a stopped SparkContext, and dead-session
  // entries leaked for the JVM lifetime. Weak keys make dead sessions
  // collectable; the isStopped guard evicts a stopped-but-reachable
  // session's entries before they can be returned.)
  private val pipeCache = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.HashMap[(Long, Int), Pipeline.Result]]()
  private def sessionSlot[K, V](cache: java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.HashMap[K, V]], s: SparkSession):
      scala.collection.mutable.HashMap[K, V] = {
    // Sweep EVERY stopped session's entry, not just `s`'s: the weak keys
    // alone never collect, because a cached value holds Datasets whose
    // QueryExecution strongly references its SparkSession — the value
    // pins the key for the JVM lifetime. The map is tiny (one entry per
    // session ever seen), so a full sweep per access is free, and it is
    // the only reclamation path for sessions that are stopped and never
    // looked up again.
    cache.entrySet().removeIf(e =>
      e.getKey == null || e.getKey.sparkContext.isStopped)
    Option(cache.get(s)).getOrElse {
      val m = scala.collection.mutable.HashMap.empty[K, V]
      cache.put(s, m); m
    }
  }
  private[graft] def pipe(s: SparkSession, n: Long = 2000L,
      partitions: Int = 8): Pipeline.Result = synchronized {
    sessionSlot(pipeCache, s).getOrElseUpdate((n, partitions), {
      val clips = Pipeline.clips(s, n, partitions = partitions)
      Pipeline.run(s, clips)
    })
  }

  // Session-keyed broadcast cache: the model-backed queries (ppl
  // buckets, BPE) used to create a FRESH Broadcast of their model on
  // every invocation and never destroy it — a long session accumulated
  // undestroyed broadcast blocks. One broadcast per (session, key); the
  // whole detector bundle is Stage1.modelsBc, one per SparkContext. Same
  // weak-key + isStopped-eviction discipline as pipeCache.
  private val bcCache = new java.util.WeakHashMap[SparkSession,
    scala.collection.mutable.HashMap[String, Any]]()
  private def cachedBc[T](s: SparkSession, key: String)(mk: => T): T =
    synchronized {
      sessionSlot(bcCache, s).getOrElseUpdate(key, mk).asInstanceOf[T]
    }

  /** Flagship: end-to-end keep/drop decisions on a synthesized clip
    * corpus (driver smoke-checks rows > 0). */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    pipe(spark).decisions.select($"clip_id", $"source", $"lg",
      $"lg_decision", $"keep", $"drop_reason")
  }

  // ------------------------------------------------------ shared columns
  // Unicode-aware (\p{L}): Java's bare \W is ASCII-only, which would
  // strip é/ü/ß as "non-word" and depress the ratio for exactly the
  // accented languages this corpus carries — the pipeline's own
  // TextStats.alphabeticalRatio runs UNICODE_CHARACTER_CLASS for the
  // same reason (Python-\W parity). DuckDB's RE2 oracle agrees on
  // \p{L}, so both engines count the same letters.
  private def alphaRatio(c: Column): Column =
    length(regexp_replace(c, "[^\\p{L}]+", "")).cast("double") / length(c)

  /** Deterministic "second LID system" over documents (for the
    * disagreement/eval operator family — A9/A14/A15). */
  private def predCol: Column =
    when(col("n_chars") % 5 === 0, lit("en")).otherwise(col("lang"))
  private val predSql =
    "CASE WHEN n_chars % 5 = 0 THEN 'en' ELSE lang END"

  private def normTextSql(c: String) =
    s"lower(regexp_replace(trim($c), '\\s+', ' ', 'g'))"

  /** Shared k-perm MinHash-LSH oracle (full bit-for-bit reproduction —
    * see the `dedup_minhash_lsh` entry notes). `cand` plugs the
    * candidate-generation CTE body so all-pairs and star pair modes
    * share every other stage. */
  private def minhashKpermOracleSql(cand: String): String =
    s"""WITH seeds AS (
          SELECT kind, j, CAST(x0 AS HUGEINT) + 11400714819323198485 AS x0g FROM (
            SELECT 'a' AS kind, j, 2*j + 1 AS x0 FROM generate_series(0, 63) g(j)
            UNION ALL SELECT 'b', j, 2*j + 2 FROM generate_series(0, 63) g(j)
            UNION ALL SELECT 'c', j, 1000003 + j FROM generate_series(0, 63) g(j))),
        mx1 AS (SELECT kind, j, x0g % 18446744073709551616 AS x1 FROM seeds),
        mx2 AS (SELECT kind, j,
          ((xor(x1, x1 // 1073741824) % 4294967296) * 13787848793156543929
           + (((xor(x1, x1 // 1073741824) // 4294967296) * 13787848793156543929) % 4294967296) * 4294967296)
          % 18446744073709551616 AS x2 FROM mx1),
        mx3 AS (SELECT kind, j,
          ((xor(x2, x2 // 134217728) % 4294967296) * 10723151780598845931
           + (((xor(x2, x2 // 134217728) // 4294967296) * 10723151780598845931) % 4294967296) * 4294967296)
          % 18446744073709551616 AS x3 FROM mx2),
        mabs AS (SELECT kind, j,
          xor(x3, x3 // 2147483648) % 9223372036854775808 AS am FROM mx3),
        perms AS (
          SELECT pa.j, (pa.am % 2305843009213693950) + 1 AS a, pb.am % 2305843009213693951 AS b
          FROM mabs pa JOIN mabs pb ON pa.j = pb.j AND pa.kind = 'a' AND pb.kind = 'b'),
        coefs AS (SELECT j, (am % 2305843009213693950) + 1 AS c FROM mabs WHERE kind = 'c'),
        docs AS (
          SELECT doc_id, ${normTextSql("text")} AS t FROM documents
          WHERE length(trim(coalesce(text, ''))) > 0),
        sh AS (
          SELECT DISTINCT doc_id,
            CASE WHEN length(t) < 5 THEN t ELSE substr(t, CAST(i AS INT), 5) END AS s
          FROM docs, generate_series(1, 2000) g(i)
          WHERE i <= greatest(length(t) - 4, 1)),
        hx AS (
          SELECT doc_id, (list_reduce(
            list_prepend(14695981039346656037::HUGEINT,
              list_transform(generate_series(1, length(s)),
                i -> unicode(substr(s, i, 1))::HUGEINT)),
            (acc, x) -> (((xor(acc, x)) % 4294967296) * 1099511628211
              + ((((xor(acc, x)) // 4294967296) * 1099511628211) % 4294967296)
                * 4294967296) % 18446744073709551616)
            % 9223372036854775808) % 2305843009213693951 AS x
          FROM sh),
        sig AS (
          SELECT doc_id, p.j, min((p.a * hx.x + p.b) % 2305843009213693951) AS v
          FROM hx CROSS JOIN perms p GROUP BY doc_id, p.j),
        bk AS (
          SELECT doc_id, s.j // 4 AS band,
            sum((c.c * s.v) % 2305843009213693951) % 2305843009213693951 AS bucket
          FROM sig s JOIN coefs c USING (j) GROUP BY doc_id, s.j // 4),
        cand AS ($cand),
        eq AS (
          SELECT c.a, c.b, sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) AS neq
          FROM cand c
          JOIN sig sa ON sa.doc_id = c.a
          JOIN sig sb ON sb.doc_id = c.b AND sb.j = sa.j
          GROUP BY c.a, c.b)
        SELECT a, b, round(neq / 64.0, 4) AS est_jaccard
        FROM eq WHERE round(neq / 64.0, 4) >= 0.5"""

  /** Shared DuckDB CTE prefix regenerating [[SynthCascade]]'s synthetic
    * Stage1Rows from `documents.doc_id` — every recipe here must stay
    * byte-for-byte in sync with SynthCascade.row/pred. `base` carries the
    * row-scalar fields; `preds` one row per present (doc, system) with
    * its top-1 (lang, prob). */
  private val synthRowsSql: String =
    """base AS (
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
           ['impresso_ft','wp_ft','langid_nb','langdetect_nb','lingua_rank','impresso_lp'][CAST(j AS INT) + 1] AS lid,
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

  /** Shared by `text_decontaminate` (unhashed) and
    * `text_decontaminate_hashed`: the hashed path's contract is
    * value-identity with these semantics, so both rows pin against the
    * same engine-independent SQL. */
  private def decontaminateOracleSql: String =
    s"""WITH docs AS (SELECT doc_id, ${normTextSql("text")} AS t FROM documents),
        bsh AS (SELECT DISTINCT substr(t, CAST(i AS INT), 10) AS shingle
                FROM docs, generate_series(1, 2000) g(i)
                WHERE doc_id % 29 = 0 AND length(t) > 0
                  AND i <= greatest(length(t) - 9, 1)),
        dsh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 10) AS shingle
                FROM docs, generate_series(1, 2000) g(i)
                WHERE doc_id % 29 <> 0 AND length(t) > 0
                  AND i <= greatest(length(t) - 9, 1)),
        tot AS (SELECT doc_id, count(*) AS total FROM dsh GROUP BY 1),
        hit AS (SELECT doc_id, count(*) AS hits FROM dsh JOIN bsh USING (shingle) GROUP BY 1)
        SELECT h.doc_id AS id, hits, total,
               round(CAST(hits AS DOUBLE) / total, 4) AS rate
        FROM hit h JOIN tot USING (doc_id) WHERE hits >= 1"""

  /** Shared CTE prefix of the two simhash oracle rows: normalized
    * 4-gram shingles, FNV-1a 64 per shingle (32-bit-split wrapping
    * multiply in HUGEINT), ±1 sign votes per bit → `sig(doc_id, sh64)`. */
  private def simhashSigSql: String =
    s"""docs AS (
            SELECT doc_id, ${normTextSql("text")} AS t FROM documents
            WHERE length(trim(text)) > 0),
          sh AS (
            SELECT DISTINCT doc_id,
              CASE WHEN length(t) < 4 THEN t ELSE substr(t, CAST(i AS INT), 4) END AS s
            FROM docs, generate_series(1, 2000) g(i)
            WHERE i <= greatest(length(t) - 3, 1)),
          h AS (
            SELECT doc_id, list_reduce(
              list_prepend(14695981039346656037::HUGEINT,
                list_transform(generate_series(1, length(s)),
                  i -> unicode(substr(s, i, 1))::HUGEINT)),
              (acc, x) -> (((xor(acc, x)) % 4294967296) * 1099511628211
                + ((((xor(acc, x)) // 4294967296) * 1099511628211) % 4294967296)
                  * 4294967296) % 18446744073709551616) AS h
            FROM sh),
          bits AS (
            SELECT doc_id, b,
              CASE WHEN sum(CASE WHEN (h // (1::HUGEINT << b)) % 2 = 1
                THEN 1 ELSE -1 END) > 0 THEN 1::HUGEINT ELSE 0::HUGEINT END AS bit
            FROM h, generate_series(0, 63) g(b) GROUP BY doc_id, b),
          sig AS (
            SELECT doc_id, sum(bit * (1::HUGEINT << b))::HUGEINT AS sh64
            FROM bits GROUP BY doc_id)"""

  /** The 20 Manku tables for chunks=6, maxHamming=3 as (tbl, divisor,
    * modulus, factor) triples per subset member — one VALUES row per
    * 3-subset of the 6 blocks (widths [11,11,11,11,10,10], ascending
    * lexicographic like Scala's `combinations`); key = bx·2^(wy+wz) +
    * by·2^wz + bz, the same fold tableKeys computes with shifts. */
  private val simhashStarTables: String = {
    val w = Array(11, 11, 11, 11, 10, 10)
    val start = w.scanLeft(0)(_ + _)
    (0 until 6).combinations(3).zipWithIndex.map { case (bs, t) =>
      val Seq(x, y, z) = bs
      s"($t, ${1L << start(x)}, ${1L << w(x)}, ${1L << (w(y) + w(z))}, " +
        s"${1L << start(y)}, ${1L << w(y)}, ${1L << w(z)}, " +
        s"${1L << start(z)}, ${1L << w(z)})"
    }.mkString(", ")
  }

  /** Shared CTE prefix of the two embedding-LSH oracle rows: splitmix64
    * plane components (identical construction to sim_ann_lsh_recall's
    * oracle, 8 planes), sign-bit buckets → `c(vec_id, vec, bucket)`. */
  private val embeddingLshBucketsSql: String =
    """WITH pd AS (
            SELECT p, d, (p::HUGEINT * 4294967296 + d + 11400714819323198485) % 18446744073709551616 AS x1
            FROM generate_series(0, 7) gp(p), generate_series(0, 63) gd(d)),
          m2 AS (SELECT p, d,
            ((xor(x1, x1 // 1073741824) % 4294967296) * 13787848793156543929
             + (((xor(x1, x1 // 1073741824) // 4294967296) * 13787848793156543929) % 4294967296) * 4294967296)
            % 18446744073709551616 AS x2 FROM pd),
          m4 AS (SELECT p, d,
            ((xor(x2, x2 // 134217728) % 4294967296) * 10723151780598845931
             + (((xor(x2, x2 // 134217728) // 4294967296) * 10723151780598845931) % 4294967296) * 4294967296)
            % 18446744073709551616 AS x3 FROM m2),
          comp AS (SELECT p, d,
            (CASE WHEN xor(x3, x3 // 2147483648) >= 9223372036854775808
                  THEN xor(x3, x3 // 2147483648) - 18446744073709551616
                  ELSE xor(x3, x3 // 2147483648) END)::DOUBLE / 9223372036854775807 AS c
            FROM m4),
          planes AS (SELECT p, list(c ORDER BY d) AS pv FROM comp GROUP BY p),
          v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings WHERE embedding IS NOT NULL),
          bk AS (SELECT vec_id, sum(CASE WHEN list_dot_product(vec, pv) >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
                 FROM v CROSS JOIN planes GROUP BY vec_id),
          c AS (SELECT v.vec_id, vec, bucket FROM v JOIN bk USING (vec_id))"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- P: per-row scalar surface (SURVEY §2.2)
    "p1_alpha_ratio" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        round(alphaRatio(col("text")), 4).as("alpha_ratio"))),
    "p2_base_info" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"), length(col("text")).as("len"),
        col("lang").as("orig_lg"), col("source"))),
    "p5_id_parse" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        substring(col("source"), 4, 10).cast("int").as("src_num"))),

    // ---------------- F: filters (SURVEY §2.3)
    "f1_valid_gate" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        (col("n_chars") >= 20 && alphaRatio(col("text")) >= 0.5)
          .as("valid"))),
    "f4_stats_filter" -> ((s, d) => t(s, d, "documents")
      .filter(alphaRatio(col("text")) >= 0.5 &&
        col("n_chars") * alphaRatio(col("text")) >= 200)
      .select(col("doc_id"))),

    // ---------------- A: aggregations (SURVEY §2.5)
    "a1_type_dist" -> ((s, d) => t(s, d, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("cnt"))),
    "a2_len_hist" -> ((s, d) => t(s, d, "documents")
      .groupBy(floor(col("n_chars") / 50.0).as("bucket"))
      .agg(count(lit(1)).as("cnt"))),
    "a4_lang_dist" -> ((s, d) => {
      val cnts = t(s, d, "documents")
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("cnt"))
      cnts.withColumn("relfreq", round(col("cnt").cast("double") /
        sum(col("cnt")).over(Window.partitionBy(col("source")))
          .cast("double"), 4))
    }),
    "a12_dominant" -> ((s, d) => {
      val cnts = t(s, d, "documents")
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("cnt").desc, col("lang").asc)
      cnts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("source"), col("lang").as("dominant_lang"), col("cnt"))
    }),
    "a9_disagreement" -> ((s, d) => t(s, d, "documents")
      .withColumn("pred", predCol)
      .filter(col("pred") =!= col("lang"))
      .groupBy(concat(col("lang"), lit("->"), col("pred")).as("key"))
      .agg(count(lit(1)).as("cnt"))),
    "a15_eval_accuracy" -> ((s, d) => {
      // single-pass ROLLUP plan (r1 ran this as scan+union+rescan — 65x
      // slower than its own rollup twin); output shape identical: the
      // `_ALL_` bucket is the rollup grand-total row. `lang0` duplicates
      // the grouping column so the aggregate survives expand-projection
      // (see a15_rollup note).
      val j = t(s, d, "documents").withColumn("pred", predCol)
        .withColumn("lang0", col("lang"))
      j.rollup(col("lang"))
        .agg(sum(when(col("pred") === col("lang0"), 1L).otherwise(0L))
          .as("correct"), count(lit(1)).as("total"))
        .select(coalesce(col("lang"), lit("_ALL_")).as("gold_lg"),
          col("correct"), col("total"),
          round(col("correct").cast("double") / col("total"), 4)
            .as("accuracy"))
    }),

    "a15_per_item" -> ((s, d) =>
      // per-item eval diagnostics (EV:105-122 analog; Eval.perItem is the
      // pipeline-typed twin): prediction, gold, correctness per row
      t(s, d, "documents")
        .select(col("doc_id"), predCol.as("pred"),
          col("lang").as("gold_lg"), (predCol === col("lang")).as("correct"))),

    "a15_rollup" -> ((s, d) => {
      // the `_ALL_` bucket as a real ROLLUP (the survey's one natural
      // grouping-sets candidate, §2.5 note)
      // `lang0` duplicates the grouping column: references to grouping
      // expressions inside aggregates get expand-projected (NULL on the
      // rollup row) in both engines, so aggregate over the copy
      val j = t(s, d, "documents").withColumn("pred", predCol)
        .withColumn("lang0", col("lang"))
      j.rollup(col("lang"))
        .agg(sum(when(col("pred") === col("lang0"), 1L).otherwise(0L))
          .as("correct"), count(lit(1)).as("total"))
        .select(coalesce(col("lang"), lit("_ALL_")).as("gold_lg"),
          col("correct"), col("total"))
    }),

    // ---------------- T: sorts / top-k (SURVEY §2.7)
    "t5_top_disagreements" -> ((s, d) => t(s, d, "documents")
      .withColumn("pred", predCol)
      .filter(col("pred") =!= col("lang"))
      .groupBy(concat(col("lang"), lit("->"), col("pred")).as("key"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("key").asc).limit(5)),

    // ---------------- U: set ops (SURVEY §2.8)
    "u1_distinct_langs" -> ((s, d) => t(s, d, "documents")
      .groupBy(col("source"))
      .agg(array_join(array_sort(collect_set(col("lang"))), ",")
        .as("langs"))),

    // ---------------- relational core (lineitem/orders/customer/...)
    "q1_agg" -> ((s, d) => t(s, d, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))),
    "q6_selective_agg" -> ((s, d) =>
      // TPC-H Q6 shape: every predicate reaches the parquet scan as a
      // PushedFilter (verified via graft.Explain) — the scan skips row
      // groups server-side instead of filtering post-read
      t(s, d, "lineitem")
        .filter(col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"), count(lit(1)).as("n"))),
    "q3_revenue_topk" -> ((s, d) => {
      // NOT fanned out (r6): repartitioning the fact scan before the
      // broadcast join was measured SLOWER than the serial scan +
      // map-side partial aggregation it replaces (0.99 s → 1.4 s) —
      // columnar decode + hash-agg of 600k rows is cheaper than an
      // extra round-trip of them through a shuffle
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate").cast("date")
          .as("o_date"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc).limit(10)
    }),
    "q5_region_revenue" -> ((s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val n = t(s, d, "nation")
      val r = t(s, d, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
    }),

    "q14_promo_share" -> ((s, d) => {
      // TPC-H Q14 shape over the part dimension: conditional revenue
      // share by brand-type predicate. part broadcasts (dimension-sized
      // at every SF); the measure aggregates map-side.
      val li = t(s, d, "lineitem"); val p = t(s, d, "part")
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .agg(round(lit(100.0) *
          sum(when(col("p_type").startsWith("PROMO"), rev).otherwise(0.0)) /
          sum(rev), 4).as("promo_pct"),
          count(lit(1)).as("n"))
    }),
    "q_supplier_nation" -> ((s, d) => {
      // revenue by supplier nation: two broadcast dims chained onto the
      // fact scan — the same star-join shape as q5 on the OTHER foreign
      // key (l_suppkey), completing coverage of every fixture table.
      val li = t(s, d, "lineitem"); val su = t(s, d, "supplier")
      val n = t(s, d, "nation")
      li.join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("n_items"))
    }),

    // ---------------- J: joins (SURVEY §2.6)
    "j1_broadcast_join" -> ((s, d) => {
      val o = t(s, d, "orders"); val c = t(s, d, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(
          count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total"))
    }),
    "j2_semi_join" -> ((s, d) => {
      val o = t(s, d, "orders")
      val big = t(s, d, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey"))
      o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("cnt"))
    }),
    "j2_anti_join_resume" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val processed = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"))
      docs.join(processed, Seq("doc_id"), "left_anti")
        .groupBy(col("source")).agg(count(lit(1)).as("n_unprocessed"))
    }),

    // ---------------- W: windows
    "w1_running_sum" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders").filter(col("o_custkey") < 100)
        .select(col("o_orderkey"), col("o_custkey"),
          round(sum(col("o_totalprice")).over(w), 2).as("running"))
    }),
    "w2_topn_per_key" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders").filter(col("o_custkey") < 200)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"))
    }),

    // ---------------- E: events (time windows / sessions / json)
    "e1_tumbling_window" -> ((s, d) => t(s, d, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("val"))),
    "e2_sessionize" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      // ts is TIMESTAMP_NTZ in the parquet; cast for unix_micros (session
      // tz is pinned UTC so this matches DuckDB's naive epoch_us)
      val us = unix_micros(col("ts").cast("timestamp"))
      t(s, d, "events").filter(col("user_id") < 100)
        .withColumn("prev", lag(us, 1).over(w))
        .withColumn("new_session",
          when(col("prev").isNull || us - col("prev") > 1800000000L, 1L)
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"),
          count(lit(1)).as("n_events"))
    }),
    "e3_json_extract" -> ((s, d) => t(s, d, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").as("k"))),

    // ---------------- dedup family (training-data ops)
    "dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), "doc_id", "text")),
    "dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccard(t(s, d, "documents"), "doc_id", "text",
        n = 3, threshold = 0.5, maxShingleDf = 100L)),
    "dedup_text_keep" -> ((s, d) => {
      // fuzzy-dedup END-TO-END keep: n-gram Jaccard pairs (8-char
      // shingles — at 5k docs every 3-gram is a stop-shingle, so the
      // char-8 space is what keeps df-pruning meaningful at scale) →
      // connected components → keep flag for EVERY doc. Oracle is a
      // recursive-CTE transitive closure over the same pair graph —
      // a general-graph components oracle, not a planted-structure one.
      val docs = t(s, d, "documents")
      Dedup.keepPolicy(docs, "doc_id",
        Dedup.ngramJaccard(docs, "doc_id", "text",
          n = 8, threshold = 0.5, maxShingleDf = 200L)
          .select(col("a"), col("b")))
    }),
    "curate_corpus" -> ((s, d) => {
      // END-TO-END curation chain — the composed form of the training-
      // data workflow, value-exact through every stage: exact dedup
      // (keep min-id per normalized text) → benchmark decontamination
      // (drop docs sharing any 10-shingle with the doc_id % 29 eval
      // slice) → Gopher scalar quality gate (same instantiation as
      // text_gopher). Each stage is individually oracle-checked; this
      // query pins their COMPOSITION against one composed DuckDB oracle.
      val docs = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") % 29 =!= 0)
      val bench = docs.filter(col("doc_id") % 29 === 0)
      val keepers = Dedup.exact(corpus, "doc_id", "text")
        .select(col("keeper_id").as("doc_id"))
      val deduped = corpus.join(keepers, Seq("doc_id"), "left_semi")
      // drop only on substantial overlap (rate >= 0.6 — verbatim or
      // near-verbatim benchmark copies); the synthetic corpus's shared
      // templates put background contamination at ~0.40 at sf0.01
      // (kept) and ~0.77 at sf0.1 (mostly dropped — the denser corpus
      // genuinely overlaps its eval slice; survivors: 364 at sf0.01,
      // 7 at sf0.1, value-identical to the oracle at both)
      val flagged = Dedup.decontaminate(deduped, bench, "doc_id", "text",
        n = 10, minHits = 1)
        .filter(col("rate") >= 0.6).select(col("id").as("doc_id"))
      val cleaned = deduped.join(flagged, Seq("doc_id"), "left_anti")
      val d0 = cleaned.select(col("doc_id"), col("lang"), col("source"),
        col("text"), split(trim(col("text")), "\\s+").as("ws"))
      val nW = size(col("ws")).cast("double")
      val meanLen = round(
        length(regexp_replace(trim(col("text")), "\\s+", "")) / nW, 4)
      val symbols =
        (length(col("text")) - length(regexp_replace(col("text"), "#", ""))) +
          (length(col("text")) -
            length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / lit(3) +
          (length(col("text")) - length(regexp_replace(col("text"), "…", "")))
      val alphaFrac = round(
        size(expr("filter(ws, w -> w rlike '\\\\p{L}')")) / nW, 4)
      val stopHits = size(array_intersect(
        expr("transform(ws, w -> lower(w))"),
        array(graft.lid.TextStats.GopherStopwords.map(lit): _*)))
      d0.filter(size(col("ws")).between(10, 100000) &&
          meanLen.between(3.0, 10.0) && round(symbols / nW, 4) <= 0.1 &&
          alphaFrac >= 0.8 && stopHits >= 1)
        .select(col("doc_id"), col("lang"), col("source"),
          size(col("ws")).cast("long").as("n_words"))
    }),
    "text_decontaminate" -> ((s, d) => {
      // benchmark = the deterministic doc_id % 29 slice (an eval-suite
      // stand-in); training side = everything else. Flags training docs
      // sharing any 10-char shingle with the benchmark.
      val docs = t(s, d, "documents")
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 29 =!= 0),
        docs.filter(col("doc_id") % 29 === 0),
        "doc_id", "text", n = 10, minHits = 1)
    }),
    "text_decontaminate_hashed" -> ((s, d) => {
      // same contract as text_decontaminate but through the
      // production-broadcast path (xxhash64 join keys, ~5x smaller
      // broadcast). The oracle is the SAME engine-independent SQL as
      // the unhashed row: hashed mode is DEFINED to be value-identical
      // up to 64-bit collisions (~1e-10 per 10^5-shingle benchmark), so
      // a green row pins the whole hashed path — shingling, hashing
      // symmetry, join, counters — against DuckDB; a collision or any
      // asymmetry between the two xxhash64 applications flips it red.
      val docs = t(s, d, "documents")
      Dedup.decontaminate(
        docs.filter(col("doc_id") % 29 =!= 0),
        docs.filter(col("doc_id") % 29 === 0),
        "doc_id", "text", n = 10, minHits = 1, hashed = true)
    }),
    "dedup_minhash_lsh" -> ((s, d) =>
      // oracle-checked VALUE-exact: every stage (FNV-1a shingle hash,
      // Mersenne k-perm signatures, multilinear band buckets, candidate
      // join, slot-agreement estimate) is pure integer arithmetic the
      // DuckDB oracle reproduces bit-for-bit in HUGEINT
      Dedup.minHashLsh(t(s, d, "documents"), "doc_id", "text",
        n = 5, numHashes = 64, bands = 16, threshold = 0.5)),
    "dedup_minhash_lsh_star" -> ((s, d) =>
      // the clique-safe candidate mode, VALUE-pinned like its all-pairs
      // twin: identical signatures/buckets/estimates, but candidates
      // pair each bucket member only with the bucket minimum — the
      // oracle swaps ONE CTE (the candidate join) and everything else
      // is shared, so a regression in star pairing itself (not just its
      // downstream keep behavior) flips an engine-independent check
      Dedup.minHashLsh(t(s, d, "documents"), "doc_id", "text",
        n = 5, numHashes = 64, bands = 16, threshold = 0.5,
        pairMode = "star")),
    "dedup_minhash_oph" -> ((s, d) =>
      // one-permutation-hashing scale path — oracle-checked VALUE-exact
      // like the k-perm tier: per-band splitmix bin assignment,
      // distance-tagged cyclic densification, multilinear buckets and
      // the slot-agreement estimate are all reproduced in DuckDB
      Dedup.minHashLsh(t(s, d, "documents"), "doc_id", "text",
        n = 5, numHashes = 64, bands = 16, threshold = 0.5, oph = true)),
    "dedup_repeated_spans" -> ((s, d) =>
      // cross-document repeated spans via winnowing fingerprints
      // (MOSS selection rule) — the distributed form of exact substring
      // dedup; md5-based selection so the DuckDB oracle reproduces the
      // winnow bit-for-bit (value-exact compare)
      Dedup.repeatedSpans(t(s, d, "documents"), "doc_id", "text",
        window = 40, guarantee = 8, minDocs = 2)),
    "dedup_minhash_verified" -> ((s, d) =>
      // sketch-generated candidates, exact-Jaccard verified — the one
      // approximate dedup tier whose OUTPUT is value-exact, so it's
      // oracle-checked against DuckDB's all-pairs exact Jaccard (the
      // oracle is quadratic and only viable at test scale; the Spark
      // side verifies only O(n·bands) bucket-mates)
      Dedup.minHashLshVerified(t(s, d, "documents"), "doc_id", "text",
        n = 5, numHashes = 64, bands = 16,
        candidateThreshold = 0.5, threshold = 0.8)),
    "dedup_components" -> ((s, d) => {
      // keep-policy step: connected components over duplicate pairs.
      // Pairs here are deterministic consecutive-id chains (4-node
      // chains per block of 10 ids) so the result is oracle-checkable
      // AND the propagation genuinely needs multiple rounds; the
      // operator's production inputs are the pair outputs of the
      // minhash/simhash/jaccard tiers above.
      val docs = t(s, d, "documents").select(col("doc_id"))
      val cand = docs.filter(col("doc_id") % 10 <= 2)
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
      val pairs = cand.join(docs.withColumnRenamed("doc_id", "b"), Seq("b"))
      Dedup.components(pairs).select(col("id"), col("label"))
    }),
    "dedup_simhash" -> ((s, d) =>
      // chunks=6: the Manku multi-table scheme (20 tables × 32-bit
      // keys) — candidates stay ~linear at 10^9+ docs where the old
      // single-16-bit-chunk keys went quadratic. The output is exact
      // (scheme-independent: candidates verified with exact hamming,
      // recall guaranteed by pigeonhole), so as of r4 this tier is
      // VALUE-checked: the oracle reproduces simhash64 (FNV-1a over
      // distinct 4-gram shingles + per-bit sign votes) bit-for-bit in
      // DuckDB with HUGEINT mod-2^64 arithmetic and compares ALL pairs
      // — quadratic, viable only at oracle scale; the Spark side
      // touches only bucket-mates.
      Dedup.simHash(t(s, d, "documents"), "doc_id", "text",
        n = 4, maxHamming = 3, chunks = 6)),
    "dedup_simhash_star" -> ((s, d) =>
      // clique-safe candidate mode, VALUE-pinned: unlike the all-pairs
      // row (whose oracle can sidestep bucketing via pigeonhole), this
      // oracle reproduces the 20 multi-table keys themselves and the
      // per-bucket min pairing — tableKeys' block fold is checked
      // against an independent engine for the first time
      Dedup.simHash(t(s, d, "documents"), "doc_id", "text",
        n = 4, maxHamming = 3, chunks = 6, pairMode = "star")),
    "dedup_audio_neardup" -> ((s, _) => {
      // audio near-dup: normalized band-energy vectors, peak-band
      // buckets (±1 multi-probe), exact cosine verify. Corpus plants
      // one volume-scaled, re-noised copy per 10th clip; the operator
      // must pair (k*10, n+k) without an all-pairs waveform compare.
      // Rows-only here; recall proven in DedupSpec.
      Dedup.audioNearDup(audioDedupCorpus(s, 2000L), "id", "bytes", "codec")
    }),
    "dedup_audio_fingerprint" -> ((s, _) => {
      // offset-robust landmark matching: every 10th melody clip has a
      // 2-hop-delayed, volume-scaled, re-noised copy — the planted pairs
      // must surface with the correct alignment offset. Rows-only (FFT
      // landmarks are not SQL); exact recovery pinned in DedupSpec and
      // QueriesSpec.
      // maxHashDf = 16: in-segment tone hashes (f, f, dt) recur across
      // ~50 clips sharing a tone bin and would dominate the in-bucket
      // join (measured ~15M pair rows at df <= 64); the segment-
      // TRANSITION hashes that actually identify a melody have low df
      // and survive — planted recall stays 100/100 (QueriesSpec).
      Dedup.audioFingerprintMatch(audioMelodyCorpus(s, 1000L),
        "id", "bytes", "codec", minMatches = 12, maxHashDf = 16)
    }),
    "dedup_audio_keep" -> ((s, _) => {
      // full audio dedup composed end-to-end: near-dup pairs →
      // connected components → one keeper per duplicate cluster
      // (min id), singletons kept — the same keep-policy tier the text
      // dedups feed. Rows-only; component/keeper semantics oracle-
      // checked via dedup_components and DedupSpec.
      val corpus = audioDedupCorpus(s, 500L)
      val pairs = Dedup.audioNearDup(corpus, "id", "bytes", "codec")
      Dedup.keepPolicy(corpus, "id", pairs)
    }),

    // ---------------- similarity search (embeddings)
    "sim_topk_bruteforce" -> ((s, d) =>
      Similarity.bruteForceTopK(t(s, d, "embeddings"), "vec_id",
        "embedding", queryIds = Seq(0L, 1L, 2L, 3L, 4L), k = 5)),
    "dedup_embedding_cosine" -> ((s, d) =>
      Dedup.embeddingCosine(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, anchorMod = 10L)),
    "dedup_embedding_lsh" -> ((s, d) => // full-corpus scale path
      // NOTE on the 0.4 threshold: sign-sketch buckets are designed for
      // NEAR-DUP similarity (cos ≈ 1, where sketches differ ≤1 bit and
      // multi-probe guarantees recall — DedupSpec proves it on planted
      // copies); at cos 0.4 the per-pair bucket-collision probability is
      // (1 - θ/π)^planes ≈ 0.03, and measured recall vs the exact
      // all-pairs set is 8/59 at sf0.01 — the sketch is a low-recall
      // sampler down there BY DESIGN. That sampling is DETERMINISTIC
      // (splitmix planes + sign buckets + hamming-1 probe), so the
      // DuckDB oracle reproduces the exact candidate set and output —
      // the tier is value-exact, low recall and all.
      Dedup.embeddingCosineLsh(t(s, d, "embeddings"), "vec_id",
        "embedding", dim = 64, threshold = 0.4, planes = 8)),
    "dedup_embedding_lsh_star" -> ((s, d) =>
      // star candidates: each probing vector pairs only with the
      // minimal id of each exact bucket within hamming 1 of its own —
      // the oracle reproduces the bucket minima and the probe ball, so
      // the O(n·planes) candidate rule itself is engine-checked
      Dedup.embeddingCosineLsh(t(s, d, "embeddings"), "vec_id",
        "embedding", dim = 64, threshold = 0.4, planes = 8,
        pairMode = "star")),
    "sim_norms" -> ((s, d) => {
      // vector norm via the native codegen vec_dot expression
      graft.functions.VectorOps.register(s)
      val v = col("embedding").cast("array<double>")
      t(s, d, "embeddings").select(col("vec_id"), col("label"),
        round(sqrt(graft.functions.VectorOps.dot(v, v)), 4).as("norm"))
    }),
    "sim_ann_lsh" -> ((s, d) => // approximate — rows-only check
      Similarity.lshTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), dim = 64, k = 5, planes = 6)),
    "sim_ann_ivf" -> ((s, d) => // approximate — rows-only check
      Similarity.ivfTopK(t(s, d, "embeddings"), "vec_id", "embedding",
        queryIds = Seq(0L, 1L, 2L, 3L, 4L), nLists = 16, nProbe = 4, k = 5)),
    "sim_ann_lsh_recall" -> ((s, d) =>
      // recall@5 of the sign-sketch LSH ANN vs exact brute force — the
      // ANN tier's VALUE check: both sides are deterministic, and the
      // oracle reproduces the splitmix64 hyperplanes, the sign
      // bucketing, and the in-bucket exact re-rank in DuckDB SQL
      // (HUGEINT mod-2^64 arithmetic, same technique as the
      // dedup_simhash oracle), so the recall numbers themselves are
      // hash-compared, not just row shape. Low recall at planes=6 over
      // uniform-random embeddings is the honest measurement the
      // sim_ann_lsh scaladoc promises for mid-similarity neighbors —
      // the sketch only guarantees recall near cos ≈ 1.
      annRecall(t(s, d, "embeddings"),
        (emb, qids) => Similarity.lshTopK(emb, "vec_id", "embedding",
          qids, dim = 64, k = 5, planes = 6))),
    "sim_ann_ivf_recall" -> ((s, d) =>
      // recall@5 of IVF-flat vs exact brute force. Rows-only by
      // contract (reproducing 8 Lloyd iterations of spherical k-means
      // in SQL is not practical) but the per-query values are pinned
      // exactly in QueriesSpec — deterministic sample, deterministic
      // farthest-point init, deterministic tie-breaks.
      annRecall(t(s, d, "embeddings"),
        (emb, qids) => Similarity.ivfTopK(emb, "vec_id", "embedding",
          qids, nLists = 16, nProbe = 4, k = 5))),

    // ---------------- multimodal binary columns (image/video; real
    // PNG/JPEG via javax.imageio + MPNG video + GIMG/GVID raw raster —
    // the generator emits the full format mix, see codec/Image)
    "mm_image_features" -> ((s, _) =>
      graft.operators.Multimodal.imageFeatures(
        graft.model.MediaGen.images(s, 2000L,
          partitions = s.sparkContext.defaultParallelism)).toDF()),
    "mm_resize" -> ((s, _) =>
      graft.operators.Multimodal.resize(
        graft.model.MediaGen.images(s, 1000L,
          partitions = s.sparkContext.defaultParallelism), 8, 8)
        .toDF().select(col("img_id"), col("width"), col("height"),
          col("channels"), col("format"), length(col("bytes")).as("n_bytes"))),
    "mm_video_frame_sample" -> ((s, _) =>
      graft.operators.Multimodal.sampleFrames(
        graft.model.MediaGen.videos(s, 500L,
          partitions = s.sparkContext.defaultParallelism), everyN = 4)
        .toDF().select(col("video_id"), col("frame_idx"), col("width"),
          col("height"), col("mean_brightness"))),

    // ---------------- text analysis (training-data ops)
    "text_tokens" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n_ws"),
        size(expr("regexp_extract_all(text, '\\\\w+|[^\\\\w\\\\s]', 0)"))
          .as("n_re"))),
    "text_quality" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        round(length(regexp_replace(col("text"), "[\\w\\s]+", ""))
          .cast("double") / length(col("text")), 4).as("punct_ratio"),
        round(length(regexp_replace(col("text"), "[^0-9]+", ""))
          .cast("double") / length(col("text")), 4).as("digit_ratio"),
        round(size(expr(
          "regexp_extract_all(lower(text), '\\\\b(the|and|of|to|in|a)\\\\b', 0)"))
          .cast("double") /
          size(split(trim(col("text")), "\\s+")), 4).as("stop_ratio"))),
    "text_langid_heuristic" -> ((s, d) => {
      val en = size(expr(
        "regexp_extract_all(lower(text), '\\\\b(the|and|of|is|was)\\\\b', 0)"))
      val fr = size(expr(
        "regexp_extract_all(lower(text), '\\\\b(le|la|les|et|des)\\\\b', 0)"))
      val de = size(expr(
        "regexp_extract_all(lower(text), '\\\\b(der|die|das|und|nicht)\\\\b', 0)"))
      t(s, d, "documents").select(col("doc_id"),
        when(en >= fr && en >= de, "en")
          .when(fr >= de, "fr").otherwise("de").as("pred_lang"))
    }),
    "text_fingerprint" -> ((s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        substring(md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))),
          1, 16).as("fp"))),
    "text_gopher" -> ((s, d) => {
      // Gopher quality-filter scalar rules (Rae et al. 2021, A1): word
      // count, mean word length, symbol-to-word ratio, alphabetic-word
      // fraction, required-stopword hits, fused keep decision. All
      // built-in Columns — whole-stage codegen, no UDF. The typed
      // pipeline twin (incl. line-repetition rules the flat corpus
      // can't exercise) is TextStats.gopher.
      val d0 = t(s, d, "documents").select(col("doc_id"), col("text"),
        split(trim(col("text")), "\\s+").as("ws"))
      val nW = size(col("ws")).cast("double")
      val sumLen = length(regexp_replace(trim(col("text")), "\\s+", ""))
      val hashCnt =
        length(col("text")) - length(regexp_replace(col("text"), "#", ""))
      val dotsCnt = (length(col("text")) -
        length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / lit(3)
      val ellCnt =
        length(col("text")) - length(regexp_replace(col("text"), "…", ""))
      val symbols = hashCnt + dotsCnt + ellCnt
      val alphaWords = size(expr("filter(ws, w -> w rlike '\\\\p{L}')"))
      val stopHits = size(array_intersect(
        expr("transform(ws, w -> lower(w))"),
        array(graft.lid.TextStats.GopherStopwords.map(lit): _*)))
      val meanLen = round(sumLen / nW, 4)
      val symRatio = round(symbols / nW, 4)
      val alphaFrac = round(alphaWords / nW, 4)
      d0.select(col("doc_id"),
        size(col("ws")).as("n_words"), meanLen.as("mean_word_len"),
        symRatio.as("symbol_ratio"), alphaFrac.as("alpha_word_frac"),
        stopHits.as("stop_hits"),
        // keep gate: paper thresholds are 50 ≤ words and ≥2 stopword
        // hits; the synthetic corpus is clip-transcript-sized and draws
        // from a vocab containing only "the", so the query instantiates
        // the gate at (10, ≥1) to exercise both outcomes — the operator
        // (TextStats.gopher) takes these as parameters
        (size(col("ws")).between(10, 100000) &&
          meanLen.between(3.0, 10.0) && symRatio <= 0.1 &&
          alphaFrac >= 0.8 && stopHits >= 1).as("keep"))
    }),
    "text_tfidf_topk" -> ((s, d) => {
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
    }),
    "quality_drift_monitor" -> ((s, d) => {
      // per-source drift monitor: each source's keep rate (under the
      // Gopher-style length gate) vs the corpus rate as a binomial
      // z-score; |z| > 3 flags a drifting source — the alert a
      // production quality filter pages on. Two tiny aggregates
      // (per-source + global), broadcast-crossed; nothing scans twice
      // at scale beyond the one pass producing both.
      val kept = t(s, d, "documents").select(col("source"),
        (col("n_chars") >= 150 && col("n_chars") <= 450).cast("long")
          .as("keep"))
      val per = kept.groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("keep")).as("kept"))
      val glob = kept.agg(
        (sum(col("keep")).cast("double") / count(lit(1))).as("g"))
      per.crossJoin(broadcast(glob))
        .withColumn("rate", round(col("kept").cast("double") / col("n"), 4))
        .withColumn("z", round(
          (col("kept").cast("double") / col("n") - col("g")) /
            sqrt(col("g") * (lit(1.0) - col("g")) / col("n")), 3))
        .select(col("source"), col("n"), col("kept"), col("rate"),
          col("z"), (abs(col("z")) > 3.0).as("drifting"))
    }),
    "f8_outlier_filter" -> ((s, d) => {
      // robust per-source outlier gate: keep docs whose length sits in
      // the [p05, p95] band of their OWN source (exact interpolated
      // percentiles — Spark `percentile` ≡ DuckDB `quantile_cont`).
      // Per-source bounds are a tiny aggregate broadcast back into a
      // narrow filter, same shape as the mixture sampler.
      val docs = t(s, d, "documents")
      val bounds = docs.groupBy(col("source"))
        .agg(expr("percentile(n_chars, 0.05)").as("lo"),
          expr("percentile(n_chars, 0.95)").as("hi"))
      docs.join(broadcast(bounds), "source")
        .filter(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),
    "j4_asof_join" -> ((s, d) => {
      // AS-OF join — the classic operator Spark lacks natively,
      // composed from existing ops per the preference order: tag both
      // event streams, ONE window pass per user carrying the last-seen
      // click forward (ties let the click win), filter to purchases.
      // One shuffle keyed by user_id, no range-condition theta join
      // (which Spark would execute as a broadcast nested loop). Oracle:
      // DuckDB's native ASOF LEFT JOIN on the same streams.
      val ev = t(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc,
          (col("event_type") === "purchase").cast("int").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val clickId = when(col("event_type") === "click", col("event_id"))
      val clickTs = when(col("event_type") === "click", col("ts"))
      ev.withColumn("click_id", last(clickId, ignoreNulls = true).over(w))
        .withColumn("click_ts", last(clickTs, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("click_id"),
          floor((unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("click_ts").cast("timestamp")))
            / lit(1000)).as("lag_ms"))
    }),
    "text_normalize_nfc" -> ((s, d) => {
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
    }),
    "a16_pivot" -> ((s, d) => {
      // source × language crosstab via the pivot operator (explicit
      // value list → no extra distinct pass; Catalyst rewrites to one
      // hash aggregate with CASE projections — same single-shuffle plan
      // as the CASE-based oracle SQL)
      t(s, d, "documents").groupBy(col("source"))
        .pivot("lang", Seq("en", "fr", "de", "es", "zh"))
        .agg(count(lit(1)))
        .na.fill(0L)
    }),
    "u2_approx_distinct" -> ((s, d) =>
      // HyperLogLog++ distinct-count sketch per source — at 10^12 rows
      // exact countDistinct means a full shuffle of the values; the
      // sketch merges fixed-size registers instead. Approximate →
      // rows-only; QueriesSpec bounds the error vs exact at 5%.
      t(s, d, "documents").groupBy(col("source"))
        .agg(approx_count_distinct(col("text"), 0.02).as("approx_texts"),
          count(lit(1)).as("rows"))),
    "u2_rows_exact" -> ((s, d) =>
      // the deterministic half of u2 split out so it gets a value
      // check: exact per-source row AND exact distinct-text counts
      // (one shuffle; the sketch column above stays bounded-only)
      t(s, d, "documents").groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("text")).as("n_texts"))),
    "u3_approx_quantiles" -> ((s, d) => {
      // t-digest-style quantile sketch (percentile_approx) for the
      // length distribution per source — same scale rationale as HLL.
      // Approximate → rows-only; QueriesSpec bounds drift vs exact.
      // ONE sketch pass feeds all three cut points; the array is then
      // flattened to scalar columns (q25/q50/q90) — array-valued output
      // is unhashable for the driver's row-compare harness.
      val qs = t(s, d, "documents").groupBy(col("source"))
        .agg(percentile_approx(col("n_chars"),
          array(lit(0.25), lit(0.5), lit(0.9)), lit(2000)).as("qs"))
      qs.select(col("source"), col("qs")(0).as("q25"),
        col("qs")(1).as("q50"), col("qs")(2).as("q90"))
    }),
    "u3_quantiles_exact" -> ((s, d) => {
      // EXACT per-source quantiles (sort-based `percentile`, linear
      // interpolation) — the value-checked companion to the sketch
      // above: same cut points, DuckDB oracle via quantile_cont. At
      // 10^12 rows you run the sketch; this is the per-partition-sized
      // exact tier (per-source groups) and the sketch's truth anchor.
      val qs = t(s, d, "documents").groupBy(col("source"))
        .agg(expr("percentile(n_chars, array(0.25D, 0.5D, 0.9D))").as("qs"))
      qs.select(col("source"),
        round(col("qs")(0), 4).as("q25"),
        round(col("qs")(1), 4).as("q50"),
        round(col("qs")(2), 4).as("q90"))
    }),
    "text_lang_segments" -> ((s, d) => {
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
          val wins = graft.lid.TextStats.charWindows(text)
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
    "text_compression_ratio" -> ((s, d) => {
      // Deflate ratio — the cheap entropy proxy for boilerplate/
      // repetition (compresses far below natural prose). Narrow map;
      // rows-only (no deflate in SQL), ordering proven in unit tests.
      import s.implicits._
      Dedup.fanOut(t(s, d, "documents").select(col("doc_id"), col("text")))
        .as[(Long, String)]
        .map { case (id, text) =>
          (id, graft.lid.TextStats.roundTo(
            graft.lid.TextStats.compressionRatio(text), 4))
        }.toDF("doc_id", "deflate_ratio")
    }),
    "quality_ppl_buckets" -> ((s, d) => {
      // CCNet-style perplexity bucketing (Wenzek et al. 2020): score
      // each doc with the char-LM, then ntile(3) per language →
      // head/middle/tail quality tiers, the split CCNet uses to select
      // training data. The LM rides the same broadcast as the pipeline
      // detectors; buckets are a windowed rank per language partition
      // (one shuffle keyed by lang — bounded cardinality). Rows-only
      // (the LM is not SQL-expressible); tier ordering proven below by
      // construction of ntile.
      import s.implicits._
      val bcLm = cachedBc(s, "charlm")(
        s.sparkContext.broadcast(graft.lid.LidModels.default.charLm))
      val scored = Dedup.fanOut(t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text")))
        .as[(Long, String, String)]
        .map { case (id, lang, text) =>
          (id, lang, graft.lid.TextStats.roundTo(
            bcLm.value.perplexity(text), 4))
        }.toDF("doc_id", "lang", "ppl")
      val win = Window.partitionBy(col("lang"))
        .orderBy(col("ppl").asc, col("doc_id").asc)
      scored.withColumn("nt", ntile(3).over(win))
        .withColumn("tier", when(col("nt") === 1, "head")
          .when(col("nt") === 2, "middle").otherwise("tail"))
        .drop("nt")
    }),
    "sample_mixture_balance" -> ((s, d) => {
      // language-mixture rebalancing: downsample every language to the
      // minority language's count (equal-share mixing, the step before
      // training-data interleave). Rates derive from a distributed
      // groupBy (tiny result, broadcast back); membership is the same
      // prime-modulus arithmetic hash as sample_stratified, in basis
      // points — deterministic on any engine, no global window (a
      // window over the whole table would serialize on one partition).
      val docs = t(s, d, "documents")
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
      val minc = counts.agg(min(col("cnt")).as("min_cnt"))
      val h = pmod(pmod((col("doc_id") % 100000L) * lit(2654435761L),
        lit(1000003L)), lit(10000))
      docs.join(broadcast(counts), "lang").crossJoin(broadcast(minc))
        .filter(h < floor(col("min_cnt") * lit(10000) / col("cnt")))
        .select(col("doc_id"), col("lang"), col("source"))
    }),
    "sample_temperature_mix" -> ((s, d) => {
      // temperature-flattened language mixing (T = 0.5): the
      // multilingual-LLM upsampling rule — keep rate ∝ (c_max/c_l)^T,
      // capped at 1, so minority languages are flattened TOWARD (not
      // all the way to) parity, unlike mixture_balance's hard
      // equal-share. Arithmetic is collision-safe across engines: no
      // cross-language float SUM (order-dependent rounding) — the rate
      // is one exactly-rounded sqrt per side and one divide, and
      // membership floors it into millionths against the same
      // prime-modulus hash as the other samplers.
      val docs = t(s, d, "documents")
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
      val maxc = counts.agg(max(col("cnt")).as("max_cnt"))
      val h = pmod(pmod((col("doc_id") % 100000L) * lit(2654435761L),
        lit(1000003L)), lit(1000000))
      val rate = least(lit(1.0),
        lit(0.2) * sqrt(col("max_cnt").cast("double")) /
          sqrt(col("cnt").cast("double")))
      docs.join(broadcast(counts), "lang").crossJoin(broadcast(maxc))
        .filter(h < floor(rate * lit(1000000)))
        .select(col("doc_id"), col("lang"), col("source"))
    }),
    "text_bpe_tokens" -> ((s, d) => {
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
          (id, n, graft.lid.TextStats.roundTo(
            if (n == 0) 0.0 else text.length.toDouble / n, 3))
        }.toDF("doc_id", "n_bpe", "chars_per_token")
    }),
    "pack_sequences" -> ((s, d) =>
      // greedy per-bucket sequence packing to a 512-token budget
      // (pretraining batch prep). Composition is pure arithmetic
      // (bucket = id mod 32, greedy in id order) so the DuckDB oracle
      // reproduces it exactly with a recursive CTE; invariants (full
      // coverage, budget respected, determinism) also in PackSpec.
      graft.operators.Pack.packDocuments(
        t(s, d, "documents"), "doc_id", "text", maxTokens = 512)
        .withColumn("doc_ids", concat_ws(",", col("doc_ids")))),
    "sample_stratified" -> ((s, d) => {
      // deterministic stratified downsampling — the source-rebalancing
      // op a training-data pipeline runs before mixing: src0 keeps 2%,
      // every other source 20%, decided by a pure arithmetic hash of
      // doc_id so the sample is reproducible on any engine and needs
      // no shuffle (narrow filter over the scan). The reduction goes
      // through a PRIME modulus first: ids here are structured
      // (doc_id ≡ source index mod 20), and (20k·C) mod 100 only hits
      // multiples of 20 — measured 20% retention on a "2%" stratum
      // before the prime step. C is invertible mod 1000003, so
      // structured ids equidistribute.
      val h = pmod(pmod((col("doc_id") % 100000L) * lit(2654435761L),
        lit(1000003L)), lit(100))
      val rate = when(col("source") === "src0", 2).otherwise(20)
      t(s, d, "documents").filter(h < rate)
        .select(col("doc_id"), col("source"), col("lang"))
    }),
    "text_gopher_top2gram" -> ((s, d) => {
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
          Option(graft.lid.TextStats.topBigram(text)).map { case (bg, c) =>
            (id, bg, c.toLong, graft.lid.TextStats.roundTo(
              c.toDouble * bg.length / text.length, 4))
          }
        }.toDF("doc_id", "top_bigram", "cnt", "top2gram_char_frac")
    }),

    // ---------------- clip pipeline stages (non-SQL; rows-only checks)
    "pipeline_stage1" -> ((s, _) => {
      val r = pipe(s)
      r.stage1.select(col("clip_id"), col("source"), col("len"),
        col("alphabetical_ratio"), col("ppl"), col("audio_ok"))
    }),
    "pipeline_decisions" -> ((s, _) => {
      val r = pipe(s)
      r.decisions.select(col("clip_id"), col("lg"), col("lg_decision"),
        col("keep"), col("drop_reason"))
    }),
    "pipeline_scrubbed" -> ((s, _) => {
      val r = pipe(s)
      r.scrubbed.toDF()
    }),
    "pipeline_metrics" -> ((s, _) => {
      val r = pipe(s)
      Pipeline.metrics(s, r.decisions).toDF()
        .select(col("partition_id"), col("source"), col("rows_in"),
          col("rows_out"))
    }),
    // ---------------- §2.9 cascade + stage-1b VALUE oracles: the two
    // flagship rule engines run over SQL-reproducible synthetic inputs
    // (SynthCascade — every field is integer arithmetic mod primes over
    // doc_id), so a DuckDB reimplementation of EL:603-808 / NS:388-599
    // pins rule order and every threshold against an independent engine.
    "cascade_decide" -> ((s, d) => {
      import s.implicits._
      val rows = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map(SynthCascade.row)
      Stage2(s, rows, SynthCascade.stats, SynthCascade.params)
        .select($"clip_id", $"source", $"lg", $"lg_decision",
          $"orig_lg", $"keep", $"drop_reason",
          size($"votes").as("n_votes"),
          // try_: ANSI element_at throws on the empty votes of the
          // non-voting decision codes
          try_element_at($"votes", lit(1)).getField("lang").as("top_lang"),
          try_element_at($"votes", lit(1)).getField("vote").as("top_vote"))
    }),
    "stage1b_stats" -> ((s, d) => {
      import s.implicits._
      val rows = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map(SynthCascade.row)
      Stage1b(s, rows).flatMap { st =>
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
    }),
    "stage1b_typedist" -> ((s, d) => {
      import s.implicits._
      val rows = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map(SynthCascade.row)
      Stage1b(s, rows).flatMap { st =>
        st.clip_type_distribution.toSeq.map { case (tp, c) =>
          (st.source, tp, c)
        }
      }.toDF("source", "clip_type", "cnt")
    }),
    "pipeline_audio_resample" -> ((s, _) => {
      // audio analog of mm_resize: decode -> RMS loudness normalization
      // (heterogeneous sources to one level) -> linear-interpolation
      // SRC to a target rate, all inside the same narrow mapPartitions
      // stage; rms_16k lands at the 6000 target for every voiced clip
      import s.implicits._
      Pipeline.clips(s, 1000L, partitions = 8).map { c =>
        val pcm = graft.codec.Audio.decode(c.codec, c.bytes)
        if (pcm == null) (c.clip_id, c.sr_hz, 0, 0, 0.0)
        else {
          val normed = graft.codec.Audio.normalizeRms(pcm, 6000.0)
          val re = graft.codec.Audio.resampleLinear(normed, c.sr_hz, 16000)
          (c.clip_id, c.sr_hz, pcm.length, re.length,
            graft.lid.TextStats.roundTo(graft.codec.Audio.rms(re), 1))
        }
      }.toDF("clip_id", "sr_hz", "n_in", "n_16k", "rms_16k")
    }),
    "pipeline_audio_features" -> ((s, _) => {
      // mapPartitions feature-extraction over the binary column: decode,
      // zero-crossing rate, RMS, peak, 4x frame downsample length
      import s.implicits._
      Pipeline.clips(s, 2000L, partitions = 8).map { c =>
        val pcm = graft.codec.Audio.decode(c.codec, c.bytes)
        (c.clip_id, c.codec, pcm != null,
          if (pcm == null) 0.0 else
            graft.lid.TextStats.roundTo(graft.codec.Audio.zeroCrossingRate(pcm), 4),
          if (pcm == null) 0.0 else
            graft.lid.TextStats.roundTo(graft.codec.Audio.rms(pcm), 1),
          if (pcm == null) 0 else graft.codec.Audio.peak(pcm),
          if (pcm == null) 0 else
            graft.codec.Audio.frameSample(pcm, 4).length,
          if (pcm == null) 0.0 else
            graft.lid.TextStats.roundTo(graft.codec.Audio.clipRatio(pcm), 4),
          if (pcm == null) 0.0 else
            graft.lid.TextStats.roundTo(graft.codec.Audio.dcOffset(pcm), 4))
      }.toDF("clip_id", "codec", "decoded", "zcr", "rms", "peak",
        "n_frames_4x", "clip_ratio", "dc_offset")
    }),
    "pipeline_audio_spectral" -> ((s, _) => {
      // FFT spectral features + energy VAD in the same narrow codec
      // stage: centroid/rolloff/flatness/bandwidth (radix-2 Cooley-
      // Tukey, codec/Fft) plus speech ratio and silence-trimmed length
      import s.implicits._
      val rt = (x: Double, n: Int) => graft.lid.TextStats.roundTo(x, n)
      Pipeline.clips(s, 1000L, partitions = 8).map { c =>
        val pcm = graft.codec.Audio.decode(c.codec, c.bytes)
        if (pcm == null)
          (c.clip_id, false, 0.0, 0.0, 0.0, 0.0, 0.0, 0, 0.0, 0.0)
        else {
          // ONE framing/FFT pass feeds every spectral stat (the separate
          // features/dominant/flux calls re-ran it three times per row)
          val sp = graft.codec.Fft.spectralBundle(pcm, c.sr_hz)
          val (ratio, from, until) = graft.codec.Fft.vad(pcm)
          (c.clip_id, true, rt(sp.centroidHz, 1), rt(sp.rolloffHz, 1),
            rt(sp.flatness, 4), rt(sp.bandwidthHz, 1),
            rt(ratio, 4), until - from,
            rt(sp.dominantHz, 1), rt(sp.flux, 4))
        }
      }.toDF("clip_id", "decoded", "centroid_hz", "rolloff_hz", "flatness",
        "bandwidth_hz", "speech_ratio", "voiced_samples", "dominant_hz",
        "spectral_flux")
    }),
    "pipeline_audio_chunks" -> ((s, _) => {
      // time-domain segmentation: explode each clip into 1 s windows
      // with 0.5 s hop (the training-data prep for fixed-length audio
      // models) — a narrow flatMap, chunk rows carry offsets so the
      // original is reconstructible; per-chunk RMS + active flag feed
      // chunk-level filtering
      import s.implicits._
      Pipeline.clips(s, 500L, partitions = 8).flatMap { c =>
        val pcm = graft.codec.Audio.decode(c.codec, c.bytes)
        if (pcm == null) Iterator.empty
        else {
          val win = c.sr_hz; val hop = c.sr_hz / 2
          val starts = 0 until math.max(1, pcm.length - win + 1) by hop
          starts.iterator.map { st =>
            val seg = java.util.Arrays.copyOfRange(pcm, st,
              math.min(pcm.length, st + win))
            val r = graft.codec.Audio.rms(seg)
            (c.clip_id, st / hop, st * 1000L / c.sr_hz,
              seg.length, graft.lid.TextStats.roundTo(r, 1),
              r / 32768.0 > 0.01)
          }
        }
      }.toDF("clip_id", "chunk_idx", "start_ms", "n_samples", "rms",
        "active")
    }),
    "pipeline_audio_mel" -> ((s, _) => {
      // log-mel + MFCC in the narrow codec stage (the standard speech
      // feature front end; O'Shaughnessy mel scale + orthonormal DCT-II)
      import s.implicits._
      val rt = (x: Double, n: Int) => graft.lid.TextStats.roundTo(x, n)
      Pipeline.clips(s, 1000L, partitions = 8).map { c =>
        val pcm = graft.codec.Audio.decode(c.codec, c.bytes)
        val lm = if (pcm == null) null
          else graft.codec.Fft.logMel(pcm, c.sr_hz)
        if (lm == null) (c.clip_id, false, 0, 0.0, 0.0, 0.0)
        else {
          val mf = graft.codec.Fft.mfcc(lm)
          (c.clip_id, true, lm.indices.maxBy(lm(_)),
            rt(mf(0), 3), rt(mf(1), 3), rt(mf(2), 3))
        }
      }.toDF("clip_id", "decoded", "peak_mel", "c0", "c1", "c2")
    }))

  def oracleSql: Map[String, String] = Map(
    // §2.9 decision cascade (EL:603-808) as a from-scratch DuckDB CASE
    // cascade over SynthCascade's synthetic rows + fixed per-source
    // stats. Every threshold (0.75 trust / 0.5 minProb / 0.5 minVote /
    // 0.5 alpha / 0.90 dominance / 20 len), the rule ORDER
    // (undecodable → all → all-but-impresso_ft → dominant-by-len →
    // degenerate → lowvote → voting), the vote arithmetic
    // ((prob·support)·penalty·lbWeight folded in system order), the
    // s3 lb veto, and the keep/drop gate order are pinned: flip any one
    // and this row goes red.
    "cascade_decide" ->
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
          FROM gated""",
    // Stage-1b aggregate bundle (NS:388-599) — boost-iff-≥2 (score 1.5
    // only when a lang has ≥2 voters and the voter is impresso_ft /
    // orig_lg), tie-kill, the denominator-=-n quirk (dist = cnt/n for
    // ALL systems, NS:583-585), per-(lid,lang) lg_support, A12 dominant
    // with deterministic tie-break, A9/A10 orig-support accounting.
    "stage1b_stats" ->
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
          JOIN orig o USING (source)""",
    // A1 clip-type census over ALL rows (undecodable / silent / clip).
    "stage1b_typedist" ->
      s"""WITH $synthRowsSql
          SELECT source,
            CASE WHEN NOT audio_ok THEN 'undecodable'
                 WHEN rms = 0.0 THEN 'silent'
                 ELSE 'clip' END AS clip_type,
            count(*) AS cnt
          FROM base GROUP BY 1, 2""",
    "p1_alpha_ratio" ->
      """SELECT doc_id, round(length(regexp_replace(text, '[^\p{L}]+', '', 'g')) / CAST(length(text) AS DOUBLE), 4) AS alpha_ratio FROM documents""",
    "p2_base_info" ->
      "SELECT doc_id, length(text) AS len, lang AS orig_lg, source FROM documents",
    "p5_id_parse" ->
      "SELECT doc_id, CAST(substr(source, 4, 10) AS INTEGER) AS src_num FROM documents",
    "f1_valid_gate" ->
      """SELECT doc_id, (n_chars >= 20 AND length(regexp_replace(text, '[^\p{L}]+', '', 'g')) / CAST(length(text) AS DOUBLE) >= 0.5) AS valid FROM documents""",
    "f4_stats_filter" ->
      """SELECT doc_id FROM documents WHERE length(regexp_replace(text, '[^\p{L}]+', '', 'g')) / CAST(length(text) AS DOUBLE) >= 0.5 AND n_chars * (length(regexp_replace(text, '[^\p{L}]+', '', 'g')) / CAST(length(text) AS DOUBLE)) >= 200""",
    "a1_type_dist" ->
      "SELECT source, count(*) AS cnt FROM documents GROUP BY source",
    "a2_len_hist" ->
      "SELECT CAST(floor(n_chars / 50.0) AS BIGINT) AS bucket, count(*) AS cnt FROM documents GROUP BY 1",
    "a4_lang_dist" ->
      "SELECT source, lang, cnt, round(CAST(cnt AS DOUBLE) / CAST(sum(cnt) OVER (PARTITION BY source) AS DOUBLE), 4) AS relfreq FROM (SELECT source, lang, count(*) AS cnt FROM documents GROUP BY 1, 2) x",
    "a12_dominant" ->
      "SELECT source, lang AS dominant_lang, cnt FROM (SELECT source, lang, count(*) AS cnt, row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, lang ASC) AS rn FROM documents GROUP BY 1, 2) x WHERE rn = 1",
    "a9_disagreement" ->
      s"SELECT lang || '->' || $predSql AS key, count(*) AS cnt FROM documents WHERE $predSql <> lang GROUP BY 1",
    "a15_eval_accuracy" ->
      s"""WITH j AS (SELECT lang, $predSql AS pred FROM documents),
          per AS (SELECT lang AS gold_lg, CAST(SUM(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS correct, count(*) AS total FROM j GROUP BY 1),
          a AS (SELECT '_ALL_' AS gold_lg, CAST(SUM(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS correct, count(*) AS total FROM j)
          SELECT gold_lg, correct, total, round(CAST(correct AS DOUBLE) / total, 4) AS accuracy FROM (SELECT * FROM per UNION ALL SELECT * FROM a) u""",
    "a15_per_item" ->
      s"SELECT doc_id, $predSql AS pred, lang AS gold_lg, ($predSql = lang) AS correct FROM documents",
    "a15_rollup" ->
      s"""SELECT coalesce(lang, '_ALL_') AS gold_lg,
          CAST(SUM(CASE WHEN pred = lang0 THEN 1 ELSE 0 END) AS BIGINT) AS correct,
          count(*) AS total
          FROM (SELECT lang AS lang0, lang, $predSql AS pred FROM documents) x
          GROUP BY ROLLUP(lang)""",
    "dedup_embedding_cosine" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
          an AS (SELECT vec_id AS a, vec AS va FROM v WHERE vec_id % 10 = 0)
          SELECT a, vec_id AS b,
            round(list_dot_product(va, vec) / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vec, vec))), 4) AS sim
          FROM v CROSS JOIN an WHERE a < vec_id
            AND round(list_dot_product(va, vec) / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vec, vec))), 4) >= 0.4""",
    "sim_norms" ->
      "SELECT vec_id, label, round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4) AS norm FROM embeddings",
    "t5_top_disagreements" ->
      s"SELECT lang || '->' || $predSql AS key, count(*) AS cnt FROM documents WHERE $predSql <> lang GROUP BY 1 ORDER BY cnt DESC, key ASC LIMIT 5",
    "u1_distinct_langs" ->
      "SELECT source, array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs FROM documents GROUP BY source",
    "u2_rows_exact" ->
      "SELECT source, count(*) AS n_rows, count(DISTINCT text) AS n_texts FROM documents GROUP BY source",
    "u3_quantiles_exact" ->
      "SELECT source, round(quantile_cont(n_chars, 0.25), 4) AS q25, round(quantile_cont(n_chars, 0.5), 4) AS q50, round(quantile_cont(n_chars, 0.9), 4) AS q90 FROM documents GROUP BY source",
    "q1_agg" ->
      "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, round(sum(l_extendedprice), 2) AS sum_base_price, round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, round(avg(l_discount), 4) AS avg_disc, count(*) AS count_order FROM lineitem GROUP BY 1, 2",
    "q6_selective_agg" ->
      "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n FROM lineitem WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24",
    "q3_revenue_topk" ->
      "SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2 ORDER BY revenue DESC, o_orderkey ASC LIMIT 10",
    "q5_region_revenue" ->
      "SELECT r_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY 1",
    "q14_promo_share" ->
      "SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0 END) / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct, count(*) AS n FROM lineitem JOIN part ON l_partkey = p_partkey",
    "q_supplier_nation" ->
      "SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n_items FROM lineitem JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey GROUP BY 1",
    "j1_broadcast_join" ->
      "SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1",
    "j2_semi_join" ->
      "SELECT o_orderstatus, count(*) AS cnt FROM orders WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45) GROUP BY 1",
    "j2_anti_join_resume" ->
      "SELECT source, count(*) AS n_unprocessed FROM documents d WHERE NOT EXISTS (SELECT 1 FROM documents p WHERE p.doc_id % 3 = 0 AND p.doc_id = d.doc_id) GROUP BY 1",
    "w1_running_sum" ->
      "SELECT o_orderkey, o_custkey, round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running FROM orders WHERE o_custkey < 100",
    "w2_topn_per_key" ->
      "SELECT o_custkey, rn, o_orderkey, price FROM (SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders WHERE o_custkey < 200) x WHERE rn <= 2",
    "e1_tumbling_window" ->
      "SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt, round(sum(value), 2) AS val FROM events GROUP BY 1, 2",
    "e2_sessionize" ->
      """WITH x AS (SELECT user_id, epoch_us(ts) AS us, lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev FROM events WHERE user_id < 100)
         SELECT user_id, CAST(SUM(CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions, count(*) AS n_events FROM x GROUP BY 1""",
    "e3_json_extract" ->
      "SELECT event_id, json_extract_string(props, '$.k') AS k FROM events",
    "dedup_exact" -> // null/blank texts key by own id (never co-cluster)
      s"""SELECT CASE WHEN length(${normTextSql("text")}) > 0
            THEN md5(${normTextSql("text")})
            ELSE 'empty:' || doc_id END AS text_md5,
          min(doc_id) AS keeper_id, count(*) AS n_docs
          FROM documents GROUP BY 1""",
    "dedup_ngram_jaccard" ->
      s"""WITH docs AS (SELECT doc_id, ${normTextSql("text")} AS t FROM documents),
          sh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 3) AS s FROM docs, generate_series(1, 2000) g(i) WHERE i <= greatest(length(t) - 2, 1)),
          rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
          pr AS (SELECT doc_id, s FROM sh JOIN rare USING (s)),
          sz AS (SELECT doc_id, count(*) AS sz FROM pr GROUP BY 1),
          pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common FROM pr x JOIN pr y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
          SELECT a, b, round(CAST(common AS DOUBLE) / (za.sz + zb.sz - common), 4) AS jaccard
          FROM pairs JOIN sz za ON za.doc_id = a JOIN sz zb ON zb.doc_id = b
          WHERE round(CAST(common AS DOUBLE) / (za.sz + zb.sz - common), 4) >= 0.5""",
    "dedup_text_keep" ->
      s"""WITH RECURSIVE
          docs AS (SELECT doc_id, ${normTextSql("text")} AS t FROM documents),
          sh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 8) AS s
                 FROM docs, generate_series(1, 2000) g(i)
                 WHERE length(t) > 0 AND i <= greatest(length(t) - 7, 1)),
          rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 200),
          pr AS (SELECT doc_id, s FROM sh JOIN rare USING (s)),
          sz AS (SELECT doc_id, count(*) AS sz FROM pr GROUP BY 1),
          cand AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
                   FROM pr x JOIN pr y ON x.s = y.s AND x.doc_id < y.doc_id
                   GROUP BY 1, 2),
          pairs AS (SELECT a, b FROM cand
                    JOIN sz za ON za.doc_id = a JOIN sz zb ON zb.doc_id = b
                    WHERE round(CAST(common AS DOUBLE) / (za.sz + zb.sz - common), 4) >= 0.5),
          edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
          reach(id, lab) AS (
            SELECT a AS id, a AS lab FROM edges
            UNION
            SELECT r.id, e.b AS lab FROM reach r JOIN edges e ON e.a = r.lab),
          labels AS (SELECT id, min(lab) AS label FROM reach GROUP BY id)
          SELECT d.doc_id AS id, coalesce(l.label, d.doc_id) AS label,
                 (coalesce(l.label, d.doc_id) = d.doc_id) AS keep
          FROM documents d LEFT JOIN labels l ON l.id = d.doc_id""",
    "curate_corpus" ->
      s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 29 <> 0),
          keep1 AS (SELECT min(doc_id) AS doc_id FROM corpus
                    GROUP BY CASE WHEN length(${normTextSql("text")}) > 0
                      THEN md5(${normTextSql("text")})
                      ELSE 'empty:' || doc_id END),
          dd AS (SELECT c.* FROM corpus c JOIN keep1 USING (doc_id)),
          bsh AS (SELECT DISTINCT substr(t, CAST(i AS INT), 10) AS shingle
                  FROM (SELECT ${normTextSql("text")} AS t FROM documents
                        WHERE doc_id % 29 = 0) b, generate_series(1, 2000) g(i)
                  WHERE length(t) > 0 AND i <= greatest(length(t) - 9, 1)),
          dsh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 10) AS shingle
                  FROM (SELECT doc_id, ${normTextSql("text")} AS t FROM dd) x,
                       generate_series(1, 2000) g(i)
                  WHERE length(t) > 0 AND i <= greatest(length(t) - 9, 1)),
          tot2 AS (SELECT doc_id, count(*) AS total FROM dsh GROUP BY 1),
          hit2 AS (SELECT doc_id, count(*) AS hits FROM dsh JOIN bsh USING (shingle) GROUP BY 1),
          flag AS (SELECT doc_id FROM hit2 JOIN tot2 USING (doc_id)
                   WHERE round(CAST(hits AS DOUBLE) / total, 4) >= 0.6),
          clean AS (SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM flag)),
          w AS (SELECT doc_id, lang, source, text,
                  regexp_split_to_array(trim(text), '\\s+') AS ws FROM clean),
          g2 AS (SELECT doc_id, lang, source, len(ws) AS n_words,
            round(length(regexp_replace(trim(text), '\\s+', '', 'g')) / CAST(len(ws) AS DOUBLE), 4) AS mean_word_len,
            round(((length(text) - length(replace(text, '#', ''))) + (length(text) - length(replace(text, '...', ''))) / 3 + (length(text) - length(replace(text, '…', '')))) / CAST(len(ws) AS DOUBLE), 4) AS symbol_ratio,
            round(len(list_filter(ws, w -> regexp_matches(w, '\\p{L}'))) / CAST(len(ws) AS DOUBLE), 4) AS alpha_word_frac,
            len(list_intersect(list_transform(ws, w -> lower(w)), ['the','be','to','of','and','that','have','with'])) AS stop_hits
          FROM w)
          SELECT doc_id, lang, source, n_words FROM g2
          WHERE n_words BETWEEN 10 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
            AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8 AND stop_hits >= 1""",
    "text_decontaminate" -> decontaminateOracleSql,
    // identical oracle by design — see the query's scaladoc: hashed
    // mode must be value-identical to the unhashed semantics
    "text_decontaminate_hashed" -> decontaminateOracleSql,
    "dedup_repeated_spans" ->
      // true winnowing: every 8-window of hash positions selects its
      // RIGHTMOST minimum. Key = md5hex || lpad(100000-pos): min(key)
      // over the window IS the rightmost-min (smaller 100000-pos =
      // larger pos breaks hash ties rightward), and the winning key
      // encodes the selected position directly. wcnt = least(8, npos)
      // keeps exactly the complete windows (plus the one truncated
      // window of a doc with fewer than 8 positions — mirroring the
      // Scala g = min(guarantee, n) clamp).
      s"""WITH docs AS (SELECT doc_id, ${normTextSql("text")} AS t FROM documents),
          w AS (SELECT doc_id, CAST(i AS INT) AS pos, substr(t, CAST(i AS INT), 40) AS span
                FROM docs, generate_series(1, 2000) g(i)
                WHERE length(t) >= 40 AND i <= length(t) - 39),
          h AS (SELECT doc_id, pos, md5(span) || lpad(CAST(100000 - pos AS VARCHAR), 6, '0') AS k FROM w),
          m AS (SELECT doc_id,
                  min(k) OVER win AS wk,
                  count(*) OVER win AS wcnt,
                  count(*) OVER (PARTITION BY doc_id) AS npos
                FROM h
                WINDOW win AS (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)),
          sel AS (SELECT DISTINCT doc_id, 100000 - CAST(substr(wk, 33) AS INT) AS pos
                  FROM m WHERE wcnt = least(8, npos)),
          sp AS (SELECT DISTINCT s.doc_id, w.span
                 FROM sel s JOIN w ON w.doc_id = s.doc_id AND w.pos = s.pos)
          SELECT span, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS first_doc
          FROM sp GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""",
    "dedup_simhash" ->
      // bit-for-bit DuckDB reproduction of Dedup.simHash64 (see
      // simhashSigSql), then exact all-pairs hamming ≤ 3 via xor +
      // bit_count — quadratic, viable only at oracle scale; pigeonhole
      // guarantees it equals the multi-table candidate set after the
      // hamming filter. Validated value-for-value at sf0.01/sf0.1.
      s"""WITH $simhashSigSql
          SELECT a.doc_id AS a, b.doc_id AS b,
            CAST(bit_count(xor(a.sh64, b.sh64)) AS INTEGER) AS hamming
          FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.sh64, b.sh64)) <= 3""",
    "dedup_simhash_star" ->
      // star mode is bucket-DEPENDENT (each member pairs only with its
      // table-bucket minimum), so unlike the all-pairs row this oracle
      // must reproduce the Manku multi-table keys themselves: the 64
      // bits split [11,11,11,11,10,10], one table per 3-subset of the 6
      // blocks (C(6,3) = 20, factors precomputed in simhashStarTables),
      // key = fold of the subset's blocks. Candidates = per-(table,key)
      // min paired with every other member, distinct, exact-hamming
      // verified — pinning tableKeys, the per-table min choice and the
      // star pairing against an independent engine.
      s"""WITH $simhashSigSql,
          tbls AS (SELECT * FROM (VALUES $simhashStarTables)
                   t(tbl, dx, mx, fx, dy, my, fy, dz, mz)),
          keys AS (
            SELECT s.doc_id, t.tbl,
              ((s.sh64 // t.dx) % t.mx) * t.fx
                + ((s.sh64 // t.dy) % t.my) * t.fy
                + ((s.sh64 // t.dz) % t.mz) AS ck
            FROM sig s CROSS JOIN tbls t),
          m AS (SELECT tbl, ck, min(doc_id) AS a FROM keys GROUP BY tbl, ck),
          cand AS (
            SELECT DISTINCT m.a, k.doc_id AS b
            FROM keys k JOIN m ON m.tbl = k.tbl AND m.ck = k.ck
              AND k.doc_id > m.a)
          SELECT c.a, c.b,
            CAST(bit_count(xor(sa.sh64, sb.sh64)) AS INTEGER) AS hamming
          FROM cand c
          JOIN sig sa ON sa.doc_id = c.a
          JOIN sig sb ON sb.doc_id = c.b
          WHERE bit_count(xor(sa.sh64, sb.sh64)) <= 3""",
    "dedup_minhash_lsh" ->
      // Full bit-for-bit reproduction of Dedup.minHashLsh's k-perm
      // path: splitmix64 (Golden increment + finalizer, 32-bit-split
      // wrapping multiplies) generates the SAME permutation params
      // (a_j, b_j from mix(2j+1)/mix(2j+2), masked to the low 63 bits
      // — `& Long.MaxValue` on the Scala side, `% 2^63` here) and
      // multilinear bucket coefficients (mix(1000003+i)); FNV-1a 64
      // per 5-gram shingle; sig_j = min (a_j·x + b_j) mod P over the
      // 61-bit Mersenne prime (the 122-bit products fit HUGEINT
      // natively — no multiplyHigh gymnastics needed); band bucket =
      // Σ c_i·v_i mod P; candidates join on (band, bucket); estimate =
      // equal-slot fraction. Validated value-identical vs the Scala
      // path at sf0.01 and sf0.1.
      minhashKpermOracleSql(
        """SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM bk x JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
             AND x.doc_id < y.doc_id"""),
    "dedup_minhash_lsh_star" ->
      // identical pipeline, ONE swapped CTE: candidates = each bucket
      // member paired with its bucket minimum (starPairs semantics)
      minhashKpermOracleSql(
        """SELECT DISTINCT m.a, y.doc_id AS b
           FROM bk y JOIN (SELECT band, bucket, min(doc_id) AS a
                           FROM bk GROUP BY band, bucket) m
             ON m.band = y.band AND m.bucket = y.bucket
               AND y.doc_id > m.a"""),
    "dedup_minhash_oph" ->
      // Bit-for-bit reproduction of the OPH path (signatureOph):
      // per distinct 5-gram shingle, h = FNV-1a 64; per band,
      // b = splitmixFIN(h XOR (band+1)·Golden) (finalizer only — no
      // Golden increment, matching Mix.fin), bin = (b mod 2^63) mod 4,
      // slot value v = (b·0xff51afd7ed558ccd mod 2^64) mod 2^63, min
      // per bin; empty bins densify from the nearest non-empty bin in
      // the same band (cyclic, +d·FNVprime distance tag — the COALESCE
      // encodes increasing d exactly); multilinear Mersenne buckets and
      // the slot-agreement estimate as in the k-perm oracle.
      s"""WITH cm1 AS (
            SELECT j, (1000003 + j + 11400714819323198485)::HUGEINT % 18446744073709551616 AS x1
            FROM generate_series(0, 63) g(j)),
          cm2 AS (SELECT j,
            ((xor(x1, x1 // 1073741824) % 4294967296) * 13787848793156543929
             + (((xor(x1, x1 // 1073741824) // 4294967296) * 13787848793156543929) % 4294967296) * 4294967296)
            % 18446744073709551616 AS x2 FROM cm1),
          cm3 AS (SELECT j,
            ((xor(x2, x2 // 134217728) % 4294967296) * 10723151780598845931
             + (((xor(x2, x2 // 134217728) // 4294967296) * 10723151780598845931) % 4294967296) * 4294967296)
            % 18446744073709551616 AS x3 FROM cm2),
          coefs AS (SELECT j,
            ((xor(x3, x3 // 2147483648) % 9223372036854775808)
              % 2305843009213693950) + 1 AS c
            FROM cm3),
          docs AS (
            SELECT doc_id, ${normTextSql("text")} AS t FROM documents
            WHERE length(trim(coalesce(text, ''))) > 0),
          sh AS (
            SELECT DISTINCT doc_id,
              CASE WHEN length(t) < 5 THEN t ELSE substr(t, CAST(i AS INT), 5) END AS s
            FROM docs, generate_series(1, 2000) g(i)
            WHERE i <= greatest(length(t) - 4, 1)),
          hx AS (
            SELECT doc_id, list_reduce(
              list_prepend(14695981039346656037::HUGEINT,
                list_transform(generate_series(1, length(s)),
                  i -> unicode(substr(s, i, 1))::HUGEINT)),
              (acc, x) -> (((xor(acc, x)) % 4294967296) * 1099511628211
                + ((((xor(acc, x)) // 4294967296) * 1099511628211) % 4294967296)
                  * 4294967296) % 18446744073709551616) AS h
            FROM sh),
          hb0 AS (
            SELECT doc_id, band,
              xor(h, ((band + 1)::HUGEINT * 11400714819323198485) % 18446744073709551616) AS z0
            FROM hx, generate_series(0, 15) g(band)),
          hb1 AS (SELECT doc_id, band,
            ((xor(z0, z0 // 1073741824) % 4294967296) * 13787848793156543929
             + (((xor(z0, z0 // 1073741824) // 4294967296) * 13787848793156543929) % 4294967296) * 4294967296)
            % 18446744073709551616 AS z1 FROM hb0),
          hb2 AS (SELECT doc_id, band,
            ((xor(z1, z1 // 134217728) % 4294967296) * 10723151780598845931
             + (((xor(z1, z1 // 134217728) // 4294967296) * 10723151780598845931) % 4294967296) * 4294967296)
            % 18446744073709551616 AS z2 FROM hb1),
          hb3 AS (SELECT doc_id, band, xor(z2, z2 // 2147483648) AS b FROM hb2),
          binv AS (
            SELECT doc_id, band,
              CAST((b % 9223372036854775808) % 4 AS INT) AS bin,
              ((b % 4294967296) * 18397679294719823053
               + (((b // 4294967296) * 18397679294719823053) % 4294967296) * 4294967296)
              % 18446744073709551616 % 9223372036854775808 AS v
            FROM hb3),
          mins AS (
            SELECT doc_id, band, bin, min(v) AS v FROM binv GROUP BY 1, 2, 3),
          piv AS (
            SELECT doc_id, band,
              [min(CASE WHEN bin = 0 THEN v END), min(CASE WHEN bin = 1 THEN v END),
               min(CASE WHEN bin = 2 THEN v END), min(CASE WHEN bin = 3 THEN v END)] AS arr
            FROM mins GROUP BY 1, 2),
          sig AS (
            SELECT doc_id, band * 4 + j AS j,
              COALESCE(arr[j + 1],
                arr[((j + 1) % 4) + 1] + 1099511628211,
                arr[((j + 2) % 4) + 1] + 2 * 1099511628211,
                arr[((j + 3) % 4) + 1] + 3 * 1099511628211) AS v
            FROM piv, generate_series(0, 3) g(j)),
          bk AS (
            SELECT doc_id, s.j // 4 AS band,
              sum((c.c * ((s.v % 18446744073709551616) % 9223372036854775808 % 2305843009213693951))
                  % 2305843009213693951) % 2305843009213693951 AS bucket
            FROM sig s JOIN coefs c USING (j) GROUP BY doc_id, s.j // 4),
          cand AS (
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM bk x JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
              AND x.doc_id < y.doc_id),
          eq AS (
            SELECT c.a, c.b, sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) AS neq
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.a
            JOIN sig sb ON sb.doc_id = c.b AND sb.j = sa.j
            GROUP BY c.a, c.b)
          SELECT a, b, round(neq / 64.0, 4) AS est_jaccard
          FROM eq WHERE round(neq / 64.0, 4) >= 0.5""",
    "dedup_embedding_lsh" ->
      // Exact reproduction of embeddingCosineLsh(planes=8, multiProbe):
      // the a-side probes every bucket within hamming 1 of its own and
      // joins b's exact bucket, so the candidate set is precisely
      // {a<b : bit_count(bucket_a XOR bucket_b) <= 1} (see
      // embeddingLshBucketsSql for the shared plane/bucket CTEs).
      (embeddingLshBucketsSql + """
          SELECT a, b, sim FROM (
            SELECT x.vec_id AS a, y.vec_id AS b,
              round(list_dot_product(x.vec, y.vec) /
                (sqrt(list_dot_product(x.vec, x.vec)) * sqrt(list_dot_product(y.vec, y.vec))), 4) AS sim
            FROM c x JOIN c y ON x.vec_id < y.vec_id
              AND bit_count(xor(x.bucket, y.bucket)) <= 1)
          WHERE sim >= 0.4"""),
    "dedup_embedding_lsh_star" ->
      // same planes/buckets (embeddingLshBucketsSql), star candidates:
      // per-bucket minimal id paired with every vector whose probe ball
      // (own bucket + hamming-1 neighbors) contains that bucket —
      // exactly {(x, m): m = min(bucket B), hamming(bucket_x, B) <= 1,
      // x != m}, least/greatest-normalized and distinct like the Scala
      // dropDuplicates
      (embeddingLshBucketsSql + """,
          mins AS (SELECT bucket AS mb, min(vec_id) AS mid
                   FROM c GROUP BY bucket)
          SELECT p.a, p.b,
            round(list_dot_product(ca.vec, cb.vec) /
              (sqrt(list_dot_product(ca.vec, ca.vec))
               * sqrt(list_dot_product(cb.vec, cb.vec))), 4) AS sim
          FROM (
            SELECT DISTINCT least(x.vec_id, m.mid) AS a,
                            greatest(x.vec_id, m.mid) AS b
            FROM c x JOIN mins m
              ON bit_count(xor(x.bucket, m.mb)) <= 1
                AND x.vec_id <> m.mid) p
          JOIN c ca ON ca.vec_id = p.a
          JOIN c cb ON cb.vec_id = p.b
          WHERE round(list_dot_product(ca.vec, cb.vec) /
              (sqrt(list_dot_product(ca.vec, ca.vec))
               * sqrt(list_dot_product(cb.vec, cb.vec))), 4) >= 0.4"""),
    "dedup_minhash_verified" ->
      s"""WITH docs AS (SELECT doc_id, ${normTextSql("text")} AS t FROM documents),
          sh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 5) AS s FROM docs, generate_series(1, 2000) g(i) WHERE i <= greatest(length(t) - 4, 1)),
          sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
          pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id GROUP BY 1, 2)
          SELECT a, b, round(CAST(common AS DOUBLE) / (za.sz + zb.sz - common), 4) AS jaccard
          FROM pairs JOIN sz za ON za.doc_id = a JOIN sz zb ON zb.doc_id = b
          WHERE round(CAST(common AS DOUBLE) / (za.sz + zb.sz - common), 4) >= 0.8""",
    "dedup_components" ->
      // edges live inside one block of 10 ids (a%10<=2, b=a+1), and doc
      // ids are contiguous, so each block's nodes form one component
      // whose label is the partition min
      """WITH e AS (SELECT a.doc_id AS a, b.doc_id AS b FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id % 10 <= 2),
         n AS (SELECT DISTINCT id FROM (SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e) u)
         SELECT id, min(id) OVER (PARTITION BY CAST(floor(id / 10) AS BIGINT)) AS label FROM n""",
    "sim_topk_bruteforce" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
          q AS (SELECT vec_id AS qid, vec AS qvec FROM v WHERE vec_id < 5),
          scored AS (SELECT qid, vec_id AS vid,
            round(list_dot_product(qvec, vec) / (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(vec, vec))), 4) AS sim
            FROM v CROSS JOIN q WHERE vec_id <> qid),
          ranked AS (SELECT qid, vid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vid ASC) AS rank FROM scored)
          SELECT qid, rank, vid, sim FROM ranked WHERE rank <= 5""",
    "sim_ann_lsh_recall" ->
      // Full independent reproduction of the sign-sketch LSH ANN: the
      // splitmix64 hyperplane components (Mix.mix = Golden increment +
      // Steele-Lea-Flood finalizer, done in HUGEINT mod-2^64 arithmetic
      // with 32-bit-split wrapping multiplies — same technique as the
      // dedup_simhash oracle), sign bucketing over 6 planes, in-bucket
      // exact re-rank, then recall@5 against DuckDB's own brute-force
      // top-k. Hash-compares the ANN tier's VALUES, not just row shape.
      """WITH pd AS (
            SELECT p, d, (p::HUGEINT * 4294967296 + d + 11400714819323198485) % 18446744073709551616 AS x1
            FROM generate_series(0, 5) gp(p), generate_series(0, 63) gd(d)),
          m2 AS (SELECT p, d,
            ((xor(x1, x1 // 1073741824) % 4294967296) * 13787848793156543929
             + (((xor(x1, x1 // 1073741824) // 4294967296) * 13787848793156543929) % 4294967296) * 4294967296)
            % 18446744073709551616 AS x2 FROM pd),
          m4 AS (SELECT p, d,
            ((xor(x2, x2 // 134217728) % 4294967296) * 10723151780598845931
             + (((xor(x2, x2 // 134217728) // 4294967296) * 10723151780598845931) % 4294967296) * 4294967296)
            % 18446744073709551616 AS x3 FROM m2),
          comp AS (SELECT p, d,
            (CASE WHEN xor(x3, x3 // 2147483648) >= 9223372036854775808
                  THEN xor(x3, x3 // 2147483648) - 18446744073709551616
                  ELSE xor(x3, x3 // 2147483648) END)::DOUBLE / 9223372036854775807 AS c
            FROM m4),
          planes AS (SELECT p, list(c ORDER BY d) AS pv FROM comp GROUP BY p),
          v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
          bk AS (SELECT vec_id, sum(CASE WHEN list_dot_product(vec, pv) >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
                 FROM v CROSS JOIN planes GROUP BY vec_id),
          c AS (SELECT v.vec_id, vec, bucket FROM v JOIN bk USING (vec_id)),
          q AS (SELECT vec_id AS qid, vec AS qvec, bucket AS qb FROM c WHERE vec_id < 5),
          scored AS (SELECT qid, c.vec_id AS vid,
              round(list_dot_product(qvec, vec) / (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(vec, vec))), 4) AS sim
            FROM c JOIN q ON c.bucket = q.qb AND c.vec_id <> q.qid),
          lsh AS (SELECT qid, vid FROM (SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vid ASC) AS rank FROM scored) WHERE rank <= 5),
          brute AS (
            SELECT qid, vid FROM (
              SELECT q2.qid, v.vec_id AS vid,
                row_number() OVER (PARTITION BY q2.qid ORDER BY round(list_dot_product(q2.qvec, v.vec) / (sqrt(list_dot_product(q2.qvec, q2.qvec)) * sqrt(list_dot_product(v.vec, v.vec))), 4) DESC, v.vec_id ASC) AS rank
              FROM v CROSS JOIN (SELECT vec_id AS qid, vec AS qvec FROM v WHERE vec_id < 5) q2
              WHERE v.vec_id <> q2.qid) WHERE rank <= 5)
          SELECT b.qid, round(sum(CASE WHEN l.vid IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 4) AS recall_at_5
          FROM brute b LEFT JOIN lsh l ON b.qid = l.qid AND b.vid = l.vid
          GROUP BY b.qid""",
    "pack_sequences" ->
      // exact reproduction of Pack.packSequences: token count = ws
      // split (0 for null/blank), bucket = doc_id mod 32, greedy
      // packing per bucket in id order via a sequential recursive CTE
      // (acc resets whenever adding the doc would exceed the budget;
      // an oversize doc therefore forms a singleton pack).
      """WITH RECURSIVE d AS (
           SELECT doc_id,
                  CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                       ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
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
         FROM p GROUP BY pack_id""",
    "text_tokens" ->
      """SELECT doc_id, length(regexp_split_to_array(trim(text), '\s+')) AS n_ws, length(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_re FROM documents""",
    "text_quality" ->
      """SELECT doc_id,
          round(length(regexp_replace(text, '[\w\s]+', '', 'g')) / CAST(length(text) AS DOUBLE), 4) AS punct_ratio,
          round(length(regexp_replace(text, '[^0-9]+', '', 'g')) / CAST(length(text) AS DOUBLE), 4) AS digit_ratio,
          round(length(regexp_extract_all(lower(text), '\b(the|and|of|to|in|a)\b')) / CAST(length(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 4) AS stop_ratio
          FROM documents""",
    "text_gopher" ->
      """WITH w AS (SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
          g AS (SELECT doc_id,
            len(ws) AS n_words,
            round(length(regexp_replace(trim(text), '\s+', '', 'g')) / CAST(len(ws) AS DOUBLE), 4) AS mean_word_len,
            round(((length(text) - length(replace(text, '#', ''))) + (length(text) - length(replace(text, '...', ''))) / 3 + (length(text) - length(replace(text, '…', '')))) / CAST(len(ws) AS DOUBLE), 4) AS symbol_ratio,
            round(len(list_filter(ws, w -> regexp_matches(w, '\p{L}'))) / CAST(len(ws) AS DOUBLE), 4) AS alpha_word_frac,
            len(list_intersect(list_transform(ws, w -> lower(w)), ['the','be','to','of','and','that','have','with'])) AS stop_hits
          FROM w)
          SELECT *, (n_words BETWEEN 10 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0 AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8 AND stop_hits >= 1) AS keep FROM g""",
    "text_tfidf_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term FROM documents),
          tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
          df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
          n AS (SELECT count(DISTINCT doc_id) AS n FROM tok),
          sc AS (SELECT doc_id, t.term, round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 4) AS score FROM tf t JOIN df USING (term) CROSS JOIN n),
          r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank FROM sc)
          SELECT doc_id, rank, term, score FROM r WHERE rank <= 3""",
    "quality_drift_monitor" ->
      """WITH k AS (SELECT source, CASE WHEN n_chars BETWEEN 150 AND 450 THEN 1 ELSE 0 END AS keep FROM documents),
          per AS (SELECT source, count(*) AS n, CAST(sum(keep) AS BIGINT) AS kept FROM k GROUP BY 1),
          g AS (SELECT sum(keep) / CAST(count(*) AS DOUBLE) AS g FROM k)
          SELECT source, n, kept, round(kept / CAST(n AS DOUBLE), 4) AS rate,
            round((kept / CAST(n AS DOUBLE) - g) / sqrt(g * (1 - g) / n), 3) AS z,
            (abs((kept / CAST(n AS DOUBLE) - g) / sqrt(g * (1 - g) / n)) > 3.0) AS drifting
          FROM per CROSS JOIN g""",
    "f8_outlier_filter" ->
      """WITH b AS (SELECT source, quantile_cont(n_chars, 0.05) AS lo, quantile_cont(n_chars, 0.95) AS hi FROM documents GROUP BY 1)
          SELECT doc_id, source, n_chars FROM documents JOIN b USING (source)
          WHERE n_chars >= lo AND n_chars <= hi""",
    "j4_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
          c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
          SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
            (epoch_us(p.ts) - epoch_us(c.ts)) // 1000 AS lag_ms
          FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""",
    "text_normalize_nfc" ->
      """SELECT doc_id, nfc_normalize(text) AS text_nfc, (nfc_normalize(text) <> text) AS changed FROM documents""",
    "a16_pivot" ->
      """SELECT source,
          CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
          CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
          CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
          CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
          CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
          FROM documents GROUP BY source""",
    "sample_mixture_balance" ->
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
          m AS (SELECT min(cnt) AS min_cnt FROM c)
          SELECT doc_id, lang, source FROM documents JOIN c USING (lang) CROSS JOIN m
          WHERE (((doc_id % 100000) * 2654435761) % 1000003) % 10000 < (min_cnt * 10000) // cnt""",
    "sample_stratified" ->
      """SELECT doc_id, source, lang FROM documents
          WHERE (((doc_id % 100000) * 2654435761) % 1000003) % 100 < (CASE WHEN source = 'src0' THEN 2 ELSE 20 END)""",
    "sample_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
          m AS (SELECT max(cnt) AS max_cnt FROM c)
          SELECT doc_id, lang, source FROM documents JOIN c USING (lang) CROSS JOIN m
          WHERE (((doc_id % 100000) * 2654435761) % 1000003) % 1000000
            < floor(least(1.0, 0.2 * sqrt(CAST(max_cnt AS DOUBLE)) / sqrt(CAST(cnt AS DOUBLE))) * 1000000)""",
    "text_gopher_top2gram" ->
      """WITH w AS (SELECT doc_id, length(text) AS n, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 2),
          b AS (SELECT doc_id, n, unnest(list_transform(generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i + 1])) AS bg FROM w),
          c AS (SELECT doc_id, n, bg, count(*) AS cnt FROM b GROUP BY 1, 2, 3),
          r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bg ASC) AS rn FROM c)
          SELECT doc_id, bg AS top_bigram, cnt, round(cnt * length(bg) / CAST(n AS DOUBLE), 4) AS top2gram_char_frac FROM r WHERE rn = 1""",
    "text_langid_heuristic" ->
      """SELECT doc_id, CASE
          WHEN length(regexp_extract_all(lower(text), '\b(the|and|of|is|was)\b')) >= length(regexp_extract_all(lower(text), '\b(le|la|les|et|des)\b'))
           AND length(regexp_extract_all(lower(text), '\b(the|and|of|is|was)\b')) >= length(regexp_extract_all(lower(text), '\b(der|die|das|und|nicht)\b')) THEN 'en'
          WHEN length(regexp_extract_all(lower(text), '\b(le|la|les|et|des)\b')) >= length(regexp_extract_all(lower(text), '\b(der|die|das|und|nicht)\b')) THEN 'fr'
          ELSE 'de' END AS pred_lang FROM documents""",
    "text_fingerprint" ->
      s"SELECT doc_id, substr(md5(${normTextSql("text")}), 1, 16) AS fp FROM documents")
}
