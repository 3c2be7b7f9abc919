package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.AudioGen
import graft.operators.Dedup

/** Dedup and decontamination queries (training-data ops): exact,
  * n-gram Jaccard, MinHash (k-perm and OPH), SimHash, winnowing,
  * components and keep policy over `documents`; the embedding tiers over
  * `embeddings`; audio near-dup and fingerprint tiers over generated
  * clips; and the composed curation chain. */
object DedupQueries extends Queries {

  /** The deterministic doc_id % 29 slice as an eval-suite stand-in:
    * (training side, benchmark side). */
  private def benchSplit(docs: DataFrame): (DataFrame, DataFrame) =
    (docs.filter(col("doc_id") % 29 =!= 0), docs.filter(col("doc_id") % 29 === 0))

  /** Exact Jaccard over the distinct n-char shingles of the normalized
    * text (`Dedup.ngramJaccard`), for every doc pair sharing a shingle;
    * shingles in more than `maxDf` docs are pruned first. Docs must
    * satisfy `cond`. Ends in CTE `jac(a, b, jaccard)`. */
  private def jaccardCtes(n: Int, maxDf: Option[Int],
      cond: String = "TRUE"): String = {
    val prune = maxDf.fold("") { df =>
      s"""rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $df),
          pr AS (SELECT doc_id, s FROM sh JOIN rare USING (s)),"""
    }
    val set = if (maxDf.isDefined) "pr" else "sh"
    s"""docs AS (SELECT doc_id, ${Sql.normText("text")} AS t FROM documents),
        sh AS (${Sql.shingles("docs", n, cond = cond)}),
        $prune
        sz AS (SELECT doc_id, count(*) AS sz FROM $set GROUP BY 1),
        pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
                  FROM $set x JOIN $set y ON x.s = y.s AND x.doc_id < y.doc_id
                  GROUP BY 1, 2),
        jac AS (SELECT a, b, round(CAST(common AS DOUBLE) / (za.sz + zb.sz - common), 4) AS jaccard
                FROM pairs JOIN sz za ON za.doc_id = a JOIN sz zb ON zb.doc_id = b)"""
  }

  /** `Dedup.decontaminate` at n = 10: distinct 10-char shingles of
    * `train(doc_id, t)` and of `bench(t)` (non-empty texts), then per
    * training doc its shingle count `tot(doc_id, total)` and its hits on
    * the benchmark set `hit(doc_id, hits)`. */
  private val decontaminateCtes: String =
    s"""bsh AS (${Sql.shingles("bench", 10, keep = "", cond = "length(t) > 0")}),
        dsh AS (${Sql.shingles("train", 10, cond = "length(t) > 0")}),
        tot AS (SELECT doc_id, count(*) AS total FROM dsh GROUP BY 1),
        hit AS (SELECT doc_id, count(*) AS hits FROM dsh JOIN bsh USING (s) GROUP BY 1)"""

  /** The one oracle of `text_decontaminate` and
    * `text_decontaminate_hashed` (see the latter). */
  private val decontaminateOracle: String =
    s"""WITH docs AS (SELECT doc_id, ${Sql.normText("text")} AS t FROM documents),
        bench AS (SELECT t FROM docs WHERE doc_id % 29 = 0),
        train AS (SELECT doc_id, t FROM docs WHERE doc_id % 29 <> 0),
        $decontaminateCtes
        SELECT h.doc_id AS id, hits, total,
               round(CAST(hits AS DOUBLE) / total, 4) AS rate
        FROM hit h JOIN tot USING (doc_id) WHERE hits >= 1"""

  private val P = "2305843009213693951" // the Mersenne prime 2^61 - 1

  /** Full bit-for-bit reproduction of `Dedup.minHashLsh` at n = 5, 64
    * hashes in 16 bands, threshold 0.5: FNV-1a 64 `hx(doc_id, h)` of every
    * distinct 5-gram shingle; the signature `sig(doc_id, j, v)` from
    * `sigCtes`; band bucket = Σ c_j·v_j mod P with the multilinear
    * coefficients c_j = mix(1000003 + j) (v reduced by `slot`);
    * candidate pairs from the `cand` CTE body; estimate = equal-slot
    * fraction. */
  private def minhashOracle(sigCtes: String, slot: String, cand: String): String =
    s"""WITH ${Sql.splitmix("cm", "j", "(1000003 + j)::HUGEINT", "generate_series(0, 63) g(j)")},
        coefs AS (SELECT j, (z % 9223372036854775808) % 2305843009213693950 + 1 AS c FROM cm),
        docs AS (
          SELECT doc_id, ${Sql.normText("text")} AS t FROM documents
          WHERE length(trim(coalesce(text, ''))) > 0),
        sh AS (${Sql.shingles("docs", 5)}),
        hx AS (SELECT doc_id, ${Sql.fnv1a64("s")} AS h FROM sh),
        $sigCtes,
        bk AS (
          SELECT doc_id, s.j // 4 AS band,
            sum((c.c * $slot) % $P) % $P AS bucket
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

  /** The k-perm signature: splitmix64 generates the permutation params
    * (a_j, b_j from mix(2j+1)/mix(2j+2), masked to the low 63 bits —
    * `& Long.MaxValue` on the Scala side, `% 2^63` here); sig_j = min
    * (a_j·x + b_j) mod P over the shingle hashes x (mod 2^63, mod P) —
    * the 122-bit products fit HUGEINT natively. */
  private val kpermSig: String =
    s"""seeds AS (
          SELECT 'a' AS kind, j, 2*j + 1 AS x0 FROM generate_series(0, 63) g(j)
          UNION ALL SELECT 'b', j, 2*j + 2 FROM generate_series(0, 63) g(j)),
        ${Sql.splitmix("pm", "kind, j", "CAST(x0 AS HUGEINT)", "seeds")},
        perms AS (
          SELECT pa.j, (pa.z % 9223372036854775808) % 2305843009213693950 + 1 AS a,
            (pb.z % 9223372036854775808) % $P AS b
          FROM pm pa JOIN pm pb ON pa.j = pb.j AND pa.kind = 'a' AND pb.kind = 'b'),
        hp AS (SELECT doc_id, (h % 9223372036854775808) % $P AS x FROM hx),
        sig AS (
          SELECT doc_id, p.j, min((p.a * hp.x + p.b) % $P) AS v
          FROM hp CROSS JOIN perms p GROUP BY doc_id, p.j)"""

  /** Candidates: every pair sharing a (band, bucket). */
  private val allPairsCand =
    """SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       FROM bk x JOIN bk y ON x.band = y.band AND x.bucket = y.bucket
         AND x.doc_id < y.doc_id"""

  /** Shared CTE prefix of the two simhash oracle rows: normalized
    * 4-gram shingles, FNV-1a 64 per shingle, ±1 sign votes per bit →
    * `sig(doc_id, sh64)`. */
  private val simhashSig: String =
    s"""docs AS (
          SELECT doc_id, ${Sql.normText("text")} AS t FROM documents
          WHERE length(trim(text)) > 0),
        sh AS (${Sql.shingles("docs", 4)}),
        h AS (SELECT doc_id, ${Sql.fnv1a64("s")} AS h FROM sh),
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

  val all: Seq[Query] = Seq(
    query("dedup_exact", (s, d) => Dedup.exact(t(s, d, "documents"), "doc_id", "text"),
      s"""SELECT ${Sql.exactKey} AS text_md5,
          min(doc_id) AS keeper_id, count(*) AS n_docs
          FROM documents GROUP BY 1"""),
    query("dedup_ngram_jaccard", (s, d) => Dedup.ngramJaccard(
      t(s, d, "documents"), "doc_id", "text", n = 3, threshold = 0.5, maxShingleDf = 100L),
      s"""WITH ${jaccardCtes(3, Some(100))}
          SELECT a, b, jaccard FROM jac WHERE jaccard >= 0.5"""),
    query("dedup_text_keep", (s, d) => {
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
    },
      s"""WITH RECURSIVE
          ${jaccardCtes(8, Some(200), "length(t) > 0")},
          dup AS (SELECT a, b FROM jac WHERE jaccard >= 0.5),
          edges AS (SELECT a, b FROM dup UNION SELECT b, a FROM dup),
          reach(id, lab) AS (
            SELECT a AS id, a AS lab FROM edges
            UNION
            SELECT r.id, e.b AS lab FROM reach r JOIN edges e ON e.a = r.lab),
          labels AS (SELECT id, min(lab) AS label FROM reach GROUP BY id)
          SELECT d.doc_id AS id, coalesce(l.label, d.doc_id) AS label,
                 (coalesce(l.label, d.doc_id) = d.doc_id) AS keep
          FROM documents d LEFT JOIN labels l ON l.id = d.doc_id"""),
    query("curate_corpus", (s, d) => {
      // END-TO-END curation chain — the composed form of the training-
      // data workflow, value-exact through every stage: exact dedup
      // (keep min-id per normalized text) → benchmark decontamination
      // (drop docs sharing any 10-shingle with the doc_id % 29 eval
      // slice) → Gopher scalar quality gate (same instantiation as
      // text_gopher). Each stage is individually oracle-checked; this
      // query pins their COMPOSITION against one composed DuckDB oracle.
      val (corpus, bench) = benchSplit(t(s, d, "documents"))
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
      val g = new TextQueries.Gopher
      cleaned.select(col("doc_id"), col("lang"), col("source"),
        col("text"), TextQueries.words.as("ws"))
        .filter(g.keep)
        .select(col("doc_id"), col("lang"), col("source"),
          g.nWords.cast("long").as("n_words"))
    },
      s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 29 <> 0),
          keep1 AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY ${Sql.exactKey}),
          dd AS (SELECT c.* FROM corpus c JOIN keep1 USING (doc_id)),
          bench AS (SELECT ${Sql.normText("text")} AS t FROM documents WHERE doc_id % 29 = 0),
          train AS (SELECT doc_id, ${Sql.normText("text")} AS t FROM dd),
          $decontaminateCtes,
          flag AS (SELECT doc_id FROM hit JOIN tot USING (doc_id)
                   WHERE round(CAST(hits AS DOUBLE) / total, 4) >= 0.6),
          clean AS (SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM flag)),
          w AS (SELECT doc_id, lang, source, text, ${Sql.words} AS ws FROM clean),
          g AS (SELECT doc_id, lang, source, ${Sql.gopherMetrics} FROM w)
          SELECT doc_id, lang, source, n_words FROM g WHERE ${Sql.gopherKeep}"""),
    query("text_decontaminate", (s, d) => {
      // benchmark = the deterministic doc_id % 29 slice (an eval-suite
      // stand-in); training side = everything else. Flags training docs
      // sharing any 10-char shingle with the benchmark.
      val (train, bench) = benchSplit(t(s, d, "documents"))
      Dedup.decontaminate(train, bench, "doc_id", "text", n = 10, minHits = 1)
    }, decontaminateOracle),
    query("text_decontaminate_hashed", (s, d) => {
      // same contract as text_decontaminate but through the
      // production-broadcast path (xxhash64 join keys, ~5x smaller
      // broadcast). The oracle is the SAME engine-independent SQL as
      // the unhashed row: hashed mode is DEFINED to be value-identical
      // up to 64-bit collisions (~1e-10 per 10^5-shingle benchmark), so
      // a green row pins the whole hashed path — shingling, hashing
      // symmetry, join, counters — against DuckDB; a collision or any
      // asymmetry between the two xxhash64 applications flips it red.
      val (train, bench) = benchSplit(t(s, d, "documents"))
      Dedup.decontaminate(train, bench, "doc_id", "text", n = 10,
        minHits = 1, hashed = true)
    }, decontaminateOracle),
    query("dedup_minhash_lsh", (s, d) =>
      // oracle-checked VALUE-exact: every stage (FNV-1a shingle hash,
      // Mersenne k-perm signatures, multilinear band buckets, candidate
      // join, slot-agreement estimate) is pure integer arithmetic the
      // DuckDB oracle reproduces bit-for-bit in HUGEINT
      Dedup.minHashLsh(t(s, d, "documents"), "doc_id", "text",
        n = 5, numHashes = 64, bands = 16, threshold = 0.5),
      // Validated value-identical vs the Scala path at sf0.01 and sf0.1.
      minhashOracle(kpermSig, "s.v", allPairsCand)),
    query("dedup_minhash_lsh_star", (s, d) =>
      // the clique-safe candidate mode, VALUE-pinned like its all-pairs
      // twin: identical signatures/buckets/estimates, and the oracle
      // swaps ONE CTE — candidates = each bucket member paired with its
      // bucket minimum (starPairs semantics) — so a regression in star
      // pairing itself (not just its downstream keep behavior) flips an
      // engine-independent check
      Dedup.minHashLsh(t(s, d, "documents"), "doc_id", "text",
        n = 5, numHashes = 64, bands = 16, threshold = 0.5,
        pairMode = "star"),
      minhashOracle(kpermSig, "s.v",
        """SELECT DISTINCT m.a, y.doc_id AS b
           FROM bk y JOIN (SELECT band, bucket, min(doc_id) AS a
                           FROM bk GROUP BY band, bucket) m
             ON m.band = y.band AND m.bucket = y.bucket
               AND y.doc_id > m.a""")),
    query("dedup_minhash_oph", (s, d) =>
      // one-permutation-hashing scale path — oracle-checked VALUE-exact
      // like the k-perm tier
      Dedup.minHashLsh(t(s, d, "documents"), "doc_id", "text",
        n = 5, numHashes = 64, bands = 16, threshold = 0.5, oph = true),
      // Bit-for-bit reproduction of the OPH path (signatureOph): per
      // distinct 5-gram shingle and band, b = splitmixFIN(h XOR
      // (band+1)·Golden) (finalizer only — no Golden increment,
      // matching Mix.fin), bin = (b mod 2^63) mod 4, slot value v =
      // (b·0xff51afd7ed558ccd mod 2^64) mod 2^63, min per bin; empty
      // bins densify from the nearest non-empty bin in the same band
      // (cyclic, +d·FNVprime distance tag — the COALESCE encodes
      // increasing d exactly); multilinear Mersenne buckets and the
      // slot-agreement estimate as in the k-perm oracle.
      minhashOracle(
        s"""${Sql.splitmixFin("hb", "doc_id, band",
              "xor(h, ((band + 1)::HUGEINT * 11400714819323198485) % 18446744073709551616)",
              "hx, generate_series(0, 15) g(band)")},
          binv AS (
            SELECT doc_id, band,
              CAST((z % 9223372036854775808) % 4 AS INT) AS bin,
              ${Sql.mulMod64("z", "18397679294719823053")} % 9223372036854775808 AS v
            FROM hb),
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
            FROM piv, generate_series(0, 3) g(j))""",
        s"((s.v % 18446744073709551616) % 9223372036854775808 % $P)",
        allPairsCand)),
    query("dedup_minhash_verified", (s, d) =>
      // sketch-generated candidates, exact-Jaccard verified — the one
      // approximate dedup tier whose OUTPUT is value-exact, so it's
      // oracle-checked against DuckDB's all-pairs exact Jaccard (the
      // oracle is quadratic and only viable at test scale; the Spark
      // side verifies only O(n·bands) bucket-mates)
      Dedup.minHashLshVerified(t(s, d, "documents"), "doc_id", "text",
        n = 5, numHashes = 64, bands = 16,
        candidateThreshold = 0.5, threshold = 0.8),
      s"""WITH ${jaccardCtes(5, None)}
          SELECT a, b, jaccard FROM jac WHERE jaccard >= 0.8"""),
    query("dedup_repeated_spans", (s, d) =>
      // cross-document repeated spans via winnowing fingerprints
      // (MOSS selection rule) — the distributed form of exact substring
      // dedup; md5-based selection so the DuckDB oracle reproduces the
      // winnow bit-for-bit (value-exact compare)
      Dedup.repeatedSpans(t(s, d, "documents"), "doc_id", "text",
        window = 40, guarantee = 8, minDocs = 2),
      // true winnowing: every 8-window of hash positions selects its
      // RIGHTMOST minimum. Key = md5hex || lpad(100000-pos): min(key)
      // over the window IS the rightmost-min (smaller 100000-pos =
      // larger pos breaks hash ties rightward), and the winning key
      // encodes the selected position directly. wcnt = least(8, npos)
      // keeps exactly the complete windows (plus the one truncated
      // window of a doc with fewer than 8 positions — mirroring the
      // Scala g = min(guarantee, n) clamp).
      s"""WITH docs AS (SELECT doc_id, ${Sql.normText("text")} AS t FROM documents),
          w AS (SELECT doc_id, CAST(i AS INT) AS pos, substr(t, CAST(i AS INT), 40) AS span
                FROM ${Sql.windows("docs", 40, "length(t) >= 40")}),
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
          FROM sp GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2"""),
    query("dedup_components", (s, d) => {
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
    },
      // edges live inside one block of 10 ids (a%10<=2, b=a+1), and doc
      // ids are contiguous, so each block's nodes form one component
      // whose label is the partition min
      """WITH e AS (SELECT a.doc_id AS a, b.doc_id AS b FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id % 10 <= 2),
         n AS (SELECT DISTINCT id FROM (SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e) u)
         SELECT id, min(id) OVER (PARTITION BY CAST(floor(id / 10) AS BIGINT)) AS label FROM n"""),
    query("dedup_simhash", (s, d) =>
      // chunks=6: the Manku multi-table scheme (20 tables × 32-bit
      // keys) — candidates stay ~linear at 10^9+ docs where the old
      // single-16-bit-chunk keys went quadratic. The output is exact
      // (scheme-independent: candidates verified with exact hamming,
      // recall guaranteed by pigeonhole), so the oracle is a
      // bit-for-bit reproduction of simhash64 (simhashSig) and then
      // exact ALL-pairs hamming ≤ 3 via xor + bit_count — quadratic,
      // viable only at oracle scale; the Spark side touches only
      // bucket-mates. Validated value-for-value at sf0.01/sf0.1.
      Dedup.simHash(t(s, d, "documents"), "doc_id", "text",
        n = 4, maxHamming = 3, chunks = 6),
      s"""WITH $simhashSig
          SELECT a.doc_id AS a, b.doc_id AS b,
            CAST(bit_count(xor(a.sh64, b.sh64)) AS INTEGER) AS hamming
          FROM sig a JOIN sig b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.sh64, b.sh64)) <= 3"""),
    query("dedup_simhash_star", (s, d) =>
      // clique-safe candidate mode, VALUE-pinned. Star mode is
      // bucket-DEPENDENT (each member pairs only with its table-bucket
      // minimum), so unlike the all-pairs row (whose oracle can sidestep
      // bucketing via pigeonhole) this oracle reproduces the 20 Manku
      // keys themselves (simhashStarTables), then pairs each
      // per-(table,key) min with every other member, distinct,
      // exact-hamming verified — pinning tableKeys' block fold, the
      // per-table min choice and the star pairing against an
      // independent engine.
      Dedup.simHash(t(s, d, "documents"), "doc_id", "text",
        n = 4, maxHamming = 3, chunks = 6, pairMode = "star"),
      s"""WITH $simhashSig,
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
          WHERE bit_count(xor(sa.sh64, sb.sh64)) <= 3"""),

    // ---------------- embedding tiers
    query("dedup_embedding_cosine", (s, d) => Dedup.embeddingCosine(
      t(s, d, "embeddings"), "vec_id", "embedding", threshold = 0.4, anchorMod = 10L),
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
          an AS (SELECT vec_id AS a, vec AS va FROM v WHERE vec_id % 10 = 0)
          SELECT a, vec_id AS b, ${Sql.cosine("va", "vec")} AS sim
          FROM v CROSS JOIN an WHERE a < vec_id
            AND ${Sql.cosine("va", "vec")} >= 0.4"""),
    query("dedup_embedding_lsh", (s, d) =>
      // full-corpus scale path. NOTE on the 0.4 threshold: sign-sketch
      // buckets are designed for NEAR-DUP similarity (cos ≈ 1, where
      // sketches differ ≤1 bit and multi-probe guarantees recall —
      // DedupSpec proves it on planted copies); at cos 0.4 the per-pair
      // bucket-collision probability is (1 - θ/π)^planes ≈ 0.03, and
      // measured recall vs the exact all-pairs set is 8/59 at sf0.01 —
      // the sketch is a low-recall sampler down there BY DESIGN. That
      // sampling is DETERMINISTIC (splitmix planes + sign buckets +
      // hamming-1 probe), so the DuckDB oracle reproduces the exact
      // candidate set and output — the tier is value-exact, low recall
      // and all.
      Dedup.embeddingCosineLsh(t(s, d, "embeddings"), "vec_id",
        "embedding", dim = 64, threshold = 0.4, planes = 8),
      // Exact reproduction of embeddingCosineLsh(planes=8, multiProbe):
      // the a-side probes every bucket within hamming 1 of its own and
      // joins b's exact bucket, so the candidate set is precisely
      // {a<b : bit_count(bucket_a XOR bucket_b) <= 1}.
      s"""WITH ${Sql.signBuckets(8, dropNull = true)}
          SELECT a, b, sim FROM (
            SELECT x.vec_id AS a, y.vec_id AS b, ${Sql.cosine("x.vec", "y.vec")} AS sim
            FROM c x JOIN c y ON x.vec_id < y.vec_id
              AND bit_count(xor(x.bucket, y.bucket)) <= 1)
          WHERE sim >= 0.4"""),
    query("dedup_embedding_lsh_star", (s, d) =>
      // star candidates: each probing vector pairs only with the
      // minimal id of each exact bucket within hamming 1 of its own. The
      // oracle reproduces the same planes/buckets, the bucket minima and
      // the probe ball — exactly {(x, m): m = min(bucket B),
      // hamming(bucket_x, B) <= 1, x != m}, least/greatest-normalized and
      // distinct like the Scala dropDuplicates — so the O(n·planes)
      // candidate rule itself is engine-checked
      Dedup.embeddingCosineLsh(t(s, d, "embeddings"), "vec_id",
        "embedding", dim = 64, threshold = 0.4, planes = 8,
        pairMode = "star"),
      s"""WITH ${Sql.signBuckets(8, dropNull = true)},
          mins AS (SELECT bucket AS mb, min(vec_id) AS mid
                   FROM c GROUP BY bucket)
          SELECT p.a, p.b, ${Sql.cosine("ca.vec", "cb.vec")} AS sim
          FROM (
            SELECT DISTINCT least(x.vec_id, m.mid) AS a,
                            greatest(x.vec_id, m.mid) AS b
            FROM c x JOIN mins m
              ON bit_count(xor(x.bucket, m.mb)) <= 1
                AND x.vec_id <> m.mid) p
          JOIN c ca ON ca.vec_id = p.a
          JOIN c cb ON cb.vec_id = p.b
          WHERE ${Sql.cosine("ca.vec", "cb.vec")} >= 0.4"""),

    // ---------------- audio tiers (generated clips; rows-only)
    query("dedup_audio_neardup", (s, _) =>
      // audio near-dup: normalized band-energy vectors, peak-band
      // buckets (±1 multi-probe), exact cosine verify. Corpus plants
      // one volume-scaled, re-noised copy per 10th clip; the operator
      // must pair (k*10, n+k) without an all-pairs waveform compare.
      // Rows-only here; recall proven in DedupSpec.
      Dedup.audioNearDup(AudioGen.dedupCorpus(s, 2000L), "id", "bytes", "codec")),
    query("dedup_audio_fingerprint", (s, _) =>
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
      Dedup.audioFingerprintMatch(AudioGen.melodyCorpus(s, 1000L),
        "id", "bytes", "codec", minMatches = 12, maxHashDf = 16)),
    query("dedup_audio_keep", (s, _) => {
      // full audio dedup composed end-to-end: near-dup pairs →
      // connected components → one keeper per duplicate cluster
      // (min id), singletons kept — the same keep-policy tier the text
      // dedups feed. Rows-only; component/keeper semantics oracle-
      // checked via dedup_components and DedupSpec.
      val corpus = AudioGen.dedupCorpus(s, 500L)
      val pairs = Dedup.audioNearDup(corpus, "id", "bytes", "codec")
      Dedup.keepPolicy(corpus, "id", pairs)
    }))
}
