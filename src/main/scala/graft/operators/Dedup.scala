package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for a 100 TB training-data pipeline, over any
  * table with (id, text) columns. Text tiers, cheapest first:
  *
  *  1. [[exact]] — hash-groupBy on a text digest. One shuffle keyed by
  *     the digest; at scale the digest (16 bytes) shuffles, never the
  *     text (column pruning keeps text out of the exchange).
  *  2. [[ngramJaccard]] — exact Jaccard over char shingles via an
  *     inverted shingle index (explode → self-join on shingle →
  *     common-count). Document-frequency pruning caps the join fan-out:
  *     stop-shingles (df > maxShingleDf) are dropped, which is what keeps
  *     the self-join from going quadratic on boilerplate at scale.
  *  3. [[minHashLsh]] — MinHash signatures + banded LSH. Signature is
  *     computed row-locally (one pass over shingles, k-perm or OPH);
  *     candidates come from (band, [[bandBucket]]) buckets — only
  *     bucket-mates join, so the shuffle is O(n·bands), not O(n²).
  *  4. [[simHash]] — 64-bit SimHash with hamming-ball candidate search
  *     via [[hammingPairs]]' multi-table keys, by default chunks = 6:
  *     20 tables × 32-bit keys (any pair within hamming distance 3
  *     shares at least one table key by pigeonhole).
  *
  * Beside them: [[repeatedSpans]], [[decontaminate]], the embedding and
  * audio tiers, and [[components]]/[[keepPolicy]]. The pair tiers
  * return PAIRS (a < b) so callers choose their keep policy; [[exact]]
  * also returns the keeper directly.
  */
object Dedup {

  private def normText(c: Column): Column =
    lower(regexp_replace(trim(c), "\\s+", " "))

  /** Plan-observability hook (guide §1/§7.2): the eager tiers
    * (localCheckpoint inside the operator) return a computed RDD scan,
    * so their INTERESTING physical plan — exchanges, join strategy —
    * is gone by the time a caller can explain() the result. With
    * `-Dgraft.explain.capture=true` each eager tier records the
    * formatted plan of the frame it is about to materialize; plain runs
    * pay one boolean system-property check. Drained by BenchExtra's
    * explain mode. */
  private[graft] val capturedPlans =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  private[graft] def capturePlan(tag: String, df: DataFrame): DataFrame = {
    if (java.lang.Boolean.getBoolean("graft.explain.capture"))
      capturedPlans.add(tag -> df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    df
  }
  private[graft] def drainCapturedPlans(): Seq[(String, String)] =
    drain(capturedPlans)
  private def drain[T](q: java.util.Queue[T]): Seq[T] =
    Iterator.continually(q.poll()).takeWhile(_ != null).toSeq

  /** Scale-adaptive fan-out for the expensive row-local stages (guide
    * §2.2/§2.5 "input skew": one huge unsplittable file → repartition
    * immediately after the read). Parquet can only split at row-group
    * boundaries, so a small input (one row group — the bench fixtures,
    * or any compacted shard) plans as ONE scan task and every per-row
    * shingle/signature/FFT pass serializes on a single core no matter
    * how many the cluster has. When the planned scan has fewer
    * partitions than `defaultParallelism`, round-robin repartition to
    * the core count — the shuffled bytes are by construction < one
    * row group per missing task, i.e. trivially small exactly when the
    * rule fires. At 100 TB the input has orders of magnitude more
    * splits than cores, the condition is false, and this is a no-op —
    * never an extra shuffle of a big corpus.
    *
    * Two probes, picked by PLAN SHAPE (r6): on a narrow source frame
    * (scan/range/typed-map chains — no join/aggregate/exchange) the
    * planned partition count is read directly (`.rdd` is free to build
    * there). On a post-exchange frame, `.rdd.getNumPartitions` would
    * force AQE to EXECUTE every upstream stage just to learn the
    * partition count — and then execute them AGAIN when the repartitioned
    * plan runs (measured: the curate_corpus semi-join ran its broadcast
    * build twice) — so the decision falls back to the optimizer's size
    * ESTIMATE: repartition iff the estimated bytes are small enough that
    * the extra shuffle is trivially cheap (< 16 MB per target core).
    * Both probes are no-ops at 100 TB: many-split inputs fail the narrow
    * partition test, and big frames fail the size test. */
  private[graft] def fanOut(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val target = df.sparkSession.sparkContext.defaultParallelism
    def isNarrow(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case _: Project | _: Filter | _: SubqueryAlias | _: Union |
           _: SerializeFromObject | _: DeserializeToObject |
           _: MapPartitions | _: MapElements | _: TypedFilter =>
        p.children.forall(isNarrow)
      case _ => false
    }
    if (isNarrow(df.queryExecution.optimizedPlan)) {
      if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    } else {
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (est >= 0 && est < BigInt(target.toLong * (16L << 20)))
        df.repartition(target)
      else df
    }
  }

  /** The one operator-owned cache lifetime: persist `ds` at
    * MEMORY_AND_DISK, optionally `fill` it, run `body`, unpersist in
    * `finally` — a long-lived session accumulates no cached partitions
    * across calls, and a body that throws leaks none. What `body`
    * returns must not read the cache: the eager tiers localCheckpoint
    * their (small) survivor pairs inside it.
    *
    * `fill` runs ONE count() first. A persisted-but-unmaterialized frame
    * referenced by several subtrees of one action gets its partitions
    * computed CONCURRENTLY by racing stages, so an expensive upstream
    * can execute 2-3x despite the persist; the fill costs a ~50 ms job,
    * so only sites whose upstream pass dominates that take it. */
  private def cached[T, R](ds: Dataset[T], fill: Boolean)(
      body: Dataset[T] => R): R = {
    val c = ds.persist(StorageLevel.MEMORY_AND_DISK)
    try { if (fill) c.count(); body(c) } finally c.unpersist()
  }

  /** Integral-id guard for the pair tiers: a string id would
    * cast-to-null, null out the `a < b` pair filter, and return an
    * EMPTY result — a dedup run that silently deduplicates nothing.
    * Fail loudly instead; callers with string keys derive an integral
    * one first (xxhash64 / row index). */
  private def longId(df: DataFrame, idCol: String): Column = {
    import org.apache.spark.sql.types._
    val dt = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"dedup pair tiers need an integral id column; '$idCol' is $dt — " +
        "derive one first (e.g. xxhash64(id)); a silent cast would " +
        "null every id and return an empty result")
    col(idCol).cast("long")
  }

  /** Exact dedup: one row per distinct text with the minimal id as
    * keeper and the duplicate count. Null/blank transcripts are NOT
    * duplicates of each other (same contract as the streaming dedup):
    * they key by their own id, so none is swallowed by a keep policy —
    * their payloads (e.g. valid audio) survive. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = normText(col(textCol))
    val key = when(length(norm) > 0, md5(norm))
      .otherwise(concat(lit("empty:"), col(idCol).cast("string")))
    df.groupBy(key.as("text_md5"))
      .agg(min(col(idCol)).as("keeper_id"),
        count(lit(1)).as("n_docs"))
  }

  /** Char-shingle set of an ALREADY-NORMALIZED column, distinct. The
    * caller must project [[normText]] into its own column first —
    * referencing a normalization EXPRESSION here would embed it in the
    * per-element lambda and re-run the regex once per shingle (measured
    * O(len²) per row). */
  def shingleCol(normCol: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(normCol) - (n - 1), lit(1))),
      i => normCol.substr(i, lit(n))))

  /** N-gram Jaccard pairs >= threshold over the DF-PRUNED shingle space:
    * shingles appearing in more than `maxShingleDf` docs (stop-shingles —
    * boilerplate, shared vocabulary) are removed BEFORE both the set
    * sizes and the intersection counts, so the similarity is exact over
    * the pruned space. The pruning is what bounds the inverted-index
    * self-join: without it a shared-vocab corpus goes quadratic
    * (every doc pairs with every doc through ubiquitous shingles).
    *
    * SCALING RULE for the pruning knob: `maxShingleDf` is an ABSOLUTE
    * document frequency — right for a fixed-size corpus and for the
    * engine-independent oracle, wrong as a constant across corpus
    * sizes (df=100 means "0.2% of docs" at 50k docs but "1 in 10^10"
    * at 10^12 — at 100 TB the same absolute would prune almost nothing
    * that matters and the inverted index self-join inherits the
    * boilerplate). Pass `maxShingleDfFrac` instead (e.g. 0.002 = prune
    * shingles appearing in > 0.2% of docs): the absolute cap derives
    * from one count over the shingled corpus as
    * max(1, ceil(frac · nDocs)), so the pruning intent survives any
    * scale-up. When both are given the fractional form wins.
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxShingleDf: Long = 100L,
      maxShingleDfFrac: Double = 0.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(maxShingleDfFrac <= 1.0,
      s"maxShingleDfFrac is a fraction of the corpus, got $maxShingleDfFrac")
    // Typed flatMap, NOT explode(shingleCol(normText-projection)):
    // CollapseProject inlines the normalization regex into the
    // per-element substr lambda and the generator-pruning filter
    // (O(len) regex runs per CHARACTER of every row — the same
    // pathology measured 16 s → 1.4 s in decontaminate). Blank/null
    // texts carry no shingles to compare (TextStats.shingles returns
    // the empty set, so the degenerate "" shingle can't pair every
    // empty doc with every other).
    // HASHED inverted index (guide §2.3 "shuffle keys and metadata
    // instead of payloads"): the index carries fnv64(shingle) — 8 fixed
    // bytes — instead of the n-char string; the df census, prune join
    // and self-join all key on the hash. Set sizes and intersection
    // counts over distinct hashes equal those over distinct strings up
    // to 64-bit collisions (~(distinct shingles)²/2^65 ≈ 1e-7 for a
    // million-shingle corpus; the output (a, b, jaccard) carries no
    // shingle, so only a collision could shift a value).
    // Cached because THREE subtrees reference the index (df census,
    // pruned a-side, pruned b-side); no fill pass, because the
    // broadcast build of `rare` fills it first.
    val index = fanOut(df.select(longId(df, idCol).as("id"),
      col(textCol).as("text"))).as[(Long, String)]
      .flatMap { case (id, text) =>
        graft.lid.TextStats.shingleHashes(text, n).iterator
          .map(h => (id, h))
      }.toDF("id", "shingle")
    cached(index, fill = false) { inv =>
      // fractional form: one countDistinct over the (cached) inverted
      // index derives the absolute cap — see the scaladoc scaling rule
      val dfCap =
        if (maxShingleDfFrac > 0.0) {
          val nDocs = inv.select(countDistinct($"id")).head.getLong(0)
          math.max(1L, math.ceil(maxShingleDfFrac * nDocs).toLong)
        } else maxShingleDf
      val rare = inv.groupBy($"shingle").agg(count(lit(1)).as("df"))
        .filter($"df" <= dfCap).select($"shingle")
      // pruned is referenced by THREE subtrees (sz census, a-side,
      // b-side) and embeds the rare-shingle groupBy — filled first, or
      // the three subtrees of the output job race the cold cache and
      // re-run the shingle pass + census + join up to 3x
      cached(inv.join(rare, Seq("shingle")), fill = true) { pruned =>
        val sz = pruned.groupBy($"id").agg(count(lit(1)).as("sz"))
        // Pair generation stays the a⋈b SELF-JOIN, not a grouped
        // posting list: A/B-measured alternating inside one JVM
        // (apps/ProfileNgramPairs), the whole-stage-codegen join +
        // partial aggregate beat the posting-list flatMap by ~1.4x on
        // the dedup_text_keep instance (selfjoin 1.8-2.5 s vs posting
        // 3.2-4.4 s end-to-end) — encoding millions of pair tuples
        // through a typed Dataset boundary costs more than the join's
        // second traversal of the (cached) pruned index.
        val a = pruned.select($"id".as("a"), $"shingle")
        val b = pruned.select($"id".as("b"), $"shingle")
        a.join(b, Seq("shingle"))
          .filter($"a" < $"b")
          .groupBy($"a", $"b")
          .agg(count(lit(1)).as("common"))
          .join(sz.select($"id".as("a"), $"sz".as("sza")), Seq("a"))
          .join(sz.select($"id".as("b"), $"sz".as("szb")), Seq("b"))
          .withColumn("jaccard",
            round($"common" / ($"sza" + $"szb" - $"common"), 4))
          .filter($"jaccard" >= threshold)
          .select($"a", $"b", $"jaccard")
          .transform(capturePlan("ngram_jaccard", _))
          .localCheckpoint(eager = true)
      }
    }
  }

  /** Benchmark decontamination — the training-pipeline gate that keeps
    * evaluation data out of the training corpus: flag every training doc
    * sharing at least `minHits` distinct char n-shingles with any
    * benchmark text. Returns (id, hits, total, rate) per flagged doc,
    * where total is the doc's distinct-shingle count and
    * rate = hits/total (the contamination fraction callers threshold
    * on; n ≈ 8-13 chars ~ the 8-13-token n-gram overlap rule used by
    * large-corpus decontamination pipelines, e.g. GPT-3 appendix C /
    * Gopher's train-test overlap analysis).
    *
    * Scale shape: the BENCHMARK side is small by construction (eval
    * suites are thousands of docs, not billions), so its distinct
    * shingle set is broadcast — the training side stays a narrow
    * shingle-explode + broadcast-hash semi-join with ONE shuffle, the
    * per-doc counter groupBy keyed by doc id. Never an all-pairs join;
    * the training corpus is touched once. */
  def decontaminate(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 10, minHits: Long = 1,
      hashed: Boolean = false): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // `hashed` is the production-scale knob: joining on xxhash64 of the
    // shingle shrinks the broadcast ~5x (8 bytes vs n chars) and makes
    // the join key fixed-width. Results are identical up to 64-bit hash
    // collisions (~1e-10 per benchmark shingle set of 10^5; DedupSpec
    // asserts equality on real corpora). The unhashed form is the
    // DuckDB-oracle-comparable mode.
    // Shingles come from a typed flatMap (TextStats.shingles — same
    // norm + truncated-short-text + distinct semantics as the SQL
    // shingleCol/normText pair, which the DuckDB oracle mirrors), NOT
    // from shingleCol over a projected norm column: CollapseProject
    // inlines the normalization regex into the per-element substr
    // lambda AND the generator-pruning filter, re-running it hundreds
    // of times per row (measured 16 s for 5 000 docs vs ~1 s typed).
    // The distinct-shingle total rides along with each exploded row so
    // no second pass or extra shuffle recovers it later.
    val d0 = fanOut(docs.select(longId(docs, idCol).as("id"),
      col(textCol).as("text"))).as[(Long, String)]
      .flatMap { case (id, text) =>
        val sh = graft.lid.TextStats.shingles(text, n)
        if (sh.isEmpty) Iterator.empty
        else {
          val tot = sh.size.toLong
          sh.iterator.map(s => (id, tot, s))
        }
      }.toDF("id", "total", "shingle")
    // hashed = production-broadcast mode: one column op per exploded
    // row, applied symmetrically to both sides
    val d = if (hashed)
      d0.withColumn("shingle", xxhash64($"shingle")) else d0
    val bench0 = bench.select(col(textCol)).as[String]
      .flatMap(t => graft.lid.TextStats.shingles(t, n).iterator)
      .toDF("shingle")
    val benchSh = (if (hashed)
      bench0.withColumn("shingle", xxhash64($"shingle")) else bench0)
      .distinct()
    d.join(broadcast(benchSh), Seq("shingle"))
      .groupBy($"id", $"total").agg(count(lit(1)).as("hits"))
      .filter($"hits" >= minHits)
      .select($"id", $"hits", $"total",
        round($"hits" / $"total", 4).as("rate"))
  }

  // ------------------------------------------------------------- MinHash
  /** Deterministic permutation constants for h_i(x) = (a_i·x + b_i) mod p
    * over a 61-bit Mersenne prime — standard MinHash construction. */
  private val P = (1L << 61) - 1
  // `& Long.MaxValue`, not `.abs`: abs(Long.MinValue) stays NEGATIVE in
  // two's complement, which would yield a coefficient <= 0 and diverge
  // from the engine-independent oracle arithmetic (p ~ 2^-64 per index,
  // but a latent divergence is a divergence). The mask is total: every
  // mix output maps to [0, 2^63), and the DuckDB oracle mirrors it as a
  // plain `% 2^63` on the unsigned HUGEINT value.
  private def perm(i: Int): (Long, Long) = {
    import graft.util.Mix.mix
    (((mix(2L * i + 1) & Long.MaxValue) % (P - 1)) + 1,
      (mix(2L * i + 2) & Long.MaxValue) % P)
  }

  // per-k permutation coefficient tables, built once per JVM (executor):
  // rebuilding k tuples per DOCUMENT was the hot-loop cost at scale
  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, (Array[Long], Array[Long])]()
  private def perms(k: Int): (Array[Long], Array[Long]) =
    permCache.computeIfAbsent(k, _ => {
      val a = new Array[Long](k); val b = new Array[Long](k)
      var j = 0
      while (j < k) { val p = perm(j); a(j) = p._1; b(j) = p._2; j += 1 }
      (a, b)
    })

  /** Exact (a·x) mod P for the 61-bit Mersenne prime: the 122-bit
    * product is taken via Math.multiplyHigh (an intrinsic on JDK 9+)
    * and folded with 2^64 ≡ 8 (mod P), 2^61 ≡ 1 (mod P). Requires
    * a, x ∈ [0, P) so the signed product interpretation is valid
    * (product < 2^122 ⇒ hi < 2^58 ⇒ every partial sum fits a long). */
  private[graft] def mulModP(a: Long, x: Long): Long = {
    val hi = Math.multiplyHigh(a, x)
    val lo = a * x // wrapping low 64 bits
    var r = hi * 8 + (lo >>> 61) + (lo & P)
    while (r >= P) r -= P
    r
  }

  /** splitmix-derived multilinear coefficients for [[bandBucket]] —
    * input space disjoint from [[perm]]'s (offset 1,000,003 ≫ 2k+2). */
  private[graft] def bucketCoef(idx: Int): Long = {
    import graft.util.Mix.mix
    // masked, not .abs — see [[perm]] for why
    ((mix(1000003L + idx) & Long.MaxValue) % (P - 1)) + 1
  }

  /** Engine-independent band bucket: the multilinear hash
    * Σ_r c_i·v_i mod P over the band's signature slice, where
    * v_i = (sig_i & Long.MaxValue) mod P (identity for k-perm
    * signatures, which are already < P; the mask+mod also admits OPH's
    * full-63-bit values) and c_i = [[bucketCoef]](i) ∈ [1, P-1]. The
    * multilinear family over Z_P is universal — collision probability
    * ≤ 2^-61 per distinct slice pair — so bucket membership ≡ slice
    * equality in practice, exactly like the Spark Murmur3
    * `hash(slice(...))` it replaces. The difference: this is plain
    * integer arithmetic ANY engine reproduces (the DuckDB oracle
    * recomputes it in HUGEINT), while Murmur3-of-array-of-long is a
    * Spark implementation detail no other engine exposes. */
  private[graft] def bandBucket(sig: Array[Long], band: Int,
      rowsPerBand: Int, coefs: Array[Long]): Long = {
    var acc = 0L
    var r = 0
    while (r < rowsPerBand) {
      val i = band * rowsPerBand + r
      acc += mulModP(coefs(i), (sig(i) & Long.MaxValue) % P)
      if (acc >= P) acc -= P // acc + mulModP < 2P < 2^62: no overflow
      r += 1
    }
    acc
  }

  private def requirePairMode(m: String): Unit =
    require(m == "all" || m == "star",
      s"pairMode must be 'all' or 'star', got '$m'")

  /** In-bucket candidate pairs (a < b) of `buckets` (`id` plus the
    * bucket `keys`), each `carry` column c riding along as ca and cb.
    * `pairMode = "all"` pairs every two bucket-mates (a self-join on the
    * keys). Clique-safe `pairMode = "star"`:
    * each bucket member pairs ONLY with its bucket's minimal id, so a
    * bucket of size k emits k-1 candidate pairs instead of C(k,2). The
    * transitive closure of a star equals that of the clique, so every
    * bucket still collapses into one [[components]] component and the
    * [[keepPolicy]] keeper set is unchanged for genuine duplicate
    * cliques — this is the 10^12-row setting for corpora with
    * million-doc boilerplate cliques, where all-pairs mode emits
    * C(10^6, 2) ≈ 5·10^11 pairs per template per table before the
    * distinct. Semantics note: the emitted pair LIST is a subset of
    * all-pairs mode (member↔member edges are dropped), so all-pairs
    * stays the oracle/audit mode; star changes which pairs are
    * VERIFIED, not how any pair is scored. Recall caveat (be honest
    * about the trade): in a MIXED bucket whose minimum is not itself a
    * near-dup of two members a,b, the a↔b edge goes unverified — star
    * preserves connectivity exactly for duplicate CLIQUES (where every
    * member, including the min, is pairwise-near) and under-connects
    * only on hash-collision cohabitants, which the verify stage was
    * going to reject pairwise anyway in every case except a≁min∧b≁min
    * ∧a~b. Each tier's banding re-rolls the buckets per band/table, so
    * a genuine pair missed in one bucket usually re-pairs in another.
    * Plan shape (r6): the bucket min is a WINDOW aggregate over the
    * bucket partition — ONE exchange keyed by the bucket columns and a
    * partition-local min, instead of the earlier groupBy + join-back
    * (a second traversal of the bucket frame probing a broadcast of
    * the minima). The shuffle carries (keys, id, carry) only either
    * way; the window form removes the aggregate job + broadcast build. */
  private def bucketPairs(buckets: DataFrame, keys: Seq[String],
      pairMode: String, carry: Seq[String] = Nil): DataFrame =
    if (pairMode == "star") {
      val w = Window.partitionBy(keys.map(col): _*)
      // a bare min(id) when nothing rides along: min(struct(id)) would
      // order a null id first and filter the whole bucket out
      val m =
        if (carry.isEmpty) struct(min(col("id")).over(w).as("id"))
        else min(struct(("id" +: carry).map(col): _*)).over(w)
      buckets.withColumn("m", m)
        .filter(col("id") > col("m.id"))
        .select(col("m.id").as("a") +: col("id").as("b") +:
          carry.flatMap(c => Seq(col(s"m.$c").as(c + "a"), col(c).as(c + "b"))): _*)
    } else {
      def side(s: String) = buckets.select(keys.map(col) ++
        (col("id").as(s) +: carry.map(c => col(c).as(c + s))): _*)
      side("a").join(side("b"), keys).filter(col("a") < col("b"))
        .drop(keys: _*)
    }

  /** [[bucketPairs]]' star across a probe ball (the vector tiers): each probe
    * row (a, va, pb) pairs only with the minimal (id, vec) of the bucket
    * it probes; the min's own probes still reach neighbour buckets, so
    * [[components]] stays connected. Returns (a, b, va, vb), a < b; two
    * minima within one probe of each other pair twice. */
  private def probeStar(probes: DataFrame, rows: DataFrame, bucket: String,
      vec: String): DataFrame = {
    val mins = rows.groupBy(col(bucket).as("pb"))
      .agg(min(struct(col("id"), col(vec))).as("m"))
      .select(col("pb"), col("m.id").as("b"), col(s"m.$vec").as("vb"))
    probes.join(mins, Seq("pb")).filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"), col("va"), col("vb"))
  }

  // ------------------------------------------------- LSH observability
  /** One candidate-generation observability row per LSH run (opt-in via
    * each tier's `collectMetrics`). The 100-TB failure mode of every
    * bucketed tier is a quadratic candidate blowup that only surfaces
    * when the verify join dies hours in; these counters surface it at
    * bucket-build time. `allpairs_candidates` = Σ over buckets of
    * C(size, 2) — the fan-out all-pairs mode would pay, THE number to
    * trend per corpus (linear in n when bucketing is healthy);
    * `candidate_pairs` is what the run's own `pairMode` emits pre-verify
    * (star: Σ (size-1)). `survivor_pairs` is filled only by tiers whose
    * output is materialized inside the call (minHashLsh); lazy tiers
    * record -1 rather than re-running their verify join to count. */
  final case class LshMetrics(
      tier: String, pair_mode: String, n_rows: Long, n_buckets: Long,
      max_bucket: Long, candidate_pairs: Long, allpairs_candidates: Long,
      survivor_pairs: Long)

  private val lshMetricsQueue =
    new java.util.concurrent.ConcurrentLinkedQueue[LshMetrics]()

  /** Drain all metrics recorded since the last drain (FIFO). */
  def drainLshMetrics(): Seq[LshMetrics] = drain(lshMetricsQueue)

  /** Drained metrics as a frame — the lineage/metrics-table adapter. */
  def lshMetricsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.createDataset(drainLshMetrics()).toDF()
  }

  /** ONE two-level aggregate over a (cached/slim) bucket frame:
    * per-bucket counts, then the corpus-level counters n_rows,
    * n_buckets, max_bucket, ap2 (Σ size·(size-1) = 2 × all-pairs
    * candidates) and star (Σ (size-1)). Cost is a counter shuffle keyed
    * by the bucket columns — the same key the candidate join uses. */
  private def bucketCounts(buckets: DataFrame, keys: Seq[String]): Row = {
    val n = col("n")
    buckets.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(n), lit(0L)).as("n_rows"),
        count(lit(1)).as("n_buckets"),
        coalesce(max(n), lit(0L)).as("max_bucket"),
        coalesce(sum(n * (n - 1)), lit(0L)).as("ap2"),
        coalesce(sum(n - 1), lit(0L)).as("star"))
      .head()
  }

  private def recordLshMetrics(tier: String, pairMode: String,
      buckets: DataFrame, keys: Seq[String], survivors: Long): Unit = {
    val r = bucketCounts(buckets, keys)
    val allPairs = r.getAs[Long]("ap2") / 2
    lshMetricsQueue.add(LshMetrics(tier, pairMode,
      r.getAs[Long]("n_rows"), r.getAs[Long]("n_buckets"),
      r.getAs[Long]("max_bucket"),
      if (pairMode == "star") r.getAs[Long]("star") else allPairs,
      allPairs, survivors))
  }

  /** Row-local MinHash signature of a shingle set. Pure Scala — called
    * from a typed map, one pass over shingles for all k hashes;
    * coefficient tables are primitive arrays hoisted per JVM. Each slot
    * is a TRUE universal-hash min under h_j(x) = (a_j·x + b_j) mod P
    * ([[mulModP]] does the exact 122-bit Mersenne reduction — the r2
    * hi/lo split only bounded x, not a, and silently wrapped). */
  def signature(shingles: Iterable[String], k: Int): Array[Long] =
    signatureOfHashes(
      shingles.iterator.map(graft.lid.TextStats.fnv64).toArray, k)

  /** [[signature]] over precomputed FNV-1a 64 base hashes
    * ([[graft.lid.TextStats.shingleHashes]]) — the hot-path form: every
    * slot depends only on each shingle's fnv64, and min is idempotent,
    * so dedup-by-hash input gives BIT-IDENTICAL signatures to the
    * string-set form (duplicates and 64-bit collisions both collapse
    * onto the same per-slot candidate value). Skips the per-shingle
    * substring allocation + second char pass of the string path. */
  def signatureOfHashes(hashes: Array[Long], k: Int): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    val (pa, pb) = perms(k)
    var si = 0
    while (si < hashes.length) {
      val x = (hashes(si) & Long.MaxValue) % P
      var j = 0
      while (j < k) {
        var v = mulModP(pa(j), x) + pb(j)
        if (v >= P) v -= P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      si += 1
    }
    sig
  }

  /** Banded one-permutation-hashing MinHash signature — ONE independent
    * permutation PER BAND (Li, Owen & Zhang 2012 OPH, banded per
    * Shrivastava & Li 2014's LSH analysis): `bands` hashes per shingle
    * instead of k — the CPU scale path when signature cost dominates
    * (classic k-perm MinHash is k multiply-mod ops per shingle; at 10^12
    * docs × 10^3 shingles × 64 perms that is the pipeline).
    *
    * Why per-band and not one GLOBAL permutation (the r1 design): with a
    * single shared permutation and k sparse bins (~m/k elements each), a
    * corpus-popular shingle that happens to draw a small value wins its
    * bin in EVERY document containing it, so same-language pairs agree on
    * those bins above their pairwise Jaccard and bands over-fire. One
    * permutation per band keeps bins larger (m/rowsPerBand elements, so a
    * popular shingle must out-draw ~m/rows competitors, not ~m/k) and
    * makes bands independent draws exactly like k-perm banding, at
    * ~bands/k of the hashing cost.
    *
    * Measured (sf0.1, 5k docs, small-vocab corpus): the HONEST expected
    * candidate count — Σ over pairs of 1-(1-J⁴)^16 computed from exact
    * Jaccards on a 400-doc sample — is ≈230k post-distinct pairs; OPH
    * realizes 248k and k-perm (with the exact Mersenne modmul of r3)
    * 124k, both legitimate draws of a correlated-collision corpus (the
    * 40-word per-language vocabularies make popular shingles shared by
    * most same-language docs, so band collisions arrive in cliques with
    * huge across-family variance; r2's k-perm measured 38k only because
    * its wrapped-arithmetic "permutation" was biased LOW — under-
    * generating candidates means silent under-recall at the threshold
    * boundary, which is why the honest hash is the right trade even
    * though the candidate work grew). Signature pass: OPH 2-3x faster
    * (0.46-0.51s vs 1.1-2.7s). The scale argument: the signature pass
    * touches EVERY doc (10^12) while the candidate join touches only
    * bucket-mates, so the k-fold hashing saving dominates at corpus
    * scale; verify-side correctness is unaffected (candidates are
    * filtered by the exact same estimate either way).
    *
    * Layout matches [[minHashLsh]]'s band slicing: slots
    * [band*rowsPerBand, (band+1)*rowsPerBand) hold band `band`'s bins.
    * Empty bins densify by borrowing from the next non-empty bin within
    * the SAME band (cyclic), distance-tagged so different borrow patterns
    * don't spuriously match. Same estimator contract as [[signature]]:
    * est J = fraction of equal slots (each slot is an unbiased min-hash
    * sample of its band's bin partition). */
  def signatureOph(shingles: Iterable[String], k: Int,
      bands: Int = 0): Array[Long] =
    signatureOphOfHashes(
      shingles.iterator.map(graft.lid.TextStats.fnv64).toArray, k, bands)

  /** [[signatureOph]] over precomputed FNV-1a 64 base hashes — same
    * exact-equivalence argument as [[signatureOfHashes]]: every bin
    * min depends only on each shingle's fnv64. */
  def signatureOphOfHashes(hashes: Array[Long], k: Int,
      bands: Int = 0): Array[Long] = {
    val nb = if (bands > 0) bands else math.max(1, k / 4)
    require(k % nb == 0, s"bands $nb must divide numHashes $k")
    val rpb = k / nb
    val sig = Array.fill(k)(Long.MaxValue)
    var si = 0
    while (si < hashes.length) {
      val h = hashes(si)
      var band = 0
      while (band < nb) {
        // per-band permutation: splitmix finalizer of the band-salted
        // base hash
        val b = graft.util.Mix.fin(
          h ^ ((band + 1).toLong * graft.util.Mix.Golden))
        val bin = band * rpb + ((b & Long.MaxValue) % rpb).toInt
        val v = (b * 0xff51afd7ed558ccdL) & Long.MaxValue
        if (v < sig(bin)) sig(bin) = v
        band += 1
      }
      si += 1
    }
    // densify empty bins within their band (cyclic borrow, distance tag)
    var band = 0
    while (band < nb) {
      val base = band * rpb
      var j = 0
      while (j < rpb) {
        if (sig(base + j) == Long.MaxValue) {
          var d = 1
          while (d < rpb && sig(base + (j + d) % rpb) == Long.MaxValue) d += 1
          if (d < rpb)
            sig(base + j) = sig(base + (j + d) % rpb) +
              d.toLong * 0x100000001b3L
        }
        j += 1
      }
      band += 1
    }
    sig
  }

  final case class SigRow(id: Long, sig: Array[Long])

  /** MinHash + banded LSH near-dup candidate pairs with estimated
    * similarity >= threshold (estimate = fraction of equal signature
    * slots, verified against the banding false positives).
    *
    * EAGER: the survivor pairs are materialized (localCheckpoint)
    * inside the call so the operator can release its signature cache —
    * the returned frame is a computed result, not a composable lazy
    * plan (downstream filters won't push into the candidate job). This
    * is the intended contract for a dedup tier: its output is always
    * consumed in full by components/keep-policy.
    *
    * `pairMode` — see [[bucketPairs]]: "all" (default, the oracle mode)
    * emits every in-bucket pair; "star" pairs each bucket member only
    * with the bucket minimum, turning a k-doc near-identical clique
    * (mirrored boilerplate — routine in web-scale crawls) from C(k,2)
    * emitted pairs into k-1 while connecting the same docs into the
    * same [[components]]. Star is the 10^12-row setting; its pair LIST
    * is a subset of all-pairs (est_jaccard values unchanged where
    * emitted), so downstream keep decisions are identical whenever the
    * in-bucket docs genuinely clear `threshold` against the bucket min
    * (the clique case star exists for). */
  def minHashLsh(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, oph: Boolean = false,
      pairMode: String = "all", collectMetrics: Boolean = false): DataFrame = {
    requirePairMode(pairMode)
    val spark = df.sparkSession
    import spark.implicits._
    graft.functions.VectorOps.register(spark)
    require(numHashes % bands == 0)
    val rowsPerBand = numHashes / bands
    // hashed-shingle hot path: signatures depend only on each shingle's
    // fnv64 (see signatureOfHashes — bit-identical to the string-set
    // form), so the per-row pass skips substring allocation entirely
    val sigFn: Array[Long] => Array[Long] =
      if (oph) signatureOphOfHashes(_, numHashes, bands)
      else signatureOfHashes(_, numHashes)
    // cached and filled: the signature map is referenced by THREE
    // subtrees (bucket explode + both post-distinct joins) — uncached,
    // the k-hash-per-shingle computation re-executes once per subtree.
    // Empty shingle sets (null/blank text) are excluded: they would all
    // share the identical sentinel signature and pair with est = 1.0.
    val signed = fanOut(df.select(longId(df, idCol).as("id"),
      col(textCol).as("text"))).as[(Long, String)]
      .map { case (id, text) =>
        val sh = graft.lid.TextStats.shingleHashes(text, n)
        SigRow(id, if (sh.isEmpty) null else sigFn(sh))
      }
      .filter(_.sig != null)
    cached(signed, fill = true) { sigs =>
      // band → bucket key; only bucket-mates meet in the join. The
      // exploded side carries ONLY (band, bucket, id) — shuffling the
      // 64-long signature bands× per doc (~8 KB/doc) dominated the
      // exchange at scale; signatures are re-joined once per side AFTER
      // the pair distinct, when candidates are few. The bucket is
      // [[bandBucket]]'s multilinear Mersenne hash (not Spark's Murmur3
      // `hash()`) so the DuckDB oracle reproduces candidate generation
      // exactly.
      val coefs = Array.tabulate(numHashes)(bucketCoef)
      val buckets = sigs.flatMap { r =>
        Iterator.tabulate(bands)(b => (r.id, b, bandBucket(r.sig, b, rowsPerBand, coefs)))
      }.toDF("id", "band", "bucket")
      val out = bucketPairs(buckets, Seq("band", "bucket"), pairMode)
        .distinct()
        .join(sigs.select($"id".as("a"), $"sig".as("siga")), "a")
        .join(sigs.select($"id".as("b"), $"sig".as("sigb")), "b")
        .withColumn("est_jaccard", round(
          graft.functions.VectorOps.eqCount($"siga", $"sigb")
            / lit(numHashes.toDouble), 4))
        .select($"a", $"b", $"est_jaccard")
        .filter($"est_jaccard" >= threshold)
        .transform(capturePlan("minhash_lsh", _))
        .localCheckpoint(eager = true)
      if (collectMetrics)
        recordLshMetrics("minhash_lsh" + (if (oph) "_oph" else ""), pairMode,
          buckets.toDF(), Seq("band", "bucket"), out.count())
      out
    }
  }

  /** Cross-document repeated spans via winnowing fingerprints
    * (Schleimer, Wilkerson & Aiken 2003): the distributed-friendly form
    * of exact substring dedup (Lee et al. 2021 use suffix arrays, which
    * don't shard; winnowing does).
    *
    * Every `window`-char substring of the normalized text is hashed;
    * then for EVERY sliding window of `guarantee` consecutive hash
    * positions the RIGHTMOST minimal position is selected — the true
    * Schleimer/MOSS rule, which is what makes the guarantee hold: any
    * region of ≥ window+guarantee-1 chars shared by two documents
    * contains at least one full guarantee-window of hash positions, and
    * that window's rightmost-min depends only on region CONTENT, so
    * both documents select the same span inside it. (An earlier cut
    * selected i only when hs(i) was the min of the FORWARD window
    * [i, i+g) — a strict subset of the winnow under which a run of
    * decreasing hashes selects nothing, voiding the guarantee.)
    * Documents with fewer than `guarantee` hash positions winnow their
    * single truncated window. Selected spans groupBy-count across docs;
    * output = spans appearing in ≥ minDocs distinct documents.
    *
    * The winnow is per-document, so it runs ROW-LOCALLY in a narrow
    * mapPartitions — the first cut ran it as explode + per-doc window
    * function, which exchanged every window position in the corpus just
    * to compute a doc-local minimum. Only the selected spans
    * (≈ 2/(guarantee+1) of positions, locally deduped per doc) reach
    * the groupBy exchange, ~window bytes each.
    *
    * `hashMode`:
    *  - "md5" (default, the oracle-comparable mode) — md5 over UTF-8
    *    bytes so an external SQL engine reproduces the selection
    *    bit-for-bit (unsigned-byte order on digests ≡ lexicographic
    *    order on their hex form). The window bytes are digested as a
    *    slice of ONE per-doc UTF-8 encoding (per-char byte offsets
    *    precomputed), not a fresh substring+getBytes per position —
    *    same digests, one allocation per doc instead of two per char.
    *  - "roll" — Karp–Rabin polynomial rolling hash, O(n) hash work
    *    per doc instead of O(n·window) digest bytes: the scale mode
    *    when bit-for-bit SQL reproducibility isn't needed. Selection
    *    differs from md5 mode (different hash ⇒ different minima) but
    *    the winnowing guarantee is identical, because equal content
    *    gives equal hashes in any mode.
    *
    * Precondition: `idCol` is unique — one row per document, as every
    * pair tier assumes of its id. `n_docs` counts rows, so a document
    * id repeated over k rows counts k times and can lift a span past
    * `minDocs`; derive a unique id first if the input has repeats. */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
      window: Int = 40, guarantee: Int = 8,
      minDocs: Int = 2, hashMode: String = "md5"): DataFrame = {
    require(hashMode == "md5" || hashMode == "roll",
      s"hashMode must be 'md5' or 'roll', got '$hashMode'")
    require(guarantee >= 1, s"guarantee must be >= 1, got $guarantee")
    val spark = df.sparkSession
    import spark.implicits._
    val useRoll = hashMode == "roll"
    val selected = fanOut(df.select(longId(df, idCol).as("id"),
      normText(col(textCol)).as("t")))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md =
          if (useRoll) null else java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, t) =>
          if (t == null || t.length < window) Iterator.empty
          else {
            val n = t.length - window + 1
            var hsMd: Array[Array[Byte]] = null
            var hsRl: Array[Long] = null
            if (useRoll) {
              // Karp–Rabin: h(i) = Σ c(i+j)·B^(w-1-j) mod 2^64
              val B = 0x100000001b3L
              var bw = 1L
              var k = 0
              while (k < window - 1) { bw *= B; k += 1 }
              hsRl = new Array[Long](n)
              var h = 0L
              k = 0
              while (k < window) { h = h * B + t.charAt(k); k += 1 }
              hsRl(0) = h
              var i = 1
              while (i < n) {
                h = (h - t.charAt(i - 1) * bw) * B + t.charAt(i + window - 1)
                hsRl(i) = h
                i += 1
              }
            } else {
              hsMd = new Array[Array[Byte]](n)
              // fast path: digest slices of ONE UTF-8 encoding of the doc
              // (char→byte offsets are exact for surrogate-free text; a
              // split surrogate pair would encode differently than
              // substring().getBytes, so those rare docs fall back)
              var hasSurrogate = false
              var ci = 0
              while (ci < t.length && !hasSurrogate) {
                if (Character.isSurrogate(t.charAt(ci))) hasSurrogate = true
                ci += 1
              }
              if (!hasSurrogate) {
                val bytes =
                  t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                val off = new Array[Int](t.length + 1)
                var b = 0
                ci = 0
                while (ci < t.length) {
                  off(ci) = b
                  val c = t.charAt(ci)
                  b += (if (c < 0x80) 1 else if (c < 0x800) 2 else 3)
                  ci += 1
                }
                off(t.length) = b
                var i = 0
                while (i < n) {
                  md.update(bytes, off(i), off(i + window) - off(i))
                  hsMd(i) = md.digest()
                  i += 1
                }
              } else {
                var i = 0
                while (i < n) {
                  hsMd(i) = md.digest(t.substring(i, i + window)
                    .getBytes(java.nio.charset.StandardCharsets.UTF_8))
                  i += 1
                }
              }
            }
            // hs(i) <= hs(j)? (unsigned in both modes)
            @inline def le(i: Int, j: Int): Boolean =
              if (useRoll) java.lang.Long.compareUnsigned(hsRl(i), hsRl(j)) <= 0
              else java.util.Arrays.compareUnsigned(hsMd(i), hsMd(j)) <= 0
            // true winnowing: rightmost-min of every g-window, via a
            // monotonic deque (pop-equal-from-back ⇒ front is the
            // RIGHTMOST occurrence of the window minimum); O(n) total
            val g = math.min(guarantee, n)
            val cap = g + 1
            val dq = new Array[Int](cap) // ring buffer of candidate indices
            var head = 0
            var size = 0
            val uniq = scala.collection.mutable.LinkedHashSet.empty[String]
            var lastSel = -1
            var i = 0
            while (i < n) {
              if (size > 0 && dq(head) <= i - g) { // slide out of window
                head = (head + 1) % cap
                size -= 1
              }
              // pop-equal-from-back ⇒ front is the RIGHTMOST window min
              while (size > 0 && le(i, dq((head + size - 1) % cap))) size -= 1
              dq((head + size) % cap) = i
              size += 1
              if (i >= g - 1) {
                val sel = dq(head)
                if (sel != lastSel) {
                  uniq += t.substring(sel, sel + window)
                  lastSel = sel
                }
              }
              i += 1
            }
            uniq.iterator.map(sp => (id, sp))
          }
        }
      }
    selected.toDF("id", "span")
      .groupBy($"span")
      // count, NOT countDistinct: the winnow emits each (id, span) at
      // most once per ROW by construction (per-doc LinkedHashSet dedup
      // above), so under the unique-id precondition (scaladoc) plain
      // count ≡ distinct-doc count — and it drops the two-phase
      // distinct-aggregate expansion (partial dedup on (span, id) +
      // re-aggregate) from the plan: one partial-agg exchange keyed by
      // span instead.
      .agg(count(lit(1)).as("n_docs"), min($"id").as("first_doc"))
      .filter($"n_docs" >= minDocs)
      .select($"span", $"n_docs", $"first_doc")
  }

  /** MinHash-LSH candidates VERIFIED with exact Jaccard — the
    * production near-dup tier: the sketch only GENERATES candidates
    * (generous `candidateThreshold` on the estimate), the decision is
    * the exact Jaccard of the two shingle sets, joined back per
    * candidate pair. Output therefore contains no estimator noise —
    * every (a, b, jaccard) is exact over the [[normText]]-normalized
    * `n`-gram space — and is value-comparable against an exact all-pairs
    * oracle whenever banding recall holds at `threshold` (with 16 bands
    * × 4 rows a J = 0.8 pair collides with p ≈ 1 - (1-0.8⁴)¹⁶ ≈ 0.9998;
    * the driver's sf0.01 corpus plants only J ≥ 0.92 pairs, where the
    * miss probability is < 1e-7 — and the hash is deterministic, so the
    * oracle comparison pins it). At scale the exact verify touches only
    * candidate pairs (O(n·bands) bucket-mates), never all pairs. */
  def minHashLshVerified(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, numHashes: Int = 64, bands: Int = 16,
      candidateThreshold: Double = 0.5,
      threshold: Double = 0.8, pairMode: String = "all"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // pairMode passes straight through to the candidate stage — the
    // exact verify is per-pair, so star's clique-linearity carries to
    // the composed tier unchanged
    val cands = minHashLsh(df, idCol, textCol, n, numHashes, bands,
      candidateThreshold, pairMode = pairMode).select($"a", $"b")
    // shingle ONLY the candidate ids (semi-join first — candidates are
    // few by construction, the corpus is not), cached so the two join
    // sides share one shingling pass instead of re-running
    // normText+shingleCol over the corpus once per side
    val candIds = cands.select($"a".as("id"))
      .union(cands.select($"b".as("id"))).distinct()
    val shingled = df.select(longId(df, idCol).as("id"),
      normText(col(textCol)).as("t"))
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id"), shingleCol(col("t"), n).as("sh"))
    cached(shingled, fill = false) { sh =>
      cands
        .join(sh.select($"id".as("a"), $"sh".as("sha")), "a")
        .join(sh.select($"id".as("b"), $"sh".as("shb")), "b")
        .withColumn("jaccard",
          round(size(array_intersect($"sha", $"shb")).cast("double") /
            size(array_union($"sha", $"shb")), 4))
        .filter($"jaccard" >= threshold)
        .select($"a", $"b", $"jaccard")
        .transform(capturePlan("minhash_verified", _))
        .localCheckpoint(eager = true)
    }
  }

  /** Embedding-cosine near-dup pairs against an anchor subset (exact).
    * `anchorMod`: anchors are ids ≡ 0 (mod anchorMod) — a deterministic
    * sample that keeps the cross join linear in corpus size (|anchors| is
    * broadcast). For full-corpus near-dup at scale, bucket first with
    * [[Similarity.sketchCol]] sign sketches and verify in-bucket, exactly
    * as [[Similarity.lshTopK]] does. */
  def embeddingCosine(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, anchorMod: Long = 10L): DataFrame = {
    graft.functions.VectorOps.register(df.sparkSession)
    import org.apache.spark.sql.functions.broadcast
    val v = df.select(longId(df, idCol).as("b"),
      col(vecCol).cast("array<double>").as("vb"))
    val anchors = v.filter(col("b") % anchorMod === 0)
      .select(col("b").as("a"), col("vb").as("va"))
    v.join(broadcast(anchors), col("a") < col("b"))
      .withColumn("sim", round(Similarity.cosine(col("va"), col("vb")), 4))
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"), col("sim"))
  }

  /** ⌈log₂ n⌉ + 8 hyperplanes, clamped to [16, 40] — enough that the
    * expected bucket occupancy n/2^planes stays ≪ 1 (buckets of size
    * 0/1 dominate, so the in-bucket join cost is driven by the probe
    * replication, not bucket collisions), while hamming-1 multi-probe
    * keeps near-identical recall: at cos ≥ 0.999 each plane flips with
    * p = θ/π ≈ 0.014, so even at 40 planes a pair's sketches differ by
    * ≥ 2 bits (the only miss mode under multi-probe) with p ≈ 14%
    * worst-case, ≈ 1% at cos 0.9999 — raise `multiProbe` coverage or
    * verify survivors downstream if the corpus carries looser dups. */
  def autoPlanes(n: Long): Int = {
    val log2 =
      if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    math.min(40, math.max(16, log2 + 8))
  }

  /** Full-corpus embedding near-dup via sign-sketch LSH — the scale path
    * the anchored [[embeddingCosine]] can't cover: every vector lands in
    * a bucket keyed by the sign pattern of `planes` fixed hyperplanes
    * ([[Similarity.sketchCol]]); candidate pairs meet only inside a
    * bucket and are verified with exact cosine, so there are NO false
    * positives — only recall loss. With `multiProbe` one join side also
    * enters its `planes` hamming-1 neighbor buckets, which guarantees
    * recall for any pair whose sketches differ in at most one bit (the
    * common case for near-identical vectors) at the cost of (planes+1)×
    * rows on that side.
    *
    * COST BOUND — candidates are in-bucket pairs: Σ over buckets of
    * |probe side| · |build side|, NOT "O(n·planes)" (an earlier claim).
    * Explode/probe generation is O(n·planes); the join fan-out is only
    * near-linear when buckets stay small, i.e. when 2^planes ≳ n — at
    * planes=8 there are just 256 buckets and the bound degrades toward
    * (planes+1)·n²/256 however sharp the verify is. `planes <= 0`
    * (default) therefore self-scales via [[autoPlanes]]; the count that
    * sizes it is a REAL job over `df` (a full scan when `df` is a
    * derived frame, cheap only over a raw parquet source) — callers
    * that already know the corpus size pass `nHint` and skip it.
    * Pass an explicit small `planes` only for deliberately coarse
    * sampling (the benchmarked `dedup_embedding_lsh` query documents
    * exactly that trade at 8).
    *
    * `pairMode = "star"` ([[probeStar]]): each probe pairs only with
    * its target bucket's minimal (id, vec) — O(n·planes) candidate
    * output even when a million near-identical vectors share one
    * bucket. */
  def embeddingCosineLsh(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, planes: Int = 0,
      multiProbe: Boolean = true, pairMode: String = "all",
      nHint: Long = -1L, collectMetrics: Boolean = false): DataFrame = {
    graft.functions.VectorOps.register(df.sparkSession)
    import df.sparkSession.implicits._
    requirePairMode(pairMode)
    val nPlanes =
      if (planes > 0) planes
      else autoPlanes(if (nHint > 0) nHint else df.count())
    val v = fanOut(df.select(longId(df, idCol).as("id"),
      col(vecCol).cast("array<double>").as("vec")))
      .withColumn("bucket", Similarity.sketchCol(col("vec"), dim, nPlanes))
    val probes =
      if (!multiProbe) array(col("bucket"))
      else array(col("bucket") +:
        (0 until nPlanes).map(p =>
          col("bucket").bitwiseXOR(lit(1L << p))): _*)
    val a = v.select($"id".as("a"), $"vec".as("va"),
      explode(probes).as("pb"))
    val candidates = pairMode match {
      case "star" =>
        // (a, b) once; its va/vb may be swapped, which cosine ignores
        probeStar(a, v, "bucket", "vec").dropDuplicates("a", "b")
      case _ =>
        val b = v.select($"id".as("b"), $"vec".as("vb"),
          $"bucket".as("pb"))
        a.join(b, Seq("pb")).filter($"a" < $"b")
    }
    if (collectMetrics)
      recordLshMetrics("embedding_cosine_lsh", pairMode,
        v.select($"id", $"bucket"), Seq("bucket"), -1L)
    candidates
      .select($"a", $"b",
        round(Similarity.cosine($"va", $"vb"), 4).as("sim"))
      .filter($"sim" >= threshold)
      .distinct()
  }

  // --------------------------------------------- components / keep policy
  /** Connected components over near-dup candidate PAIRS — the keep-policy
    * step every pair-producing dedup tier above feeds into: duplicates
    * are transitive (a~b, b~c => one cluster), so the keeper must be
    * chosen per COMPONENT, not per pair. Returns (id, label) for every id
    * appearing in `pairs`, where label = the component's minimal id; keep
    * policy is then `id == label` (plus all ids never seen in a pair).
    *
    * TWO TIERS, picked by measured edge count:
    *
    *  - `nEdges ≤ driverMaxEdges` (default 2^20 ≈ 16 MB of longs) —
    *    union-find with path compression ON THE DRIVER. Duplicate
    *    graphs are sparse survivors of the pair-producing tiers, so
    *    this is the overwhelmingly common case, and a distributed
    *    iterative dance over a few thousand edges is pure scheduling
    *    overhead (measured: 2.8 s for 3 rounds over 2 000 nodes at
    *    local[32] vs ~0.4 s collected). Same philosophy as Spark's own
    *    broadcast threshold: below a size floor, distribution costs
    *    more than it buys.
    *  - above the threshold — iterative min-label propagation WITH path
    *    halving. Each round, every node takes the min of its own label
    *    and its neighbors' labels, then jumps one pointer step
    *    (label := label's label) — the classic shortcut that turns
    *    O(diameter) rounds into O(log diameter) (Kiveris et al. 2014's
    *    star operations are the same idea). Near-dup components are
    *    shallow in practice (stars/cliques around a template) so rounds
    *    stay low single-digit either way; the `maxIter` guard and the
    *    convergence check (a metadata-sized aggregate, not a collect of
    *    labels) bound adversarial chains. The jump self-joins the
    *    propagated frame inside ONE job — the subtree computes twice
    *    per round, but no extra materialization/barrier is added
    *    (batching two steps per job and caching the intermediates both
    *    measured SLOWER — the bench keeps the receipts), and at
    *    10^12-row scale each round stays a fixed-size shuffle keyed by
    *    node id with nothing driver-side; the DAG is truncated with
    *    localCheckpoint per round so the plan doesn't grow.
    *
    * Both tiers return identical labels (DedupSpec forces the
    * distributed tier with driverMaxEdges = 0 and asserts equality). */
  def components(pairs: DataFrame, maxIter: Int = 20,
      driverMaxEdges: Long = 1L << 20): DataFrame = {
    // symmetric edge list (propagation must flow both directions);
    // cached without a fill — the bounded probe below is its first job
    val symmetric = pairs.select(longId(pairs, "a").as("id"),
      longId(pairs, "b").as("nbr"))
      .union(pairs.select(longId(pairs, "b").as("id"),
        longId(pairs, "a").as("nbr")))
      .distinct()
    cached(symmetric, fill = false) { edges =>
      // tier probe and small-tier fetch in ONE bounded job: collect at
      // most driverMaxEdges+1 rows — if the limit truncated, the graph
      // is big and the distributed loop takes over; otherwise we
      // already hold the whole edge list. Never an unbounded collect.
      // probe.length < cap, NOT <= driverMaxEdges: when driverMaxEdges
      // >= Int.MaxValue the limit() clamps to Int.MaxValue rows, and a
      // graph with more edges would satisfy `probe.length <=
      // driverMaxEdges` on a TRUNCATED edge list — silently wrong
      // components. A full probe (== cap) always falls through to the
      // distributed tier instead.
      val cap = math.min(driverMaxEdges + 1, Int.MaxValue.toLong).toInt
      val probe = if (cap > 0) edges.limit(cap).collect() else Array.empty[Row]
      if (probe.length < cap) {
        // explicit schema + Rows, not a product-encoder toDF: keeps the
        // construction free of TypeTag reflection (REPL-safe) and makes
        // the non-null long schema explicit
        val rows = new java.util.ArrayList[Row]()
        driverComponents(probe.map(r => (r.getLong(0), r.getLong(1))))
          .foreach { case (id, label) => rows.add(Row(id, label)) }
        import org.apache.spark.sql.types._
        pairs.sparkSession.createDataFrame(rows, StructType(Seq(
          StructField("id", LongType, nullable = false),
          StructField("label", LongType, nullable = false))))
      } else propagateLabels(edges, maxIter)
    }
  }

  /** [[components]]' distributed tier; its labels are checkpointed, so
    * they outlive the cached `edges`. */
  private def propagateLabels(edges: DataFrame, maxIter: Int): DataFrame = {
    import edges.sparkSession.implicits._
    var labels = edges.groupBy($"id")
      .agg(min($"nbr").as("mn"))
      .select($"id", least($"id", $"mn").as("label"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // convergence detector: labels only ever DECREASE under min-
    // propagation, so the exact (decimal — a 10^12-id corpus overflows
    // long) label sum strictly decreases iff anything changed. One
    // aggregate over the just-checkpointed frame per round — no
    // old-vs-new join, which cost a second shuffle per round.
    // SUM over an empty frame is NULL — coalesce to 0 so a corpus with
    // zero duplicate pairs (a valid, common input) converges instead of
    // NPE-ing on the first compareTo.
    def labelSum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum($"label".cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // neighbor labels + own label, min per node
      val prop = edges.join(labels.withColumnRenamed("id", "nbr"), "nbr")
        .select($"id", $"label")
        .union(labels)
        .groupBy($"id").agg(min($"label").as("label"))
      // path halving: label := min(label, label's label). Labels are
      // always node ids of the same component (mins of node-id sets),
      // so the lookup side is the SAME frame renamed; left join guards
      // the (impossible by construction) miss. Round 1 skips the jump:
      // shallow components (stars/cliques — the common near-dup shape)
      // are already at fixpoint after the initial least(id, min nbr),
      // so the jump there is pure overhead; deep chains still halve
      // from round 2 on.
      // LAZY checkpoint: the labelSum aggregate right below is the
      // materializing action, so each round costs ONE job (an eager
      // checkpoint ran a second job per round just to persist)
      val next = (if (iter == 0) prop
        else {
          val jump = prop.select($"id".as("jid"), $"label".as("jlabel"))
          prop.join(jump, prop("label") === jump("jid"), "left")
            .select(prop("id"),
              least(prop("label"), coalesce($"jlabel", prop("label")))
                .as("label"))
        }).localCheckpoint(eager = false) // truncate lineage per round
      val s = labelSum(next)
      labels.unpersist()
      labels = next
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      iter += 1
    }
    labels
  }

  /** Union-find with path compression + union-by-min over a collected
    * edge list — the small-graph tier of [[components]]. Returns
    * (id, minimal id of its component) for every id in `edges`.
    * Roots carry the component min directly (union keeps the smaller
    * root on top), so the final pass is pure find. */
  private[operators] def driverComponents(
      edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path halving: point to grandparent as we walk
        val g = parent.getOrDefault(p, p)
        parent.put(x, g)
        x = g
        p = parent.getOrDefault(x, x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { // union by min: smaller id becomes the root
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val out = new Array[(Long, Long)](parent.size())
    var i = 0
    val it = parent.keySet().iterator()
    while (it.hasNext) {
      val id = it.next()
      out(i) = (id, find(id))
      i += 1
    }
    out
  }

  /** Keep-policy materializer: one row per input doc with its duplicate-
    * cluster label and the keep decision (keeper = minimal id of the
    * component; docs in no pair keep themselves). */
  def keepPolicy(df: DataFrame, idCol: String,
      pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val labels = components(pairs, maxIter)
    df.select(longId(df, idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("label"), col("id")).as("label"))
      .withColumn("keep", col("id") === col("label"))
  }

  // --------------------------------------------------------------- SimHash
  /** Row-local 64-bit SimHash over char shingles. */
  def simHash64(text: String, n: Int = 4): Long = {
    val acc = new Array[Int](64)
    graft.lid.TextStats.shingles(text, n).foreach { s =>
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** SimHash near-dup pairs within `maxHamming`, candidate-generated by
    * the multi-table block scheme of [[hammingPairs]] (recall GUARANTEED
    * for maxHamming ≤ chunks-1 by pigeonhole — enforced, so a caller
    * can't silently under-recall). The OUTPUT is scheme-independent
    * (candidates are verified with exact hamming, then distinct'd), so
    * `chunks` is purely a scale knob: 6 (the default) keys each of the
    * 20 tables on 32 bits — linear candidate growth out to 10^9+ docs;
    * see [[hammingPairs]] for the full replication/key-width trade. */
  def simHash(df: DataFrame, idCol: String, textCol: String,
      n: Int = 4, maxHamming: Int = 3, chunks: Int = 6,
      pairMode: String = "all"): DataFrame = {
    require(maxHamming <= chunks - 1,
      s"recall guarantee needs maxHamming <= chunks-1 " +
        s"(pigeonhole); got maxHamming=$maxHamming, chunks=$chunks")
    val spark = df.sparkSession
    graft.functions.SimHashOps.register(spark)
    // native codegen expression, not a typed map: the encoder round-trip
    // broke whole-stage codegen at both edges of the hash projection
    // blank/null texts all hash to the same value (hamming 0 with each
    // other) yet have no content to be near-duplicate of — excluded,
    // same contract as exact/minHashLsh
    // fanOut BEFORE the hash projection: simhash64 is the expensive
    // per-row pass (FNV + 64 sign votes per shingle), so it must run on
    // the repartitioned side, not inside the single scan task
    val hashes = fanOut(df.filter(length(trim(col(textCol))) > 0)
      .select(longId(df, idCol).as("id"), col(textCol).as("text")))
      .select(col("id"),
        graft.functions.SimHashOps.simhash64(col("text"), n).as("sh"))
    hammingPairs(hashes, maxHamming, chunks, pairMode)
  }

  /** Even split of the 64 hash bits into `chunks` blocks:
    * (startBit, width) per block, first `64 % chunks` blocks one wider. */
  private def blockLayout(chunks: Int): Array[(Int, Int)] = {
    val base = 64 / chunks
    val extra = 64 % chunks
    val out = new Array[(Int, Int)](chunks)
    var start = 0
    var i = 0
    while (i < chunks) {
      val w = base + (if (i < extra) 1 else 0)
      out(i) = (start, w)
      start += w
      i += 1
    }
    out
  }

  /** All size-k index subsets of 0 until n, lexicographic. */
  private def combinations(n: Int, k: Int): Seq[Seq[Int]] =
    (0 until n).combinations(k).map(_.toSeq).toSeq

  /** Per-table candidate keys for the multi-table hamming scheme
    * (Manku, Jain & Das Sarma 2007): one key per (chunks-maxHamming)-
    * subset of blocks, each key the concatenation of its blocks' bits. */
  private def tableKeys(sh: Column, maxHamming: Int,
      chunks: Int): Seq[Column] = {
    val layout = blockLayout(chunks)
    combinations(chunks, chunks - maxHamming).map { blocks =>
      blocks.foldLeft(lit(0L)) { case (acc, b) =>
        val (start, w) = layout(b)
        val mask = if (w == 64) -1L else (1L << w) - 1
        shiftleft(acc, w) + shiftright(sh, start).bitwiseAND(lit(mask))
      }
    }
  }

  /** Hamming-ball candidate search over any 64-bit hash column — the
    * bucketing engine shared by [[simHash]] (text) and the audio
    * fingerprint tier. `hashes` must have columns (id: long, sh: long).
    *
    * Multi-table scheme (Manku, Jain & Das Sarma, WWW 2007): the 64
    * bits split into `chunks` near-equal blocks; each of the
    * C(chunks, chunks-maxHamming) tables keys on the concatenated bits
    * of one (chunks-maxHamming)-subset of blocks. Pigeonhole: ≤
    * maxHamming differing bits touch ≤ maxHamming blocks, so some
    * subset of chunks-maxHamming blocks is untouched and that table's
    * keys match exactly — recall is GUARANTEED for maxHamming ≤
    * chunks-1 (enforced; beyond it recall would be luck).
    *
    * The chunks knob trades replication for key width: expected
    * candidate pairs ≈ tables · n² / 2^keyBits, with keyBits =
    * 64·(chunks-maxHamming)/chunks.
    *   - chunks=4, h=3 → 4 tables × 16-bit keys: cheapest explode, but
    *     the 65 536-key space goes quadratic around 10^8 docs — the r3
    *     scheme, now the SMALL-corpus setting.
    *   - chunks=6, h=3 → 20 tables × 32-bit keys: ~4·10^9 keys, linear
    *     candidates out to 10^9+ docs at 5× the exploded rows — the
    *     scale default ([[simHash]] uses it).
    *   - chunks=8, h=3 → 56 tables × 40-bit keys for the 10^12 tier.
    * A corpus where one block's value is globally hot (shared
    * boilerplate bits) breaks the single-block scheme completely —
    * every doc lands in one bucket — while any wider-key table still
    * spreads on its other blocks' bits (DedupSpec measures exactly
    * this: 2000 docs sharing 16 bits → 2.0M in-bucket pairs at
    * chunks=4 vs ~linear at chunks=6). */
  def hammingPairs(hashes: DataFrame, maxHamming: Int = 3,
      chunks: Int = 4, pairMode: String = "all",
      collectMetrics: Boolean = false): DataFrame = {
    require(chunks >= 1 && chunks <= 64, s"chunks must be 1..64, got $chunks")
    require(maxHamming <= chunks - 1,
      s"recall guarantee needs maxHamming <= chunks-1 " +
        s"(pigeonhole); got maxHamming=$maxHamming, chunks=$chunks")
    requirePairMode(pairMode)
    // replication bound: each row explodes into one key PER TABLE, and
    // tables = C(chunks, chunks-maxHamming) grows combinatorially
    // (chunks=64, h=3 would be 41 664 keys/row — a silent memory/shuffle
    // blowup, not a scale knob). 512 covers every sane configuration
    // (chunks=8,h=3 → 56; chunks=12,h=4 → 495); beyond it the caller
    // wants a different scheme, not more tables.
    val nTables = combinations(chunks, chunks - maxHamming).size
    require(nTables <= 512,
      s"C(chunks, chunks-maxHamming) = $nTables tables would replicate " +
        s"every row ${nTables}x in the explode; cap is 512 — lower " +
        "chunks or raise maxHamming-adjacent block width instead")
    val spark = hashes.sparkSession
    import spark.implicits._
    // cached: BOTH candidate-join sides (and in star mode the bucket-min
    // window) re-derive from `hashes`, and Spark plans the self-join as
    // two executions of the upstream subtree — uncached, the caller's
    // hash computation (simhash64 over every shingle of every doc) runs
    // once PER SIDE. The cached frame is (id, sh) = 16 bytes/row.
    cached(hashes, fill = false) { hcached =>
      val chunked = tableBuckets(hcached, maxHamming, chunks)
      // hamming-filter BEFORE the pair distinct: bucket-mates are
      // quadratic in bucket size, survivors are few — the distinct
      // shuffle should only carry survivors (hamming is deterministic
      // per pair, so filter-then-distinct ≡ distinct-then-filter)
      val out = bucketPairs(chunked, Seq("tbl", "ck"), pairMode, Seq("sh"))
        .withColumn("hamming", bit_count($"sha".bitwiseXOR($"shb")))
        .filter($"hamming" <= maxHamming)
        .select($"a", $"b", $"hamming").distinct()
        .transform(capturePlan("hamming_pairs", _))
        .localCheckpoint(eager = true)
      if (collectMetrics)
        recordLshMetrics("hamming_multitable", pairMode,
          chunked, Seq("tbl", "ck"), -1L)
      out
    }
  }

  /** (id, sh, tbl, ck): one row per hash per multi-table key. */
  private def tableBuckets(hashes: DataFrame, maxHamming: Int,
      chunks: Int): DataFrame =
    hashes.select(col("id"), col("sh"),
      posexplode(array(tableKeys(col("sh"), maxHamming, chunks): _*))
        .as(Seq("tbl", "ck")))

  /** Σ over buckets of C(size, 2) — the exact in-bucket verify-join
    * fan-out [[hammingPairs]] would pay (before the hamming filter and
    * pair distinct), as one aggregate. The observability hook for the
    * quadratic-blowup bound: log it per corpus and raise `chunks` when
    * it trends away from O(n·tables). */
  def hammingCandidateCount(hashes: DataFrame, maxHamming: Int = 3,
      chunks: Int = 4): Long = {
    require(maxHamming <= chunks - 1)
    bucketCounts(tableBuckets(hashes, maxHamming, chunks), Seq("tbl", "ck"))
      .getAs[Long]("ap2") / 2
  }

  /** Offset-robust audio duplicate matching via spectral-peak landmark
    * fingerprints ([[graft.codec.Fft.peakLandmarks]], Wang 2003): a copy
    * that is time-SHIFTED (leading silence, trimmed intro, concatenation
    * offset) defeats the whole-clip band-energy cosine tier but shares
    * most (f1, f2, Δt) landmark hashes — with every shared hash's anchor
    * frames differing by the SAME offset. Candidates come from an
    * inverted hash index (explode → equi-join), and the alignment
    * histogram does the verification: a true match concentrates its
    * shared hashes on one anchor-frame delta, random hash collisions
    * spread across deltas. Returns (a, b, matches, frame_offset) where
    * `matches` counts hashes agreeing on the dominant delta and
    * frame_offset = t1(a) - t1(b) of that delta (sign = which clip
    * leads).
    *
    * Scale shape: narrow decode+landmark pass (the one expensive map,
    * computed once under an operator-owned persist), df-pruned inverted
    * index (hot hashes — ubiquitous spectral motifs — are dropped
    * exactly like stop-shingles in [[ngramJaccard]], which is what
    * bounds the self-join on boilerplate audio), then ONE counter
    * groupBy keyed by (a, b, delta). Landmarks per clip are O(frames ·
    * peaksPerFrame · fanout) ≈ hundreds, and only (id, hash, t1) ints
    * reach the exchange — never waveforms.
    *
    * `maxHashDf` follows the same SCALING RULE as
    * [[ngramJaccard]].maxShingleDf: the absolute is the fixed-corpus /
    * oracle form; at growing corpus sizes pass `maxHashDfFrac` (cap =
    * max(1, ceil(frac · nClips)), one countDistinct over the persisted
    * landmark index) so "hot hash" keeps meaning a corpus FRACTION. */
  def audioFingerprintMatch(df: DataFrame, idCol: String,
      bytesCol: String, codecCol: String, minMatches: Long = 6,
      maxHashDf: Long = 64, maxHashDfFrac: Double = 0.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(maxHashDfFrac <= 1.0,
      s"maxHashDfFrac is a fraction of the corpus, got $maxHashDfFrac")
    // the one expensive map (decode + landmarks), cached and filled
    val landmarks = fanOut(df.select(longId(df, idCol).as("id"),
      col(codecCol).as("codec"), col(bytesCol).as("bytes")))
      .as[(Long, String, Array[Byte])]
      .flatMap { case (id, codec, bytes) =>
        val pcm = graft.codec.Audio.decode(codec, bytes)
        val marks = if (pcm == null) null
          else graft.codec.Fft.peakLandmarks(pcm)
        if (marks == null) Iterator.empty
        else marks.iterator.map(m =>
          (id, (m >>> 32).toInt, (m & 0xffffffffL).toInt))
      }
      .toDF("id", "hash", "t1")
      // NO distinct here (r6): one anchor must not vote twice for the
      // same delta, but [[Fft.peakLandmarks]] already guarantees
      // distinct (hash, t1) per clip BY CONSTRUCTION — per anchor frame
      // the f1 bins are distinct (sorted unique local maxima) and per
      // f1 the (dt, f2) pairs are distinct, and the 26-bit packing
      // f1<<16|f2<<6|dt is injective for nBins ≤ 1024, maxDt ≤ 63
      // (frameLen 512 ⇒ 257 bins; maxDt 8). The removed distinct was a
      // full extra shuffle+aggregate of every landmark row that could
      // never change a single row (measured ~0.6 s of the operator at
      // sf0.1 scale, pure overhead).
    cached(landmarks, fill = true) { lm =>
      val hashCap =
        if (maxHashDfFrac > 0.0) {
          val nClips = lm.select(countDistinct($"id")).head.getLong(0)
          math.max(1L, math.ceil(maxHashDfFrac * nClips).toLong)
        } else maxHashDf
      val rare = lm.groupBy($"hash")
        .agg(countDistinct($"id").as("df"))
        .filter($"df" <= hashCap).select($"hash")
      // filled too: BOTH self-join sides derive from pruned, and the
      // output job's two sides otherwise race the cold cache and run
      // the lm⋈rare join twice
      cached(lm.join(rare, Seq("hash")), fill = true) { pruned =>
        // Pair generation stays the a⋈b SELF-JOIN: the grouped-posting-
        // list rewrite was A/B-measured alternating in one JVM
        // (apps/ProfileAudioPairs) and lost by ~25% (selfjoin 0.99-1.03 s
        // vs posting 1.22-1.26 s for pair stage + delta histogram +
        // argmax) — the typed flatMap's tuple encoding outweighs the
        // join's second cached-index traversal, same verdict as
        // ngramJaccard's A/B.
        val a = pruned.select($"hash", $"id".as("a"), $"t1".as("ta"))
        val b = pruned.select($"hash", $"id".as("b"), $"t1".as("tb"))
        a.join(b, Seq("hash"))
          .filter($"a" < $"b")
          .groupBy($"a", $"b", ($"ta" - $"tb").as("delta"))
          .agg(count(lit(1)).as("cnt"))
          // dominant delta per pair: max(struct) ties break toward the
          // larger delta — deterministic
          .groupBy($"a", $"b")
          .agg(max(struct($"cnt", $"delta")).as("best"))
          .select($"a", $"b", $"best.cnt".as("matches"),
            $"best.delta".as("frame_offset"))
          .filter($"matches" >= minMatches)
          .transform(capturePlan("audio_fingerprint", _))
          .localCheckpoint(eager = true)
      }
    }
  }

  /** Audio near-dup pairs — the waveform analog of
    * [[embeddingCosineLsh]]: decode each clip in the narrow map stage,
    * reduce it to a volume-invariant normalized band-energy vector
    * ([[graft.codec.Fft.bandEnergies]]), bucket by the PEAK band with
    * ±1 multi-probe on one join side (spectral leakage or codec noise
    * can shift a borderline peak by one band — recall is guaranteed for
    * any pair whose peaks differ by ≤1), then verify candidates with
    * exact cosine of the band vectors, keeping pairs ≥ `threshold`. No
    * false positives beyond the cosine definition — only recall loss
    * for pairs whose peaks moved ≥2 bands, which at SNR ≥ 30 dB does
    * not happen (FftSpec measures the μ-law/noise envelope).
    * Undecodable or all-silent clips are isolated out of candidate
    * generation. EAGER like [[minHashLsh]]: survivor pairs materialize
    * inside the call so the decoded-feature cache can be released.
    * At scale: one narrow O(n·frames·log frameLen) pass,
    * then a shuffle keyed by peak band carrying (id, band, nBands
    * doubles) ≈ 0.5 KB/row — never an all-pairs waveform compare.
    * Single-tone-heavy corpora make SOME bands hot; that skew is the
    * data's (clips sharing a peak band genuinely are near-dup
    * candidates), and the in-bucket verify is a cheap codegen'd dot
    * product. When one band DOES dominate (monotone corpora — hold
    * music, test tones), `saltBuckets > 1` spreads each band's bucket
    * over that many reducer tasks: the probe side salts
    * deterministically from its own id ([[Skew.saltFrom]]), the build
    * side replicates once per salt, so every (a, b) pair still meets in
    * exactly one (band, salt) bucket — output is IDENTICAL to unsalted
    * (DedupSpec asserts equality), only the task-size distribution
    * changes. Default 1 = unsalted plan, byte-for-byte the r3 shape. */
  def audioNearDup(df: DataFrame, idCol: String, bytesCol: String,
      codecCol: String, threshold: Double = 0.95,
      nBands: Int = 64, saltBuckets: Int = 1,
      pairMode: String = "all", collectMetrics: Boolean = false): DataFrame = {
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    requirePairMode(pairMode)
    val spark = df.sparkSession
    graft.functions.VectorOps.register(spark)
    import spark.implicits._
    val features = fanOut(df.select(longId(df, idCol).as("id"),
      col(codecCol).as("codec"), col(bytesCol).as("bytes")))
      .as[(Long, String, Array[Byte])]
      .map { case (id, codec, bytes) =>
        val pcm = graft.codec.Audio.decode(codec, bytes)
        val bands = if (pcm == null) null
          else graft.codec.Fft.bandEnergies(pcm, nBands = nBands)
        if (bands == null) (id, -1, null: Array[Double])
        else (id, graft.codec.Fft.peakBand(bands), bands)
      }
      .toDF("id", "pk", "bands")
      .filter($"pk" >= 0)
    // cached: referenced by BOTH join sides — uncached, every clip
    // decodes + FFTs twice. NO fill pass here (r6, measured): the
    // band-energy map is cheap enough that the racing fill's duplicated
    // work is concurrent and wall-time-free, while the dedicated count
    // job cost a consistent ~0.3 s per call (dedup_audio_neardup 0.63
    // -> 0.96 s in full-bench context); the expensive-decode tiers
    // (landmarks) keep theirs.
    cached(features, fill = false) { feats =>
      val a0 = feats.select($"id".as("a"), $"bands".as("va"),
        explode(array($"pk" - 1, $"pk", $"pk" + 1)).as("pb"))
      val b0 = feats.select($"id".as("b"), $"bands".as("vb"), $"pk".as("pb"))
      // star mode ([[probeStar]]): each prober pairs only with the
      // minimal (id, bands) of each exact peak-band bucket in its ±1
      // probe window — O(n) candidates even when one template's clips
      // flood a band. Salting is an ALL-pairs knob (it spreads a hot
      // bucket's quadratic join); star has no quadratic to spread and
      // min() is a partial aggregate (map-side combine eats hot keys),
      // so the salt path applies to all-pairs mode only.
      val candidates = pairMode match {
        case "star" => probeStar(a0, feats, "pk", "bands")
        case _ =>
          val (a, b, joinKeys) =
            if (saltBuckets == 1) (a0, b0, Seq("pb"))
            else (
              a0.withColumn("slt", Skew.saltFrom($"a", saltBuckets)),
              b0.withColumn("slt",
                explode(sequence(lit(0), lit(saltBuckets - 1)))),
              Seq("pb", "slt"))
          a.join(b, joinKeys).filter($"a" < $"b")
      }
      val out = candidates
        // band vectors are L2-normalized, so cosine = dot (symmetric,
        // so the star branch's possible va/vb swap after least/greatest
        // is invisible; the trailing distinct absorbs mutual-min
        // duplicates)
        .withColumn("sim",
          round(graft.functions.VectorOps.dot($"va", $"vb"), 4))
        .filter($"sim" >= threshold)
        .select($"a", $"b", $"sim")
        .distinct()
        .transform(capturePlan("audio_neardup", _))
        .localCheckpoint(eager = true)
      if (collectMetrics)
        // bucket = the exact peak band (the ±1 probe fan-out triples the
        // candidate counts reported here in both modes — the counters
        // trend the clique growth, which lives in the exact buckets)
        recordLshMetrics("audio_neardup", pairMode,
          feats.select($"id", $"pk"), Seq("pk"), out.count())
      out
    }
  }
}
