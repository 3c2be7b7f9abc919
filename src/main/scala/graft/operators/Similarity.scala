package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - [[bruteForceTopK]] — exact cosine top-k: broadcast the (small)
  *    query set against the corpus; the dot product is the native
  *    whole-stage-codegen [[graft.functions.VecDot]] expression, no UDF.
  *    At 10^12 rows this is the verification baseline and the final
  *    re-rank stage.
  *  - [[lshTopK]] — random-hyperplane LSH (sign sketch): vectors land in
  *    buckets keyed by the sign pattern of `planes` fixed hyperplanes;
  *    queries probe their own bucket only, then re-rank exactly. The
  *    corpus-side work is one narrow map + one shuffle by bucket — the
  *    scale path (recall < 1 by design; bump `planes` down or probe
  *    neighbor buckets for higher recall).
  *  - [[ivfTopK]] — inverted-file index (coarse quantizer): spherical
  *    k-means lists + nProbe probing, the classic IVF-flat recipe. Recall
  *    is tunable per query batch via `nProbe` (→ 1.0 at nProbe = nLists)
  *    without re-indexing, which LSH can't do.
  */
object Similarity {

  /** cos(a,b) over two array<double> cols, built on the native codegen
    * [[graft.functions.VecDot]] expression (requires
    * `VectorOps.register` on the session — every public entry point here
    * does it; the HOF route `aggregate(zip_with(...))` evaluates its
    * lambdas interpreted and outside whole-stage codegen). */
  def cosine(a: Column, b: Column): Column = {
    import graft.functions.VectorOps.dot
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** The top-k tail of every search here: over candidate rows (qid,
    * qvec, vid, vec), drops self-matches, scores the rounded cosine and
    * keeps the `k` best vids per query by (sim desc, vid asc), as
    * (qid, rank, vid, sim). */
  private def topK(candidates: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vid").asc)
    candidates.filter(col("vid") =!= col("qid"))
      .withColumn("sim", round(cosine(col("qvec"), col("vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vid"), col("sim"))
  }

  /** Exact top-k neighbors for each query id (excluding self). */
  def bruteForceTopK(vectors: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int = 5): DataFrame = {
    graft.functions.VectorOps.register(vectors.sparkSession)
    val v = vectors.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("vec"))
    val q = v.filter(col("vid").isin(queryIds: _*))
      .select(col("vid").as("qid"), col("vec").as("qvec"))
    topK(v.crossJoin(broadcast(q)), k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim). */
  private def planeComponent(plane: Int, dim: Int): Double = {
    val x = graft.util.Mix.mix(plane.toLong << 32 | dim.toLong)
    (x.toDouble / Long.MaxValue.toDouble) // in [-1, 1]
  }

  /** Sign-sketch bucket id of a vector under `planes` hyperplanes.
    * LOUD on a dim mismatch: vec_dot returns NULL when the vector's
    * length differs from `dim`, and `when(null >= 0)` would fall to 0
    * for EVERY plane — every row in bucket 0, i.e. LSH silently
    * degenerating to an O(n²) single-bucket join. raise_error instead
    * (same fail-loudly policy as Dedup's integral-id guard). */
  def sketchCol(vec: Column, dim: Int, planes: Int): Column = {
    val checked = when(vec.isNull, vec) // null vec stays null-tolerant
      .when(size(vec) === dim, vec)
      .otherwise(raise_error(
        concat(lit(s"sketchCol: expected $dim-dim vector, got "),
          size(vec).cast("string"))))
    val bits: Seq[Column] = (0 until planes).map { p =>
      val dot = graft.functions.VectorOps.dot(checked,
        array((0 until dim).map(d => lit(planeComponent(p, d))): _*))
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    // null vector → null bucket (NOT bucket 0): each plane's dot is NULL,
    // so every `when` falls to otherwise(0) and all null-vector rows
    // would otherwise collide into one REAL bucket, blowing the candidate
    // join O(m²) on null-heavy corpora. Null buckets never equi-join.
    when(vec.isNull, lit(null).cast("long")).otherwise(bits.reduce(_ + _))
  }

  // ------------------------------------------------------------- IVF ANN
  /** Spherical k-means over unit-normalized sample vectors: deterministic
    * greedy farthest-point init (k-means++ without the RNG), Lloyd
    * iterations, centroids re-normalized each step; empty lists keep
    * their previous centroid. Pure Scala — the sample is tiny and
    * driver-side, which is the standard IVF recipe (train the coarse
    * quantizer on a sample, broadcast it; the corpus itself never leaves
    * the executors). */
  def trainCentroids(sample: Array[Array[Double]], nLists: Int,
      iters: Int): Array[Array[Double]] = {
    require(sample.nonEmpty, "empty training sample")
    val k = math.min(nLists, sample.length)
    val dim = sample(0).length
    val normed = sample.map(normalize)
    // farthest-point init: next centroid = point minimizing its max dot
    // (= maximizing angular distance) to the centroids chosen so far
    val cents = new Array[Array[Double]](k)
    cents(0) = normed(0).clone()
    var filled = 1
    while (filled < k) {
      var bestIdx = 0; var bestScore = Double.PositiveInfinity
      var i = 0
      while (i < normed.length) {
        var maxDot = Double.NegativeInfinity
        var j = 0
        while (j < filled) {
          val c = cents(j); var dot = 0.0; var d = 0
          while (d < dim) { dot += c(d) * normed(i)(d); d += 1 }
          if (dot > maxDot) maxDot = dot
          j += 1
        }
        if (maxDot < bestScore) { bestScore = maxDot; bestIdx = i }
        i += 1
      }
      cents(filled) = normed(bestIdx).clone()
      filled += 1
    }
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnts = new Array[Int](k)
      var i = 0
      while (i < normed.length) {
        val a = nearestCentroid(cents, normed(i))
        val s = sums(a); val v = normed(i)
        var d = 0
        while (d < dim) { s(d) += v(d); d += 1 }
        cnts(a) += 1; i += 1
      }
      var j = 0
      while (j < k) {
        if (cnts(j) > 0) cents(j) = normalize(sums(j))
        j += 1
      }
      it += 1
    }
    cents
  }

  private def normalize(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v.clone()
    else { val out = new Array[Double](v.length); i = 0
      while (i < v.length) { out(i) = v(i) / n; i += 1 }; out }
  }

  /** Argmax dot product (= min angular distance on unit vectors);
    * deterministic lowest-index tie-break. */
  def nearestCentroid(cents: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bestDot = Double.NegativeInfinity; var j = 0
    while (j < cents.length) {
      val c = cents(j); var dot = 0.0; var d = 0
      while (d < v.length) { dot += c(d) * v(d); d += 1 }
      if (dot > bestDot) { bestDot = dot; best = j }
      j += 1
    }
    best
  }

  private def nearestLists(cents: Array[Array[Double]], v: Array[Double],
      nProbe: Int): Array[Int] = {
    val dots = cents.zipWithIndex.map { case (c, j) =>
      var dot = 0.0; var d = 0
      while (d < v.length) { dot += c(d) * v(d); d += 1 }
      (-dot, j)
    }
    dots.sortBy(identity).take(math.min(nProbe, cents.length)).map(_._2)
  }

  /** IVF (inverted-file) approximate top-k — the coarse-quantizer scale
    * path for cosine ANN:
    *
    *   1. train `nLists` spherical-k-means centroids on a deterministic
    *      driver-side sample (first `maxSample` ids), broadcast them;
    *   2. assign every corpus vector to its nearest list — ONE narrow
    *      `mapPartitions` pass, no shuffle;
    *   3. each query probes its `nProbe` nearest lists and re-ranks
    *      exactly inside them (broadcast join on list membership).
    *
    * Scanned fraction ≈ nProbe/nLists of the corpus per query; recall
    * rises monotonically in `nProbe` and hits 1.0 at nProbe = nLists
    * (then it degenerates to [[bruteForceTopK]]). At 10^12 rows the
    * assignment column would be computed once and persisted (partitioned
    * by list id) so repeated query batches skip step 2. */
  def ivfTopK(vectors: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], nLists: Int = 16, nProbe: Int = 4, k: Int = 5,
      maxSample: Int = 512, iters: Int = 8): DataFrame = {
    val spark = vectors.sparkSession
    graft.functions.VectorOps.register(spark)
    import spark.implicits._
    val v = vectors.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("vec"))
    // deterministic SPREAD sample: order by a hash of the id, not the id
    // itself — a corpus ordered/keyed by cluster (common for ingested
    // lakes) would otherwise train centroids on one cluster only and
    // silently collapse recall. orderBy+limit is a TakeOrdered (narrow
    // per-partition top-k + driver merge), not a full sort.
    val sample = v.orderBy(xxhash64(col("vid")).asc, col("vid").asc)
      .limit(maxSample)
      .as[(Long, Seq[Double])].collect().map(_._2.toArray)
    val cents = trainCentroids(sample, nLists, iters)
    val cb = spark.sparkContext.broadcast(cents)
    val assigned = v.as[(Long, Seq[Double])].mapPartitions { it =>
      val c = cb.value
      it.map { case (id, vec) =>
        (id, vec, nearestCentroid(c, normalize(vec.toArray)))
      }
    }.toDF("vid", "vec", "list")
    val probes = v.filter(col("vid").isin(queryIds: _*))
      .as[(Long, Seq[Double])].collect()
      .map { case (qid, qvec) =>
        (qid, qvec, nearestLists(cents, normalize(qvec.toArray), nProbe))
      }.toSeq
    // probe lists EXPLODED to (qid, qvec, list) rows so the probe join
    // is a broadcast-hash EQUI-join on list id: each corpus row does one
    // O(1) hash lookup. The previous `array_contains(probes, list)`
    // condition planned a BroadcastNestedLoopJoin — every corpus row
    // evaluated against every query, which silently voided the
    // nProbe/nLists scan-fraction promise (caught by the plan audit).
    val q = probes.toDF("qid", "qvec", "probes")
      .select(col("qid"), col("qvec"), explode(col("probes")).as("list"))
    topK(assigned.join(broadcast(q), Seq("list")), k)
  }

  /** Approximate top-k: bucket by sign sketch, exact re-rank in-bucket. */
  def lshTopK(vectors: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], dim: Int, k: Int = 5, planes: Int = 8): DataFrame = {
    graft.functions.VectorOps.register(vectors.sparkSession)
    val v = vectors.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("vec"))
      .withColumn("bucket", sketchCol(col("vec"), dim, planes))
    val q = v.filter(col("vid").isin(queryIds: _*))
      .select(col("vid").as("qid"), col("vec").as("qvec"),
        col("bucket").as("qbucket"))
    topK(v.join(broadcast(q), col("bucket") === col("qbucket")), k)
  }
}
