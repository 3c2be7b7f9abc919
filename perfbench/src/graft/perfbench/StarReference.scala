package graft.perfbench

import graft.lid.TextStats
import graft.operators.Dedup

/** Driver-side references for the two star-mode pair tiers of
  * `dedup_corpus`, built from the program's public per-row hash
  * functions. Star mode pairs every member of a bucket with the bucket's
  * smallest id and keeps the pair when it passes the tier's verify test;
  * these are the pairs that contract defines, whatever the operator's
  * plan. Pairs are (smaller id, larger id). */
object StarReference {
  private def star[K](keyed: Iterator[(K, Long)], verify: (Long, Long) => Boolean)
      : Set[(Long, Long)] =
    keyed.toSeq.groupBy(_._1).valuesIterator.flatMap { g =>
      val m = g.iterator.map(_._2).min
      g.iterator.map(_._2).filter(x => x != m && verify(m, x)).map(x => (m, x))
    }.toSet

  /** `minHashLsh(pairMode = "star")`: a bucket is one band's run of
    * signature values; the verify test is the estimated Jaccard,
    * rounded to four places as the operator does. */
  def minHash(texts: Map[Long, String], n: Int, numHashes: Int, bands: Int,
      threshold: Double): Set[(Long, Long)] = {
    val sigs = texts.iterator.map { case (id, t) => id -> TextStats.shingleHashes(t, n) }
      .filter(_._2.nonEmpty)
      .map { case (id, sh) => id -> Dedup.signatureOfHashes(sh, numHashes) }.toMap
    val r = numHashes / bands
    val keyed = sigs.iterator.flatMap { case (id, s) =>
      (0 until bands).iterator.map(b => ((b, s.slice(b * r, (b + 1) * r).toSeq), id)) }
    star(keyed, { (a, b) =>
      val eq = sigs(a).indices.count(i => sigs(a)(i) == sigs(b)(i))
      BigDecimal(eq.toDouble / numHashes)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble >= threshold
    })
  }

  /** `simHash(pairMode = "star")`: the multi-table scheme, one table per
    * (chunks - maxHamming)-subset of `chunks` near-equal bit blocks (the
    * first 64 % chunks blocks one bit wider), keyed by those blocks'
    * bits; the verify test is the Hamming distance. */
  def simHash(hashes: Map[Long, Long], maxHamming: Int, chunks: Int): Set[(Long, Long)] = {
    val widths = Array.tabulate(chunks)(i => 64 / chunks + (if (i < 64 % chunks) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    val tables = (0 until chunks).combinations(chunks - maxHamming).toVector
    val keyed = hashes.iterator.flatMap { case (id, sh) =>
      tables.iterator.zipWithIndex.map { case (blocks, t) =>
        ((t, blocks.map(b => (sh >>> starts(b)) & ((1L << widths(b)) - 1))), id) } }
    star(keyed, (a, b) => java.lang.Long.bitCount(hashes(a) ^ hashes(b)) <= maxHamming)
  }
}
