package graft.lid

import scala.util.Random

/** From-scratch, pure-Scala language-ID family mirroring the reference's
  * ensemble members (SURVEY.md §2.4, lib/language_identification.py:285-495):
  *
  *  - [[HashedLinearLid]]  ~ `impresso_ft`/`wp_ft` (fastText-style: hashed
  *    char-n-gram bag → linear softmax; digit-stripped input, top-k=5,
  *    prob floor 0.05, clamp min(1, round(p,3)) — LI:169-195)
  *  - [[NaiveBayesLid]]    ~ `langid` (char-n-gram multinomial NB with
  *    normalized probabilities — LI:293-295, 368-382)
  *  - [[RankLid]]          ~ `lingua` (trigram rank-profile, out-of-place
  *    measure → confidence > 0.05 kept — LI:303-307, 422-439)
  *  - [[CharLm]]           — graft addition: KenLM-style interpolated char
  *    n-gram LM for per-transcript perplexity (BASELINE.json.north_star).
  *
  * All models are trained deterministically in-memory from
  * [[LangCorpus.trainingCorpus]] (the reference's binaries are LFS stubs;
  * its impresso model was itself trained on ~2k items, README.md:37-39).
  * Each detector returns a prob-desc-sorted array, possibly empty, and is
  * cheap enough for per-row calls inside `mapPartitions`.
  */
trait LangDetector extends Serializable {
  /** (lang, prob) sorted by prob desc then lang asc; pruned per-detector. */
  final def predict(text: String): Array[(String, Double)] = score(new LidText(text))

  /** `predict` over a row normalized once for the whole ensemble. */
  def score(in: LidText): Array[(String, Double)]
}

/** One row's text normalization, shared by every ensemble member and the
  * char LM: `Stage1.processClip` builds one per gated row, each
  * `predict(text)` builds its own. Each part is computed on first use,
  * so a lone detector pays only for what it reads. One instance per row;
  * not for concurrent use. */
final class LidText(val text: String) {
  private var lower0: String = _
  private var padded0: String = _
  private var ftText0: String = _
  private var ftHashes0: Array[Int] = _

  /** `text.toLowerCase`: the NB, prototype and char-LM input. */
  def lower: String = {
    if (lower0 == null) lower0 = text.toLowerCase
    lower0
  }

  /** `\u0001 + lower + \u0001`: the rank profiles' input. */
  def padded: String = {
    if (padded0 == null) padded0 = LidText.Pad + lower + LidText.Pad
    padded0
  }

  /** fastText input: ASCII digits stripped BEFORE lowercasing (LI:183-184;
    * lowercasing is context-sensitive, e.g. Greek final sigma next to a
    * digit), padded like `padded` — which it is when there is no digit. */
  def ftText: String = {
    if (ftText0 == null) {
      val stripped = TextStats.stripDigits(text)
      ftText0 = if (stripped eq text) padded
        else LidText.Pad + stripped.toLowerCase + LidText.Pad
    }
    ftText0
  }

  /** Raw 31-bit FNV-1a hashes of `ftText`'s char 1..4-grams, all 1-grams
    * first, then all 2-grams, and so on; `impresso_ft` and `wp_ft` share
    * this one pass and each masks it to its own dim. FNV-1a extends one char at a
    * time, so the order-(n+1) hash at position i is one step past the
    * order-n hash at i: the hash rolls per start position (4L char steps
    * instead of ~10L). */
  def ftHashes: Array[Int] = {
    if (ftHashes0 == null) {
      val t = ftText
      val L = t.length
      var total = 0
      var n = 1
      while (n <= 4) { if (L >= n) total += L - n + 1; n += 1 }
      val out = new Array[Int](total)
      val off2 = L // block offsets: the n-gram block starts after all
      val off3 = off2 + math.max(L - 1, 0) // shorter blocks
      val off4 = off3 + math.max(L - 2, 0)
      var i = 0
      while (i < L) {
        var h = 0x811c9dc5
        h ^= t.charAt(i); h *= 0x01000193
        out(i) = h & 0x7fffffff
        if (i + 2 <= L) {
          h ^= t.charAt(i + 1); h *= 0x01000193
          out(off2 + i) = h & 0x7fffffff
          if (i + 3 <= L) {
            h ^= t.charAt(i + 2); h *= 0x01000193
            out(off3 + i) = h & 0x7fffffff
            if (i + 4 <= L) {
              h ^= t.charAt(i + 3); h *= 0x01000193
              out(off4 + i) = h & 0x7fffffff
            }
          }
        }
        i += 1
      }
      ftHashes0 = out
    }
    ftHashes0
  }
}

object LidText {
  // written as an escape: a raw control-char literal renders as ""
  private val Pad = "\u0001"
}

object Detectors {
  /** Deterministic tie-break contract (SURVEY.md §2.9 step 8): the
    * class indices by score desc, then lexicographically smallest
    * language — `langs.zip(p).sortBy { case (l, p) => (-p, l) }`, as an
    * insertion sort of the <= 5 classes with no tuple boxed. */
  def sortPreds(langs: IndexedSeq[String], p: Array[Double]): Array[Int] = {
    val ix = new Array[Int](p.length)
    var i = 0
    while (i < p.length) {
      var j = i - 1
      while (j >= 0 && {
        val c = java.lang.Double.compare(-p(i), -p(ix(j)))
        c < 0 || (c == 0 && langs(i) < langs(ix(j)))
      }) { ix(j + 1) = ix(j); j -= 1 }
      ix(j + 1) = i
      i += 1
    }
    ix
  }

  /** A detector's output: `(lang, prob)` in `sortPreds` order while
    * `prob > floor`, at most `maxN`, each prob rounded to `digits`. The
    * probs come from a softmax or a normalization, so they are never NaN
    * and never above 1: the entries above `floor` are a prefix of the
    * order, and a `min(1, ·)` clamp would be a no-op. */
  def preds(langs: IndexedSeq[String], p: Array[Double], floor: Double,
      maxN: Int, digits: Int): Array[(String, Double)] = {
    val ix = sortPreds(langs, p)
    var n = 0
    while (n < math.min(maxN, ix.length) && p(ix(n)) > floor) n += 1
    Array.tabulate(n)(i => (langs(ix(i)), TextStats.roundTo(p(ix(i)), digits)))
  }

  def softmax(scores: Array[Double]): Array[Double] = {
    val mx = scores.max
    val exps = scores.map(s => math.exp(s - mx))
    val z = exps.sum
    exps.map(_ / z)
  }

  /** FNV-1a 32-bit over a char slice — the hashing-trick bucket hash. */
  def ngramHash(s: CharSequence, from: Int, until: Int, dim: Int): Int = {
    var h = 0x811c9dc5
    var i = from
    while (i < until) {
      h ^= s.charAt(i)
      h *= 0x01000193
      i += 1
    }
    (h & 0x7fffffff) % dim
  }
}

/** Read-only open-addressed table from a non-zero packed-gram key to a
  * slot: the model tables keep their per-class payload flat in a
  * primitive array at `slot * k`, so a gram lookup is one probe and no
  * boxed key or per-gram array. Load factor <= 0.5; 0 marks an empty
  * slot. */
private[lid] final class LongSlots(keySet: Iterable[Long]) extends Serializable {
  private val bits = {
    var b = 4
    while ((1L << b) < 2L * keySet.size) b += 1
    b
  }
  val capacity: Int = 1 << bits
  private val mask = capacity - 1
  private val keys = new Array[Long](capacity)

  private def home(key: Long): Int =
    ((key * 0x9e3779b97f4a7c15L) >>> (64 - bits)).toInt

  keySet.foreach { key =>
    require(key != 0L, "0 marks an empty slot")
    var s = home(key)
    while (keys(s) != 0L && keys(s) != key) s = (s + 1) & mask
    keys(s) = key
  }

  /** The key's slot, or -1 when absent. */
  def slot(key: Long): Int = {
    var s = home(key)
    var k = keys(s)
    while (k != 0L && k != key) { s = (s + 1) & mask; k = keys(s) }
    if (k == 0L) -1 else s
  }
}

/** fastText-style: hashed char n-grams (1..4) → averaged bag → linear
  * softmax, trained with plain deterministic SGD. `langs` restricts the
  * label space (the impresso-style model covers exactly fr/de/lb/en/it). */
final class HashedLinearLid(
    val langs: Vector[String],
    dim: Int = 1 << 15,
    epochs: Int = 3,
    lr: Double = 0.25) extends LangDetector {

  private val k = langs.length
  private val w = Array.ofDim[Float](k, dim)
  private val bias = new Array[Float](k)
  require(Integer.bitCount(dim) == 1, s"dim $dim is not a power of two")
  // a raw 31-bit hash's bucket: h & mask, the same value as h % dim
  private val mask = dim - 1

  // digit-strip + lowercase pre-norm, word boundary markers like fastText
  private def features(text: String): Array[Int] =
    new LidText(text).ftHashes.map(_ & mask)

  def train(corpus: Seq[(String, String)]): this.type = {
    val idx = langs.zipWithIndex.toMap
    val data = corpus.filter(c => idx.contains(c._1))
      .map { case (l, s) => (idx(l), features(s)) }
    val rnd = new Random(4242L)
    val order = data.toArray
    var e = 0
    while (e < epochs) {
      // deterministic shuffle per epoch
      val perm = rnd.shuffle(order.indices.toVector)
      perm.foreach { pi =>
        val (y, fs) = order(pi)
        if (fs.nonEmpty) {
          val inv = 1.0 / fs.length
          val scores = new Array[Double](k)
          var c = 0
          while (c < k) {
            var s = bias(c).toDouble
            val row = w(c)
            fs.foreach(f => s += row(f))
            scores(c) = s * 1.0; c += 1
          }
          val p = Detectors.softmax(scores)
          c = 0
          while (c < k) {
            val g = (if (c == y) 1.0 else 0.0) - p(c)
            val step = (lr * g * inv).toFloat
            val row = w(c)
            fs.foreach(f => row(f) += step)
            bias(c) += (lr * g).toFloat
            c += 1
          }
        }
      }
      e += 1
    }
    this
  }

  override def score(in: LidText): Array[(String, Double)] = {
    if (in.text == null || in.text.isEmpty) return Array.empty
    val hs = in.ftHashes
    val scores = new Array[Double](k)
    var c = 0
    while (c < k) {
      var s = bias(c).toDouble
      val row = w(c)
      var j = 0
      while (j < hs.length) { s += row(hs(j) & mask); j += 1 }
      scores(c) = s; c += 1
    }
    // k=5 / threshold 0.05 / min(1, round(p,3)) — LI:186-190; softmax
    // probs never exceed 1, so the clamp holds without code
    Detectors.preds(langs, Detectors.softmax(scores), 0.05, 5, 3)
  }
}

/** langid-style: multinomial Naive Bayes over char 1+2-grams with
  * normalized posterior probabilities (norm_probs=True analog). */
final class NaiveBayesLid(val langs: Vector[String]) extends LangDetector {
  private val k = langs.length
  // gram (chars packed into a length-tagged Long) → slot; the slot's
  // per-class log-likelihoods sit at logLik(slot * k + c)
  private var slots: LongSlots = _
  private var logLik: Array[Double] = _
  private val defaults = new Array[Double](k)

  private def packGram(t: String, i: Int, n: Int): Long =
    if (n == 1) (1L << 32) | t.charAt(i).toLong
    else (2L << 32) | (t.charAt(i).toLong << 16) | t.charAt(i + 1).toLong

  /** Gram keys are 1- and 2-char substrings of the lowercased text.
    * Enumerated inline in train/predict to avoid iterator allocation. */
  def train(corpus: Seq[(String, String)]): this.type = {
    val idx = langs.zipWithIndex.toMap
    val counts = Array.fill(k)(new scala.collection.mutable.LongMap[Int])
    val totals = new Array[Long](k)
    corpus.foreach { case (l, s) =>
      idx.get(l).foreach { y =>
        val t = s.toLowerCase
        var n = 1
        while (n <= 2) {
          var i = 0
          while (i + n <= t.length) {
            val g = packGram(t, i, n)
            counts(y)(g) = counts(y).getOrElse(g, 0) + 1
            totals(y) += 1
            i += 1
          }
          n += 1
        }
      }
    }
    val vocab = counts.iterator.flatMap(_.keysIterator).toSet
    val vocabSize = vocab.size.toDouble
    var c = 0
    while (c < k) {
      defaults(c) = math.log(1.0 / (totals(c) + vocabSize))
      c += 1
    }
    slots = new LongSlots(vocab)
    logLik = NbTables.flat(slots, vocab, counts, totals, vocabSize)
    this
  }

  override def score(in: LidText): Array[(String, Double)] = {
    if (in.text == null || in.text.isEmpty) return Array.empty
    val scores = new Array[Double](k)
    var any = false
    val t = in.lower
    var n = 1
    while (n <= 2) {
      var i = 0
      while (i + n <= t.length) {
        any = true
        val s = slots.slot(packGram(t, i, n))
        var c = 0
        if (s >= 0) {
          val base = s * k
          while (c < k) { scores(c) += logLik(base + c); c += 1 }
        } else {
          while (c < k) { scores(c) += defaults(c); c += 1 }
        }
        i += 1
      }
      n += 1
    }
    if (!any) return Array.empty
    // temper by length so probs aren't saturated 0/1 on long text
    val len = math.max(1, in.text.length)
    val p = Detectors.softmax(scores.map(_ / math.sqrt(len.toDouble)))
    Detectors.preds(langs, p, Double.NegativeInfinity, 3, 3)
  }
}

/** langdetect-style 6th ensemble member (C1,
  * lib/language_identification.py:131-166 `avg_langdetect_lid`): the
  * reference averages n=3 STOCHASTIC langdetect runs (each run randomly
  * subsamples features), early-stopping when a run's top language has
  * prob > 0.95 AND is one of the default languages {de, fr}, lowercase
  * pre-norm, probabilities rounded to 9 digits. SURVEY §7.4 rules out
  * replicating nondeterminism, so the sampling is DERIVED rather than
  * drawn: trial t keeps a gram iff splitmix(gramKey ^ seed_t) clears a
  * fixed keep-rate — same averaged-trials + early-stop shape, bit-stable
  * across runs. The underlying model is a multinomial NB over char
  * 1..3-grams (one gram order more than [[NaiveBayesLid]]'s 1..2; raw
  * posteriors, no length tempering — langdetect saturates the same way),
  * all three trial scores accumulated in ONE pass over grams. */
final class SampledNbLid(
    val langs: Vector[String],
    trials: Int = 3,
    keepRate: Double = 0.8,
    earlyStopThreshold: Double = 0.95,
    earlyStopLangs: Set[String] = Set("de", "fr")) extends LangDetector {

  require(trials <= 8, "trial coins are carved from one 64-bit mix")
  private val k = langs.length
  // same flat gram table as NaiveBayesLid: logLik(slot * k + c)
  private var slots: LongSlots = _
  private var logLik: Array[Double] = _
  private val defaults = new Array[Double](k)
  private val keepByte = (keepRate * 256).toInt // per-trial coin: byte < this
  private val earlyIdx = langs.zipWithIndex
    .filter(li => earlyStopLangs.contains(li._1)).map(_._2).toArray

  // order tag OR'd AFTER the char loop: tagging first and shifting per
  // char pushed the tag past bit 63, so NUL-led grams of different
  // orders shared keys (n <= 3 chars use bits 0-47; the tag sits at
  // 48+). Identical keys for NUL-free text, so trained behavior is
  // unchanged there.
  private def packGram(t: String, i: Int, n: Int): Long = {
    var key = 0L
    var j = i
    while (j < i + n) { key = (key << 16) | t.charAt(j); j += 1 }
    key | (n.toLong << 48)
  }

  def train(corpus: Seq[(String, String)]): this.type = {
    val idx = langs.zipWithIndex.toMap
    val counts = Array.fill(k)(new scala.collection.mutable.LongMap[Int])
    val totals = new Array[Long](k)
    corpus.foreach { case (l, s) =>
      idx.get(l).foreach { y =>
        val t = s.toLowerCase
        var n = 1
        while (n <= 3) {
          var i = 0
          while (i + n <= t.length) {
            val g = packGram(t, i, n)
            counts(y)(g) = counts(y).getOrElse(g, 0) + 1
            totals(y) += 1
            i += 1
          }
          n += 1
        }
      }
    }
    val vocab = counts.iterator.flatMap(_.keysIterator).toSet
    val vocabSize = vocab.size.toDouble
    var c = 0
    while (c < k) {
      defaults(c) = math.log(1.0 / (totals(c) + vocabSize))
      c += 1
    }
    slots = new LongSlots(vocab)
    logLik = NbTables.flat(slots, vocab, counts, totals, vocabSize)
    this
  }

  /** Deterministic per-gram coin word: ONE splitmix per gram; trial t's
    * inclusion coin is byte t of the mix (trials stay independent
    * subsamples, at a third of the hashing cost — this is the per-gram
    * hot loop, 3 gram orders per char). Seeded at 42 (LI:155). */
  private def coinWord(g: Long): Long =
    graft.util.Mix.fin(g ^ (42L * graft.util.Mix.Golden))

  override def score(in: LidText): Array[(String, Double)] = {
    if (in.text == null || in.text.isEmpty) return Array.empty
    val t = in.lower // LI:158 lowercase pre-norm
    val scores = Array.ofDim[Double](trials, k)
    var any = false
    var n = 1
    while (n <= 3) {
      var i = 0
      while (i + n <= t.length) {
        val g = packGram(t, i, n)
        val slot = slots.slot(g)
        val v = if (slot >= 0) logLik else defaults
        val base = if (slot >= 0) slot * k else 0
        val coins = coinWord(g)
        var tr = 0
        while (tr < trials) {
          if (((coins >>> (tr * 8)) & 0xffL) < keepByte) {
            any = true
            val s = scores(tr)
            var c = 0
            while (c < k) { s(c) += v(base + c); c += 1 }
          }
          tr += 1
        }
        i += 1
      }
      n += 1
    }
    if (!any) return Array.empty
    // early-stop contract (LI:159-164): stop after the first trial whose
    // top prob clears the threshold AND whose top lang is a default lang;
    // average over the trials actually "run"
    val posts = scores.map(Detectors.softmax)
    var used = trials
    var tr = 0
    var stop = false
    while (tr < trials && !stop) {
      val p = posts(tr)
      var best = 0
      var c = 1
      while (c < k) { if (p(c) > p(best)) best = c; c += 1 }
      if (p(best) > earlyStopThreshold && earlyIdx.contains(best)) {
        used = tr + 1
        stop = true
      }
      tr += 1
    }
    val avg = new Array[Double](k)
    var c = 0
    while (c < k) {
      var s = 0.0
      var t2 = 0
      while (t2 < used) { s += posts(t2)(c); t2 += 1 }
      avg(c) = s / used
      c += 1
    }
    // averaged distribution, round 9 (LI:138, 166), tiny entries dropped
    Detectors.preds(langs, avg, 0.01, k, 9)
  }
}

/** Flat per-class log-likelihood table shared by the two NB members:
  * slot s of `slots` holds class c's add-one smoothed log-likelihood at
  * s * k + c (the same expression the per-gram arrays held). */
private[lid] object NbTables {
  def flat(slots: LongSlots, vocab: Iterable[Long],
      counts: Array[scala.collection.mutable.LongMap[Int]], totals: Array[Long],
      vocabSize: Double): Array[Double] = {
    val k = counts.length
    val out = new Array[Double](slots.capacity * k)
    vocab.foreach { g =>
      val base = slots.slot(g) * k
      var c = 0
      while (c < k) {
        out(base + c) = math.log(
          (counts(c).getOrElse(g, 0) + 1.0) / (totals(c) + vocabSize))
        c += 1
      }
    }
    out
  }
}

/** lingua-style: per-language top-M trigram rank profiles; score is the
  * normalized out-of-place distance turned into a confidence, keeping
  * entries with confidence > 0.05 (LI:434). */
final class RankLid(val langs: Vector[String], topM: Int = 300) extends LangDetector {
  private val k = langs.length
  // trigram (3 chars packed 16 bits each) → slot; the slot's
  // per-language ranks sit at ranks(slot * k + j). A gram outside a
  // language's top-M profile ranks topM. For equal-length trigrams the
  // packed-long order equals the string lexicographic order, so the
  // training tie-break (-count, gram) is the string one.
  private var slots: LongSlots = _
  private var ranks: Array[Int] = _

  private def pack3(t: String, i: Int): Long =
    (t.charAt(i).toLong << 32) | (t.charAt(i + 1).toLong << 16) |
      t.charAt(i + 2).toLong

  def train(corpus: Seq[(String, String)]): this.type = {
    val gramRanks = new scala.collection.mutable.LongMap[Array[Int]]
    langs.zipWithIndex.foreach { case (lang, li) =>
      val counts = new scala.collection.mutable.HashMap[Long, Int]
      corpus.iterator.filter(_._1 == lang).foreach { case (_, s) =>
        val t = new LidText(s).padded
        var i = 0
        while (i <= t.length - 3) {
          val g = pack3(t, i)
          counts(g) = counts.getOrElse(g, 0) + 1
          i += 1
        }
      }
      val ranked = counts.toSeq.sortBy { case (g, n) => (-n, g) }.take(topM)
      ranked.zipWithIndex.foreach { case ((g, _), r) =>
        gramRanks.getOrElseUpdate(g, Array.fill(k)(topM))(li) = r
      }
    }
    slots = new LongSlots(gramRanks.keys)
    ranks = new Array[Int](slots.capacity * k)
    gramRanks.foreach { case (g, v) =>
      System.arraycopy(v, 0, ranks, slots.slot(g) * k, k)
    }
    this
  }

  override def score(in: LidText): Array[(String, Double)] = {
    if (in.text == null || in.text.length < 3) return Array.empty
    val t = in.padded
    val nGrams = t.length - 2
    val dist = new Array[Long](k)
    var i = 0
    while (i <= t.length - 3) {
      val s = slots.slot(pack3(t, i))
      var j = 0
      if (s < 0) {
        while (j < k) { dist(j) += topM; j += 1 }
      } else {
        val base = s * k
        while (j < k) { dist(j) += ranks(base + j); j += 1 }
      }
      i += 1
    }
    val maxDist = topM.toDouble * nGrams
    // sharpen (^4) so the winner's normalized confidence is decisive —
    // flat scores would never clear the stage-2 prob gate (0.5)
    val raw = Array.tabulate(k)(li =>
      math.pow(math.max(0.0, 1.0 - dist(li) / maxDist), 4))
    val z = raw.sum
    if (z <= 0) return Array.empty
    Detectors.preds(langs, raw.map(_ / z), 0.05, k, 3)
  }
}

/** impresso_langident_pipeline-style 5th ensemble member (C5,
  * lib/language_identification.py:401-420: keep langs with score > 0.05,
  * probabilities pre-rounded by the pipeline itself). Architecture is
  * deliberately distinct from every other member: a ROCCHIO
  * nearest-centroid classifier in hashed char 2/3-gram TF space —
  *
  *  - training only AVERAGES: each language's prototype is its
  *    L2-normalized aggregate gram-frequency vector (no gradient steps,
  *    unlike the SGD-trained HashedLinearLid pair; no per-gram
  *    likelihoods, unlike the NB; no rank profiles, unlike lingua);
  *  - scoring is cosine-to-prototype: dot(tf, proto_c) accumulated as
  *    ONE bucket-major table lookup per gram occurrence (k floats,
  *    cache-adjacent), normalized by ~||tf|| ≈ sqrt(nGrams) — the same
  *    normalizer for every class, so the argmax is the exact cosine
  *    argmax;
  *  - softmax over `temp`-sharpened cosines so the winner clears the
  *    stage-2 prob gate (0.5) on clean text.
  */
final class ProtoLid(val langs: Vector[String], dim: Int = 1 << 13,
    temp: Double = 30.0) extends LangDetector {

  private val k = langs.length
  // bucket-major prototype matrix: proto(b*k + c) = class c's unit
  // centroid weight for gram bucket b
  private val proto = new Array[Float](dim * k)

  def train(corpus: Seq[(String, String)]): this.type = {
    val idx = langs.zipWithIndex.toMap
    val acc = Array.fill(k)(new Array[Double](dim))
    corpus.foreach { case (l, s) =>
      idx.get(l).foreach { y =>
        val t = s.toLowerCase
        val a = acc(y)
        var n = 2
        while (n <= 3) {
          var i = 0
          while (i + n <= t.length) {
            a(Detectors.ngramHash(t, i, i + n, dim)) += 1.0
            i += 1
          }
          n += 1
        }
      }
    }
    var c = 0
    while (c < k) {
      val a = acc(c)
      var s = 0.0
      var b = 0
      while (b < dim) { s += a(b) * a(b); b += 1 }
      val norm = math.sqrt(s)
      if (norm > 0) {
        b = 0
        while (b < dim) { proto(b * k + c) = (a(b) / norm).toFloat; b += 1 }
      }
      c += 1
    }
    this
  }

  override def score(in: LidText): Array[(String, Double)] = {
    if (in.text == null || in.text.length < 2) return Array.empty
    val t = in.lower
    val scores = new Array[Double](k)
    var grams = 0
    var n = 2
    while (n <= 3) {
      var i = 0
      while (i + n <= t.length) {
        val base = Detectors.ngramHash(t, i, i + n, dim) * k
        var c = 0
        while (c < k) { scores(c) += proto(base + c); c += 1 }
        grams += 1
        i += 1
      }
      n += 1
    }
    if (grams == 0) return Array.empty
    val norm = math.sqrt(grams.toDouble)
    var c = 0
    while (c < k) { scores(c) = temp * scores(c) / norm; c += 1 }
    // keep score > 0.05, probs rounded (LI:407-414)
    Detectors.preds(langs, Detectors.softmax(scores), 0.05, k, 3)
  }
}

/** KenLM-style interpolated character n-gram LM (orders 1..3, add-k
  * smoothed, fixed interpolation weights). `perplexity` is per-char;
  * fluent text from any trained language scores low, digit/punct noise
  * and out-of-family text scores high — the stage-1 quality signal. */
final class CharLm(orderWeights: Array[Double] = Array(0.1, 0.3, 0.6))
    extends Serializable {
  private val maxOrder = orderWeights.length
  // n-grams keyed by packed chars (16 bits each, length tag in the top
  // bits) — zero substring allocation on the per-char scoring path.
  // LongMap (specialized open-addressing) avoids boxing a java.lang.Long
  // on every one of the 6 lookups per scored character.
  private val counts = new scala.collection.mutable.LongMap[Int]
  private val contexts = new scala.collection.mutable.LongMap[Int]
  private var charVocab = 64.0
  // the full interpolated char probability at position i >= 2 depends
  // only on the 3-char window s[i-2..i], so its log is precomputed per
  // trained trigram (w1*p1 + w2*p2 + w3*p3 in the same order, then the
  // same math.log => the cached double is BIT-IDENTICAL to the slow
  // path). One flat-table lookup per scored char instead of six lookups
  // and a log; unseen trigrams (whose lower-order parts may still be
  // trained) fall back to the slow path. Built once in train, read-only
  // afterwards — safe under concurrent predict.
  private var triSlots = new LongSlots(Nil)
  private var triLogP: Array[Double] = new Array[Double](triSlots.capacity)

  /** Pack s[from..until) (until-from <= 3) into a tagged Long key.
    * The length tag (empty ctx = 1) is OR'd after the char loop — chars
    * occupy bits 0-47, the tag bits 48+; tagging before shifting pushed
    * the tag out of the word for non-empty grams, letting NUL-led grams
    * of different orders collide (keys are unchanged for NUL-free
    * text). */
  private def pack(s: CharSequence, from: Int, until: Int): Long = {
    var key = 0L
    var i = from
    while (i < until) { key = (key << 16) | s.charAt(i); i += 1 }
    key | ((until - from + 1).toLong << 48)
  }

  def train(corpus: Seq[String]): this.type = {
    val seen = new scala.collection.mutable.HashSet[Char]
    corpus.foreach { s0 =>
      val s = "" + s0.toLowerCase + ""
      s.foreach(seen += _)
      var n = 1
      while (n <= maxOrder) {
        var i = 0
        while (i + n <= s.length) {
          val g = pack(s, i, i + n)
          counts(g) = counts.getOrElse(g, 0) + 1
          val ctx = pack(s, i, i + n - 1)
          contexts(ctx) = contexts.getOrElse(ctx, 0) + 1
          i += 1
        }
        n += 1
      }
    }
    charVocab = math.max(seen.size.toDouble, 16.0)
    // precompute the interpolated probability for every trained trigram
    // (tag 4 = 3-char keys; see pack): reconstruct the window and run
    // the exact slow-path arithmetic once per distinct trigram
    if (maxOrder == 3) {
      val tri = counts.keys.filter(k2 => (k2 >>> 48) == 4)
      triSlots = new LongSlots(tri)
      triLogP = new Array[Double](triSlots.capacity)
      tri.foreach { key =>
        val w = new String(Array(
          ((key >>> 32) & 0xffff).toChar,
          ((key >>> 16) & 0xffff).toChar,
          (key & 0xffff).toChar))
        var p = 0.0
        var o = 1
        while (o <= maxOrder) { p += orderWeights(o - 1) * condProb(w, 2, o); o += 1 }
        triLogP(triSlots.slot(key)) = math.log(p)
      }
    }
    this
  }

  private def condProb(s: String, i: Int, order: Int): Double = {
    val from = i - order + 1
    if (from < 0) return 1.0 / charVocab
    val c = counts.getOrElse(pack(s, from, i + 1), 0)
    val cc = contexts.getOrElse(pack(s, from, i), 0)
    (c + 0.5) / (cc + 0.5 * charVocab)
  }

  /** Per-character perplexity; +Infinity-free (capped by smoothing). */
  def perplexity(text: String): Double = perplexity(new LidText(text))

  /** `perplexity` over a row normalized once for the whole ensemble. */
  def perplexity(in: LidText): Double = perplexityImpl(in, maxOrder == 3)

  /** Cache-bypassed twin (test hook): the spec asserts bit-equality of
    * the cached and uncached paths over arbitrary input. */
  private[graft] def perplexityUncached(text: String): Double =
    perplexityImpl(new LidText(text), cached = false)

  private def perplexityImpl(in: LidText, cached: Boolean): Double = {
    if (in.text == null || in.text.isEmpty) return 1e6
    val s = "" + in.lower + ""
    var logSum = 0.0
    var i = 1
    while (i < s.length) {
      // hot path: one packed-window key + one lookup per char (i >= 2);
      // positions with truncated context and cache misses (untrained
      // trigrams) take the exact slow path
      val slot = if (cached && i >= 2) triSlots.slot((4L << 48) |
        (s.charAt(i - 2).toLong << 32) | (s.charAt(i - 1).toLong << 16) | s.charAt(i))
      else -1
      if (slot >= 0) logSum += triLogP(slot)
      else {
        var p = 0.0
        var o = 1
        while (o <= maxOrder) { p += orderWeights(o - 1) * condProb(s, i, o); o += 1 }
        logSum += math.log(p)
      }
      i += 1
    }
    math.exp(-logSum / (s.length - 1))
  }
}

/** The trained bundle shipped to executors via `Broadcast` — mirrors the
  * reference's one-time per-process model load (LI:285-351). Training is
  * deterministic and takes well under a second; `default` is a lazy
  * process-wide singleton so `mapPartitions` closures can also fall back
  * to local init (same bits either way). */
final case class LidModels(
    impressoFt: HashedLinearLid,
    wpFt: HashedLinearLid,
    langidNb: NaiveBayesLid,
    langdetectNb: SampledNbLid,
    linguaRank: RankLid,
    impressoLp: ProtoLid,
    charLm: CharLm) extends Serializable {

  /** System name → detector — SIX systems, the reference's full ensemble
    * breadth (langdetect, langid, impresso_ft, wp_ft,
    * impresso_langident_pipeline, lingua — LI:761-785). */
  def systems: Seq[(String, LangDetector)] = Seq(
    "impresso_ft" -> impressoFt,
    "wp_ft" -> wpFt,
    "langid_nb" -> langidNb,
    "langdetect_nb" -> langdetectNb,
    "lingua_rank" -> linguaRank,
    "impresso_lp" -> impressoLp)
}

object LidModels {
  lazy val default: LidModels = {
    val corpus = LangCorpus.trainingCorpus()
    // wp_ft analog: same architecture, independently seeded/shaped model
    // (the reference's wp model covers more languages; ours shares the
    // closed 5-language world, so it differs by capacity instead).
    LidModels(
      impressoFt = new HashedLinearLid(LangCorpus.Languages).train(corpus),
      wpFt = new HashedLinearLid(LangCorpus.Languages, dim = 1 << 13,
        epochs = 2, lr = 0.2).train(corpus),
      langidNb = new NaiveBayesLid(LangCorpus.Languages).train(corpus),
      langdetectNb = new SampledNbLid(LangCorpus.Languages).train(corpus),
      linguaRank = new RankLid(LangCorpus.Languages).train(corpus),
      impressoLp = new ProtoLid(LangCorpus.Languages).train(corpus),
      charLm = new CharLm().train(corpus.map(_._2)))
  }
}
