package graft.perfbench

import scala.util.Random
import graft.lid.LangCorpus
import graft.util.Mix

/** Document corpus for `dedup_corpus`, a pure function of the seed.
  *
  * - Five languages (LangCorpus vocabularies, 75% of the words replaced
  *   by random pseudo-words so unrelated documents share few shingles).
  * - Planted near-duplicate clusters: each member is the cluster root
  *   with one word replaced. Sizes are fixed (so every seed does the
  *   same amount of work): one mega-cluster of `Mega` documents, which
  *   fills one LSH bucket, then Zipf sizes `ZipfHead / k`.
  * - A held-out slice of `BenchDocs` documents is the decontamination
  *   benchmark; `Contaminated` corpus documents carry an 80-character
  *   passage copied from one of them.
  */
object DocCorpus {
  final case class Doc(doc_id: Long, text: String, lang: String)
  final case class Corpus(docs: Vector[Doc], bench: Vector[Doc],
      clusters: Vector[Vector[Long]], contaminated: Set[Long])

  val NDocs = 3000
  val Mega = 500
  val ZipfHead = 40
  val BenchDocs = 240
  val Contaminated = 120
  val PassageChars = 80

  def clusterSizes: Vector[Int] =
    Mega +: Iterator.from(1).map(k => ZipfHead / k).takeWhile(_ >= 2).toVector

  private def pseudo(rnd: Random): String = {
    val n = 4 + rnd.nextInt(6)
    val sb = new StringBuilder
    var i = 0
    while (i < n) { sb.append(('a' + rnd.nextInt(26)).toChar); i += 1 }
    sb.toString
  }

  def text(lang: String, rnd: Random): String = {
    val v = LangCorpus.wordsOf(lang)
    val target = 150 + rnd.nextInt(150)
    val sb = new StringBuilder
    while (sb.length < target) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(if (rnd.nextDouble() < 0.75) pseudo(rnd) else v(rnd.nextInt(v.length)))
    }
    sb.toString
  }

  private def perturb(root: String, rnd: Random): String = {
    val w = root.split(' ')
    w(1 + rnd.nextInt(w.length - 1)) = pseudo(rnd)
    w.mkString(" ")
  }

  def build(seed: Long): Corpus = {
    val rnd = new Random(Mix.mix(seed ^ 0x5eedD0C5L))
    val langs = LangCorpus.Languages
    val ids = rnd.shuffle((0L until NDocs.toLong).toVector)
    val texts = new Array[String](NDocs)
    val docLang = new Array[String](NDocs)
    var next = 0
    val clusters = clusterSizes.map { size =>
      val lang = langs(rnd.nextInt(langs.length))
      val root = text(lang, rnd)
      val members = ids.slice(next, next + size)
      members.zipWithIndex.foreach { case (id, j) =>
        texts(id.toInt) = if (j == 0) root else perturb(root, rnd)
        docLang(id.toInt) = lang
      }
      next += size
      members
    }
    val singles = ids.drop(next)
    singles.foreach { id =>
      val lang = langs(rnd.nextInt(langs.length))
      texts(id.toInt) = text(lang, rnd)
      docLang(id.toInt) = lang
    }
    val bench = (0 until BenchDocs).toVector.map { i =>
      val lang = langs(rnd.nextInt(langs.length))
      Doc(NDocs.toLong + i, text(lang, rnd), lang)
    }
    val contaminated = singles.take(Contaminated)
    contaminated.foreach { id =>
      val b = bench(rnd.nextInt(bench.length)).text
      val from = rnd.nextInt(b.length - PassageChars)
      val t = texts(id.toInt)
      val at = t.indexOf(' ', t.length / 2) match { case -1 => t.length; case k => k }
      texts(id.toInt) = t.substring(0, at) + " " +
        b.substring(from, from + PassageChars) + " " + t.substring(at)
    }
    Corpus((0 until NDocs).toVector.map(i => Doc(i.toLong, texts(i), docLang(i))),
      bench, clusters, contaminated.toSet)
  }
}
