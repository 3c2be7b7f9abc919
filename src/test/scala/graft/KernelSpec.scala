package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.Pattern
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.lid.{LidModels, TextStats}
import graft.model.{ClipGen, Stage1Row}
import graft.operators.{Stage1, Stage1b}

/** Bit-identity pins for the stage-1 scoring kernel: every detector's
  * output, the char-LM perplexity and the `Stage1Row`s are digested over
  * a fixed `ClipGen` corpus plus hand-picked edge strings. The pinned
  * digests were taken from the code before the shared per-row path
  * existed, so any change to a gram, a summation order or a rounding
  * shows here. The scalar fast paths are property-tested against their
  * exact reference forms, which live only in this file. */
class KernelSpec extends AnyFunSuite {

  private val models = LidModels.default

  /** 6,000 clips of seed 7: fluent, PII, short, noise, empty and
    * undecodable rows in the generator's proportions. */
  private lazy val clips = (0L until 6000L).map(i => ClipGen.clipAt(i, 7L)._1)

  /** Digits next to Greek sigma (context-sensitive lowercasing), dotted
    * capital I (lowercases to two chars), surrogate pairs, combining
    * marks, control chars, the padding char itself and pure digit runs. */
  private val edgeTexts = Seq(
    "ΟΔΟΣ1 ΟΔΟΣ 2ΟΔΟΣ3a Σ1Σ", "İstanbul 1999 İİ", "x😀y 42 𝐀",
    "été 2024", "\u0001\u0002\u0000abc\u0001", "1234567890", "a1b2c3",
    "Ünïcödé ÄÖÜ ß 12 ẞ", "__ __ 7_7", "٣٤٥ arabic-indic digits", "  ", "ab",
    "abc", "Der Hund 3 läuft über die Straße 45 und bellt 6 Mal.")

  private def sha(update: java.security.MessageDigest => Unit): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    update(md)
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def putStr(md: java.security.MessageDigest, s: String): Unit =
    if (s == null) md.update(0xff.toByte) else { md.update(s.getBytes(UTF_8)); md.update(0.toByte) }

  private def putDouble(md: java.security.MessageDigest, d: Double): Unit =
    md.update(BigInt(java.lang.Double.doubleToRawLongBits(d)).toByteArray)

  test("kernel golden: six detectors + char-LM perplexity over 6,000 ClipGen transcripts") {
    val texts = clips.flatMap(c => Option(c.transcript)) ++ edgeTexts
    assert(texts.size >= 5000)
    val digest = sha { md =>
      texts.foreach { t =>
        models.systems.foreach { case (name, det) =>
          putStr(md, name)
          val preds = det.predict(t)
          md.update(preds.length.toByte)
          preds.foreach { case (l, p) => putStr(md, l); putDouble(md, p) }
        }
        putDouble(md, models.charLm.perplexity(t))
      }
    }
    assert(digest == "3ee1871bb6cd7a6a79d684ffa065a465866f089b85cd69160ce27e72f135d325", digest)
  }

  test("kernel golden: Stage1.processClip rows over 6,000 ClipGen clips") {
    val p = Stage1.Params()
    val digest = sha { md =>
      clips.foreach { c =>
        val r: Stage1Row = Stage1.processClip(c, models, p)
        putStr(md, r.skip_reason)
        r.alphabetical_ratio.foreach(putDouble(md, _))
        Stage1b.systemsOf(r).foreach {
          case (_, null) => md.update(0xfe.toByte)
          case (_, a) => a.foreach { lp => putStr(md, lp.lang); putDouble(md, lp.prob) }
        }
        r.ppl.foreach(putDouble(md, _))
        putDouble(md, r.audio_rms)
      }
    }
    assert(digest == "6360784f8547f23b740bd46ca53742ee6cfc81b6efcf779e7ba5ac45ab2444f3", digest)
  }

  private def forAll[T](g: Gen[T], n: Int)(check: T => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(20261017L)
    var i = 0
    while (i < n) {
      g.apply(Gen.Parameters.default, seed).foreach(check)
      seed = seed.next
      i += 1
    }
  }

  // the exact forms the fast paths replace: oracles only
  private def roundToOracle(x: Double, n: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble

  private val NonAlpha = Pattern.compile("[\\W_\\d]+", Pattern.UNICODE_CHARACTER_CLASS)
  private def alphaRatioOracle(text: String): Double =
    if (text == null || text.isEmpty) 0.0
    else NonAlpha.matcher(text).replaceAll("").length.toDouble / text.length

  private def sameBits(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToRawLongBits(a) == java.lang.Double.doubleToRawLongBits(b)

  test("roundTo fast path equals the BigDecimal form on random doubles and near-ties") {
    val digits = Gen.choose(0, 12)
    val anyDouble = Gen.oneOf(
      Gen.choose(-1.0, 1.0), Gen.choose(-1e9, 1e9), Gen.choose(0.0, 1e-6),
      Gen.long.map(java.lang.Double.longBitsToDouble),
      Gen.oneOf(0.0, -0.0, 1e-300, -1e-300, 1e6, Double.MaxValue,
        Double.MinPositiveValue, Double.NaN, Double.PositiveInfinity))
    // k + 0.5 at scale n, then nudged by a few ulps either way: the
    // decimal tie and the doubles around it
    val nearTie = for {
      n <- digits
      k <- Gen.choose(-100000L, 100000L)
      ulps <- Gen.choose(-4, 4)
    } yield {
      var x = (k + 0.5) / math.pow(10, n)
      var u = ulps
      while (u > 0) { x = math.nextUp(x); u -= 1 }
      while (u < 0) { x = math.nextDown(x); u += 1 }
      (x, n)
    }
    def check(x: Double, n: Int): Unit = {
      val fast = TextStats.roundTo(x, n)
      val exact = roundToOracle(x, n)
      assert(sameBits(fast, exact), s"roundTo($x, $n) = $fast, BigDecimal gives $exact")
    }
    forAll(Gen.zip(anyDouble, digits), 20000)(t => check(t._1, t._2))
    forAll(nearTie, 20000)(t => check(t._1, t._2))
    // the pipeline's own roundings: 2-digit alpha ratios, 3-digit probs
    // and perplexities, 9-digit langdetect probs and stats shares
    Seq(0.125, 0.135, 2.675, 1.0005, 0.9995, 0.0005, 1e-10, 0.49999999999999994)
      .foreach(x => Seq(0, 2, 3, 9).foreach(n => { check(x, n); check(-x, n) }))
  }

  test("alphabeticalRatio ASCII path equals the Unicode regex") {
    val odd = Gen.oneOf('_', 'é', 'ß', 'Σ', 'ς', '\u0660', '\u0969', '\uff11', '\u00b2',
      '\u0301', '\u200d', '\u00a0', '\ud835', '\udc00', '\ud83d', '\ude00', '\u0000', '\u007f')
    val text = Gen.oneOf(
      Gen.asciiStr,
      Gen.asciiPrintableStr,
      Gen.listOf(Gen.frequency(8 -> Gen.asciiPrintableChar, 1 -> odd)).map(_.mkString),
      Gen.listOf(Gen.frequency(1 -> Gen.asciiPrintableChar,
        1 -> Gen.choose(Char.MinValue, Char.MaxValue))).map(_.mkString),
      Gen.const("x\ud835\udc00y"), Gen.const("\ud835"), Gen.const(""), Gen.const(null: String))
    forAll(text, 20000) { t =>
      val fast = TextStats.alphabeticalRatio(t)
      assert(sameBits(fast, alphaRatioOracle(t)), s"alphabeticalRatio(${String.valueOf(t)})")
    }
  }

  test("shingle hash-set capacity: next power of two >= 2m, throws past the largest array") {
    assert(TextStats.hashSetCapacity(1) == 16)
    assert(TextStats.hashSetCapacity(9) == 32)
    assert(TextStats.hashSetCapacity(1 << 20) == (1 << 21))
    assert(TextStats.hashSetCapacity((1 << 29) - 1) == (1 << 30))
    assert(TextStats.hashSetCapacity(1 << 29) == (1 << 30))
    // 2m overflowed Int here and the old loop left a 16-slot table that
    // probes forever once full
    Seq(1 << 30, (1 << 30) + 1, Int.MaxValue).foreach { m =>
      intercept[IllegalArgumentException](TextStats.hashSetCapacity(m))
    }
  }
}
