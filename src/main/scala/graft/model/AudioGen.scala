package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.codec.Audio

/** Audio dedup fixtures: n originals (distinct synth seeds) plus one
  * planted copy of every 10th clip, id n+k for original k*10. Rows are a
  * pure function of the range index, generated at the session's core
  * count (the synth + encode map is the expensive pass; the partitioning
  * changes parallelism only, never a row). */
object AudioGen {

  /** Non-stationary "melody" clip: 8 concatenated tone segments (1024
    * samples each) — peaks move every ~4 frames, so landmark hashes
    * carry temporal structure (a pure tone's (f, f, dt) hashes are
    * anchor-independent and cannot be offset-aligned). */
  def melodyClip(seed: Long): Array[Short] = {
    val out = new Array[Short](8192)
    var g = 0
    while (g < 8) {
      val seg = Audio.synth(seed * 31 + g, 8000, 1024)
      System.arraycopy(seg, 0, out, g * 1024, 1024)
      g += 1
    }
    out
  }

  /** Melody corpus with planted TIME-SHIFTED copies: every 10th clip
    * reappears delayed by 512 samples (= exactly 2 hops of the landmark
    * framing), volume-scaled 0.7x and re-noised — the shape the
    * whole-clip band-energy tier cannot pair but landmark alignment
    * can. */
  def melodyCorpus(s: SparkSession, n: Long): DataFrame =
    corpus(s, n, melodyClip, delay = 512, gain = 0.7)

  /** Single-tone corpus with planted copies volume-scaled 0.85x with
    * fresh small jitter, not shifted. */
  def dedupCorpus(s: SparkSession, n: Long): DataFrame =
    corpus(s, n, i => Audio.synth(i, 8000, 4096), delay = 0, gain = 0.85)

  private def corpus(s: SparkSession, n: Long, clip: Long => Array[Short],
      delay: Int, gain: Double): DataFrame = {
    import s.implicits._
    val p = s.sparkContext.defaultParallelism
    val base = s.range(0, n, 1, p).map { i =>
      (i.toLong, "pcm_s16le", Audio.pcm16Encode(clip(i)))
    }
    val dups = s.range(0, n / 10, 1, p).map { k =>
      (n + k, "pcm_s16le",
        Audio.pcm16Encode(plantedCopy(clip(k * 10), k, delay, gain)))
    }
    base.union(dups).toDF("id", "codec", "bytes")
  }

  /** Copy k of `pcm`: `delay` leading samples of silence, then the
    * original scaled by `gain` plus LCG jitter in [-60, 60) seeded by k. */
  private def plantedCopy(pcm: Array[Short], k: Long, delay: Int,
      gain: Double): Array[Short] = {
    val mod = new Array[Short](pcm.length)
    var st = k * 977L
    var i = delay
    while (i < pcm.length) {
      st = st * 6364136223846793005L + 1442695040888963407L
      val jit = ((st >>> 33) % 120L) - 60L
      mod(i) = math.max(Short.MinValue,
        math.min(Short.MaxValue, (pcm(i - delay) * gain + jit).toInt)).toShort
      i += 1
    }
    mod
  }
}
