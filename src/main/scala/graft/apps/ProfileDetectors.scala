package graft.apps

import graft.lid.{LangCorpus, LidModels, LidText}

/** Single-thread per-detector microbenchmark (tuning tool): ms per 20k
  * transcripts for each ensemble member + the char LM, each through its
  * own `predict`, then the shared per-row path `Stage1.processClip`
  * takes — the same protocol the r1 hot-loop optimizations were
  * measured with.
  * Usage: scripts/run.sh graft.apps.ProfileDetectors [n] [reps]
  */
object ProfileDetectors {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 20000
    val reps = if (args.length > 1) args(1).toInt else 3
    val m = LidModels.default
    val rnd = new scala.util.Random(777)
    val texts = Array.tabulate(n) { i =>
      LangCorpus.text(LangCorpus.Languages(i % 5), 60 + rnd.nextInt(340), rnd)
    }
    def time(name: String)(f: String => Any): Unit = {
      // warmup rep + timed reps
      var best = Double.MaxValue
      (0 to reps).foreach { r =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < texts.length) { f(texts(i)); i += 1 }
        val ms = (System.nanoTime() - t0) / 1e6
        if (r > 0 && ms < best) best = ms
      }
      println(f"$name%-14s ${best}%8.0f ms / $n texts")
    }
    m.systems.foreach { case (name, d) => time(name)(d.predict) }
    time("char_lm ppl")(m.charLm.perplexity)
    // the stage-1 per-row path: one normalization scored by all members
    time("ALL (stage1 LID+ppl)") { t =>
      val in = new LidText(t)
      m.systems.foreach(_._2.score(in)); m.charLm.perplexity(in)
    }
  }
}
