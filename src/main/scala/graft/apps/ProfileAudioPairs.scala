package graft.apps

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Alternating A/B (same protocol as [[ProfileNgramPairs]]) of the
  * audioFingerprintMatch pair stage: r5 a⋈b self-join vs the grouped
  * posting-list rewrite, over the dedup_audio_fingerprint landmark
  * instance (melody corpus 1000, maxHashDf 16). Both arms time pair
  * generation + the delta histogram + argmax from a shared pruned
  * landmark index.
  * Usage: scripts/run.sh graft.apps.ProfileAudioPairs [rounds] */
object ProfileAudioPairs {
  def main(args: Array[String]): Unit = {
    val rounds = if (args.nonEmpty) args(0).toInt else 4
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val corpus = graft.model.AudioGen.melodyCorpus(spark, 1000L)
    val lm = corpus.select($"id", $"codec", $"bytes")
      .as[(Long, String, Array[Byte])]
      .flatMap { case (id, codec, bytes) =>
        val pcm = graft.codec.Audio.decode(codec, bytes)
        val marks = if (pcm == null) null else graft.codec.Fft.peakLandmarks(pcm)
        if (marks == null) Iterator.empty
        else marks.iterator.map(m => (id, (m >>> 32).toInt, (m & 0xffffffffL).toInt))
      }.toDF("id", "hash", "t1")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lm.count()
    val rare = lm.groupBy($"hash").agg(countDistinct($"id").as("df"))
      .filter($"df" <= 16L).select($"hash")
    val pruned = lm.join(rare, Seq("hash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pruned.count()
    def timeArm(posting: Boolean): Double = {
      val t0 = System.nanoTime()
      val occ =
        if (!posting) {
          val a = pruned.select($"hash", $"id".as("a"), $"t1".as("ta"))
          val b = pruned.select($"hash", $"id".as("b"), $"t1".as("tb"))
          a.join(b, Seq("hash")).filter($"a" < $"b")
            .select($"a", $"b", ($"ta" - $"tb").as("delta"))
        } else pruned.groupBy($"hash")
          .agg(collect_list(struct($"id".as("_1"), $"t1".as("_2"))).as("es"))
          .select($"es").as[Seq[(Long, Int)]]
          .flatMap { es =>
            val arr = es.toArray
            for {
              i <- arr.indices.iterator
              j <- (i + 1 until arr.length).iterator
              if arr(i)._1 != arr(j)._1
            } yield {
              val (ia, ta) = arr(i); val (ib, tb) = arr(j)
              if (ia < ib) (ia, ib, ta - tb) else (ib, ia, tb - ta)
            }
          }.toDF("a", "b", "delta")
      occ.groupBy($"a", $"b", $"delta").agg(count(lit(1)).as("cnt"))
        .groupBy($"a", $"b").agg(max(struct($"cnt", $"delta")).as("best"))
        .filter($"best.cnt" >= 12).count()
      (System.nanoTime() - t0) / 1e9
    }
    timeArm(posting = false); timeArm(posting = true) // JIT both arms
    val post = scala.collection.mutable.ArrayBuffer.empty[Double]
    val self = scala.collection.mutable.ArrayBuffer.empty[Double]
    (1 to rounds).foreach { r =>
      post += timeArm(posting = true)
      self += timeArm(posting = false)
      println(f"round $r: posting=${post.last}%.3f selfjoin=${self.last}%.3f")
    }
    def stats(xs: Seq[Double]) =
      f"min=${xs.min}%.3f med=${xs.sorted.apply(xs.size / 2)}%.3f"
    println(s"POSTING  ${stats(post.toSeq)}")
    println(s"SELFJOIN ${stats(self.toSeq)}")
    spark.stop()
  }
}
