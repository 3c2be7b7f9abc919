package graft.apps

import org.apache.spark.sql.functions._

/** Alternating A/B of ngramJaccard-style pair generation inside ONE JVM
  * (ambient host noise hits both arms — the only protocol that resolves
  * a sub-second delta on this sandbox): the production a⋈b self-join vs
  * the "ideal one-shuffle" grouped-posting-list rewrite, over the
  * dedup_text_keep shingle instance (n=8, df cap 200). Verdict recorded
  * in ngramJaccard: the codegen join + partial agg beat the posting
  * list's typed flatMap by ~1.4x (selfjoin 1.8-2.5 s vs posting
  * 3.2-4.4 s full-chain), so the join stays; the losing arm lives here.
  * Usage: scripts/run.sh graft.apps.ProfileNgramPairs [rounds] [sfDir] */
object ProfileNgramPairs {
  def main(args: Array[String]): Unit = {
    val rounds = if (args.nonEmpty) args(0).toInt else 4
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.Bench.session("graft-profile-ngram-pairs",
      Runtime.getRuntime.availableProcessors.toString)
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.count() // scan warmup
    // shared prefix: hashed inverted index, df census, pruning (the
    // production shapes, replicated so each arm times ONLY the pair
    // stage + downstream count)
    def prunedIndex() = {
      val inv = docs.select($"doc_id".as("id"), $"text").as[(Long, String)]
        .flatMap { case (id, t) =>
          graft.lid.TextStats.shingleHashes(t, 8).iterator.map(h => (id, h))
        }.toDF("id", "shingle")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val rare = inv.groupBy($"shingle").agg(count(lit(1)).as("df"))
        .filter($"df" <= 200L).select($"shingle")
      val pruned = inv.join(rare, Seq("shingle"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pruned.count()
      (inv, pruned)
    }
    def timeArm(posting: Boolean): Double = {
      val (inv, pruned) = prunedIndex()
      val t0 = System.nanoTime()
      val occ =
        if (!posting) {
          val a = pruned.select($"id".as("a"), $"shingle")
          val b = pruned.select($"id".as("b"), $"shingle")
          a.join(b, Seq("shingle")).filter($"a" < $"b").select($"a", $"b")
        } else pruned.groupBy($"shingle")
          .agg(collect_list($"id").as("ids"))
          .select($"ids").as[Seq[Long]]
          .flatMap { ids =>
            val arr = ids.toArray
            for {
              i <- arr.indices.iterator
              j <- (i + 1 until arr.length).iterator
            } yield {
              val x = arr(i); val y = arr(j)
              if (x < y) (x, y) else (y, x)
            }
          }.toDF("a", "b")
      occ.groupBy($"a", $"b").agg(count(lit(1)).as("common")).count()
      val dt = (System.nanoTime() - t0) / 1e9
      inv.unpersist(); pruned.unpersist()
      dt
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
