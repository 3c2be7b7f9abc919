package graft

/** Optimization-round helper (guide §1): per-query repeated timing and
  * formatted-plan dumps OUTSIDE the frozen driver contract of
  * [[Bench]]. Same session as Bench ([[Bench.session]]) so numbers are
  * comparable; the timed action is the same `.count()` Bench uses, plus
  * an optional noop-sink isolation mode that materializes every column.
  *
  * Usage (via sbt runMain):
  *   graft.BenchExtra time <reps> <query> [query ...]
  *   graft.BenchExtra noop <reps> <query> [query ...]
  *   graft.BenchExtra explain <outDir> <suffix> <query> [query ...]
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.session("graft-bench-extra", cpus)
    val mode = args(0)
    mode match {
      case "time" | "noop" =>
        val reps = args(1).toInt
        val names = args.drop(2).toSeq
        Bench.warmScans(spark, sfDir)
        names.foreach { n =>
          val fn = SparkEntry.queries(n)
          val ts = (1 to reps).map { _ =>
            spark.sparkContext.setJobDescription(s"bench-extra: $n")
            val t0 = System.nanoTime()
            if (mode == "noop")
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            else fn(spark, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"EXTRA $n min=${ts.min}%.3f med=${ts.sorted.apply(ts.size / 2)}%.3f all=${ts.map(t => f"$t%.3f").mkString(",")}")
        }
      case "explain" =>
        val outDir = args(1)
        val suffix = args(2)
        val names = args.drop(3).toSeq
        // eager dedup tiers materialize inside the operator; ask them to
        // record the pre-checkpoint plans they are about to execute
        System.setProperty("graft.explain.capture", "true")
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        names.foreach { n =>
          graft.operators.Dedup.drainCapturedPlans() // clear stale
          val plan = SparkEntry.queries(n)(spark, sfDir)
            .queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          val subs = graft.operators.Dedup.drainCapturedPlans()
            .map { case (tag, p) =>
              s"\n===== operator-internal plan (pre-checkpoint): $tag =====\n$p"
            }.mkString
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
            (plan + subs).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"wrote $outDir/${n}_$suffix.txt")
        }
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
