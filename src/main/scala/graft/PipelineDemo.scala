package graft

import graft.operators.Eval

/** End-to-end smoke main: synthesize clips, run all stages, print the
  * eval summary. Usage: runMain graft.PipelineDemo [nClips] */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 2000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Bench.session("graft-pipeline-demo", cpus)
    import spark.implicits._

    val t0 = System.nanoTime()
    val clips = Pipeline.clips(spark, n, partitions = cpus.toInt)
    val gold = Pipeline.gold(spark, n)
    val result = Pipeline.run(spark, clips)
    val kept = result.decisions.filter($"keep").count()
    val secs = (System.nanoTime() - t0) / 1e9

    val f1 = Eval.keepF1(spark, result.decisions, gold)
    val (eq, tot) = Eval.scrubEquality(spark, result.scrubbed, gold)
    println(f"clips=$n kept=$kept wall=${secs}%.1fs clips/sec=${n / secs}%.0f")
    println(s"keep/drop: $f1")
    println(s"scrub byte-equality: $eq/$tot")
    println("drop reasons:")
    result.decisions.groupBy($"drop_reason").count()
      .orderBy($"count".desc).collect()
      .foreach(r => println(s"  ${r.get(0)} -> ${r.getLong(1)}"))
    println("sample decisions:")
    result.decisions.filter($"keep").show(5, 60)
    spark.stop()
  }
}
