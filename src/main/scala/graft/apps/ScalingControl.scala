package graft.apps

/** The scaling-efficiency CONTROL: ideal, embarrassingly-parallel pure-CPU
  * work (`spark.range(n).map(pure splitmix chain)` + one sum) with no
  * engine logic, no shuffle, no IO. Running this at two parallelism
  * levels in the same window as the pipeline legs measures what the HOST
  * itself can scale — on this sandbox's shared socket an idle-host 8-core
  * leg monopolizes DRAM bandwidth + turbo, capping even ideal work well
  * below 1.0 (r1 measured 0.46–0.63). Pipeline efficiency should be read
  * relative to this ceiling, not to the theoretical 4×.
  *
  * Env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_N rows (default 800M),
  * SPARK_GRAFT_WORK splitmix rounds per row (default 200).
  * Prints one JSON line.
  */
object ScalingControl {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val n = sys.env.getOrElse("SPARK_GRAFT_N", "800000000").toLong
    val work = sys.env.getOrElse("SPARK_GRAFT_WORK", "200").toInt
    val spark = graft.Bench.session("graft-scaling-control", cpus)
    import spark.implicits._

    def mix(seed: Long): Long = {
      var st = seed; var acc = 0L
      var i = 0
      while (i < work) {
        st += graft.util.Mix.Golden
        acc ^= graft.util.Mix.fin(st)
        i += 1
      }
      acc
    }
    // JIT warmup outside the timed window, same as Bench
    spark.range(0, 1000000, 1, cpus.toInt).map(i => mix(i)).reduce(_ ^ _)
    val t0 = System.nanoTime()
    val sink = spark.range(0, n, 1, cpus.toInt).map(i => mix(i)).reduce(_ ^ _)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"metric":"control","cpus":$cpus,"n":$n,"work":$work,"sec":$sec%.3f,"rows_per_sec":${n / sec}%.0f,"sink":$sink}""")
    spark.stop()
  }
}
