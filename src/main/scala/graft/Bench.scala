package graft

import org.apache.spark.sql.SparkSession
import graft.catalog.{Catalog, Query}

/** Benchmark main (driver contract). Two parts:
  *
  *  1. Flagship clip pipeline: synthesize SPARK_GRAFT_CLIPS clips
  *     (default 240k) and run stage1→1b→2→3 end-to-end; reports
  *     clips/sec — the BASELINE.json headline metric.
  *  2. The catalog query suite over SPARK_GRAFT_SF_DIR (pipeline_*
  *     entries excluded — part 1 already measures the pipeline).
  *
  * Prints ONE JSON line:
  * {"metric":"total","value":s,"unit":"sec","queries":{...},
  *  "clips":n,"clips_per_sec":x,"sf":dir}
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nClips = sys.env.getOrElse("SPARK_GRAFT_CLIPS", "240000").toLong
    val spark = session("graft-bench", cpus)
    import spark.implicits._

    // ---- 0a. input mode. "gen" (default) synthesizes clips inside the
    // timed window — pure deterministic CPU work, the fairest scaling
    // measure on a host with noisy IO. "table" materializes a parquet
    // clip table first (matches BASELINE.json.input_hint literally) and
    // times scan+pipeline; on this sandbox's virtual disk the scan is
    // IO-bound and does not reflect engine scaling.
    val inputMode = sys.env.getOrElse("SPARK_GRAFT_INPUT", "gen")
    val clips =
      if (inputMode == "table") {
        val clipDir = java.nio.file.Files
          .createTempDirectory("bench-clips").toString
        Pipeline.clips(spark, nClips, partitions = cpus.toInt)
          .write.mode("overwrite").parquet(clipDir)
        import spark.implicits._
        spark.read.parquet(clipDir).as[graft.model.ClipRow]
      } else Pipeline.clips(spark, nClips, partitions = cpus.toInt)

    // ---- 0b. warmup: run every plan once at small N so whole-stage
    // codegen + JIT compile outside the timed window (steady-state
    // throughput is the metric; a production job amortizes this in its
    // first seconds)
    locally {
      val w = Pipeline.run(spark, Pipeline.clips(spark, 20000L,
        partitions = cpus.toInt))
      w.scrubbed.count()
      Pipeline.metrics(spark, w.decisions).count()
      w.stage1.unpersist()
    }

    // ---- 1. flagship pipeline over the materialized table
    val t0 = System.nanoTime()
    val result = Pipeline.run(spark, clips)
    val scrubbed = result.scrubbed.count()
    val metricRows = Pipeline.metrics(spark, result.decisions).count()
    val pipelineSec = (System.nanoTime() - t0) / 1e9
    val clipsPerSec = nClips / pipelineSec
    result.stage1.unpersist()

    // ---- 2. query suite (SPARK_GRAFT_SUITE=0 skips it — scaling legs
    // only need the pipeline clips/s and the suite is wasted work there)
    val runSuite = sys.env.getOrElse("SPARK_GRAFT_SUITE", "1") != "0"
    if (runSuite) {
      warmScans(spark, sfDir)
      // window/rollup codegen warmup — the first window query otherwise
      // pays the whole-stage compile for the Window/Expand operators
      locally {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.row_number
        val t = spark.range(200).toDF("id")
        t.withColumn("rn",
          row_number().over(Window.partitionBy($"id" % 10).orderBy($"id")))
          .agg(org.apache.spark.sql.functions.sum($"rn")).head
        t.rollup($"id" % 10).count().count()
      }
    }
    val results =
      if (!runSuite) Seq.empty
      else Catalog.all.sortBy(_.name)
        .filterNot(_.name.startsWith("pipeline_"))
        .map { case Query(name, run, _) =>
          val q0 = System.nanoTime()
          // a failed query must be VISIBLE in the output, not recorded
          // as a (short, flattering) timing: negative seconds = failed
          val ok =
            try { run(spark, sfDir).count(); true }
            catch {
              case scala.util.control.NonFatal(e) =>
                System.err.println(s"BENCH-FAIL $name: " +
                  s"${e.getClass.getSimpleName}: ${e.getMessage}")
                false
            }
          val dt = (System.nanoTime() - q0) / 1e9
          name -> (if (ok) dt else -dt)
        }
    val qs = (results :+ ("pipeline" -> pipelineSec))
      .map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    // |t|: failed queries carry negative markers in `queries` but their
    // elapsed time must still ADD to the headline total (subtracting
    // would make a failing run look faster)
    val total = results.map(v => math.abs(v._2)).sum + pipelineSec
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"clips":$nClips,"clips_per_sec":$clipsPerSec%.1f,"scrubbed":$scrubbed,"metric_rows":$metricRows,"cpus":$cpus,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** The session of every main but `SurfaceDemo`: local[cpus] (or
    * `SPARK_MASTER`), shuffle partitions = cpus, AQE on, UTC; the LID
    * models load here, outside every timed window. */
  private[graft] def session(app: String, cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.lid.LidModels.default
    spark
  }

  /** Scan warmup, same rationale as the 20k-clip pipeline warmup: the
    * first parquet touch pays footer reads + codegen compile that a
    * steady-state job amortizes; without it the alphabetically-first
    * query (a12) absorbs ~1.6 s that belongs to no query. */
  private[graft] def warmScans(spark: SparkSession, sfDir: String): Unit =
    Seq("documents", "embeddings", "lineitem", "orders", "events",
      "customer", "supplier", "part", "nation", "region")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
}
