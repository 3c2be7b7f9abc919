package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One call into the program made by the closed-loop client. */
final case class Call(op: String, unit: Int, traced: Boolean, seconds: Double,
    ok: Boolean, err: String, digest: String)

/** A check on the program's output; a failed check fails every call whose
  * op is listed in `ops`. */
final case class Check(name: String, ok: Boolean, value: Double,
    ops: Seq[String], detail: String)

/** Thrown to end a unit after one of its calls failed (later calls in the
  * unit consume the failed call's result). */
final class UnitAborted extends RuntimeException

final class Recorder {
  val calls = mutable.ArrayBuffer.empty[Call]
  val checks = mutable.ArrayBuffer.empty[Check]
  var unit = 0
  var traced = false

  /** Times `body` as one call; a thrown exception records a failed call
    * and aborts the unit. `digest` forces and fingerprints the result
    * inside the timed window. */
  def call[A](op: String)(body: => A)(digest: A => String): A = {
    val t0 = System.nanoTime()
    try {
      val a = body
      val d = digest(a)
      calls += Call(op, unit, traced, (System.nanoTime() - t0) / 1e9, ok = true, null, d)
      a
    } catch {
      case NonFatal(e) =>
        calls += Call(op, unit, traced, (System.nanoTime() - t0) / 1e9, ok = false,
          s"${e.getClass.getSimpleName}: ${e.getMessage}", null)
        System.err.println(s"perfbench: call $op failed: $e")
        throw new UnitAborted
    }
  }

  def check(name: String, ok: Boolean, value: Double, ops: Seq[String],
      detail: String = ""): Unit = {
    checks += Check(name, ok, value, ops, detail)
    if (!ok) System.err.println(s"perfbench: check $name failed: $value $detail")
  }
}

/** A benchmark workload: inputs built from the seed during set-up, then a
  * unit of work repeated in a closed loop. */
abstract class Workload(val spark: SparkSession, val seed: Long,
    val tracer: Tracer, val rec: Recorder, val workDir: String) {
  val cores: Int = spark.sparkContext.defaultParallelism
  def inputRows: Long
  def inputDesc: String
  /** Builds (or rebuilds) and caches the inputs; returns their digest. */
  def build(): String
  def warmup(): Unit
  /** One complete unit: every call, forced and fingerprinted. */
  def unit(traced: Boolean): Unit
  /** Output checks on the last untraced unit. */
  def checks(): Unit
  /** Name of the span around each unit. */
  def unitName: String = "unit"
  /** Per-layer metrics from the traced units and a single-thread replay. */
  def layers(out: mutable.Map[String, Double], tracedUnits: Seq[Int]): Unit
  /** Fingerprints of outputs checked outside the JVM (op -> digest). */
  def references: collection.Map[String, String] = Map.empty
  /** Oracle SQL of the ops whose outputs the runner compares. */
  def oracles: collection.Map[String, String] = Map.empty
}

/** Entry point: `Harness <workload> <seed> <seconds> <trace> <workDir> <out.json>`.
  *
  * One process is one run: a fresh JVM and SparkSession at
  * `local[<cores>]`, so session caches and the program's JVM-global
  * queues start empty. Set-up (session, models, inputs built three times,
  * warm-up) is timed apart from the measured loop. The loop runs whole
  * units until `seconds` have passed; with tracing on it alternates an
  * untraced and a traced unit, which gives the tracing overhead. */
object Harness {
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs the catalog suite once, untimed, after a traced run's own
    * layers: its warm-up, one traced pass (unit `firstUnit`) and its
    * layer metrics. Only the `catalog.*` and `query.*` metrics are kept,
    * so the run's engine and JVM totals stay those of its own units. */
  private def catalogLayer(q: QuerySuite, tracer: Tracer, rec: Recorder,
      firstUnit: Int, layers: mutable.Map[String, Double]): Unit = {
    rec.unit = -1
    rec.traced = false
    try {
      q.warmup()
      rec.unit = firstUnit
      rec.traced = true
      tracer.enabled = true
      tracer.span(q.unitName)(q.unit(traced = true))
      tracer.drain()
      val own = mutable.LinkedHashMap.empty[String, Double]
      q.layers(own, Seq(firstUnit))
      own.foreach { case (k, v) =>
        if (k.startsWith("catalog.") || k.startsWith("query.")) layers(k) = v }
    } catch { case _: UnitAborted => }
    finally tracer.enabled = false
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir, outPath) = args
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors

    var t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(t0)

    val tracer = new Tracer(spark.sparkContext, s"$workload-$seed-${System.nanoTime()}")
    val rec = new Recorder
    t0 = System.nanoTime()
    graft.lid.LidModels.default
    val modelsS = secs(t0)

    val w: Workload = workload match {
      case "clip_pipeline" => new ClipPipeline(spark, seed, tracer, rec, workDir)
      case "dedup_corpus" => new DedupCorpus(spark, seed, tracer, rec, workDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val inputS = mutable.ArrayBuffer.empty[Double]
    var inputDigest = ""
    for (_ <- 0 until 3) {
      t0 = System.nanoTime()
      val d = w.build()
      inputS += secs(t0)
      require(inputDigest.isEmpty || inputDigest == d, "input build is not deterministic")
      inputDigest = d
    }
    t0 = System.nanoTime()
    rec.unit = -1 // warm-up calls count as attempted, not as samples
    try w.warmup() catch { case _: UnitAborted => }
    val warmupS = secs(t0)
    graft.operators.Dedup.drainLshMetrics()
    graft.operators.Dedup.drainCapturedPlans()

    val units = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    def runUnit(traced: Boolean): Unit = {
      rec.unit = units.size
      rec.traced = traced
      tracer.enabled = traced
      val u0 = System.nanoTime()
      val ok =
        try { tracer.span(w.unitName) { w.unit(traced) }; true }
        catch { case _: UnitAborted => false }
        finally tracer.enabled = false
      if (ok) units += ((units.size, traced, secs(u0)))
      else units += ((units.size, traced, -1.0))
    }
    tracer.resetPeak()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    do {
      runUnit(traced = false)
      if (trace) runUnit(traced = true)
    } while (System.nanoTime() < deadline)
    val cachePeak = tracer.storagePeakBytes

    t0 = System.nanoTime()
    w.checks()
    val checksS = secs(t0)
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (trace) {
      tracer.enabled = true
      tracer.drain()
      w.layers(layers, units.filter(u => u._2 && u._3 >= 0).map(_._1).toSeq)
      tracer.enabled = false
      layers("lid.models_load_s") = modelsS
    }
    // the catalog layer rides in the dedup_corpus traced run
    val catalog =
      if (trace && workload == "dedup_corpus")
        Some(new QuerySuite(spark, seed, tracer, rec, workDir))
      else None
    catalog.foreach(q => catalogLayer(q, tracer, rec, units.size, layers))

    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("workload", workload)
    out.put("seed", seed)
    out.put("cores", cores)
    out.put("input_digest", inputDigest)
    out.put("input_rows", w.inputRows)
    out.put("input_desc", w.inputDesc)
    val setup = new java.util.LinkedHashMap[String, Any]()
    setup.put("boot_s", bootS); setup.put("session_s", sessionS)
    setup.put("models_s", modelsS); setup.put("inputs_s", Json.list(inputS.toSeq))
    setup.put("warmup_s", warmupS)
    out.put("setup", setup)
    out.put("checks_s", checksS)
    out.put("units", Json.list(units.toSeq.map { case (i, t, s) =>
      Json.obj("unit" -> i, "traced" -> t, "seconds" -> s) }))
    out.put("calls", Json.list(rec.calls.toSeq.map(c => Json.obj(
      "op" -> c.op, "unit" -> c.unit, "traced" -> c.traced,
      "seconds" -> c.seconds, "ok" -> c.ok, "err" -> c.err, "digest" -> c.digest))))
    out.put("checks", Json.list(rec.checks.toSeq.map(c => Json.obj(
      "name" -> c.name, "ok" -> c.ok, "value" -> c.value,
      "ops" -> Json.list(c.ops), "detail" -> c.detail))))
    out.put("cache_peak_mb", cachePeak / 1048576.0)
    val parts = w +: catalog.toSeq
    out.put("references", Json.obj(parts.flatMap(_.references.toSeq): _*))
    out.put("oracles", Json.obj(parts.flatMap(_.oracles.toSeq): _*))
    out.put("catalog_ops", Json.list(catalog.toSeq.flatMap(_ => QuerySuite.Suite)))
    val lm = new java.util.LinkedHashMap[String, Any]()
    layers.foreach { case (k, v) => lm.put(k, v) }
    out.put("layers", lm)
    out.put("spans", Json.list(tracer.spans.toSeq.map(s => Json.obj(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
    Json.write(outPath, out)
    spark.stop()
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def list(xs: Seq[Any]): java.util.List[Any] = {
    val l = new java.util.ArrayList[Any](); xs.foreach(l.add); l
  }
  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any](); kv.foreach { case (k, v) => m.put(k, v) }; m
  }
  def write(path: String, v: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), v)
}
