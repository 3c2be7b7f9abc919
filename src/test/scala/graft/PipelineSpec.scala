package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.model._
import graft.operators._

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // fresh warehouse per test JVM: a stale location from a previous
      // run makes saveAsTable fail even on a fresh in-memory catalog
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val N = 4000L

  lazy val clipsDs = Pipeline.clips(spark, N, partitions = 4)
  lazy val goldDs = Pipeline.gold(spark, N)
  lazy val result = Pipeline.run(spark, clipsDs)

  test("stage1: every clip passes through (invalid rows not dropped)") {
    assert(result.stage1.count() == N)
  }

  test("plan audit: stage1/stage2/scrub are Exchange-free (ARCHITECTURE claims)") {
    // the zero-shuffle claims the scale story rests on, pinned so a
    // refactor can't silently introduce a wide dependency
    val s1Plan = Stage1(spark, clipsDs).queryExecution.executedPlan.toString
    assert(!s1Plan.contains("Exchange"), s"stage1 shuffled:\n$s1Plan")
    val decPlan = Stage2(spark, result.stage1, result.stats)
      .queryExecution.executedPlan.toString
    assert(!decPlan.contains("Exchange"), s"stage2 shuffled:\n$decPlan")
    val scrubPlan = result.scrubbed.queryExecution.executedPlan.toString
    assert(!scrubPlan.contains("Exchange"), s"scrub shuffled:\n$scrubPlan")
    // lineage metrics likewise (mapPartitions fold, counters only)
    val mPlan = Pipeline.metrics(spark, result.decisions)
      .queryExecution.executedPlan.toString
    assert(!mPlan.contains("Exchange"), s"metrics shuffled:\n$mPlan")
  }

  test("plan audit: the whole pipeline, stage1b included, runs without an exchange") {
    // stage1b is an eager treeAggregate job, so its plan is audited at
    // the job level: a job without a shuffle dependency has one stage,
    // its result stage. At 4 partitions treeAggregate merges on the
    // driver; beyond 5 it adds a foldByKey level of counter bundles.
    val sc = spark.sparkContext
    val group = "pipeline-exchange-audit"
    val shuffleStages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val seenJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (e.stageInfos.size > 1)
            shuffleStages.add(s"job ${e.jobId}: ${e.stageInfos.map(_.name)}")
          seenJobs.add(e.jobId)
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "exchange audit")
      val r = try {
        val r = Pipeline.run(spark, Pipeline.clips(spark, 2000L, seed = 3L, partitions = 4))
        r.scrubbed.collect()
        Pipeline.metrics(spark, r.decisions).collect()
        r
      } finally sc.clearJobGroup()
      val plans = Seq(r.stage1.toDF(), Stage1b(spark, r.stage1).toDF(), r.decisions.toDF(),
        r.scrubbed.toDF(), Pipeline.metrics(spark, r.decisions).toDF())
        .map(_.queryExecution.executedPlan.toString)
      plans.foreach(pl => assert(!pl.contains("Exchange"), pl))
      val jobs = sc.statusTracker.getJobIdsForGroup(group).toSet
      assert(jobs.nonEmpty)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.forall(seenJobs.contains) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.forall(seenJobs.contains), s"listener missed jobs: $jobs vs $seenJobs")
      assert(shuffleStages.isEmpty, shuffleStages.toString)
      r.stage1.unpersist(true)
    } finally sc.removeSparkListener(listener)
  }

  test("stage1: one model broadcast per SparkContext, reused across calls") {
    val sc = spark.sparkContext
    // broadcast ids come from one per-context counter, so a probe
    // broadcast on each side counts the broadcasts made in between
    def probe(): Long = { val b = sc.broadcast(0); val id = b.id; b.destroy(); id }
    val before = probe()
    val a = Stage1(spark, clipsDs)
    val b = Stage1(spark, clipsDs)
    val after = probe()
    assert(after - before <= 2, s"${after - before - 1} broadcasts for two Stage1 calls")
    assert(Stage1.modelsBc(sc) eq Stage1.modelsBc(sc))
    val again = probe()
    Stage1(spark, clipsDs)
    Stage1(spark, clipsDs)
    assert(probe() == again + 1, "a warm Stage1 call created a broadcast")
    assert(a.count() == N && b.count() == N)
  }

  test("stage1b: stats per source with sane fields") {
    val stats = result.stats
    assert(stats.nonEmpty && stats.size <= ClipGen.sources.size)
    stats.foreach { s =>
      val plan = ClipGen.sources.find(_.name == s.source).get
      assert(s.n > 0, s"source ${s.source} has n=0")
      assert(s.dominant_language == plan.dominant,
        s"${s.source}: dominant ${s.dominant_language} != planted ${plan.dominant}")
      // planted orig accuracy far from the 0.75 trust boundary
      val support = s.overall_orig_lg_support.getOrElse(0.0)
      if (plan.origAccuracy > 0.75) assert(support > 0.75,
        s"${s.source}: support $support but planted acc ${plan.origAccuracy}")
      else assert(support < 0.75,
        s"${s.source}: support $support but planted acc ${plan.origAccuracy}")
      // relfreq denominator is n for ALL systems (A4 note, NS:583-585):
      // the orig_lg pseudo-LID is present on ~80% of rows, so its
      // distribution must sum to the presence rate, NOT be normalized
      // to 1 over its own total
      val ensDist = s.lid_distributions.getOrElse("ensemble", Map.empty)
      assert(ensDist.values.sum <= 1.0 + 1e-6)
      val origDist = s.lid_distributions.getOrElse("orig_lg", Map.empty)
      if (s.n > 50) {
        val origSum = origDist.values.sum
        assert(origSum > 0.6 && origSum < 0.95,
          s"${s.source}: orig_lg dist sums to $origSum — denominator is " +
            "not n (should be the 0.8 presence rate, not 1.0)")
      }
    }
  }

  /** Every field of a stats row in a fixed order, maps sorted by key;
    * `Double.toString` round-trips, so equal strings mean equal bits. */
  private def canon(s: SourceStats): String = {
    def m[V](x: Map[String, V]) =
      x.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("{", ",", "}")
    def mm[V](x: Map[String, Map[String, V]]) =
      x.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${m(v)}" }.mkString("{", ",", "}")
    Seq(s.source, s.lids.mkString(","), s.boosted_lids.mkString(","),
      s.boost_factor, Option(s.admissible_languages).map(_.mkString(",")),
      s.dominant_language, s.dominant_language_ratio,
      s.overall_orig_lg_support, s.n, mm(s.lid_distributions),
      mm(s.lid_absolute_counts), mm(s.lg_support),
      m(s.clip_type_distribution), m(s.orig_lg_ensemble_disagreements),
      s.orig_lg_total_decisions, s.ts, s.aggregator_lid).mkString("|")
  }

  private def statsDigest(stats: Seq[SourceStats]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    stats.map(canon).sorted.foreach(c => md.update((c + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  test("stage1b: stats identical at 1, 4 and 37 input partitions and " +
      "equal to pinned values (ClipGen seed 7)") {
    val s1 = Stage1(spark, Pipeline.clips(spark, 3000L, seed = 7L, partitions = 4))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try {
      val digests = Seq(s1.coalesce(1), s1, s1.repartition(37)).map { ds =>
        val stats = Stage1b(spark, ds).collect().toSeq
        assert(stats.map(_.n).sum > 0)
        statsDigest(stats)
      }
      assert(digests.distinct.size == 1, digests)
      assert(digests.head ==
        "b623d4c4564cc2197d63f39be28c83bd7ff2dd3a7f821c8cfe0923699885a0fc", digests.head)
    } finally s1.unpersist(true)
  }

  test("A9/A10: orig_lg_total counts undecided-ensemble rows (NS:532-534)") {
    import VotesFixtures._
    import spark.implicits._
    // row 1: one lone system + orig -> every voter scores 1 < 1.5 ->
    // ensemble undecided; reference still counts it in the denominator
    // len 300 x ratio 0.8 = 240 clears the F4 stats gate (>= 200)
    val rows = Seq(
      row(preds = Map("impresso_ft" -> "fr"), orig = "de", len = 300),
      row(preds = all("de"), orig = "de", len = 300),
      row(preds = all("de"), orig = "fr", len = 300))
    val st = Stage1b(spark, spark.createDataset(rows)).collect().head
    assert(st.orig_lg_total_decisions == 3L)
    assert(math.abs(st.overall_orig_lg_support.get - 1.0 / 3) < 1e-9,
      st.overall_orig_lg_support.toString)
    assert(st.orig_lg_ensemble_disagreements == Map("fr->de" -> 1L))
  }

  test("keep/drop F1 >= 0.99 vs gold (BASELINE.md target)") {
    val f1 = Eval.keepF1(spark, result.decisions, goldDs)
    info(f1.toString)
    assert(f1.f1 >= 0.99, f1)
  }

  test("language accuracy on KEPT rows >= 0.995") {
    // kept rows are the fluent ones; short/undecodable rows legitimately
    // carry dominant/null lg per the cascade, so they are excluded here
    import spark.implicits._
    val kept = result.decisions.filter($"keep")
    val acc = Eval.langAccuracy(spark, kept.as[DecisionRow], goldDs)
      .collect().map(r => (r.getString(0), r.getDouble(3))).toMap
    info(acc.toString)
    assert(acc("_ALL_") >= 0.995, acc)
  }

  test("scrubbed transcripts byte-equal gold post-scrub text") {
    val (eq, total) = Eval.scrubEquality(spark, result.scrubbed, goldDs)
    info(s"$eq / $total byte-equal")
    assert(total > 0 && eq == total)
  }

  test("decision codes match gold where gold pins one (>= 0.98 agreement)") {
    val cells = Eval.decisionAgreement(spark, result.decisions, goldDs)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    val total = cells.map(_._2).sum
    val agree = cells.filter(c => c._1._1 == c._1._2).map(_._2).sum
    info(s"agreement $agree/$total; confusion=${cells.filter(c => c._1._1 != c._1._2).toSeq}")
    assert(agree.toDouble / total >= 0.98)
  }

  test("per-item eval rows enable error analysis (EV:105-122 analog)") {
    import spark.implicits._
    val items = Eval.perItem(spark, result.decisions, goldDs)
    // one row per gold-labeled item; correct <=> lg == gold_lg
    val goldLabeled = goldDs.filter($"gold_lg".isNotNull).count()
    assert(items.count() == goldLabeled)
    val wrong = items.filter(!$"correct" || $"correct".isNull).collect()
    // the aggregate accuracy must be reproducible from the per-item rows
    val acc = 1.0 - wrong.length.toDouble / goldLabeled
    info(f"per-item acc=$acc%.4f wrong=${wrong.length}")
    // error analysis: every wrong row exposes prediction + gold + the
    // decision code that produced it
    wrong.take(5).foreach(r => info(r.toString))
    assert(wrong.forall(r => !r.isNullAt(3))) // lg_decision present
  }

  test("metrics: per-partition lineage rows cover all inputs") {
    val m = Pipeline.metrics(spark, result.decisions).collect()
    assert(m.map(_.rows_in).sum == N)
    val kept = result.decisions.filter(_.keep).count()
    assert(m.map(_.rows_out).sum == kept)
    // drop reasons account for every dropped row
    val dropped = m.flatMap(_.drop_reasons.toSeq).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).sum }
    assert(dropped.values.sum == N)
    info(dropped.toString)
  }

  test("LSH observability rows land in the metrics-table adapter " +
      "(100-TB operators trend candidate counts per run)") {
    import spark.implicits._
    operators.Dedup.drainLshMetrics() // isolate from earlier suites
    val docs = (0L until 200L).map(i =>
      (i, "metrics corpus doc shared boilerplate line " + (i % 4)))
      .toDF("doc_id", "text")
    operators.Dedup.minHashLsh(docs, "doc_id", "text",
      threshold = 0.7, collectMetrics = true)
    val m = operators.Dedup.lshMetricsDf(spark)
    assert(m.columns.toSet == Set("tier", "pair_mode", "n_rows",
      "n_buckets", "max_bucket", "candidate_pairs",
      "allpairs_candidates", "survivor_pairs"))
    val rows = m.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("tier") == "minhash_lsh")
    assert(r.getAs[Long]("max_bucket") >= 50,
      "the planted 4-template corpus must show its hot buckets")
    assert(r.getAs[Long]("allpairs_candidates") >=
      r.getAs[Long]("candidate_pairs"))
    // the adapter drains: a second read is empty (each run's rows are
    // appended to the lineage table exactly once)
    assert(operators.Dedup.lshMetricsDf(spark).isEmpty)

    // durable path: counters from TWO runs append under the checkpoint
    // dir with run labels and survive the in-memory queue's drain
    val dir = java.nio.file.Files.createTempDirectory("lshm").toString
    operators.Dedup.minHashLsh(docs, "doc_id", "text",
      threshold = 0.7, collectMetrics = true)
    assert(lineage.Checkpoint.appendLshMetrics(spark, dir, "run1") == 1)
    operators.Dedup.minHashLsh(docs, "doc_id", "text",
      threshold = 0.7, pairMode = "star", collectMetrics = true)
    assert(lineage.Checkpoint.appendLshMetrics(spark, dir, "run2") == 1)
    assert(lineage.Checkpoint.appendLshMetrics(spark, dir, "idle") == 0)
    val durable = lineage.Checkpoint.readLshMetrics(spark, dir)
    assert(durable.count() == 2)
    assert(durable.select("run").collect().map(_.getString(0)).toSet ==
      Set("run1", "run2"))
  }
}
