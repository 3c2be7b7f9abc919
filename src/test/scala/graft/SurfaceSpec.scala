package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.JsonlIO
import graft.functions.AlphaRatio
import graft.streaming.StreamingFilter
import graft.operators.{Diagnostics, Stage1, Stage1b, Stage2}
import graft.lid.TextStats

class JsonlIOSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("clip JSONL roundtrip preserves rows incl. binary payloads") {
    val (clips, _) = model.ClipGen.corpus(50)
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    JsonlIO.writeJsonl(clips.toDS(), s"$dir/clips", dropNulls = true)
    val back = JsonlIO.readClips(spark, s"$dir/clips/*.json").collect()
    assert(back.length == 50)
    val byId = back.map(c => c.clip_id -> c).toMap
    clips.foreach { c =>
      val b = byId(c.clip_id)
      assert(b.codec == c.codec && b.sr_hz == c.sr_hz)
      assert(b.transcript == c.transcript)
      assert((b.bytes == null && c.bytes == null) ||
        java.util.Arrays.equals(b.bytes, c.bytes),
        s"bytes mismatch for ${c.clip_id}")
    }
  }

  test("P3 cleanup_attrs: required keys kept as nulls, optional nulls dropped, fixed order") {
    // a no-decision row: lg is null (required -> explicit "lg":null),
    // drop_reason null on the kept row (optional -> key absent)
    val (clips, _) = model.ClipGen.corpus(300)
    val decided = Stage2(spark, Stage1(spark, clips.toDS()),
      Stage1b(spark, Stage1(spark, clips.toDS())).collect().toSeq)
    val df = decided.select($"clip_id", $"lg", $"source", $"len",
      $"orig_lg", $"lg_decision", $"drop_reason")
    val lines = JsonlIO.cleanedJson(df, JsonlIO.DecisionRequired)
      .as[String].collect()
    assert(lines.length == 300)
    // required keys present on EVERY line, in schema order
    lines.foreach { l =>
      assert(l.startsWith("{\"clip_id\":"), l)
      assert(l.contains("\"lg\":"), l)
      assert(l.contains("\"len\":"), l)
      assert(l.indexOf("\"lg\":") < l.indexOf("\"len\":"), s"order: $l")
    }
    // some row has no decision -> literal "lg":null survives
    val noLg = lines.filter(_.contains("\"lg\":null"))
    assert(noLg.nonEmpty, "expected at least one no-decision row")
    // optional null keys are dropped: a kept row has no drop_reason key
    assert(lines.exists(l => !l.contains("\"drop_reason\"")), "kept rows")
    // lines parse as JSON (escaping sanity via Spark's own JSON reader)
    val parsed = spark.read.json(spark.createDataset(lines.toSeq))
    assert(parsed.count() == 300)
    assert(parsed.filter(col("lg").isNull).count() == noLg.length)
  }

  test("stats field-list parity with attrs_for_json (NS:198-218)") {
    // serialized top-level key ORDER mirrors the reference's pinned
    // attrs_for_json list (lib/newspaper_statistics.py:198-218) with the
    // graft renames (newspaper→source, contentitem→clip) plus the one
    // documented enrichment (dominant_language_ratio, quirk Q1); the
    // trailing aggregator_lid is the {ts, version} stamp of NS:227-230
    val (clips, _) = model.ClipGen.corpus(100)
    val stats = Stage1b(spark, Stage1(spark, clips.toDS())).collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("statskeys").toString
    JsonlIO.writeStats(spark, stats, s"$dir/stats")
    val line = spark.read.text(s"$dir/stats").head.getString(0)
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(line)
    assert(node.fieldNames().asScala.toSeq == Seq(
      "source", "lids", "boosted_lids", "boost_factor",
      "admissible_languages", "dominant_language",
      "dominant_language_ratio", "overall_orig_lg_support", "n",
      "lid_distributions", "lid_absolute_counts", "lg_support",
      "clip_type_distribution", "orig_lg_ensemble_disagreements",
      "orig_lg_total_decisions", "ts", "aggregator_lid"))
    assert(node.get("aggregator_lid").fieldNames().asScala.toSeq ==
      Seq("ts", "version"))
    assert(node.get("aggregator_lid").get("version").asText()
      == "graft-stats-v1.0.0")
  }

  test("stats JSON roundtrip (S5/S7)") {
    val (clips, _) = model.ClipGen.corpus(400)
    val stats = Stage1b(spark, Stage1(spark, clips.toDS())).collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("stats").toString
    JsonlIO.writeStats(spark, stats, s"$dir/stats")
    val back = JsonlIO.readStats(spark, s"$dir/stats")
    assert(back.map(_.source).sorted == stats.map(_.source).sorted)
    val a = stats.find(_.n > 0).get
    val b = back.find(_.source == a.source).get
    assert(b.n == a.n && b.dominant_language == a.dominant_language)
    assert(b.lg_support == a.lg_support)
  }
}

class AlphaRatioExprSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("native expression matches the regex reference implementation") {
    AlphaRatio.register(spark)
    val rnd = new scala.util.Random(7)
    val samples = (0 until 300).map { _ =>
      val pool = "abc ÄöüßÉ123 _-.,!?  xyz"
      (0 until rnd.nextInt(60)).map(_ => pool(rnd.nextInt(pool.length))).mkString
    } :+ "" :+ "äöü" :+ "123" :+ "a1 b2"
    val df = samples.toDF("s")
      .select($"s", AlphaRatio.alphaRatio($"s").as("native"))
    df.collect().foreach { r =>
      val expected = TextStats.alphabeticalRatio(r.getString(0))
      assert(math.abs(r.getDouble(1) - expected) < 1e-12,
        s"'${r.getString(0)}' native=${r.getDouble(1)} ref=$expected")
    }
  }

  test("works from SQL, is constant-folded, and stays codegen-compatible") {
    AlphaRatio.register(spark)
    val r = spark.sql("SELECT alpha_ratio('ab 12') AS a").head.getDouble(0)
    assert(math.abs(r - 0.4) < 1e-12)
    // literal input: Catalyst constant-folds the pure expression away
    val folded = spark.sql("SELECT alpha_ratio('ab 12') AS a")
      .queryExecution.optimizedPlan.toString
    assert(folded.contains("0.4"), folded)
    // non-literal input over a real scan: stays inside a whole-stage-
    // codegen'd Project ('*(' is the codegen marker; a local relation
    // would get folded to LocalTableScan, hence the parquet source)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = docs.selectExpr("alpha_ratio(text) AS a")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan)
    // and evaluates correctly through that path
    val viaExpr = docs.selectExpr("doc_id", "alpha_ratio(text) AS a")
      .orderBy("doc_id").limit(3).collect()
    val viaRef = docs.orderBy("doc_id").limit(3).collect()
    viaExpr.zip(viaRef).foreach { case (e, r) =>
      assert(math.abs(e.getDouble(1) -
        TextStats.alphabeticalRatio(r.getString(1))) < 1e-12)
    }
  }
}

class DiagnosticsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val clips = Pipeline.clips(spark, 1000L)
  lazy val s1 = Stage1(spark, clips)
  lazy val stats = Stage1b(spark, s1).collect().toSeq
  lazy val decisions = Stage2(spark, s1, stats)

  test("A13 decision stats: N equals row count; stats cover all codes") {
    val d = Diagnostics.decisionStats(spark, decisions)
    val total = d.filter($"stat" === "N").agg(sum($"n")).head.getLong(0)
    assert(total == 1000L)
    val codes = d.filter($"stat" === "lg_decision").select($"key")
      .as[String].collect().toSet
    assert(codes.contains("all"))
  }

  test("A14 stage-1 counters: reasons partition the corpus") {
    val d = Diagnostics.stage1Stats(spark, s1)
    val reasons = d.filter($"stat" === "reason")
      .select($"key", $"n").as[(String, Long)].collect().toMap
    assert(reasons.values.sum == 1000L)
    assert(reasons.keySet == Set("processed", "skipped_no_text",
      "skipped_short_text"))
  }

  test("F2: three-way skip-reason taxonomy on planted fixtures (LI:633-659)") {
    import graft.model.ClipRow
    import graft.codec.Audio
    val pcm = Audio.encode("pcm_s16le", Audio.synth(7L, 8000, 1600))
    def clip(id: String, text: String) =
      ClipRow(s"srcf-1900-01-01-a-i000$id", pcm, 8000, 200, "pcm_s16le", text, null)
    val planted = Seq(
      clip("1", null), // -> no_text (missing field)
      clip("2", "   "), // -> short_text (present, trims empty — LI:518)
      clip("3", "tiny"), // -> short_text
      clip("4", "12345 678 910 11 12 13 14 15!!"), // long, alpha 0 -> low_alpha
      clip("5", "dies ist ein ganz normaler deutscher satz über etwas"))
    // stage-1 alpha threshold raised from the 0.0 default so low_alpha
    // is reachable (the reference gates it the same way, LI:848-856)
    val s1p = Stage1(spark, spark.createDataset(planted),
      Stage1.Params(alphaThreshold = 0.5))
    val rows = s1p.collect().sortBy(_.clip_id)
    assert(rows.map(_.skip_reason).toSeq ==
      Seq("no_text", "short_text", "short_text", "low_alpha", null))
    val d = Diagnostics.stage1Stats(spark, s1p)
      .filter($"stat" === "reason")
      .select($"key", $"n").as[(String, Long)].collect().toMap
    assert(d == Map("skipped_no_text" -> 1L, "skipped_short_text" -> 2L,
      "skipped_low_alpha" -> 1L, "processed" -> 1L))
    // the stage-2 drop reason carries the same taxonomy through
    val decided = Stage2(spark, s1p,
      Stage1b(spark, s1p).collect().toSeq).collect()
      .map(r => r.clip_id.takeRight(1) -> r.drop_reason).toMap
    assert(decided("1") == "no_text" && decided("2") == "short_text"
      && decided("4") == "low_alpha")
  }
}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("streaming stage1+2 over AvailableNow equals the batch result, incrementally") {
    val tmp = java.nio.file.Files.createTempDirectory("stream").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ck = s"$tmp/ck"
    val clips = Pipeline.clips(spark, 400L)
    val stats = Stage1b(spark, Stage1(spark, clips)).collect().toSeq

    // batch reference
    val batch = Stage2(spark, Stage1(spark, clips), stats)
      .select($"clip_id", $"lg", $"keep").collect().map(_.toString).sorted

    // micro-batch 1: first half
    clips.filter(substring($"clip_id", -4, 4).cast("int") < 200)
      .write.mode("append").parquet(in)
    StreamingFilter.run(spark, in, stats, out, ck).awaitTermination()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst > 0 && afterFirst < 400)

    // micro-batch 2: second half — resume from checkpoint
    clips.filter(substring($"clip_id", -4, 4).cast("int") >= 200)
      .write.mode("append").parquet(in)
    StreamingFilter.run(spark, in, stats, out, ck).awaitTermination()

    val streamed = spark.read.parquet(out)
      .select($"clip_id", $"lg", $"keep").collect().map(_.toString).sorted
    assert(streamed.length == 400)
    assert(streamed.sameElements(batch))
  }

  test("windowed keep-rate agg with watermark produces per-source windows") {
    val clips = Pipeline.clips(spark, 500L)
    val stats = Stage1b(spark, Stage1(spark, clips)).collect().toSeq
    val dec = Stage2(spark, Stage1(spark, clips), stats).toDF()
    val w = StreamingFilter.keepRateByWindow(spark, dec)
    val rows = w.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(2)).sum == 500L)
  }

  test("streaming dedup drops duplicates across micro-batches via state store") {
    import graft.model.ClipRow
    val pcm = graft.codec.Audio.encode("pcm_s16le",
      graft.codec.Audio.synth(11L, 8000, 800))
    def clip(id: Int, text: String) = ClipRow(
      f"srcd-1900-01-01-a-i$id%04d", pcm, 8000, 100, "pcm_s16le", text, null)
    val batch1 = Seq(
      clip(1, "ein ganz normaler satz über die stadt"),
      clip(2, "  EIN GANZ  normaler satz über die stadt "), // dup of 1 mod norm
      clip(3, "un texte différent sur le conseil municipal"),
      clip(4, null), clip(5, null)) // null texts are NOT dups of each other
    val batch2 = Seq(
      clip(6, "ein ganz normaler satz über die stadt"), // dup of batch-1 #1
      clip(7, "noch ein völlig neuer deutscher satz hier"))

    // batch parity: one pass keeps the min-id per digest + both nulls
    val batchKept = StreamingFilter.streamingDedup(
      (batch1 ++ batch2).toDS()).collect().map(_.clip_id).sorted
    assert(batchKept.map(_.takeRight(1)).toSeq == Seq("1", "3", "4", "5", "7"))

    // streaming: the batch-2 duplicate is dropped by STATE from batch 1
    val tmp = java.nio.file.Files.createTempDirectory("sdedup").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ck = s"$tmp/ck"
    def drain(): Unit = {
      val q = StreamingFilter.streamingDedup(
        spark.readStream
          .schema(implicitly[org.apache.spark.sql.Encoder[ClipRow]].schema)
          .parquet(in).as[ClipRow])
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    batch1.toDS().write.mode("append").parquet(in)
    drain()
    val after1 = spark.read.parquet(in) // touch input to avoid lazy surprises
    assert(after1.count() == 5)
    batch2.toDS().write.mode("append").parquet(in)
    drain()
    val streamed = spark.read.parquet(out).as[ClipRow].collect()
      .map(_.clip_id.takeRight(1)).sorted.toSeq
    // clip 6 (cross-batch duplicate) dropped; 7 kept
    assert(streamed == Seq("1", "3", "4", "5", "7"), streamed.toString)
  }

  test("streaming, bounded-streaming and batch exact dedup keep the same ids " +
      "over edge tabs, newlines and vertical-tab runs") {
    import graft.model.ClipRow
    import graft.operators.Dedup
    val texts = Seq(
      1 -> "ein satz über die stadt",
      2 -> "\tein satz über die stadt\n", // edge tab and newline
      3 -> "ein\u000B\u000Bsatz über die stadt", // interior \x0B run
      4 -> "\n\u000BEIN satz  über\tdie stadt\u000B",
      5 -> "ein anderer satz",
      6 -> "\t\n", // blank: keyed by its own id
      7 -> "\u000B",
      8 -> null)
    val pcm = graft.codec.Audio.encode("pcm_s16le",
      graft.codec.Audio.synth(11L, 8000, 800))
    val clips = texts.map { case (id, t) =>
      ClipRow(f"srcd-1900-01-01-a-i$id%04d", pcm, 8000, 100, "pcm_s16le", t, null)
    }
    val expect = Seq(1L, 5L, 6L, 7L, 8L)
    val streamed = StreamingFilter.streamingDedup(clips.toDS()).collect()
      .map(_.clip_id.takeRight(4).toLong).sorted.toSeq
    assert(streamed == expect)
    val docs = texts.map { case (id, t) => (id.toLong, t) }.toDF("id", "text")
    val batch = Dedup.exact(docs, "id", "text").collect()
      .map(_.getLong(1)).sorted.toSeq
    assert(batch == expect)
    // the bounded dedup runs on streams only: one micro-batch of one
    // id-ordered file, so each digest's first row is its minimal id
    val tmp = java.nio.file.Files.createTempDirectory("ndedup").toString
    docs.withColumn("ts", to_timestamp(lit("2026-01-01 10:00:00")))
      .coalesce(1).write.parquet(s"$tmp/in")
    StreamingFilter.streamingDedupBounded(
      spark.readStream.schema("id BIGINT, text STRING, ts TIMESTAMP")
        .parquet(s"$tmp/in"), "id", "text", "ts", "10 minutes")
      .writeStream.format("parquet")
      .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val bounded = spark.read.parquet(s"$tmp/out").select("id").as[Long]
      .collect().sorted.toSeq
    assert(bounded == expect)
  }

  test("simhash64 expression: parity with the Scala hash, codegen, foldable") {
    import graft.functions.SimHashOps
    import graft.operators.Dedup
    SimHashOps.register(spark)
    // value parity with the row-local Scala implementation
    val samples = Seq("die regierung hat beraten", "short", "a b c d e", "")
    samples.foreach { s =>
      val viaSql = spark.sql(
        s"SELECT simhash64('${s}') AS h").head.getLong(0)
      assert(viaSql == Dedup.simHash64(s, 4), s"'$s'")
    }
    // n parameter respected
    val h3 = spark.sql("SELECT simhash64('abcdef', 3) AS h").head.getLong(0)
    assert(h3 == Dedup.simHash64("abcdef", 3))
    // null-tolerant and NON-nullable (nullable output made Catalyst push
    // isnotnull(simhash64(text)) into the scan — hash evaluated twice)
    val hn = spark.sql("SELECT simhash64(CAST(NULL AS STRING)) AS h").head
    assert(!hn.isNullAt(0) && hn.getLong(0) == Dedup.simHash64(null, 4))
    // stays inside whole-stage codegen over a real scan
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = docs.selectExpr("simhash64(text) AS h")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*("), plan)
    // a NON-literal n is rejected with a clear message at resolution
    // time (n parameterizes the generated code, so it must fold)
    val err = intercept[Throwable] {
      docs.selectExpr("simhash64(text, CAST(doc_id AS INT)) AS h").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("must be a literal")),
      messages(err).mkString(" | "))
    // and the full simHash operator produces identical pairs to r1's
    // typed-map formulation (same hash, same buckets)
    val pairs = Dedup.simHash(docs.limit(50), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaScala = {
      val hs = docs.limit(50).select("doc_id", "text").collect()
        .map(r => (r.getLong(0), Dedup.simHash64(r.getString(1), 4)))
      (for {
        (a, ha) <- hs; (b, hb) <- hs if a < b
        if java.lang.Long.bitCount(ha ^ hb) <= 3
      } yield (a, b)).toSet
    }
    assert(pairs == viaScala)
  }

  test("built-in session_window matches the custom sessionizer's sessions") {
    import graft.streaming.{SessionEvent, StreamingFilter}
    val min = 60L * 1000000L
    val gap = 30 * min
    val events = Seq(
      SessionEvent(1L, 0L), SessionEvent(1L, 5 * min),
      SessionEvent(1L, 10 * min), // session A: 0..10min, 3 events
      SessionEvent(1L, 120 * min), // session B (singleton)
      SessionEvent(2L, 0L), SessionEvent(2L, 20 * min)) // one session
    val native = StreamingFilter.sessionizeNative(events.toDS(), gap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // end_us is gap-adjusted back to last-event time — identical shape
    // to the custom sessionizer's SessionOut
    assert(native == Set(
      (1L, 0L, 10 * min, 3L),
      (1L, 120 * min, 120 * min, 1L),
      (2L, 0L, 20 * min, 2L)), native.toString)
    // the custom path emits the CLOSED subset of the same sessions
    val closed = StreamingFilter.sessionize(events.toDS(), gap).collect()
      .map(s => (s.user_id, s.start_us, s.end_us, s.n_events.toLong)).toSet
    assert(closed.subsetOf(native), s"closed $closed not in $native")
  }

  test("watermark-bounded dedup: in-horizon dups dropped, state evicts beyond") {
    val tmp = java.nio.file.Files.createTempDirectory("wdedup").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ck = s"$tmp/ck"
    val schema = "id STRING, text STRING, ts TIMESTAMP"
    def drain(): Unit = {
      val q = StreamingFilter.streamingDedupBounded(
        spark.readStream.schema(schema).parquet(in),
        "id", "text", "ts", "10 minutes")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def rows(v: (String, String, String)*) =
      v.toSeq.toDF("id", "text", "s")
        .select($"id", $"text", to_timestamp($"s").as("ts"))
    // batch 1: A at 10:00 (kept)
    rows(("a1", "same text", "2026-01-01 10:00:00")).write
      .mode("append").parquet(in); drain()
    // batch 2: A again at 10:05 — inside the 10 min horizon → dropped
    rows(("a2", "same text", "2026-01-01 10:05:00"),
      ("b1", "other text", "2026-01-01 10:05:00")).write
      .mode("append").parquet(in); drain()
    // batch 3: filler at 11:00 advances the watermark far past A's state
    rows(("c1", "third text", "2026-01-01 11:00:00")).write
      .mode("append").parquet(in); drain()
    // batch 4: A re-ingested at 11:30 — state evicted → kept AGAIN
    rows(("a3", "same text", "2026-01-01 11:30:00")).write
      .mode("append").parquet(in); drain()
    val kept = spark.read.parquet(out).select("id")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(kept == Seq("a1", "a3", "b1", "c1"), kept.toString)
  }

  test("sessionize: cross-batch LATE event forms its own earlier session") {
    import graft.streaming.{SessionEvent, SessionOut, StreamingFilter}
    val min = 60L * 1000000L
    val gap = 30 * min
    val tmp = java.nio.file.Files.createTempDirectory("latesess").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ck = s"$tmp/ck"
    def drain(): Unit = {
      val q = StreamingFilter.sessionize(
        spark.readStream
          .schema(implicitly[org.apache.spark.sql.Encoder[SessionEvent]].schema)
          .parquet(in).as[SessionEvent], gap)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 1 opens a session at [600, 610] min
    Seq(SessionEvent(1L, 600 * min), SessionEvent(1L, 610 * min))
      .toDS().write.mode("append").parquet(in); drain()
    // batch 2: TWO late events hours before the stored session (one
    // cluster) + an in-gap extension of the live session. The old
    // `t - last <= gap` check absorbed late events into the stored
    // session (negative delta passes); they must instead form their own
    // earlier session, which closes immediately (a later one exists).
    Seq(SessionEvent(1L, 360 * min), SessionEvent(1L, 365 * min),
      SessionEvent(1L, 620 * min))
      .toDS().write.mode("append").parquet(in); drain()
    val closed = spark.read.parquet(out).as[SessionOut].collect().toSeq
    assert(closed == Seq(SessionOut(1L, 360 * min, 365 * min, 2)),
      closed.toString)
  }

  test("flatMapGroupsWithState sessions span micro-batch boundaries") {
    import graft.streaming.{SessionEvent, SessionOut, StreamingFilter}
    val min = 60L * 1000000L // a minute in micros
    val gap = 30 * min
    // user 1: session A (t=0..10min, 3 events) closed by an event 2h
    // later (batch 2); user 2: one long session, never closes
    val batch1 = Seq(SessionEvent(1L, 0L), SessionEvent(1L, 5 * min),
      SessionEvent(1L, 10 * min), SessionEvent(2L, 0L))
    val batch2 = Seq(SessionEvent(1L, 120 * min), SessionEvent(2L, 20 * min))

    // batch parity: one run over everything closes exactly session A
    val batchOut = StreamingFilter.sessionize(
      (batch1 ++ batch2).toDS(), gap).collect()
    assert(batchOut.toSeq == Seq(SessionOut(1L, 0L, 10 * min, 3)))

    // streaming: state carries across two AvailableNow drains
    val tmp = java.nio.file.Files.createTempDirectory("sess").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ck = s"$tmp/ck"
    def drain(): Unit = {
      val q = StreamingFilter.sessionize(
        spark.readStream
          .schema(implicitly[org.apache.spark.sql.Encoder[SessionEvent]].schema)
          .parquet(in).as[SessionEvent], gap)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    batch1.toDS().write.mode("append").parquet(in)
    drain()
    assert(spark.read.parquet(out).isEmpty) // nothing closed yet
    batch2.toDS().write.mode("append").parquet(in)
    drain()
    val streamed = spark.read.parquet(out).as[SessionOut].collect()
    // the batch-2 event closed the session opened in batch 1 — state
    // survived the checkpointed restart
    assert(streamed.toSeq == Seq(SessionOut(1L, 0L, 10 * min, 3)))
  }
}
