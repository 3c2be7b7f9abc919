package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.model.{ClipRow, DecisionRow, SourceStats}
import graft.lid.TextStats
import graft.operators.{Dedup, Stage1, Stage2}
import graft.sources.JsonlIO

/** Input/state/output rows for the stateful sessionizer. Event time is
  * epoch micros (no timestamp parsing in the state function). */
final case class SessionEvent(user_id: Long, ts_us: Long)
final case class SessionState(start_us: Long, last_us: Long, n: Int)
final case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
    n_events: Int)

/** Structured Streaming surface (SURVEY.md §2.11: the reference is pure
  * batch; this is the graft's incremental path). The SAME stage-1/2
  * row-local transforms run over `readStream` — they are stateless maps,
  * so batch/stream parity is exact given a fixed stats table (stats come
  * from a prior batch run, like the reference's per-newspaper stats
  * files). `Trigger.AvailableNow` drains what exists and stops —
  * checkpointed, so repeated invocations resume incrementally (the
  * streaming twin of lineage.Checkpoint).
  */
object StreamingFilter {

  /** Stream clips from a parquet directory through stage1+stage2 and sink
    * decisions to `outDir` (append mode, exactly-once via checkpoint). */
  def run(spark: SparkSession, inputDir: String, stats: Seq[SourceStats],
      outDir: String, checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    val clips = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[ClipRow]].schema)
      .parquet(inputDir)
      .as[ClipRow]
    val s1 = Stage1(spark, clips)
    val decisions: Dataset[DecisionRow] = Stage2(spark, s1, stats)
    decisions.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Custom-state sessionization with `flatMapGroupsWithState` (the
    * KeyValueGroupedDataset stateful surface): per-user session state
    * lives in the checkpointed state store, so sessions span micro-batch
    * boundaries — an event in batch N+1 extends or closes a session
    * opened in batch N. A session CLOSES (and is emitted) when a later
    * event for the same user arrives more than `gapUs` after it; the
    * trailing open session stays in state (in production a
    * GroupStateTimeout would flush idle users; with AvailableNow drains
    * the caller can flush by appending one far-future sentinel event per
    * user).
    *
    * Works identically over a batch Dataset (one "micro-batch", fresh
    * state) — the spec asserts batch/stream parity on closed sessions. */
  def sessionize(events: Dataset[SessionEvent],
      gapUs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          // interval-merge formulation so CROSS-BATCH LATE events are
          // correct: a batch event far BEFORE the stored session must
          // not be absorbed into it (`t - last <= gap` is trivially true
          // for any t <= last) — it forms its own earlier session. All
          // candidate sessions (stored + per-event singletons) are
          // sorted by start and adjacent ones within the gap merge;
          // every merged session except the latest has a later event
          // beyond its gap, so it closes — identical output to the
          // in-order fold for in-order input.
          val sess = scala.collection.mutable.ArrayBuffer.empty[SessionState]
          state.getOption.foreach(sess += _)
          evs.foreach(e => sess += SessionState(e.ts_us, e.ts_us, 1))
          val merged = scala.collection.mutable.ArrayBuffer.empty[SessionState]
          sess.sortBy(s => (s.start_us, s.last_us)).foreach { s =>
            if (merged.nonEmpty && s.start_us - merged.last.last_us <= gapUs) {
              val m = merged.last
              merged(merged.length - 1) = SessionState(m.start_us,
                math.max(m.last_us, s.last_us), m.n + s.n)
            } else merged += s
          }
          val closed = merged.init.map(m =>
            SessionOut(uid, m.start_us, m.last_us, m.n))
          state.update(merged.last)
          closed.iterator
      }
  }

  /** Declarative sessionization via the BUILT-IN `session_window`
    * aggregation — the compose-existing-ops alternative to the custom
    * [[sessionize]] state function (preference order: built-ins first;
    * the custom path exists for semantics session_window can't express,
    * e.g. emit-on-close with the trailing session retained in state).
    * Semantic mapping, asserted in StreamingSpec: a session_window
    * spans [first_event, last_event + gap), so `end - gap` equals the
    * custom sessionizer's last-event end, and ALL sessions are emitted
    * (batch) / finalized by watermark (streaming), not just closed
    * ones. */
  def sessionizeNative(events: Dataset[SessionEvent],
      gapUs: Long): DataFrame = {
    import events.sparkSession.implicits._
    events.toDF()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapUs microseconds").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        (unix_micros(col("w.end")) - gapUs).as("end_us"),
        col("n_events"))
  }

  /** Streaming exact dedup across micro-batches: the first clip with a
    * given normalized-transcript digest passes, every later arrival —
    * including in a LATER micro-batch or after a restart — is dropped,
    * because seen digests live in the checkpointed state store. This is
    * the incremental twin of [[graft.operators.Dedup.exact]], the shape a
    * continuously-ingesting training pipeline needs (batch dedup can't
    * see yesterday's corpus without re-reading it).
    *
    * State is keyed by the 128-bit digest only (not the text), so at
    * 10^12 clips the store holds 16-byte keys + booleans — and a real
    * deployment would bound it with a watermark on ingest time
    * (`dropDuplicatesWithinWatermark`) once dedup only needs to look
    * back a bounded horizon. mapGroupsWithState is used instead of
    * `dropDuplicates` so the keep decision is explicit and testable
    * per row (first-wins by (batch, clip_id) order). */
  def streamingDedup(clips: Dataset[ClipRow]): Dataset[ClipRow] = {
    import clips.sparkSession.implicits._
    clips
      // null OR blank transcripts are NOT duplicates of each other: they
      // key by their own id so none is swallowed (the quality gates
      // judge them later) — same contract as Dedup.exact
      .groupByKey(c => Option(digest(c.transcript)).getOrElse("id:" + c.clip_id))
      .flatMapGroupsWithState[Boolean, ClipRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[ClipRow], seen: GroupState[Boolean]) =>
          if (seen.exists) Iterator.empty // digest seen in an earlier batch
          else {
            seen.update(true)
            // first-wins within the batch too: minimal clip_id
            var best: ClipRow = null
            rows.foreach { c =>
              if (best == null || c.clip_id < best.clip_id) best = c
            }
            Iterator.single(best)
          }
      }
  }

  /** Watermark-BOUNDED streaming dedup — the state-eviction twin of
    * [[streamingDedup]], built on the engine-native
    * `dropDuplicatesWithinWatermark`. At 10^12 clips an ever-growing
    * digest store is a non-starter; with an ingest-time watermark the
    * state keeps only digests younger than `horizon`, trading global
    * dedup for bounded-lag dedup (the production contract: re-ingests
    * arrive within hours, not years — beyond-horizon repeats surface
    * again and the batch dedup tier catches them). Null transcripts key
    * by their own id (never collapsed into each other), mirroring
    * [[streamingDedup]]. Pure Column expressions — no state function
    * of our own, the engine owns eviction. */
  def streamingDedupBounded(df: DataFrame, idCol: String, textCol: String,
      tsCol: String, horizon: String): DataFrame = {
    val norm = Dedup.normText(col(textCol))
    // blank text md5s to a non-null digest — the length guard (not a
    // bare coalesce) keeps blank rows keyed by their own id, matching
    // Dedup.exact and streamingDedup
    df.withColumn("digest",
      when(length(norm) > 0, md5(norm))
        .otherwise(concat(lit("id:"), col(idCol))))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("digest")
      .drop("digest")
  }

  /** [[graft.operators.Dedup.exact]]'s key of a transcript: the md5 hex
    * of its [[graft.lid.TextStats.normText]] normalization, or null when
    * that is null or empty (the texts `Dedup.exact` keys by their id). */
  def digest(transcript: String): String = {
    val norm = TextStats.normText(transcript)
    if (norm == null || norm.isEmpty) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(norm.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Windowed per-source keep-rate monitoring with a watermark —
    * event time is synthesized from the clip id's year (the corpus has
    * no ingest timestamp; production would use one). Late rows beyond
    * the watermark are dropped by the engine. */
  def keepRateByWindow(spark: SparkSession,
      decisions: DataFrame): DataFrame = {
    import spark.implicits._
    decisions
      .withColumn("event_ts",
        to_timestamp(concat(col("year"), lit("-01-01"))))
      .withWatermark("event_ts", "365 days")
      .groupBy(window(col("event_ts"), "3650 days"), col("source"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
  }
}
