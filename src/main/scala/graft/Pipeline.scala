package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.operators._

/** End-to-end quality-filter pipeline (SURVEY.md §7.3):
  * clips → stage1 (decode + LID + ppl) → stage1b (per-source stats,
  * one job) → stage2 (broadcast-join cascade + keep/drop) → stage3
  * (scrub).
  *
  * Scale notes: the data path is scan → narrow map (stage1) → narrow map
  * (stage2) → filter+map (stage3), with no exchange. The stats are a
  * `treeAggregate` of per-partition counter bundles over the stage-1
  * output: it ships counters, never rows (through one foldByKey level
  * beyond 5 partitions).
  * At 10^12 rows the stage-1 output would be persisted as hash-bucketed
  * parquet between runs (see lineage.Checkpoint); here the fused plan is
  * used, with stage1 cached only when both 1b and 2 need it.
  */
object Pipeline {

  /** Distributed deterministic corpus — rows are a pure function of the
    * range index, so 10^12 rows would synthesize without any driver
    * materialization or skew (range is evenly partitioned). */
  def clips(spark: SparkSession, n: Long,
      seed: Long = ClipGen.DefaultSeed,
      partitions: Int = 0): Dataset[ClipRow] = {
    import spark.implicits._
    val base = if (partitions > 0) spark.range(0, n, 1, partitions)
    else spark.range(n)
    base.map(i => ClipGen.clipAt(i, seed)._1)
  }

  def gold(spark: SparkSession, n: Long,
      seed: Long = ClipGen.DefaultSeed): Dataset[GoldRow] = {
    import spark.implicits._
    spark.range(n).map(i => ClipGen.clipAt(i, seed)._2)
  }

  final case class Result(
      stage1: Dataset[Stage1Row],
      stats: Seq[SourceStats],
      decisions: Dataset[DecisionRow],
      scrubbed: Dataset[ScrubbedRow])

  def run(spark: SparkSession, clipsDs: Dataset[ClipRow]): Result = {
    val s1 = Stage1(spark, clipsDs)
    // stage1 feeds both the stats agg and the decision map — cache it so
    // the expensive model inference runs once (at cluster scale this is
    // the persisted stage boundary instead)
    s1.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = Stage1b(spark, s1).collect().toSeq
    val decisions = Stage2(spark, s1, stats)
    val scrubbed = Stage3(spark, decisions)
    Result(s1, stats, decisions, scrubbed)
  }

  /** Per-partition lineage + metrics (FIXTURES.md §2.4): drop-reason
    * counts and a perplexity histogram per (partition, source).
    * Lineage rows are inherently per-partition, so this is a ZERO-shuffle
    * `mapPartitions` fold — each task emits its own counter rows. */
  def metrics(spark: SparkSession,
      decisions: Dataset[DecisionRow]): Dataset[MetricsRow] = {
    import spark.implicits._
    val bins = Thresholds.PplBins
    decisions.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      final class Acc {
        var rowsIn = 0L
        var rowsOut = 0L
        val reasons = new scala.collection.mutable.HashMap[String, Long]
        val hist = new Array[Long](bins.length + 1)
      }
      val bySource = new scala.collection.mutable.HashMap[String, Acc]
      it.foreach { d =>
        val a = bySource.getOrElseUpdate(d.source, new Acc)
        a.rowsIn += 1
        if (d.keep) a.rowsOut += 1
        val reason = if (d.drop_reason == null) "kept" else d.drop_reason
        a.reasons.update(reason, a.reasons.getOrElse(reason, 0L) + 1L)
        val p = d.ppl.getOrElse(Double.MaxValue)
        val bin = bins.indexWhere(p <= _) match {
          case -1 => bins.length
          case i => i
        }
        a.hist(bin) += 1
      }
      bySource.iterator.map { case (src, a) =>
        MetricsRow(pid, src, a.rowsIn, a.rowsOut, a.reasons.toMap,
          a.hist, watermark = pid.toString, ts = Thresholds.FixedTs)
      }
    }
  }
}
