package graft.catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Window and event queries: running sums and top-n per key over
  * orders; time windows, sessions, JSON extraction and the as-of join
  * over `events`. */
object EventQueries extends Queries {

  val all: Seq[Query] = Seq(
    // ---------------- W: windows
    query("w1_running_sum", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders").filter(col("o_custkey") < 100)
        .select(col("o_orderkey"), col("o_custkey"),
          round(sum(col("o_totalprice")).over(w), 2).as("running"))
    },
      "SELECT o_orderkey, o_custkey, round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running FROM orders WHERE o_custkey < 100"),
    query("w2_topn_per_key", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, d, "orders").filter(col("o_custkey") < 200)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"))
    },
      "SELECT o_custkey, rn, o_orderkey, price FROM (SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders WHERE o_custkey < 200) x WHERE rn <= 2"),

    // ---------------- E: events (time windows / sessions / json)
    query("e1_tumbling_window", (s, d) => t(s, d, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("val")),
      "SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt, round(sum(value), 2) AS val FROM events GROUP BY 1, 2"),
    query("e2_sessionize", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      // ts is TIMESTAMP_NTZ in the parquet; cast for unix_micros (session
      // tz is pinned UTC so this matches DuckDB's naive epoch_us)
      val us = unix_micros(col("ts").cast("timestamp"))
      t(s, d, "events").filter(col("user_id") < 100)
        .withColumn("prev", lag(us, 1).over(w))
        .withColumn("new_session",
          when(col("prev").isNull || us - col("prev") > 1800000000L, 1L)
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"),
          count(lit(1)).as("n_events"))
    },
      """WITH x AS (SELECT user_id, epoch_us(ts) AS us, lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev FROM events WHERE user_id < 100)
         SELECT user_id, CAST(SUM(CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions, count(*) AS n_events FROM x GROUP BY 1"""),
    query("e3_json_extract", (s, d) => t(s, d, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").as("k")),
      "SELECT event_id, json_extract_string(props, '$.k') AS k FROM events"),
    query("j4_asof_join", (s, d) => {
      // AS-OF join — the classic operator Spark lacks natively,
      // composed from existing ops per the preference order: tag both
      // event streams, ONE window pass per user carrying the last-seen
      // click forward (ties let the click win), filter to purchases.
      // One shuffle keyed by user_id, no range-condition theta join
      // (which Spark would execute as a broadcast nested loop). Oracle:
      // DuckDB's native ASOF LEFT JOIN on the same streams.
      val ev = t(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc,
          (col("event_type") === "purchase").cast("int").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val clickId = when(col("event_type") === "click", col("event_id"))
      val clickTs = when(col("event_type") === "click", col("ts"))
      ev.withColumn("click_id", last(clickId, ignoreNulls = true).over(w))
        .withColumn("click_ts", last(clickTs, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("click_id"),
          floor((unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("click_ts").cast("timestamp")))
            / lit(1000)).as("lag_ms"))
    },
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
          c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
          SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
            (epoch_us(p.ts) - epoch_us(c.ts)) // 1000 AS lag_ms
          FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts"""))
}
