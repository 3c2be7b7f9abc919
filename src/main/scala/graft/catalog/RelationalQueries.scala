package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational and evaluation queries: the per-row scalar surface,
  * filters, aggregations, top-k, set ops and samplers over `documents`,
  * and the TPC-H-shaped core over lineitem/orders/customer/... */
object RelationalQueries extends Queries {

  // Unicode-aware (\p{L}): Java's bare \W is ASCII-only, which would
  // strip é/ü/ß as "non-word" and depress the ratio for exactly the
  // accented languages this corpus carries — the pipeline's own
  // TextStats.alphabeticalRatio runs UNICODE_CHARACTER_CLASS for the
  // same reason (Python-\W parity). DuckDB's RE2 oracle agrees on
  // \p{L}, so both engines count the same letters.
  private def alphaRatio(c: Column): Column =
    length(regexp_replace(c, "[^\\p{L}]+", "")).cast("double") / length(c)
  private val alphaRatioSql =
    raw"length(regexp_replace(text, '[^\p{L}]+', '', 'g')) / CAST(length(text) AS DOUBLE)"

  /** Deterministic "second LID system" over documents (for the
    * disagreement/eval operator family — A9/A14/A15). */
  private def predCol: Column =
    when(col("n_chars") % 5 === 0, lit("en")).otherwise(col("lang"))
  private val predSql =
    "CASE WHEN n_chars % 5 = 0 THEN 'en' ELSE lang END"

  private def langCounts(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("cnt"))

  private def disagreements(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .withColumn("pred", predCol)
      .filter(col("pred") =!= col("lang"))
      .groupBy(concat(col("lang"), lit("->"), col("pred")).as("key"))
      .agg(count(lit(1)).as("cnt"))
  private val disagreementsSql =
    s"SELECT lang || '->' || $predSql AS key, count(*) AS cnt FROM documents WHERE $predSql <> lang GROUP BY 1"

  /** Per-language correct/total with the `_ALL_` bucket as a real ROLLUP
    * grand-total row (the survey's one natural grouping-sets candidate,
    * §2.5 note). `lang0` duplicates the grouping column: references to
    * grouping expressions inside aggregates get expand-projected (NULL
    * on the rollup row) in both engines, so aggregate over the copy. */
  private def evalRollup(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").withColumn("pred", predCol)
      .withColumn("lang0", col("lang"))
      .rollup(col("lang"))
      .agg(sum(when(col("pred") === col("lang0"), 1L).otherwise(0L))
        .as("correct"), count(lit(1)).as("total"))
      .select(coalesce(col("lang"), lit("_ALL_")).as("gold_lg"),
        col("correct"), col("total"))
  private val evalRollupSql =
    s"""SELECT coalesce(lang, '_ALL_') AS gold_lg,
        CAST(SUM(CASE WHEN pred = lang0 THEN 1 ELSE 0 END) AS BIGINT) AS correct,
        count(*) AS total
        FROM (SELECT lang AS lang0, lang, $predSql AS pred FROM documents) x
        GROUP BY ROLLUP(lang)"""

  private def revenue: Column =
    col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** Reproducible sampling hash of doc_id in [0, mod). The reduction goes
    * through a PRIME modulus first: ids here are structured (doc_id ≡
    * source index mod 20), and (20k·C) mod 100 only hits multiples of
    * 20 — measured 20% retention on a "2%" stratum before the prime
    * step. C is invertible mod 1000003, so structured ids
    * equidistribute. */
  private def idHash(mod: Int): Column =
    pmod(pmod((col("doc_id") % 100000L) * lit(2654435761L),
      lit(1000003L)), lit(mod))
  private def idHashSql(mod: Int) =
    s"(((doc_id % 100000) * 2654435761) % 1000003) % $mod"

  val all: Seq[Query] = Seq(
    // ---------------- P: per-row scalar surface (SURVEY §2.2)
    query("p1_alpha_ratio", (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        round(alphaRatio(col("text")), 4).as("alpha_ratio")),
      s"SELECT doc_id, round($alphaRatioSql, 4) AS alpha_ratio FROM documents"),
    query("p2_base_info", (s, d) => t(s, d, "documents")
      .select(col("doc_id"), length(col("text")).as("len"),
        col("lang").as("orig_lg"), col("source")),
      "SELECT doc_id, length(text) AS len, lang AS orig_lg, source FROM documents"),
    query("p5_id_parse", (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        substring(col("source"), 4, 10).cast("int").as("src_num")),
      "SELECT doc_id, CAST(substr(source, 4, 10) AS INTEGER) AS src_num FROM documents"),

    // ---------------- F: filters (SURVEY §2.3)
    query("f1_valid_gate", (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        (col("n_chars") >= 20 && alphaRatio(col("text")) >= 0.5)
          .as("valid")),
      s"SELECT doc_id, (n_chars >= 20 AND $alphaRatioSql >= 0.5) AS valid FROM documents"),
    query("f4_stats_filter", (s, d) => t(s, d, "documents")
      .filter(alphaRatio(col("text")) >= 0.5 &&
        col("n_chars") * alphaRatio(col("text")) >= 200)
      .select(col("doc_id")),
      s"SELECT doc_id FROM documents WHERE $alphaRatioSql >= 0.5 AND n_chars * ($alphaRatioSql) >= 200"),
    query("f8_outlier_filter", (s, d) => {
      // robust per-source outlier gate: keep docs whose length sits in
      // the [p05, p95] band of their OWN source (exact interpolated
      // percentiles — Spark `percentile` ≡ DuckDB `quantile_cont`).
      // Per-source bounds are a tiny aggregate broadcast back into a
      // narrow filter, same shape as the mixture sampler.
      val docs = t(s, d, "documents")
      val bounds = docs.groupBy(col("source"))
        .agg(expr("percentile(n_chars, 0.05)").as("lo"),
          expr("percentile(n_chars, 0.95)").as("hi"))
      docs.join(broadcast(bounds), "source")
        .filter(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
        .select(col("doc_id"), col("source"), col("n_chars"))
    },
      """WITH b AS (SELECT source, quantile_cont(n_chars, 0.05) AS lo, quantile_cont(n_chars, 0.95) AS hi FROM documents GROUP BY 1)
          SELECT doc_id, source, n_chars FROM documents JOIN b USING (source)
          WHERE n_chars >= lo AND n_chars <= hi"""),

    // ---------------- A: aggregations (SURVEY §2.5)
    query("a1_type_dist", (s, d) => t(s, d, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("cnt")),
      "SELECT source, count(*) AS cnt FROM documents GROUP BY source"),
    query("a2_len_hist", (s, d) => t(s, d, "documents")
      .groupBy(floor(col("n_chars") / 50.0).as("bucket"))
      .agg(count(lit(1)).as("cnt")),
      "SELECT CAST(floor(n_chars / 50.0) AS BIGINT) AS bucket, count(*) AS cnt FROM documents GROUP BY 1"),
    query("a4_lang_dist", (s, d) => langCounts(s, d)
      .withColumn("relfreq", round(col("cnt").cast("double") /
        sum(col("cnt")).over(Window.partitionBy(col("source")))
          .cast("double"), 4)),
      "SELECT source, lang, cnt, round(CAST(cnt AS DOUBLE) / CAST(sum(cnt) OVER (PARTITION BY source) AS DOUBLE), 4) AS relfreq FROM (SELECT source, lang, count(*) AS cnt FROM documents GROUP BY 1, 2) x"),
    query("a12_dominant", (s, d) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("cnt").desc, col("lang").asc)
      langCounts(s, d).withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("source"), col("lang").as("dominant_lang"), col("cnt"))
    },
      "SELECT source, lang AS dominant_lang, cnt FROM (SELECT source, lang, count(*) AS cnt, row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, lang ASC) AS rn FROM documents GROUP BY 1, 2) x WHERE rn = 1"),
    query("a9_disagreement", disagreements, disagreementsSql),
    query("a15_eval_accuracy", (s, d) =>
      // single-pass ROLLUP plan (r1 ran this as scan+union+rescan — 65x
      // slower than its own rollup twin)
      evalRollup(s, d).withColumn("accuracy",
        round(col("correct").cast("double") / col("total"), 4)),
      s"SELECT *, round(CAST(correct AS DOUBLE) / total, 4) AS accuracy FROM ($evalRollupSql) r"),
    query("a15_per_item", (s, d) =>
      // per-item eval diagnostics (EV:105-122 analog; Eval.perItem is the
      // pipeline-typed twin): prediction, gold, correctness per row
      t(s, d, "documents")
        .select(col("doc_id"), predCol.as("pred"),
          col("lang").as("gold_lg"), (predCol === col("lang")).as("correct")),
      s"SELECT doc_id, $predSql AS pred, lang AS gold_lg, ($predSql = lang) AS correct FROM documents"),
    query("a15_rollup", evalRollup, evalRollupSql),
    query("a16_pivot", (s, d) =>
      // source × language crosstab via the pivot operator (explicit
      // value list → no extra distinct pass; Catalyst rewrites to one
      // hash aggregate with CASE projections — same single-shuffle plan
      // as the CASE-based oracle SQL)
      t(s, d, "documents").groupBy(col("source"))
        .pivot("lang", Seq("en", "fr", "de", "es", "zh"))
        .agg(count(lit(1)))
        .na.fill(0L),
      """SELECT source,
          CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
          CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
          CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
          CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
          CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
          FROM documents GROUP BY source"""),
    query("quality_drift_monitor", (s, d) => {
      // per-source drift monitor: each source's keep rate (under the
      // Gopher-style length gate) vs the corpus rate as a binomial
      // z-score; |z| > 3 flags a drifting source — the alert a
      // production quality filter pages on. Two tiny aggregates
      // (per-source + global), broadcast-crossed; nothing scans twice
      // at scale beyond the one pass producing both.
      val kept = t(s, d, "documents").select(col("source"),
        (col("n_chars") >= 150 && col("n_chars") <= 450).cast("long")
          .as("keep"))
      val per = kept.groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("keep")).as("kept"))
      val glob = kept.agg(
        (sum(col("keep")).cast("double") / count(lit(1))).as("g"))
      per.crossJoin(broadcast(glob))
        .withColumn("rate", round(col("kept").cast("double") / col("n"), 4))
        .withColumn("z", round(
          (col("kept").cast("double") / col("n") - col("g")) /
            sqrt(col("g") * (lit(1.0) - col("g")) / col("n")), 3))
        .select(col("source"), col("n"), col("kept"), col("rate"),
          col("z"), (abs(col("z")) > 3.0).as("drifting"))
    },
      """WITH k AS (SELECT source, CASE WHEN n_chars BETWEEN 150 AND 450 THEN 1 ELSE 0 END AS keep FROM documents),
          per AS (SELECT source, count(*) AS n, CAST(sum(keep) AS BIGINT) AS kept FROM k GROUP BY 1),
          g AS (SELECT sum(keep) / CAST(count(*) AS DOUBLE) AS g FROM k)
          SELECT source, n, kept, round(kept / CAST(n AS DOUBLE), 4) AS rate,
            round((kept / CAST(n AS DOUBLE) - g) / sqrt(g * (1 - g) / n), 3) AS z,
            (abs((kept / CAST(n AS DOUBLE) - g) / sqrt(g * (1 - g) / n)) > 3.0) AS drifting
          FROM per CROSS JOIN g"""),

    // ---------------- T: sorts / top-k (SURVEY §2.7)
    query("t5_top_disagreements", (s, d) => disagreements(s, d)
      .orderBy(col("cnt").desc, col("key").asc).limit(5),
      s"$disagreementsSql ORDER BY cnt DESC, key ASC LIMIT 5"),

    // ---------------- U: set ops (SURVEY §2.8)
    query("u1_distinct_langs", (s, d) => t(s, d, "documents")
      .groupBy(col("source"))
      .agg(array_join(array_sort(collect_set(col("lang"))), ",")
        .as("langs")),
      "SELECT source, array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs FROM documents GROUP BY source"),
    query("u2_approx_distinct", (s, d) =>
      // HyperLogLog++ distinct-count sketch per source — at 10^12 rows
      // exact countDistinct means a full shuffle of the values; the
      // sketch merges fixed-size registers instead. Approximate →
      // rows-only; QueriesSpec bounds the error vs exact at 5%.
      t(s, d, "documents").groupBy(col("source"))
        .agg(approx_count_distinct(col("text"), 0.02).as("approx_texts"),
          count(lit(1)).as("rows"))),
    query("u2_rows_exact", (s, d) =>
      // the deterministic half of u2 split out so it gets a value
      // check: exact per-source row AND exact distinct-text counts
      // (one shuffle; the sketch column above stays bounded-only)
      t(s, d, "documents").groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("text")).as("n_texts")),
      "SELECT source, count(*) AS n_rows, count(DISTINCT text) AS n_texts FROM documents GROUP BY source"),
    query("u3_approx_quantiles", (s, d) => {
      // t-digest-style quantile sketch (percentile_approx) for the
      // length distribution per source — same scale rationale as HLL.
      // Approximate → rows-only; QueriesSpec bounds drift vs exact.
      // ONE sketch pass feeds all three cut points; the array is then
      // flattened to scalar columns (q25/q50/q90) — array-valued output
      // is unhashable for the driver's row-compare harness.
      val qs = t(s, d, "documents").groupBy(col("source"))
        .agg(percentile_approx(col("n_chars"),
          array(lit(0.25), lit(0.5), lit(0.9)), lit(2000)).as("qs"))
      qs.select(col("source"), col("qs")(0).as("q25"),
        col("qs")(1).as("q50"), col("qs")(2).as("q90"))
    }),
    query("u3_quantiles_exact", (s, d) => {
      // EXACT per-source quantiles (sort-based `percentile`, linear
      // interpolation) — the value-checked companion to the sketch
      // above: same cut points, DuckDB oracle via quantile_cont. At
      // 10^12 rows you run the sketch; this is the per-partition-sized
      // exact tier (per-source groups) and the sketch's truth anchor.
      val qs = t(s, d, "documents").groupBy(col("source"))
        .agg(expr("percentile(n_chars, array(0.25D, 0.5D, 0.9D))").as("qs"))
      qs.select(col("source"),
        round(col("qs")(0), 4).as("q25"),
        round(col("qs")(1), 4).as("q50"),
        round(col("qs")(2), 4).as("q90"))
    },
      "SELECT source, round(quantile_cont(n_chars, 0.25), 4) AS q25, round(quantile_cont(n_chars, 0.5), 4) AS q50, round(quantile_cont(n_chars, 0.9), 4) AS q90 FROM documents GROUP BY source"),

    // ---------------- samplers (training-data mixing)
    query("sample_stratified", (s, d) => {
      // deterministic stratified downsampling — the source-rebalancing
      // op a training-data pipeline runs before mixing: src0 keeps 2%,
      // every other source 20%, decided by a pure arithmetic hash of
      // doc_id so the sample is reproducible on any engine and needs
      // no shuffle (narrow filter over the scan)
      val rate = when(col("source") === "src0", 2).otherwise(20)
      t(s, d, "documents").filter(idHash(100) < rate)
        .select(col("doc_id"), col("source"), col("lang"))
    },
      s"""SELECT doc_id, source, lang FROM documents
          WHERE ${idHashSql(100)} < (CASE WHEN source = 'src0' THEN 2 ELSE 20 END)"""),
    query("sample_mixture_balance", (s, d) => {
      // language-mixture rebalancing: downsample every language to the
      // minority language's count (equal-share mixing, the step before
      // training-data interleave). Rates derive from a distributed
      // groupBy (tiny result, broadcast back); membership is the same
      // prime-modulus arithmetic hash as sample_stratified, in basis
      // points — deterministic on any engine, no global window (a
      // window over the whole table would serialize on one partition).
      val docs = t(s, d, "documents")
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
      val minc = counts.agg(min(col("cnt")).as("min_cnt"))
      docs.join(broadcast(counts), "lang").crossJoin(broadcast(minc))
        .filter(idHash(10000) < floor(col("min_cnt") * lit(10000) / col("cnt")))
        .select(col("doc_id"), col("lang"), col("source"))
    },
      s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
          m AS (SELECT min(cnt) AS min_cnt FROM c)
          SELECT doc_id, lang, source FROM documents JOIN c USING (lang) CROSS JOIN m
          WHERE ${idHashSql(10000)} < (min_cnt * 10000) // cnt"""),
    query("sample_temperature_mix", (s, d) => {
      // temperature-flattened language mixing (T = 0.5): the
      // multilingual-LLM upsampling rule — keep rate ∝ (c_max/c_l)^T,
      // capped at 1, so minority languages are flattened TOWARD (not
      // all the way to) parity, unlike mixture_balance's hard
      // equal-share. Arithmetic is collision-safe across engines: no
      // cross-language float SUM (order-dependent rounding) — the rate
      // is one exactly-rounded sqrt per side and one divide, and
      // membership floors it into millionths against the same
      // prime-modulus hash as the other samplers.
      val docs = t(s, d, "documents")
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
      val maxc = counts.agg(max(col("cnt")).as("max_cnt"))
      val rate = least(lit(1.0),
        lit(0.2) * sqrt(col("max_cnt").cast("double")) /
          sqrt(col("cnt").cast("double")))
      docs.join(broadcast(counts), "lang").crossJoin(broadcast(maxc))
        .filter(idHash(1000000) < floor(rate * lit(1000000)))
        .select(col("doc_id"), col("lang"), col("source"))
    },
      s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
          m AS (SELECT max(cnt) AS max_cnt FROM c)
          SELECT doc_id, lang, source FROM documents JOIN c USING (lang) CROSS JOIN m
          WHERE ${idHashSql(1000000)}
            < floor(least(1.0, 0.2 * sqrt(CAST(max_cnt AS DOUBLE)) / sqrt(CAST(cnt AS DOUBLE))) * 1000000)"""),

    // ---------------- relational core (lineitem/orders/customer/...)
    query("q1_agg", (s, d) => t(s, d, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(revenue), 2).as("sum_disc_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order")),
      "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, round(sum(l_extendedprice), 2) AS sum_base_price, round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, round(avg(l_discount), 4) AS avg_disc, count(*) AS count_order FROM lineitem GROUP BY 1, 2"),
    query("q6_selective_agg", (s, d) =>
      // TPC-H Q6 shape: every predicate reaches the parquet scan as a
      // PushedFilter (verified via `graft.BenchExtra explain`) — the
      // scan skips row groups server-side instead of filtering post-read
      t(s, d, "lineitem")
        .filter(col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue"), count(lit(1)).as("n")),
      "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n FROM lineitem WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"),
    query("q3_revenue_topk", (s, d) => {
      // NOT fanned out (r6): repartitioning the fact scan before the
      // broadcast join was measured SLOWER than the serial scan +
      // map-side partial aggregation it replaces (0.99 s → 1.4 s) —
      // columnar decode + hash-agg of 600k rows is cheaper than an
      // extra round-trip of them through a shuffle
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate").cast("date")
          .as("o_date"))
        .agg(round(sum(revenue), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey").asc).limit(10)
    },
      "SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2 ORDER BY revenue DESC, o_orderkey ASC LIMIT 10"),
    query("q5_region_revenue", (s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val n = t(s, d, "nation")
      val r = t(s, d, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(round(sum(revenue), 2).as("revenue"))
    },
      "SELECT r_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY 1"),
    query("q14_promo_share", (s, d) => {
      // TPC-H Q14 shape over the part dimension: conditional revenue
      // share by brand-type predicate. part broadcasts (dimension-sized
      // at every SF); the measure aggregates map-side.
      val li = t(s, d, "lineitem"); val p = t(s, d, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .agg(round(lit(100.0) *
          sum(when(col("p_type").startsWith("PROMO"), revenue).otherwise(0.0)) /
          sum(revenue), 4).as("promo_pct"),
          count(lit(1)).as("n"))
    },
      "SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0 END) / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct, count(*) AS n FROM lineitem JOIN part ON l_partkey = p_partkey"),
    query("q_supplier_nation", (s, d) => {
      // revenue by supplier nation: two broadcast dims chained onto the
      // fact scan — the same star-join shape as q5 on the OTHER foreign
      // key (l_suppkey), completing coverage of every fixture table.
      val li = t(s, d, "lineitem"); val su = t(s, d, "supplier")
      val n = t(s, d, "nation")
      li.join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(revenue), 2).as("revenue"), count(lit(1)).as("n_items"))
    },
      "SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n_items FROM lineitem JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey GROUP BY 1"),

    // ---------------- J: joins (SURVEY §2.6)
    query("j1_broadcast_join", (s, d) => {
      val o = t(s, d, "orders"); val c = t(s, d, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(
          count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total"))
    },
      "SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1"),
    query("j2_semi_join", (s, d) => {
      val o = t(s, d, "orders")
      val big = t(s, d, "lineitem").filter(col("l_quantity") > 45)
        .select(col("l_orderkey"))
      o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("cnt"))
    },
      "SELECT o_orderstatus, count(*) AS cnt FROM orders WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45) GROUP BY 1"),
    query("j2_anti_join_resume", (s, d) => {
      val docs = t(s, d, "documents")
      val processed = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"))
      docs.join(processed, Seq("doc_id"), "left_anti")
        .groupBy(col("source")).agg(count(lit(1)).as("n_unprocessed"))
    },
      "SELECT source, count(*) AS n_unprocessed FROM documents d WHERE NOT EXISTS (SELECT 1 FROM documents p WHERE p.doc_id % 3 = 0 AND p.doc_id = d.doc_id) GROUP BY 1"))
}
