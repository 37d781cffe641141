package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * CDC-shaped operator queries over the shared `events` table (the changelog
 * analogue: key = user_id, lsn = event_id — FIXTURES.md §B). Each has an
 * exact DuckDB oracle; all aggregates are either integer-exact or
 * rounded-after-identical-IEEE-arithmetic so value hashes match.
 *
 * These exercise, in driver-checkable batch form, the same operator semantics
 * the streaming engine runs: arg-max-per-key upsert fold (the reference's
 * ON DUPLICATE KEY UPDATE, /root/reference/util/sql.go:269-284), dedup,
 * fan-in union (/root/reference/data_processor.go:67-89), skew detection,
 * and out-of-order telemetry.
 */
object CdcQueries {

  private def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The upsert fold: latest state per key by arg-max(lsn). Aggregate form
    // (max_by), not window form — no sort, partial agg map-side.
    "q_latest_by_key" -> ((s, dir) => {
      events(s, dir).groupBy(col("user_id")).agg(
        max(col("event_id")).as("last_event_id"),
        max_by(col("event_type"), col("event_id")).as("last_type"),
        max_by(col("value"), col("event_id")).as("last_value"))
    }),

    // Fold with tombstones: rows whose final event is a delete marker vanish.
    "q_cdc_fold_deletes" -> ((s, dir) => {
      events(s, dir).groupBy(col("user_id")).agg(
        max(col("event_id")).as("last_event_id"),
        max_by(col("event_type"), col("event_id")).as("last_type"))
        .filter(col("last_type") =!= "error")
    }),

    // Same fold via window row_number (the plan we benchmarked against
    // max_by; kept as the ranking-window operator exercise).
    "q_window_dedup" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
      events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"))
    }),

    // Upsert telemetry: change counts per key.
    "q_upsert_counts" -> ((s, dir) => {
      events(s, dir).groupBy(col("user_id")).agg(
        count(lit(1)).as("n_changes"),
        countDistinct(col("event_type")).as("n_types"),
        min(col("event_id")).as("first_id"),
        max(col("event_id")).as("last_id"))
    }),

    // Skew detector: hottest keys.
    "q_topk_hot_keys" -> ((s, dir) => {
      events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("user_id"))
        .limit(10)
    }),

    // Fan-in merge (branch + union), then aggregate.
    "q_union_merge" -> ((s, dir) => {
      val ev = events(s, dir)
      val evens = ev.filter(pmod(col("user_id"), lit(2)) === 0)
      val odds = ev.filter(pmod(col("user_id"), lit(2)) === 1)
      evens.unionByName(odds).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
    }),

    // Duplicate-delivery detector (dedup-by-lsn cardinality).
    "q_dedup_lsn" -> ((s, dir) => {
      events(s, dir).agg(
        count(lit(1)).as("n_total"),
        countDistinct(col("event_id")).as("n_unique"))
    }),

    // Regression telemetry via lag window: events whose `value` dropped vs the
    // previous event of the same key in lsn order. (The events table is
    // ts-monotone per key, so value regression is the non-vacuous analogue of
    // the out-of-order detector the streaming engine runs on event time.)
    "q_out_of_order" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      events(s, dir)
        .withColumn("pv", lag(col("value"), 1).over(w))
        .filter(col("pv").isNotNull && col("value") < col("pv"))
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_regress"))
    }),

    // Sessionization: gap > 30 min starts a new session (stateful-window
    // analogue in batch form).
    "q_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .withColumn("pts", lag(col("ts"), 1).over(w))
        .withColumn("new_s",
          when(col("pts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("pts")) > 1800, 1L)
            .otherwise(0L))
        .groupBy(col("user_id")).agg(sum(col("new_s")).as("n_sessions"))
    }),

    // Event-time bucketing (date functions on the watermark column).
    "q_changes_per_day" -> ((s, dir) => {
      events(s, dir).groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 3).as("avg_value"))
    }),

    // JSON payload extraction (the reference's data.JSON codec surface,
    // /root/reference/data/json.go:47-78, as Catalyst json functions).
    "q_json_extract" -> ((s, dir) => {
      events(s, dir).groupBy(col("event_type")).agg(
        sum(get_json_object(col("props"), "$.k").cast("long")).as("k_sum"))
    }),

    // Dynamic correlated scan: the reference's DynamicSQLReader generates a
    // query per incoming payload (/root/reference/processors/sql_reader.go:
    // 40-43,55-66, doc.go:87-110 multi-DB "join"). Here: an upstream result
    // (top-3 hot keys) drives per-key generated scans, fanned back in by
    // union. (At scale one would express this as a semi-join; this preserves
    // the reference's driver-side query-templating API shape.)
    "q_dynamic_scan" -> ((s, dir) => {
      val ev = events(s, dir)
      val hotKeys = ev.groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("user_id")).limit(3)
        .collect().map(_.getLong(0))
      hotKeys.map { k =>
        ev.filter(col("user_id") === k) // the generated per-payload query
          .withColumn("gen_for", lit(k))
      }.reduce(_.unionByName(_))
        .groupBy(col("gen_for"))
        .agg(count(lit(1)).as("n"), max(col("event_id")).as("max_id"),
          round(sum(col("value")), 3).as("value_sum"))
    }),

    // The SCALE form of the dynamic scan: identical semantics, but the
    // driving key set stays distributed — a broadcast semi-join (rank-top-3
    // keys) replaces N collect-driven rescans. This is the plan to run at
    // 100 TB; q_dynamic_scan is kept as the reference-API-shape parity demo.
    "q_dynamic_scan_semi" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = events(s, dir)
      val hot = ev.groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("cnt").desc, col("user_id"))))
        .filter(col("rk") <= 3).select(col("user_id"))
      ev.join(broadcast(hot), Seq("user_id"), "left_semi")
        .groupBy(col("user_id").as("gen_for"))
        .agg(count(lit(1)).as("n"), max(col("event_id")).as("max_id"),
          round(sum(col("value")), 3).as("value_sum"))
        .select(col("gen_for"), col("n"), col("max_id"), col("value_sum"))
    }))

  val oracles: Map[String, String] = Map(
    "q_latest_by_key" ->
      """SELECT user_id, max(event_id) AS last_event_id,
         arg_max(event_type, event_id) AS last_type,
         arg_max(value, event_id) AS last_value
         FROM events GROUP BY user_id""",
    "q_cdc_fold_deletes" ->
      """SELECT * FROM (
           SELECT user_id, max(event_id) AS last_event_id,
                  arg_max(event_type, event_id) AS last_type
           FROM events GROUP BY user_id)
         WHERE last_type <> 'error'""",
    "q_window_dedup" ->
      """SELECT user_id, event_id, event_type FROM (
           SELECT user_id, event_id, event_type,
                  row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
           FROM events) WHERE rn = 1""",
    "q_upsert_counts" ->
      """SELECT user_id, count(*) AS n_changes,
         count(DISTINCT event_type) AS n_types,
         min(event_id) AS first_id, max(event_id) AS last_id
         FROM events GROUP BY user_id""",
    "q_topk_hot_keys" ->
      """SELECT user_id, count(*) AS cnt FROM events
         GROUP BY user_id ORDER BY cnt DESC, user_id LIMIT 10""",
    "q_union_merge" ->
      """SELECT event_type, count(*) AS n FROM (
           SELECT * FROM events WHERE user_id % 2 = 0
           UNION ALL
           SELECT * FROM events WHERE user_id % 2 = 1)
         GROUP BY event_type""",
    "q_dedup_lsn" ->
      "SELECT count(*) AS n_total, count(DISTINCT event_id) AS n_unique FROM events",
    "q_out_of_order" ->
      """SELECT user_id, count(*) AS n_regress FROM (
           SELECT user_id, value, lag(value) OVER (PARTITION BY user_id ORDER BY event_id) AS pv
           FROM events)
         WHERE pv IS NOT NULL AND value < pv GROUP BY user_id""",
    "q_sessionize" ->
      """SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions FROM (
           SELECT user_id,
                  CASE WHEN pts IS NULL OR date_diff('second', pts, ts) > 1800
                       THEN 1 ELSE 0 END AS new_s
           FROM (SELECT user_id, ts,
                        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
                 FROM events))
         GROUP BY user_id""",
    "q_changes_per_day" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
         round(avg(value), 3) AS avg_value
         FROM events GROUP BY 1""",
    "q_json_extract" ->
      """SELECT event_type,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
         FROM events GROUP BY event_type""",
    "q_dynamic_scan" ->
      """SELECT user_id AS gen_for, count(*) AS n, max(event_id) AS max_id,
                round(sum(value), 3) AS value_sum
         FROM events
         WHERE user_id IN (SELECT user_id FROM (
           SELECT user_id, count(*) AS cnt FROM events
           GROUP BY user_id ORDER BY cnt DESC, user_id LIMIT 3))
         GROUP BY user_id""",
    "q_dynamic_scan_semi" ->
      """SELECT user_id AS gen_for, count(*) AS n, max(event_id) AS max_id,
                round(sum(value), 3) AS value_sum
         FROM events
         WHERE user_id IN (SELECT user_id FROM (
           SELECT user_id, count(*) AS cnt FROM events
           GROUP BY user_id ORDER BY cnt DESC, user_id LIMIT 3))
         GROUP BY user_id""")
}
