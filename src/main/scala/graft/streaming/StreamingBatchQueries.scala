package graft.streaming

import graft.{QueryDef, QueryRegistry, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Event-time windowing surface, exercised in BATCH mode against the
  * `events` fixture (SURVEY.md §2.2 B-STR2/3/5). The transforms live in
  * [[Streams]] and are shared verbatim with the streaming path —
  * StreamingSpec drives the SAME functions through a file-source
  * `readStream` with live watermarks and a progress listener
  * (B-STR1/4/6); these batch declarations give the DuckDB oracle
  * something deterministic to check.
  *
  * Window starts are emitted as epoch SECONDS (bigint): the raw `ts`
  * carries nanosecond precision in the fixture parquet, which Spark
  * truncates to µs — never emit it raw (see Tables.t).
  */
object StreamingBatchQueries extends QueryRegistry {

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  val defs: Seq[QueryDef] = Seq(

    // ---- B-STR2: tumbling event-time window ----
    QueryDef(
      "b_str2_tumbling",
      (s, d) => Streams.tumbling(t(s, d, "events")),
      Some("""SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS wstart,
             |  event_type, count(*) AS n, round(sum(value), 2) AS sv
             |FROM events GROUP BY 1, 2""".stripMargin)),

    // ---- B-STR2: sliding event-time window (1h length, 30min slide) ----
    // Each event lands in 2 windows; the oracle replays that membership
    // with an explicit 2-offset expansion.
    QueryDef(
      "b_str2_sliding",
      (s, d) => Streams.sliding(t(s, d, "events")),
      Some("""SELECT wstart, count(*) AS n, round(sum(value), 2) AS sv
             |FROM (
             |  SELECT CAST(epoch(time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))) AS BIGINT) - off AS wstart, value
             |  FROM events CROSS JOIN (VALUES (0), (1800)) t(off))
             |GROUP BY wstart""".stripMargin)),

    // ---- B-STR3: session windows (5-minute gap) ----
    // Oracle is the classic gaps-and-islands rewrite; a new session starts
    // when the gap to the previous event is >= the timeout (Spark's session
    // window is [start, lastTs + gap) half-open).
    QueryDef(
      "b_str3_session",
      (s, d) => Streams.session(t(s, d, "events")),
      Some("""WITH e AS (
             |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
             |), flagged AS (
             |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
             |    OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE THEN 1 ELSE 0 END AS new_sess
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
             |), sessioned AS (
             |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM flagged
             |)
             |SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start,
             |  count(*) AS n, round(sum(value), 2) AS sv
             |FROM sessioned GROUP BY user_id, sid""".stripMargin)),

    // ---- B-STR5: stateful dedup (batch projection of dropDuplicates) ----
    QueryDef(
      "b_str5_dedup",
      (s, d) => Streams.dedup(t(s, d, "events")),
      Some("SELECT DISTINCT user_id, event_type FROM events")),

    // ---- B-STR4 under the hard gate: LIVE watermark/late-data replay.
    // Unlike the other b_str* batch anchors, this runs the actual
    // streaming engine (MemoryStream → withWatermark → windowed agg →
    // APPEND sink) on a deterministic two-batch schedule; the oracle
    // replays the engine's observable semantics — the batch-2 late rows
    // whose window closed before wm1 are dropped, and only windows
    // closed by the final watermark are emitted. ----
    QueryDef(
      "b_str9_watermark_replay",
      (s, d) => Streams.watermarkReplay(s, t(s, d, "events")),
      Some("""WITH e AS (
             |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
             |), wm1 AS (
             |  SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM e WHERE event_id % 3 <> 0
             |), wm2 AS (
             |  SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM e
             |), kept AS (
             |  SELECT ts, event_type, value FROM e WHERE event_id % 3 <> 0
             |  UNION ALL
             |  SELECT ts, event_type, value FROM e, wm1
             |  WHERE event_id % 3 = 0 AND date_trunc('hour', ts) + INTERVAL 1 HOUR > wm1.w
             |)
             |SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS wstart, event_type,
             |  count(*) AS n, round(sum(value), 2) AS sv
             |FROM kept, wm2
             |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm2.w
             |GROUP BY 1, 2""".stripMargin)),

    // ---- B-STR1 + B-STR6 under the hard gate: LIVE incremental
    // file-source consumption + progress-listener telemetry. The even
    // half of events is staged before start, the odd half after batch 0
    // completes; the listener's per-batch numInputRows must equal the
    // exact half-counts the oracle recomputes. ----
    QueryDef(
      "b_str10_progress_log",
      (s, d) => Streams.progressReplay(s, t(s, d, "events")),
      Some("""SELECT CAST(0 AS BIGINT) AS batch_id, count(*) AS input_rows
             |FROM events WHERE event_id % 2 = 0
             |UNION ALL
             |SELECT CAST(1 AS BIGINT), count(*)
             |FROM events WHERE event_id % 2 <> 0""".stripMargin)),

    // ---- stream-stream interval join, batch anchor ----
    // Same transform as Streams.intervalJoin (watermarks are no-ops in
    // batch): click → purchase attribution within 10 minutes per user.
    QueryDef(
      "b_str8_interval_join",
      (s, d) => {
        val ev = t(s, d, "events")
        Streams.intervalJoin(
          ev.filter(col("event_type") === "click")
            .select(col("user_id").as("cuser"), col("event_id").as("click_id"),
              col("ts").as("cts")),
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id").as("puser"), col("event_id").as("purchase_id"),
              col("ts").as("pts")),
          maxGap = "10 minutes", wmDelay = "1 hour")
      },
      Some("""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
             |FROM events c JOIN events p
             |  ON p.user_id = c.user_id
             | AND c.event_type = 'click' AND p.event_type = 'purchase'
             | AND epoch_us(p.ts) > epoch_us(c.ts)
             | AND epoch_us(p.ts) <= epoch_us(c.ts) + 600000000""".stripMargin)),

    // ---- custom-state sessionization, batch anchor ----
    // Same gap rule (`t - last > gap` opens a new session) as
    // Streams.statefulSessions; StreamingSpec asserts the
    // flatMapGroupsWithState path emits these exact sessions. Batch form
    // is the gaps-and-islands rewrite: one shuffle on high-cardinality
    // user_id, two window passes, no collect.
    QueryDef(
      "b_str7_sessionize",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val gapUs = 300000000L // 5 minutes
        val w = Window.partitionBy("user_id").orderBy("us")
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("us"))
          .withColumn("new_sess",
            when(lag(col("us"), 1).over(w).isNull
              || col("us") - lag(col("us"), 1).over(w) > gapUs, 1).otherwise(0))
          .withColumn("sid", sum(col("new_sess")).over(run))
          .groupBy(col("user_id"), col("sid"))
          .agg(min(col("us")).as("sess_start"), max(col("us")).as("sess_end"),
            count(lit(1)).as("n_events"))
          .select("user_id", "sess_start", "sess_end", "n_events")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS us FROM events
             |), flagged AS (
             |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
             |    OR us - lag(us) OVER w > 300000000 THEN 1 ELSE 0 END AS new_sess
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
             |), sessioned AS (
             |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |  FROM flagged)
             |SELECT user_id, min(us) AS sess_start, max(us) AS sess_end,
             |  count(*) AS n_events
             |FROM sessioned GROUP BY user_id, sid""".stripMargin))
  )
}
