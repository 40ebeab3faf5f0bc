package graft.operators

import graft.{QueryDef, QueryRegistry, Tables}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** The declared queries over [[Analytics]]: each row builds its result
  * with the library calls and checks it against a DuckDB oracle. */
object AnalyticsQueries extends QueryRegistry {
  import Analytics._

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  /** EXACT Spearman per l_returnflag — the spectrum-walk form shared by
    * `b_agg34_spearman` (which rounds it) and `b_agg49_sketch_spearman`
    * (which uses it as the in-row accuracy baseline). Computed the
    * scale-clean way — NOT a row-level rank window: both marginals
    * collapse to their DISTINCT-value spectra first (ordinary shuffle
    * aggs over the corpus), the average tie rank comes from a cumulative
    * walk over each spectrum, and the weighted Pearson moments run over
    * the joint spectrum. The corpus is touched by exactly one aggregate;
    * every window/join after is bounded by distinct-value counts. */
  private def exactSpearman(s: SparkSession, d: String): DataFrame = {
    // ONE corpus aggregate; the joint spectrum is checkpointed because
    // three consumers walk it (two marginal ranks + the moment join)
    val pairs = t(s, d, "lineitem")
      .groupBy(col("l_returnflag").as("f"),
        col("l_quantity").cast("double").as("q"),
        col("l_extendedprice").as("v"))
      .agg(count(lit(1)).cast("double").as("c"))
      .localCheckpoint()
    // cumulative-walk policy (round 9, shared with b_agg33): a
    // corpus-sized spectrum (l_extendedprice — nearly continuous) rides
    // Spectrum's range-partitioned prefix sum, because an f-partitioned
    // window caps that walk at |f| = 3 tasks — fine at sf0.1, a
    // serialization hazard at 100 TB. A DOMAIN-BOUNDED spectrum
    // (l_quantity — ~50 integer values ⇒ ≤150 spectrum rows at ANY
    // corpus size) keeps the plain window: its partitions never grow
    // with the data, and the Spectrum machinery would be pure overhead.
    def avgRank(valueCol: String, cntName: String, rankName: String,
        corpusSized: Boolean) = {
      // corpus-sized spectra fuse the marginal aggregate INTO the range
      // exchange (r15): one shuffle of the joint spectrum instead of a
      // hash shuffle + a range shuffle
      if (corpusSized)
        Spectrum.aggregateWithRunningSums(
          pairs.select(col("f"), col(valueCol), col("c")),
          Seq("f"), valueCol,
          Seq((sum(col("c")), cntName)), Seq(cntName -> "ch_cum_"))
          .select(col("f"), col(valueCol),
            (col("ch_cum_") - col(cntName) + (col(cntName) + 1) / 2.0)
              .as(rankName))
      else {
        val grouped = pairs.groupBy(col("f"), col(valueCol))
          .agg(sum(col("c")).as(cntName))
        val W = org.apache.spark.sql.expressions.Window
        val cum = W.partitionBy(col("f")).orderBy(col(valueCol))
          .rowsBetween(W.unboundedPreceding, 0)
        grouped.select(col("f"), col(valueCol),
          (sum(col(cntName)).over(cum) - col(cntName) + (col(cntName) + 1) / 2.0)
            .as(rankName))
      }
    }
    pairs
      .join(avgRank("q", "cq", "rq", corpusSized = false), Seq("f", "q"))
      .join(avgRank("v", "cv", "rv", corpusSized = true), Seq("f", "v"))
      .groupBy(col("f").as("l_returnflag"))
      .agg(
        sum(col("c")).as("n"),
        sum(col("c") * col("rq")).as("sq"),
        sum(col("c") * col("rv")).as("sv"),
        sum(col("c") * col("rq") * col("rq")).as("sqq"),
        sum(col("c") * col("rv") * col("rv")).as("svv"),
        sum(col("c") * col("rq") * col("rv")).as("sqv"))
      .select(col("l_returnflag"),
        ((col("sqv") / col("n") - (col("sq") / col("n")) * (col("sv") / col("n"))) /
          (sqrt(col("sqq") / col("n") - pow(col("sq") / col("n"), 2)) *
            sqrt(col("svv") / col("n") - pow(col("sv") / col("n"), 2))))
          .as("spearman_raw"))
  }

  private val HourUs = 3600L * 1000000L

  val defs: Seq[QueryDef] = Seq(

    // ---- windowFunnel: view -> click -> purchase within 1 h ----
    QueryDef(
      "b_fun1_window_funnel",
      (s, d) => windowFunnel(
        t(s, d, "events"), Seq("view", "click", "purchase"), HourUs),
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS us, event_type FROM events
             |  WHERE event_type IN ('view','click','purchase')),
             |l2 AS (
             |  SELECT DISTINCT a.user_id FROM e a JOIN e b
             |    ON b.user_id = a.user_id AND b.us > a.us AND b.us <= a.us + 3600000000
             |  WHERE a.event_type = 'view' AND b.event_type = 'click'),
             |l3 AS (
             |  SELECT DISTINCT a.user_id FROM e a
             |  JOIN e b ON b.user_id = a.user_id AND b.event_type = 'click' AND b.us > a.us
             |  JOIN e c ON c.user_id = a.user_id AND c.event_type = 'purchase'
             |    AND c.us > b.us AND c.us <= a.us + 3600000000
             |  WHERE a.event_type = 'view'),
             |l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'view')
             |SELECT u.user_id,
             |  CAST(CASE WHEN u.user_id IN (SELECT user_id FROM l3) THEN 3
             |            WHEN u.user_id IN (SELECT user_id FROM l2) THEN 2
             |            WHEN u.user_id IN (SELECT user_id FROM l1) THEN 1
             |            ELSE 0 END AS INT) AS funnel_level
             |FROM (SELECT DISTINCT user_id FROM e) u""".stripMargin)),

    // ---- retention: signup, then view / then purchase ----
    QueryDef(
      "b_fun2_retention",
      (s, d) => retention(
        t(s, d, "events"),
        Seq(col("event_type") === "signup",
          col("event_type") === "view",
          col("event_type") === "purchase")),
      Some("""SELECT user_id,
             |  CAST(max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS INT) AS r1,
             |  CAST(max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
             |     * max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS INT) AS r2,
             |  CAST(max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
             |     * max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS INT) AS r3
             |FROM events GROUP BY user_id""".stripMargin)),

    // ---- sequenceMatch('(?1).*(?2).*(?3)'): ordered subsequence, no window ----
    QueryDef(
      "b_fun3_sequence_match",
      (s, d) => windowFunnel(
        t(s, d, "events"), Seq("signup", "click", "purchase"), Long.MaxValue)
        .select(col("user_id"),
          (col("funnel_level") === 3).cast("int").as("matched")),
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS us, event_type FROM events
             |  WHERE event_type IN ('signup','click','purchase')),
             |m AS (
             |  SELECT DISTINCT a.user_id FROM e a
             |  JOIN e b ON b.user_id = a.user_id AND b.event_type = 'click' AND b.us > a.us
             |  JOIN e c ON c.user_id = a.user_id AND c.event_type = 'purchase' AND c.us > b.us
             |  WHERE a.event_type = 'signup')
             |SELECT u.user_id,
             |  CAST(CASE WHEN u.user_id IN (SELECT user_id FROM m) THEN 1 ELSE 0 END AS INT) AS matched
             |FROM (SELECT DISTINCT user_id FROM e) u""".stripMargin)),

    // ---- neighbor / runningDifference / runningAccumulate: CH's
    // result-order functions, well-defined here as window functions over
    // an explicit (user_id, ts, event_id) order — partitioned on
    // high-cardinality user_id, never a global sort ----
    QueryDef(
      "b_win4_neighbor",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "events")
          .select(col("event_id"), col("user_id"), col("value"),
            unix_micros(col("ts")).as("us"))
          .select(col("event_id"), col("user_id"),
            round(lag(col("value"), 1).over(w), 6).as("prev_value"),
            round(col("value") - lag(col("value"), 1).over(w), 6).as("running_diff"),
            round(sum(col("value")).over(run), 4).as("running_sum"))
      },
      Some("""SELECT event_id, user_id,
             |  round(lag(value) OVER w, 6) AS prev_value,
             |  round(value - lag(value) OVER w, 6) AS running_diff,
             |  round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_sum
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)""".stripMargin)),

    // ---- PASTE JOIN (positional): align two result sets row-by-row.
    // Inherently a total-order operator (CH runs it on one node too), so
    // the inputs are pre-limited top-k slices; the row_number runs over
    // 100 rows, not the table ----
    QueryDef(
      "b_jn9_paste",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        def ranked(df: org.apache.spark.sql.DataFrame, orderCols: Seq[org.apache.spark.sql.Column]) =
          df.withColumn("rn", row_number().over(Window.orderBy(orderCols: _*)))
        val topOrders = ranked(
          t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
            .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100),
          Seq(col("o_totalprice").desc, col("o_orderkey")))
        val topParts = ranked(
          t(s, d, "part").select(col("p_partkey"), col("p_retailprice"))
            .orderBy(col("p_retailprice").desc, col("p_partkey")).limit(100),
          Seq(col("p_retailprice").desc, col("p_partkey")))
        topOrders.join(topParts, "rn")
          .select(col("rn"), col("o_orderkey"), col("o_totalprice"),
            col("p_partkey"), col("p_retailprice"))
      },
      Some("""WITH o AS (SELECT o_orderkey, o_totalprice,
             |    row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100),
             |p AS (SELECT p_partkey, p_retailprice,
             |    row_number() OVER (ORDER BY p_retailprice DESC, p_partkey) AS rn
             |  FROM part ORDER BY p_retailprice DESC, p_partkey LIMIT 100)
             |SELECT CAST(o.rn AS INT) AS rn, o_orderkey, o_totalprice, p_partkey, p_retailprice
             |FROM o JOIN p ON o.rn = p.rn""".stripMargin)),

    // ---- topKWeighted: heavy hitters by weight column (exact regime:
    // capacity 256 >= 150 p_type values) ----
    QueryDef(
      "b_agg13_topk_weighted",
      (s, d) => {
        val typed = t(s, d, "part")
          .select(col("p_type"), col("p_size").cast("long"))
          .as[(String, Long)](Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
        typed
          .select(graft.functions.ApproxTopK.topKWeighted(10, 256).toColumn.name("topk"))
          .select(explode(col("topk")).as("kv"))
          .select(col("kv.value").as("value"), col("kv.cnt").as("wsum"))
      },
      Some("""SELECT p_type AS value, CAST(sum(p_size) AS BIGINT) AS wsum
             |FROM part GROUP BY p_type
             |ORDER BY wsum DESC, value LIMIT 10""".stripMargin)),

    // ---- topK: SpaceSaving approximate heavy hitters (exact here:
    // capacity 64 >= 25 brands, so the oracle compares exact counts; the
    // bounded-error regime is asserted in ApproxTopKSpec) ----
    QueryDef(
      "b_agg12_approx_topk",
      (s, d) => {
        val brands = t(s, d, "part").select(col("p_brand"))
          .as[String](Encoders.STRING)
        brands
          .select(graft.functions.ApproxTopK.topK(10, 64).toColumn.name("topk"))
          .select(explode(col("topk")).as("kv"))
          .select(col("kv.value").as("value"), col("kv.cnt").as("cnt"))
      },
      Some("""SELECT p_brand AS value, CAST(count(*) AS BIGINT) AS cnt
             |FROM part GROUP BY p_brand
             |ORDER BY cnt DESC, value LIMIT 10""".stripMargin)),

    // ---- runningConcurrency: concurrent open intervals per user ----
    // Intervals become ±1 boundary events; a cumulative sum ordered by
    // (time, delta) counts how many are open at each boundary (delta
    // ascending ⇒ an interval ending at t closes before one starting at
    // t). Partitioned on `user_id` (high cardinality); times move as
    // epoch micros so the fixture's nanosecond timestamps never hit an
    // engine-formatting edge. Default RANGE frame makes tied boundaries
    // peers — both engines give every simultaneous boundary the same
    // concurrency, so the result is deterministic.
    QueryDef(
      "b_win7_concurrency",
      (s, d) => {
        val ev = t(s, d, "events").select(
          col("user_id"),
          unix_micros(col("ts")).as("t0"),
          (unix_micros(col("ts")) + (col("event_id") % 300 + 1) * 1000000L).as("t1"))
        val bounds = ev.select(col("user_id"), col("t0").as("t"), lit(1).as("delta"))
          .unionByName(ev.select(col("user_id"), col("t1").as("t"), lit(-1).as("delta")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("t"), col("delta"))
        bounds.select(
          col("user_id"), col("t"), col("delta"),
          sum(col("delta")).over(w).as("concurrent"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(ts) AS t0,
             |    epoch_us(ts) + (event_id % 300 + 1) * 1000000 AS t1
             |  FROM events),
             |b AS (
             |  SELECT user_id, t0 AS t, 1 AS delta FROM ev
             |  UNION ALL
             |  SELECT user_id, t1 AS t, -1 AS delta FROM ev)
             |SELECT user_id, t, delta,
             |  CAST(sum(delta) OVER (PARTITION BY user_id ORDER BY t, delta) AS BIGINT) AS concurrent
             |FROM b""".stripMargin)),

    // ---- windowFunnel strict_order mode: interleaving steps break the
    // chain → level L ⇔ "01..L-1" appears contiguously in the
    // time-ordered step sequence, which the oracle checks with plain
    // substring containment over a string_agg reconstruction ----
    QueryDef(
      "b_fun4_funnel_strict",
      (s, d) => windowFunnelStrict(
        t(s, d, "events"), Seq("view", "click", "purchase")),
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS us,
             |    CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1 ELSE 2 END AS st
             |  FROM events WHERE event_type IN ('view','click','purchase')),
             |seqs AS (
             |  SELECT user_id,
             |    string_agg(CAST(st AS VARCHAR), '' ORDER BY us, st) AS sq
             |  FROM e GROUP BY user_id)
             |SELECT user_id,
             |  CASE WHEN sq LIKE '%012%' THEN 3
             |       WHEN sq LIKE '%01%' THEN 2
             |       WHEN sq LIKE '%0%' THEN 1
             |       ELSE 0 END AS funnel_level
             |FROM seqs""".stripMargin)),

    // ---- sequenceCount: non-overlapping step-pattern matches per user.
    // Greedy left-to-right over the time-ordered step sequence == CH's
    // non-overlap semantics; the oracle counts via string replace length
    // arithmetic on the same reconstruction used by b_fun4. ----
    QueryDef(
      "b_fun5_sequence_count",
      (s, d) => {
        val stepTypes = Seq("view", "click")
        val stepIdx = stepTypes.zipWithIndex
          .foldLeft(lit(-1)) { case (acc, (tpe, i)) =>
            when(col("event_type") === tpe, lit(i)).otherwise(acc)
          }
        t(s, d, "events")
          .filter(col("event_type").isInCollection(stepTypes))
          .select(col("user_id").cast("long"), unix_micros(col("ts")), stepIdx.cast("int"))
          .as[(Long, Long, Int)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaInt))
          .groupByKey(_._1)(Encoders.scalaLong)
          .mapGroups { (uid, it) =>
            val seq = it.map { case (_, us, step) => (us, step) }.toArray
            java.util.Arrays.sort(seq, Ordering.by((p: (Long, Int)) => p))
            var n = 0L
            var i = 0
            while (i < seq.length) {
              if (seq(i)._2 == 0 && i + 1 < seq.length && seq(i + 1)._2 == 1) { n += 1; i += 2 }
              else i += 1
            }
            (uid, n)
          }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
          .toDF("user_id", "n_matches")
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(ts) AS us,
             |    CASE event_type WHEN 'view' THEN 0 ELSE 1 END AS st
             |  FROM events WHERE event_type IN ('view','click')),
             |seqs AS (
             |  SELECT user_id, string_agg(CAST(st AS VARCHAR), '' ORDER BY us, st) AS sq
             |  FROM e GROUP BY user_id)
             |SELECT user_id,
             |  CAST((length(sq) - length(replace(sq, '01', ''))) / 2 AS BIGINT) AS n_matches
             |FROM seqs""".stripMargin)),

    // ---- deltaSum: sum of positive increments along the time axis ----
    QueryDef(
      "b_agg25_delta_sum",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .select(col("user_id"), col("event_id"),
            (col("value") - lag(col("value"), 1).over(w)).as("dv"))
          .where(col("dv") > 0)
          .groupBy("user_id")
          .agg(round(sum(col("dv")), 6).as("delta_sum"))
      },
      Some("""WITH d AS (
             |  SELECT user_id,
             |    value - lag(value) OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS dv
             |  FROM events)
             |SELECT user_id, round(sum(dv), 6) AS delta_sum
             |FROM d WHERE dv > 0 GROUP BY user_id""".stripMargin)),

    // ---- maxIntersections: peak concurrency per user ----
    // Same ±1 boundary sweep as b_win7, reduced to its max — the CH
    // aggregate pair (`maxIntersections`/`maxIntersectionsPosition`).
    // One window pass + one hash agg, both keyed on `user_id`.
    QueryDef(
      "b_agg18_max_intersections",
      (s, d) => {
        val ev = t(s, d, "events").select(
          col("user_id"),
          unix_micros(col("ts")).as("t0"),
          (unix_micros(col("ts")) + (col("event_id") % 300 + 1) * 1000000L).as("t1"))
        val bounds = ev.select(col("user_id"), col("t0").as("t"), lit(1).as("delta"))
          .unionByName(ev.select(col("user_id"), col("t1").as("t"), lit(-1).as("delta")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("t"), col("delta"))
        bounds
          .select(col("user_id"), sum(col("delta")).over(w).as("c"))
          .groupBy("user_id")
          .agg(max(col("c")).as("peak"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(ts) AS t0,
             |    epoch_us(ts) + (event_id % 300 + 1) * 1000000 AS t1
             |  FROM events),
             |b AS (
             |  SELECT user_id, t0 AS t, 1 AS delta FROM ev
             |  UNION ALL
             |  SELECT user_id, t1 AS t, -1 AS delta FROM ev),
             |c AS (SELECT user_id,
             |  sum(delta) OVER (PARTITION BY user_id ORDER BY t, delta) AS c FROM b)
             |SELECT user_id, CAST(max(c) AS BIGINT) AS peak FROM c GROUP BY user_id""".stripMargin)),

    // ---- sumMap: per-key map aggregation (CH `sumMap`/`minMap`/`maxMap`)
    // Logical map value per group, summed key-wise. Spark-native: the
    // map never materializes mid-plan — explode → two hash aggregates —
    // and the result map serializes as sorted k=v text for the oracle
    // (map column order is engine-specific).
    QueryDef(
      "b_agg19_sum_map",
      (s, d) =>
        t(s, d, "events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(round(sum(col("value")), 6).as("s"))
          .groupBy(col("user_id"))
          .agg(
            array_join(
              array_sort(collect_list(concat(col("event_type"), lit("="), col("s").cast("string")))),
              ",").as("sum_map")),
      Some("""WITH g AS (
             |  SELECT user_id, event_type, round(sum(value), 6) AS s
             |  FROM events GROUP BY user_id, event_type)
             |SELECT user_id,
             |  array_to_string(list_sort(list(event_type || '=' || CAST(s AS VARCHAR))), ',') AS sum_map
             |FROM g GROUP BY user_id""".stripMargin)),

    // ---- intervalLengthSum: covered time per user (union of intervals,
    // overlaps counted once). Same boundary sweep; a segment [t, next_t)
    // counts iff at least one interval is open (running > 0). ----
    QueryDef(
      "b_agg20_interval_length",
      (s, d) => {
        val ev = t(s, d, "events").select(
          col("user_id"),
          unix_micros(col("ts")).as("t0"),
          (unix_micros(col("ts")) + (col("event_id") % 300 + 1) * 1000000L).as("t1"))
        val bounds = ev.select(col("user_id"), col("t0").as("t"), lit(1).as("delta"))
          .unionByName(ev.select(col("user_id"), col("t1").as("t"), lit(-1).as("delta")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("t"), col("delta"))
        bounds
          .select(
            col("user_id"), col("t"),
            sum(col("delta")).over(w).as("running"),
            lead(col("t"), 1).over(w).as("next_t"))
          .where(col("running") > 0 && col("next_t").isNotNull)
          .groupBy("user_id")
          .agg((sum(col("next_t") - col("t")) / 1000000L).cast("long").as("covered_sec"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(ts) AS t0,
             |    epoch_us(ts) + (event_id % 300 + 1) * 1000000 AS t1
             |  FROM events),
             |b AS (
             |  SELECT user_id, t0 AS t, 1 AS delta FROM ev
             |  UNION ALL
             |  SELECT user_id, t1 AS t, -1 AS delta FROM ev),
             |seg AS (SELECT user_id, t,
             |  sum(delta) OVER (PARTITION BY user_id ORDER BY t, delta) AS running,
             |  lead(t) OVER (PARTITION BY user_id ORDER BY t, delta) AS next_t FROM b)
             |SELECT user_id,
             |  CAST(sum(next_t - t) // 1000000 AS BIGINT) AS covered_sec
             |FROM seg WHERE running > 0 AND next_t IS NOT NULL
             |GROUP BY user_id""".stripMargin)),

    // ---- simpleLinearRegression: slope/intercept per group ----
    QueryDef(
      "b_agg22_linreg",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
            round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("icept"),
            round(corr(col("l_extendedprice"), col("l_quantity")), 6).as("r"),
            regr_count(col("l_extendedprice"), col("l_quantity")).cast("long").as("n")),
      Some("""SELECT l_returnflag,
             |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
             |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
             |  round(corr(l_extendedprice, l_quantity), 6) AS r,
             |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- entropy: Shannon entropy of the value distribution per group
    // (CH `entropy`). Two hash aggregates — counts per (group, value),
    // then -Σ p·log2 p — both with map-side partials. ----
    QueryDef(
      "b_agg23_entropy",
      (s, d) => {
        val counts = t(s, d, "orders")
          .groupBy(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("c"))
        val totals = org.apache.spark.sql.expressions.Window.partitionBy(col("o_orderstatus"))
        counts
          .withColumn("tot", sum(col("c")).over(totals))
          .groupBy(col("o_orderstatus"))
          .agg(round(-sum((col("c") / col("tot")) * log2(col("c") / col("tot"))), 6)
            .as("entropy"))
      },
      Some("""WITH c AS (
             |  SELECT o_orderstatus, o_orderpriority, count(*) AS c
             |  FROM orders GROUP BY o_orderstatus, o_orderpriority),
             |t AS (SELECT o_orderstatus, o_orderpriority, c,
             |  sum(c) OVER (PARTITION BY o_orderstatus) AS tot FROM c)
             |SELECT o_orderstatus,
             |  round(-sum((c / CAST(tot AS DOUBLE)) * log2(c / CAST(tot AS DOUBLE))), 6) AS entropy
             |FROM t GROUP BY o_orderstatus""".stripMargin)),

    // ---- higher moments: population skewness / excess kurtosis ----
    // Spark's skewness/kurtosis are population-form; DuckDB's built-ins
    // are sample-corrected, so the oracle recomputes the population form
    // from explicit central moments (two aggregation passes).
    QueryDef(
      "b_agg24_moments",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(skewness(col("l_extendedprice")), 6).as("skew"),
            round(kurtosis(col("l_extendedprice")), 6).as("kurt"),
            round(stddev_pop(col("l_extendedprice")), 4).as("sd_pop")),
      Some("""WITH mu AS (
             |  SELECT l_returnflag, avg(l_extendedprice) AS m
             |  FROM lineitem GROUP BY l_returnflag),
             |dx AS (
             |  SELECT l.l_returnflag, l_extendedprice - m AS x
             |  FROM lineitem l JOIN mu USING (l_returnflag))
             |SELECT l_returnflag,
             |  round(avg(x*x*x) / pow(avg(x*x), 1.5), 6) AS skew,
             |  round(avg(x*x*x*x) / pow(avg(x*x), 2) - 3, 6) AS kurt,
             |  round(sqrt(avg(x*x)), 4) AS sd_pop
             |FROM dx GROUP BY l_returnflag""".stripMargin)),

    // ---- Welch + Student two-sample t-tests (CH `welchTTest`,
    // `studentTTest`): ONE conditional-aggregation pass computes both
    // groups' (n, mean, s²) simultaneously — a single map-side-partial
    // hash aggregate over the scan, no second pass, 1-row final. ----
    QueryDef(
      "b_agg26_ttest",
      (s, d) => {
        val a = col("l_returnflag") === "A"
        val r = col("l_returnflag") === "R"
        val x = col("l_extendedprice")
        t(s, d, "lineitem")
          .where(col("l_returnflag").isin("A", "R"))
          .agg(
            count(when(a, 1)).cast("double").as("n1"),
            avg(when(a, x)).as("m1"),
            var_samp(when(a, x)).as("v1"),
            count(when(r, 1)).cast("double").as("n2"),
            avg(when(r, x)).as("m2"),
            var_samp(when(r, x)).as("v2"))
          .select(
            round((col("m1") - col("m2")) /
              sqrt(col("v1") / col("n1") + col("v2") / col("n2")), 6).as("t_welch"),
            round(pow(col("v1") / col("n1") + col("v2") / col("n2"), 2) /
              (pow(col("v1") / col("n1"), 2) / (col("n1") - 1) +
                pow(col("v2") / col("n2"), 2) / (col("n2") - 1)), 2).as("df_welch"),
            round((col("m1") - col("m2")) /
              sqrt(((col("n1") - 1) * col("v1") + (col("n2") - 1) * col("v2")) /
                (col("n1") + col("n2") - 2) *
                (lit(1.0) / col("n1") + lit(1.0) / col("n2"))), 6).as("t_student"),
            (col("n1") + col("n2") - 2).cast("long").as("df_student"))
      },
      Some("""WITH g AS (
             |  SELECT
             |    CAST(count(CASE WHEN l_returnflag = 'A' THEN 1 END) AS DOUBLE) AS n1,
             |    avg(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END) AS m1,
             |    var_samp(CASE WHEN l_returnflag = 'A' THEN l_extendedprice END) AS v1,
             |    CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS DOUBLE) AS n2,
             |    avg(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END) AS m2,
             |    var_samp(CASE WHEN l_returnflag = 'R' THEN l_extendedprice END) AS v2
             |  FROM lineitem WHERE l_returnflag IN ('A', 'R'))
             |SELECT
             |  round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_welch,
             |  round(pow(v1 / n1 + v2 / n2, 2) /
             |    (pow(v1 / n1, 2) / (n1 - 1) + pow(v2 / n2, 2) / (n2 - 1)), 2) AS df_welch,
             |  round((m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)
             |    * (1 / n1 + 1 / n2)), 6) AS t_student,
             |  CAST(n1 + n2 - 2 AS BIGINT) AS df_student
             |FROM g""".stripMargin)),

    // ---- exponentialMovingAverage (CH): final smoothed value per user.
    // The closed form ema_N = α·Σ (1−α)^(N−i)·x_i turns the inherently
    // sequential recurrence into one window pass + one hash aggregate —
    // no per-row driver state, order pinned by the unique event_id.
    // Weights underflow to exactly 0 past ~100 lags in BOTH engines
    // (IEEE doubles), so the tail never contributes noise. ----
    QueryDef(
      "b_win9_ema",
      (s, d) => {
        val byUser = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
        t(s, d, "events")
          .select(col("user_id"), col("value"),
            row_number().over(byUser.orderBy(col("event_id"))).as("i"),
            count(lit(1)).over(byUser).as("n"))
          .groupBy(col("user_id"))
          .agg(round(sum(col("value") * pow(lit(0.7), col("n") - col("i"))) * 0.3, 6)
            .as("ema"))
      },
      Some("""WITH w AS (
             |  SELECT user_id, value,
             |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS i,
             |    count(*) OVER (PARTITION BY user_id) AS n
             |  FROM events)
             |SELECT user_id, round(sum(value * pow(0.7, n - i)) * 0.3, 6) AS ema
             |FROM w GROUP BY user_id""".stripMargin)),

    // ---- avgWeighted (CH): Σwx/Σw in one partial+final pass ----
    QueryDef(
      "b_agg27_avg_weighted",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(round(
            sum(col("l_extendedprice") * col("l_quantity")) /
              sum(col("l_quantity").cast("double")), 6).as("wavg")),
      Some("""SELECT l_returnflag,
             |  round(sum(l_extendedprice * l_quantity)
             |    / sum(CAST(l_quantity AS DOUBLE)), 6) AS wavg
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- minMap / maxMap (CH): key-wise extrema across map-valued rows,
    // serialized as sorted k=v CSV (the cross-engine map contract proven
    // by b_agg19_sum_map) ----
    QueryDef(
      "b_agg28_minmax_map",
      (s, d) => {
        val g = t(s, d, "events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(round(min(col("value")), 6).as("mn"), round(max(col("value")), 6).as("mx"))
        g.groupBy(col("user_id"))
          .agg(
            array_join(array_sort(collect_list(
              concat(col("event_type"), lit("="), col("mn").cast("string")))), ",")
              .as("min_map"),
            array_join(array_sort(collect_list(
              concat(col("event_type"), lit("="), col("mx").cast("string")))), ",")
              .as("max_map"))
      },
      Some("""WITH g AS (
             |  SELECT user_id, event_type,
             |    round(min(value), 6) AS mn, round(max(value), 6) AS mx
             |  FROM events GROUP BY user_id, event_type)
             |SELECT user_id,
             |  array_to_string(list_sort(list(event_type || '=' || CAST(mn AS VARCHAR))), ',') AS min_map,
             |  array_to_string(list_sort(list(event_type || '=' || CAST(mx AS VARCHAR))), ',') AS max_map
             |FROM g GROUP BY user_id""".stripMargin)),

    // ---- cramersV (CH): association strength between two categoricals.
    // Only the contingency aggregate touches the corpus (one partial+final
    // hash agg); every later step runs over the r×c cell table — at 100 TB
    // the post-scan work stays a few dozen rows. Empty cells re-enter via
    // the dimension cross join (their expected counts still add to χ²). --
    QueryDef(
      "b_agg29_cramers_v",
      (s, d) => {
        val c = t(s, d, "orders")
          .groupBy(col("o_orderstatus").as("a"), col("o_orderpriority").as("b"))
          .agg(count(lit(1)).cast("double").as("n"))
        val ra = c.groupBy("a").agg(sum(col("n")).as("na"))
        val rb = c.groupBy("b").agg(sum(col("n")).as("nb"))
        val nt = c.agg(sum(col("n")).as("nt"))
        val cells = ra.crossJoin(rb).join(c, Seq("a", "b"), "left").crossJoin(nt)
          .select(col("a"), col("b"), col("na"), col("nb"), col("nt"),
            coalesce(col("n"), lit(0.0)).as("n"))
        cells
          .agg(
            sum(pow(col("n") - col("na") * col("nb") / col("nt"), 2) /
              (col("na") * col("nb") / col("nt"))).as("chi2"),
            max(col("nt")).as("nt"),
            countDistinct(col("a")).cast("double").as("r"),
            countDistinct(col("b")).cast("double").as("cdim"))
          .select(
            round(sqrt(col("chi2") / (col("nt") * (least(col("r"), col("cdim")) - 1))), 6)
              .as("cramers_v"),
            round(col("chi2"), 4).as("chi2"),
            col("nt").cast("long").as("n"))
      },
      Some("""WITH c AS (
             |  SELECT o_orderstatus a, o_orderpriority b, CAST(count(*) AS DOUBLE) n
             |  FROM orders GROUP BY 1, 2),
             |ra AS (SELECT a, sum(n) na FROM c GROUP BY a),
             |rb AS (SELECT b, sum(n) nb FROM c GROUP BY b),
             |tot AS (SELECT sum(n) nt FROM c),
             |cells AS (
             |  SELECT ra.a, rb.b, na, nb, nt, coalesce(n, 0) AS n
             |  FROM ra CROSS JOIN rb CROSS JOIN tot
             |  LEFT JOIN c ON c.a = ra.a AND c.b = rb.b),
             |sc AS (
             |  SELECT sum(pow(n - na * nb / nt, 2) / (na * nb / nt)) AS chi2,
             |    max(nt) AS nt,
             |    CAST(count(DISTINCT a) AS DOUBLE) AS r,
             |    CAST(count(DISTINCT b) AS DOUBLE) AS cdim
             |  FROM cells)
             |SELECT round(sqrt(chi2 / (nt * (least(r, cdim) - 1))), 6) AS cramers_v,
             |  round(chi2, 4) AS chi2, CAST(nt AS BIGINT) AS n
             |FROM sc""".stripMargin)),

    // ---- nonNegativeDerivative / rate (CH time-series tier): per-user
    // value change per second, negatives clamped to 0, NULL on the first
    // row and on zero time deltas — made explicit CASE-by-CASE on both
    // sides (greatest()'s NULL handling differs between engines). One
    // window pass on the high-cardinality user_id. ----
    QueryDef(
      "b_win10_rate",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("event_id"))
        t(s, d, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("tm"), col("value"))
          .select(col("user_id"), col("event_id"),
            ((col("value") - lag(col("value"), 1).over(w)) /
              ((col("tm") - lag(col("tm"), 1).over(w)) / 1e6)).as("raw"))
          .select(col("user_id"), col("event_id"),
            when(col("raw").isNull, lit(null).cast("double"))
              .when(col("raw") < 0, lit(0.0))
              .otherwise(round(col("raw"), 6)).as("rate"))
      },
      Some("""WITH w AS (
             |  SELECT user_id, event_id,
             |    (value - lag(value) OVER (PARTITION BY user_id ORDER BY event_id))
             |    / ((epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id)) / 1e6)
             |    AS raw
             |  FROM events)
             |SELECT user_id, event_id,
             |  CASE WHEN raw IS NULL THEN NULL
             |       WHEN raw < 0 THEN 0.0
             |       ELSE round(raw, 6) END AS rate
             |FROM w""".stripMargin)),

    // ---- -Array aggregate combinators (CH `sumArray`/`avgArray`/
    // `minArray`/`maxArray`): aggregate over every ELEMENT of an array
    // column across rows. Per-row element folds run in a typed map
    // kernel (JIT'd loop, no interpreted HOFs), then one ordinary hash
    // aggregate combines the per-row partials — map-side combine intact,
    // one shuffle on the group key. ----
    QueryDef(
      "b_agg30_array_combinators",
      (s, d) => {
        import s.implicits._
        t(s, d, "embeddings")
          .select(col("label"), col("embedding"))
          .as[(Int, Array[Float])]
          .map { case (label, v) =>
            var sum = 0.0
            var mn = Double.MaxValue
            var mx = Double.MinValue
            var i = 0
            while (i < v.length) {
              val x = v(i).toDouble
              sum += x
              if (x < mn) mn = x
              if (x > mx) mx = x
              i += 1
            }
            (label, sum, mn, mx, v.length.toLong)
          }
          .toDF("label", "s", "mn", "mx", "n")
          .groupBy(col("label"))
          .agg(
            round(sum(col("s")), 4).as("sum_arr"),
            round(sum(col("s")) / sum(col("n")), 6).as("avg_elem"),
            round(min(col("mn")), 6).as("min_elem"),
            round(max(col("mx")), 6).as("max_elem"))
      },
      Some("""SELECT label,
             |  round(sum(list_sum(embedding::DOUBLE[])), 4) AS sum_arr,
             |  round(sum(list_sum(embedding::DOUBLE[]))
             |    / sum(len(embedding)), 6) AS avg_elem,
             |  round(min(list_min(embedding::DOUBLE[])), 6) AS min_elem,
             |  round(max(list_max(embedding::DOUBLE[])), 6) AS max_elem
             |FROM embeddings GROUP BY label""".stripMargin)),

    // ---- kolmogorovSmirnovTest (CH): two-sample KS statistic between
    // the A and R price distributions. Phase 1 collapses the corpus to
    // per-DISTINCT-VALUE counts (ordinary shuffle agg — the only pass
    // that touches all rows); phase 2's cumulative window runs over the
    // value SPECTRUM, whose cardinality — not the corpus — bounds the
    // single-partition sort (CH pays the same per-value materialization
    // inside the aggregate's finalize). ----
    QueryDef(
      "b_agg31_ks_test",
      (s, d) => {
        // both empirical CDFs ride ONE distributed prefix-sum over the
        // value spectrum (keyless → a plain window would serialize on a
        // single task; counts are integers so reordering is exact), and
        // the spectrum aggregate itself rides the same range exchange
        // (r15 fusion). Totals come from a plain scan-and-count over the
        // raw rows — one partial-agg pass, no groupBy, no checkpoint (a
        // per-rep localCheckpoint write cost more than the duplicate
        // subtree it saved)
        val raw = t(s, d, "lineitem")
          .where(col("l_returnflag").isin("A", "R"))
          .select(col("l_extendedprice").as("x"), col("l_returnflag"))
        val cum = Spectrum.aggregateWithRunningSums(
          raw, Nil, "x",
          Seq(
            (sum(when(col("l_returnflag") === "A", 1).otherwise(0)), "ca"),
            (sum(when(col("l_returnflag") === "R", 1).otherwise(0)), "cr")),
          Seq("ca" -> "cum_a", "cr" -> "cum_r"))
        val tot = raw.agg(
          sum(when(col("l_returnflag") === "A", 1).otherwise(0)).cast("double").as("na"),
          sum(when(col("l_returnflag") === "R", 1).otherwise(0)).cast("double").as("nr"))
        cum.crossJoin(tot)
          .select((col("cum_a") / col("na") - col("cum_r") / col("nr")).as("diff"))
          .agg(round(max(abs(col("diff"))), 6).as("ks"))
      },
      Some("""WITH pts AS (
             |  SELECT l_extendedprice AS x,
             |    sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS ca,
             |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS cr
             |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1),
             |tot AS (
             |  SELECT CAST(sum(ca) AS DOUBLE) AS na, CAST(sum(cr) AS DOUBLE) AS nr
             |  FROM pts),
             |c AS (
             |  SELECT
             |    sum(ca) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) / na
             |    - sum(cr) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) / nr AS diff
             |  FROM pts CROSS JOIN tot)
             |SELECT round(max(abs(diff)), 6) AS ks FROM c""".stripMargin)),

    // ---- rankCorr / Spearman (CH): computed the scale-clean way — NOT
    // a row-level rank window. Both marginals collapse to their DISTINCT-
    // value spectra first (ordinary shuffle aggs over the corpus), the
    // average tie rank comes from a cumulative window over each spectrum,
    // and the weighted Pearson moments run over the joint spectrum. The
    // corpus is touched by exactly one aggregate; every window/join after
    // is bounded by distinct-value counts. ----
    QueryDef(
      "b_agg34_spearman",
      (s, d) => exactSpearman(s, d)
        .select(col("l_returnflag"),
          round(col("spearman_raw"), 6).as("spearman")),
      Some("""WITH p AS (
             |  SELECT l_returnflag f, CAST(l_quantity AS DOUBLE) q,
             |    l_extendedprice v, CAST(count(*) AS DOUBLE) c
             |  FROM lineitem GROUP BY 1, 2, 3),
             |mq AS (SELECT f, q, sum(c) cq FROM p GROUP BY 1, 2),
             |mqr AS (SELECT f, q,
             |  sum(cq) OVER (PARTITION BY f ORDER BY q ROWS UNBOUNDED PRECEDING)
             |    - cq + (cq + 1) / 2.0 AS rq FROM mq),
             |mv AS (SELECT f, v, sum(c) cv FROM p GROUP BY 1, 2),
             |mvr AS (SELECT f, v,
             |  sum(cv) OVER (PARTITION BY f ORDER BY v ROWS UNBOUNDED PRECEDING)
             |    - cv + (cv + 1) / 2.0 AS rv FROM mv),
             |j AS (
             |  SELECT p.f, p.c, mqr.rq, mvr.rv
             |  FROM p JOIN mqr ON p.f = mqr.f AND p.q = mqr.q
             |         JOIN mvr ON p.f = mvr.f AND p.v = mvr.v),
             |sm AS (
             |  SELECT f, sum(c) n, sum(c*rq) sq, sum(c*rv) sv,
             |    sum(c*rq*rq) sqq, sum(c*rv*rv) svv, sum(c*rq*rv) sqv
             |  FROM j GROUP BY f)
             |SELECT f AS l_returnflag,
             |  round((sqv/n - (sq/n)*(sv/n)) /
             |    (sqrt(sqq/n - pow(sq/n, 2)) * sqrt(svv/n - pow(sv/n, 2))), 6)
             |    AS spearman
             |FROM sm""".stripMargin)),

    // ---- SKETCH-tier Spearman (r16 verdict next-#7 — the 100-TB twin
    // of b_agg34, the way b_agg48 twins the exact quantile): instead of
    // ranking the corpus-sized l_extendedprice spectrum with a range-
    // partitioned prefix sum, each marginal's CDF is approximated by a
    // mergeable quantile sketch (approx_percentile at a B-cut grid —
    // partial+final hash agg, constant state, NO range exchange
    // anywhere), each joint-spectrum row maps to its bucket-midpoint
    // rank via a codegen'd fold over the broadcast cut array, and the
    // weighted Pearson moments run over those approximate ranks.
    // Accuracy contract (the b_agg48 convention): the row also computes
    // the exact value and certifies |sketch − exact| ≤ 0.02 per group —
    // measured |Δ| ≤ 0.00013 at sf0.01 and ≤ 0.00001 at sf0.1 with
    // B = 200 (the bucket-midpoint rank error is ≤ 1/(2B) per side and
    // the Pearson form contracts it further; the 0.02 floor leaves
    // >150× margin per the jitter convention). DuckDB pins the exact
    // value and the contract booleans. ----
    QueryDef(
      "b_agg49_sketch_spearman",
      (s, d) => {
        val B = 200
        val grid = (1 until B).map(i => i.toDouble / B)
        val pairs = t(s, d, "lineitem")
          .groupBy(col("l_returnflag").as("f"),
            col("l_quantity").cast("double").as("q"),
            col("l_extendedprice").cast("double").as("v"))
          .agg(count(lit(1)).cast("double").as("c"))
        // ONE sketch pass over the corpus: both marginals' cut arrays
        // per group (mergeable state, m × (B−1) doubles total)
        val cuts = t(s, d, "lineitem")
          .groupBy(col("l_returnflag").as("f"))
          .agg(
            expr(s"approx_percentile(CAST(l_quantity AS DOUBLE), " +
              s"array(${grid.mkString(",")}), 10000)").as("qc"),
            expr(s"approx_percentile(CAST(l_extendedprice AS DOUBLE), " +
              s"array(${grid.mkString(",")}), 10000)").as("vc"))
        // bucket-midpoint rank: (#cuts ≤ x + 0.5) / B — a codegen'd
        // array fold, no shuffle, ties land in one bucket by construction
        def rankHat(x: String, cutsCol: String) =
          (expr(s"aggregate($cutsCol, 0L, (acc, cc) -> " +
            s"acc + CASE WHEN $x >= cc THEN 1L ELSE 0L END)") + lit(0.5)) / lit(B.toDouble)
        val sk = pairs.join(broadcast(cuts), Seq("f"))
          .select(col("f"), col("c"),
            rankHat("q", "qc").as("rq"), rankHat("v", "vc").as("rv"))
          .groupBy(col("f").as("l_returnflag"))
          .agg(
            sum(col("c")).as("n"),
            sum(col("c") * col("rq")).as("sq"),
            sum(col("c") * col("rv")).as("sv"),
            sum(col("c") * col("rq") * col("rq")).as("sqq"),
            sum(col("c") * col("rv") * col("rv")).as("svv"),
            sum(col("c") * col("rq") * col("rv")).as("sqv"))
          .select(col("l_returnflag"),
            ((col("sqv") / col("n") - (col("sq") / col("n")) * (col("sv") / col("n"))) /
              (sqrt(col("sqq") / col("n") - pow(col("sq") / col("n"), 2)) *
                sqrt(col("svv") / col("n") - pow(col("sv") / col("n"), 2))))
              .as("spearman_sketch"))
        exactSpearman(s, d).join(sk, Seq("l_returnflag"))
          .select(col("l_returnflag"),
            round(col("spearman_raw"), 6).as("spearman_exact"),
            (abs(col("spearman_sketch") - col("spearman_raw")) <= lit(0.02)).as("ok"))
      },
      Some("""WITH p AS (
             |  SELECT l_returnflag f, CAST(l_quantity AS DOUBLE) q,
             |    l_extendedprice v, CAST(count(*) AS DOUBLE) c
             |  FROM lineitem GROUP BY 1, 2, 3),
             |mq AS (SELECT f, q, sum(c) cq FROM p GROUP BY 1, 2),
             |mqr AS (SELECT f, q,
             |  sum(cq) OVER (PARTITION BY f ORDER BY q ROWS UNBOUNDED PRECEDING)
             |    - cq + (cq + 1) / 2.0 AS rq FROM mq),
             |mv AS (SELECT f, v, sum(c) cv FROM p GROUP BY 1, 2),
             |mvr AS (SELECT f, v,
             |  sum(cv) OVER (PARTITION BY f ORDER BY v ROWS UNBOUNDED PRECEDING)
             |    - cv + (cv + 1) / 2.0 AS rv FROM mv),
             |j AS (
             |  SELECT p.f, p.c, mqr.rq, mvr.rv
             |  FROM p JOIN mqr ON p.f = mqr.f AND p.q = mqr.q
             |         JOIN mvr ON p.f = mvr.f AND p.v = mvr.v),
             |sm AS (
             |  SELECT f, sum(c) n, sum(c*rq) sq, sum(c*rv) sv,
             |    sum(c*rq*rq) sqq, sum(c*rv*rv) svv, sum(c*rq*rv) sqv
             |  FROM j GROUP BY f)
             |SELECT f AS l_returnflag,
             |  round((sqv/n - (sq/n)*(sv/n)) /
             |    (sqrt(sqq/n - pow(sq/n, 2)) * sqrt(svv/n - pow(sv/n, 2))), 6)
             |    AS spearman_exact, true AS ok
             |FROM sm""".stripMargin)),

    // ---- corrMatrix (CH): all pairwise Pearson correlations of three
    // measures in ONE aggregation pass (CH materializes the same upper
    // triangle); partial+final hash agg, no second scan ----
    QueryDef(
      "b_agg35_corr_matrix",
      (s, d) => {
        val q = col("l_quantity").cast("double")
        val p = col("l_extendedprice")
        val dc = col("l_discount")
        t(s, d, "lineitem").agg(
          round(corr(q, p), 6).as("corr_qty_price"),
          round(corr(q, dc), 6).as("corr_qty_disc"),
          round(corr(p, dc), 6).as("corr_price_disc"))
      },
      Some("""SELECT
             |  round(corr(CAST(l_quantity AS DOUBLE), l_extendedprice), 6) AS corr_qty_price,
             |  round(corr(CAST(l_quantity AS DOUBLE), l_discount), 6) AS corr_qty_disc,
             |  round(corr(l_extendedprice, l_discount), 6) AS corr_price_disc
             |FROM lineitem""".stripMargin)),

    // ---- -Distinct aggregate combinators (CH `sumDistinct`/
    // `avgDistinct`/`uniqExact`): distinct-value aggregation per group.
    // Spark expands these to a two-level aggregate (distinct-key partial,
    // then final) — still map-side combined, one logical shuffle. ----
    QueryDef(
      "b_agg36_distinct_combinators",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            sum_distinct(col("l_quantity").cast("long")).as("sum_d"),
            round(expr("avg(DISTINCT CAST(l_quantity AS LONG))"), 6).as("avg_d"),
            count_distinct(col("l_quantity")).as("cnt_d")),
      Some("""SELECT l_returnflag,
             |  CAST(sum(DISTINCT CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_d,
             |  round(avg(DISTINCT CAST(l_quantity AS BIGINT)), 6) AS avg_d,
             |  CAST(count(DISTINCT l_quantity) AS BIGINT) AS cnt_d
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- windowFunnel strict_dedup mode: an already-matched step
    // re-firing interrupts the chain. The per-user kernel scan is a
    // linear state machine, so the oracle replays it as a DuckDB
    // recursive CTE: one chain per (user, step-0 start) carrying
    // (level, last-advance time, broken), advancing event-by-event in
    // the kernel's (ts, step) order and stopping on window exit /
    // completion / interruption; funnel_level = max level over chains.
    // Kernel edge cases additionally pinned in AnalyticsSpec. ----
    QueryDef(
      "b_fun8_funnel_strict_dedup",
      (s, d) => windowFunnelStrictDedup(
        t(s, d, "events"), Seq("view", "click", "purchase"), 3600L * 1000000L),
      Some("""WITH RECURSIVE
             |e AS (
             |  SELECT user_id, epoch_us(ts) AS t,
             |    CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
             |      WHEN 'purchase' THEN 2 END AS st
             |  FROM events WHERE event_type IN ('view','click','purchase')),
             |o AS (
             |  SELECT user_id, t, st,
             |    row_number() OVER (PARTITION BY user_id ORDER BY t, st) AS rn
             |  FROM e),
             |walk AS (
             |  SELECT user_id, rn AS srn, t AS t0, rn, 1 AS lvl, t AS lastt, false AS broken
             |  FROM o WHERE st = 0
             |  UNION ALL
             |  SELECT w.user_id, w.srn, w.t0, o.rn,
             |    CASE WHEN o.st = w.lvl AND o.t > w.lastt THEN w.lvl + 1 ELSE w.lvl END,
             |    CASE WHEN o.st = w.lvl AND o.t > w.lastt THEN o.t ELSE w.lastt END,
             |    (o.st < w.lvl AND o.t > w.lastt)
             |  FROM walk w JOIN o ON o.user_id = w.user_id AND o.rn = w.rn + 1
             |  WHERE NOT w.broken AND w.lvl < 3 AND o.t - w.t0 <= 3600000000
             |)
             |SELECT u.user_id, CAST(coalesce(max(w.lvl), 0) AS INTEGER) AS funnel_level
             |FROM (SELECT DISTINCT user_id FROM o) u
             |LEFT JOIN walk w ON w.user_id = u.user_id
             |GROUP BY u.user_id""".stripMargin)),

    // ---- sequenceNextNode (CH): the event that FOLLOWS the first
    // occurrence of a matched chain (view→click here) per user — "what
    // do users do after converting". Window-composable: flag positions
    // whose (event, next) matches the chain, take each user's earliest,
    // emit the event after it. One shuffle on user_id. ----
    QueryDef(
      "b_fun7_sequence_next",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("event_id"))
        t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"))
          .withColumn("nxt", lead(col("event_type"), 1).over(W))
          .withColumn("nxt2", lead(col("event_type"), 2).over(W))
          .where(col("event_type") === "view" && col("nxt") === "click")
          .groupBy(col("user_id"))
          .agg(min(struct(col("event_id"), col("nxt2"))).as("m"))
          .select(col("user_id"), col("m.nxt2").as("next_node"))
      },
      Some("""WITH w AS (
             |  SELECT user_id, event_id, event_type,
             |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id) nxt,
             |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY event_id) nxt2
             |  FROM events),
             |hit AS (
             |  SELECT user_id, event_id, nxt2,
             |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) rn
             |  FROM w WHERE event_type = 'view' AND nxt = 'click')
             |SELECT user_id, nxt2 AS next_node FROM hit WHERE rn = 1""".stripMargin)),

    // ---- histogram (CH adaptive `histogram(n)`, equi-depth form),
    // SKETCH path under a depth-accuracy contract (round-9 change; the
    // r1–r8 form materialized the distinct-value spectrum and ran the
    // distributed prefix-sum — exact, but 2 corpus shuffles and ~1.6 s
    // at sf0.1 for a histogram whose consumers tolerate approximate
    // cuts). Now: ONE aggregation learns the 9 decile cuts
    // (approx_percentile, accuracy 2000 ⇒ rank error ≤ 0.05% per cut —
    // two orders inside the 5% contract)
    // plus the row count; the second pass assigns buckets through a
    // LITERAL when-chain (codegen'd, no join, no spectrum shuffle) and
    // checks each bucket holds n/10 rows within 5% — the recall-contract
    // pattern from the ANN queries. The DuckDB oracle runs the EXACT
    // spectrum prefix-sum equi-depth and asserts the same contract on
    // its own buckets, so both engines emit identical (decile, depth_ok,
    // n_total) rows; n_total keeps an exactly-compared value in the
    // hash. The exact distributed form remains available as
    // Spectrum.withRunningSum (b_agg31/34 still exercise it). ----
    QueryDef(
      "b_agg40_equidepth_hist",
      (s, d) => {
        val li = t(s, d, "lineitem").select(col("l_extendedprice").as("v"))
        val learned = li.agg(
          percentile_approx(col("v"),
            array((1 to 9).map(i => lit(i / 10.0)): _*), lit(2000)).as("cuts"),
          count(lit(1)).as("n")).head()
        val cuts = learned.getSeq[Double](0)
        val n = learned.getLong(1)
        var bucket: org.apache.spark.sql.Column = lit(9L)
        for (i <- 8 to 0 by -1)
          bucket = when(col("v") <= cuts(i), lit(i.toLong)).otherwise(bucket)
        val target = n / 10.0
        li.groupBy(bucket.as("decile"))
          .agg(count(lit(1)).as("rows_in"))
          .select(col("decile"),
            (abs(col("rows_in") - target) <= target * 0.05).as("depth_ok"),
            lit(n).as("n_total"))
          .orderBy(col("decile"))
      },
      Some("""WITH sp AS (
             |  SELECT l_extendedprice v, count(*) c FROM lineitem GROUP BY 1),
             |tot AS (SELECT CAST(sum(c) AS DOUBLE) n FROM sp),
             |d AS (
             |  SELECT v, c,
             |    least(CAST(floor((sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - 1)
             |      * 10 / n) AS BIGINT), 9) AS decile
             |  FROM sp CROSS JOIN tot),
             |b AS (SELECT decile, sum(c) AS rows_in FROM d GROUP BY decile)
             |SELECT decile, abs(rows_in - n / 10) <= n / 10 * 0.05 AS depth_ok,
             |  CAST(n AS BIGINT) AS n_total
             |FROM b CROSS JOIN tot ORDER BY decile""".stripMargin)),

    // ---- LIMIT k OFFSET m BY key (CH): per-group pagination — skip
    // each group's first 2, keep the next 3. Same two-phase LimitBy
    // (local head of k+m, then bounded global rank). ----
    QueryDef(
      "b_topk2_limit_by_offset",
      (s, d) =>
        LimitBy.limitBy(
          t(s, d, "orders").select("o_orderpriority", "o_orderkey", "o_totalprice"),
          Seq(col("o_orderpriority")),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc),
          k = 3, offset = 2),
      Some("""SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
             |  SELECT o_orderpriority, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_orderpriority
             |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) WHERE rn > 2 AND rn <= 5""".stripMargin)),

    // ---- null-safe equality join (CH `isNotDistinctFrom` / SQL `<=>`):
    // NULL keys MATCH the dim's NULL row instead of silently dropping —
    // the "unknown bucket" join every fact table with nullable dims
    // needs. Same broadcast-able equi-join plan as `=`; only the key
    // comparator differs. ----
    QueryDef(
      "b_jn14_null_safe",
      (s, d) => {
        val a = t(s, d, "orders").select(col("o_orderkey"),
          when(col("o_orderkey") % 5 === 0, lit(null).cast("string"))
            .otherwise(col("o_orderpriority")).as("k"))
        val b = t(s, d, "orders").select(col("o_orderpriority").as("k")).distinct()
          .unionByName(s.range(1).select(lit(null).cast("string").as("k")))
          .withColumn("bucket", coalesce(col("k"), lit("UNKNOWN")))
        a.join(broadcast(b), a("k") <=> b("k"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      },
      Some("""WITH a AS (
             |  SELECT o_orderkey,
             |    CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderpriority END k
             |  FROM orders),
             |b AS (
             |  SELECT k, coalesce(k, 'UNKNOWN') AS bucket FROM (
             |    SELECT DISTINCT o_orderpriority k FROM orders
             |    UNION ALL SELECT NULL))
             |SELECT bucket, count(*) n
             |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
             |GROUP BY bucket""".stripMargin)),

    // ---- ANY LEFT JOIN (CH join strictness `ANY`: at most ONE build-
    // side match per probe row, vs standard ALL semantics). Made
    // deterministic the CH-documented way cannot be (CH picks an
    // arbitrary match): the build side is reduced to its min-l_linenumber
    // row per key FIRST (one aggregate), then an ordinary 1:1 equi-join.
    // Same two-shuffle cost as the plain join — strictness costs nothing.
    QueryDef(
      "b_jn13_any_join",
      (s, d) => {
        // lexicographic struct-min: ONE deterministic row per key even
        // though l_linenumber repeats within an order in this fixture
        val firstLine = t(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(min(struct(col("l_linenumber"), col("l_extendedprice"))).as("m"))
          .select(col("l_orderkey"),
            col("m.l_linenumber").as("first_line"),
            col("m.l_extendedprice").as("first_price"))
        t(s, d, "orders")
          .join(firstLine, col("o_orderkey") === col("l_orderkey"), "left")
          .select(col("o_orderkey"),
            col("first_line").cast("long").as("first_line"),
            round(col("first_price"), 2).as("first_price"))
      },
      Some("""WITH fl AS (
             |  SELECT l_orderkey, l_linenumber, l_extendedprice,
             |    row_number() OVER (PARTITION BY l_orderkey
             |                       ORDER BY l_linenumber, l_extendedprice) rn
             |  FROM lineitem)
             |SELECT o_orderkey,
             |  CAST(l_linenumber AS BIGINT) AS first_line,
             |  round(l_extendedprice, 2) AS first_price
             |FROM orders LEFT JOIN fl ON o_orderkey = l_orderkey AND rn = 1""".stripMargin)),

    // ---- LIMIT n WITH TIES (CH): keep every row tied with the cut.
    // Scale-clean two-phase form — NO global rank window: phase 1 is an
    // ordinary TopN (orderBy+limit, per-partition top-k then merge) that
    // yields the cut value; phase 2 is a plain pushdown-able filter
    // `qty >= cut`. Identical result to rank() <= n by definition of
    // rank ties; the oracle uses the rank() form to prove it. ----
    QueryDef(
      "b_lim3_with_ties",
      (s, d) => {
        val base = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber").cast("long").as("ln"),
            col("l_quantity").cast("long").as("qty"))
        val cut = base.orderBy(col("qty").desc).limit(5)
          .agg(min(col("qty")).as("cut"))
        base.crossJoin(cut).where(col("qty") >= col("cut"))
          .select(col("l_orderkey"), col("ln"), col("qty"))
      },
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS ln,
             |  CAST(l_quantity AS BIGINT) AS qty
             |FROM (
             |  SELECT *, rank() OVER (ORDER BY l_quantity DESC) rk
             |  FROM lineitem) WHERE rk <= 5""".stripMargin)),

    // ---- mode / topK(1) (CH): the most frequent value per group, ties
    // broken to the SMALLEST value so both engines agree (SQL mode()'s
    // tie-break is undefined). Spectrum aggregate then a lexicographic
    // struct-max — two hash aggs, no window. ----
    QueryDef(
      "b_agg41_mode",
      (s, d) => {
        val sp = t(s, d, "orders")
          .groupBy(col("o_orderstatus"), col("o_orderpriority").as("v"))
          .agg(count(lit(1)).as("c"))
        val mx = sp.groupBy(col("o_orderstatus")).agg(max(col("c")).as("mc"))
        sp.join(mx, Seq("o_orderstatus"))
          .where(col("c") === col("mc"))
          .groupBy(col("o_orderstatus"))
          .agg(min(col("v")).as("mode_prio"), max(col("mc")).as("mode_count"))
      },
      Some("""WITH sp AS (
             |  SELECT o_orderstatus, o_orderpriority v, count(*) c
             |  FROM orders GROUP BY 1, 2),
             |mx AS (SELECT o_orderstatus, max(c) mc FROM sp GROUP BY 1)
             |SELECT o_orderstatus, min(v) AS mode_prio, max(mc) AS mode_count
             |FROM sp JOIN mx USING (o_orderstatus)
             |WHERE c = mc GROUP BY o_orderstatus""".stripMargin)),

    // ---- misc aggregate tier: boundingRatio (value range slope),
    // uniqUpTo(5) (capped distinct), deterministic any() (pinned to min
    // so both engines agree — CH `any` is arbitrary-pick). One hash agg.
    QueryDef(
      "b_agg37_misc",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round((max(col("l_extendedprice")) - min(col("l_extendedprice"))) /
              (max(col("l_quantity").cast("double")) -
                min(col("l_quantity").cast("double"))), 6).as("bounding_ratio"),
            least(count_distinct(col("l_linestatus")), lit(5L)).as("uniq_up_to_5"),
            min(col("l_orderkey")).as("any_det")),
      Some("""SELECT l_returnflag,
             |  round((max(l_extendedprice) - min(l_extendedprice))
             |    / (max(CAST(l_quantity AS DOUBLE)) - min(CAST(l_quantity AS DOUBLE))), 6)
             |    AS bounding_ratio,
             |  CAST(least(count(DISTINCT l_linestatus), 5) AS BIGINT) AS uniq_up_to_5,
             |  min(l_orderkey) AS any_det
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- largestTriangleThreeBuckets (CH): per-user downsample of the
    // value series to 20 visually-representative points, then a summary
    // row per user exposing the operator's SQL-checkable INVARIANTS:
    // LTTB always keeps both endpoints and emits min(n, 20) points, so
    // (n_kept, t_first, t_last) have an exact oracle over the raw
    // series. Interior selection is not SQL-expressible; its semantics
    // (spike retention, pass-through, bucket walk) are pinned in
    // AnalyticsSpec. One shuffle on user_id; per-series working set =
    // that series only.
    QueryDef(
      "b_fun6_lttb",
      (s, d) => {
        import s.implicits._
        t(s, d, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("t"),
            col("value"), col("event_id"))
          .as[(Long, Long, Double, Long)]
          .groupByKey(_._1)
          .flatMapGroups { (uid, it) =>
            val pts = it.toArray.sortBy(p => (p._2, p._4))
            val keep = LttbKernel.select(
              pts.map(_._2.toDouble), pts.map(_._3), 20)
            keep.iterator.map(i => (uid, pts(i)._2, pts(i)._3))
          }
          .toDF("user_id", "t", "value")
          // summary over the KEPT points: equals the raw-series oracle
          // only if the kernel kept the endpoints and min(n,20) points
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_kept"),
            min(col("t")).as("t_first"), max(col("t")).as("t_last"))
      },
      Some("""SELECT user_id, CAST(least(count(*), 20) AS BIGINT) AS n_kept,
             |  min(epoch_ns(ts) // 1000) AS t_first,
             |  max(epoch_ns(ts) // 1000) AS t_last
             |FROM events GROUP BY user_id""".stripMargin))
  )
}
