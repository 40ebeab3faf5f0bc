package graft.operators

import graft.{QueryDef, QueryRegistry, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Layer-B aggregation surface (SURVEY.md §2.2 B-AGG1..8).
  *
  * All groupBys compile to `HashAggregateExec` with automatic partial
  * (map-side) + final (reduce-side) phases, so at 100 TB each query is one
  * shuffle of the (small) group-key space, never of the raw rows.
  *
  * Double-typed aggregates are rounded IN the query (both here and in the
  * oracle SQL) because summation order differs between engines; row-level
  * arithmetic needs no rounding.
  */
object AggregatesQueries extends QueryRegistry {

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  val defs: Seq[QueryDef] = Seq(

    // ---- B-AGG1: hash aggregate — flagship TPC-H Q1 shape ----
    QueryDef(
      "b_agg1_hash_agg",
      (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            round(sum(col("l_quantity")), 2).as("sum_qty"),
            round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
            round(avg(col("l_quantity")), 6).as("avg_qty"),
            round(avg(col("l_extendedprice")), 6).as("avg_price"),
            round(avg(col("l_discount")), 6).as("avg_disc"),
            count(lit(1)).as("count_order")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(sum(l_quantity), 2) AS sum_qty,
             |  round(sum(l_extendedprice), 2) AS sum_base_price,
             |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
             |  round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
             |  round(avg(l_quantity), 6) AS avg_qty,
             |  round(avg(l_extendedprice), 6) AS avg_price,
             |  round(avg(l_discount), 6) AS avg_disc,
             |  count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
             |GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- B-AGG2: exact distinct aggregation ----
    QueryDef(
      "b_agg2_count_distinct",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            countDistinct(col("l_partkey")).as("nd_part"),
            countDistinct(col("l_suppkey")).as("nd_supp"),
            count(lit(1)).as("n")),
      Some("""SELECT l_returnflag,
             |  count(DISTINCT l_partkey) AS nd_part,
             |  count(DISTINCT l_suppkey) AS nd_supp,
             |  count(*) AS n
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- B-AGG3: approximate distinct (HLL++, ClickHouse `uniq`) ----
    // Oracled as an accuracy contract: the estimate itself is engine-
    // specific, but |est − exact| ≤ 5%·exact is checkable cross-engine —
    // DuckDB recomputes the exact side independently and pins the flag.
    // rsd=0.01 puts the estimate ~50× inside the bound (AggregatesSpec
    // still asserts the tighter rsd-level accuracy).
    QueryDef(
      "b_agg3_approx_distinct",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            countDistinct(col("l_partkey")).as("nd_exact"),
            approx_count_distinct(col("l_partkey"), 0.01).as("est"))
          .select(col("l_returnflag"), col("nd_exact"),
            (abs(col("est") - col("nd_exact"))
              <= col("nd_exact") * lit(0.05)).as("within_5pct")),
      Some("""SELECT l_returnflag,
             |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_exact,
             |  true AS within_5pct
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- B-AGG4: quantiles (exact interpolated percentile) ----
    QueryDef(
      "b_agg4_quantiles",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(expr("percentile(l_quantity, 0.25)"), 6).as("q25"),
            round(expr("percentile(l_quantity, 0.5)"), 6).as("q50"),
            round(expr("percentile(l_quantity, 0.75)"), 6).as("q75"),
            round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90_price")),
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_quantity, 0.25), 6) AS q25,
             |  round(quantile_cont(l_quantity, 0.5), 6) AS q50,
             |  round(quantile_cont(l_quantity, 0.75), 6) AS q75,
             |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- B-AGG5: ROLLUP ----
    QueryDef(
      "b_agg5_rollup",
      (s, d) =>
        t(s, d, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n")),
      Some("""SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),

    // ---- B-AGG5: CUBE ----
    QueryDef(
      "b_agg5_cube",
      (s, d) =>
        t(s, d, "orders")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(round(sum(col("o_totalprice")), 2).as("sum_price"), count(lit(1)).as("n")),
      Some("""SELECT o_orderstatus, o_orderpriority, round(sum(o_totalprice), 2) AS sum_price, count(*) AS n
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin)),

    // ---- B-AGG5: GROUPING SETS ----
    QueryDef(
      "b_agg5_grouping_sets",
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("orders_gs")
        s.sql("""SELECT o_orderstatus, o_orderpriority,
                |  round(sum(o_totalprice), 2) AS sum_price, count(*) AS n
                |FROM orders_gs
                |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority, round(sum(o_totalprice), 2) AS sum_price, count(*) AS n
             |FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin)),

    // ---- B-AGG6: argMin / argMax (min_by / max_by) ----
    // Ordering columns are unique keys → deterministic across engines.
    QueryDef(
      "b_agg6_argminmax",
      (s, d) =>
        t(s, d, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(
            max_by(col("o_custkey"), col("o_orderkey")).as("last_cust"),
            min_by(col("o_custkey"), col("o_orderkey")).as("first_cust"),
            max_by(col("o_orderkey"), col("o_totalprice")).as("biggest_order")),
      Some("""SELECT o_orderpriority,
             |  arg_max(o_custkey, o_orderkey) AS last_cust,
             |  arg_min(o_custkey, o_orderkey) AS first_cust,
             |  arg_max(o_orderkey, o_totalprice) AS biggest_order
             |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // ---- B-AGG7: groupArray / groupUniqArray (collect_list / collect_set) ----
    // Emitted as sorted joined strings: list order is engine-dependent, the
    // multiset is not.
    QueryDef(
      "b_agg7_collect",
      (s, d) =>
        t(s, d, "nation")
          .groupBy(col("n_regionkey"))
          .agg(
            array_join(array_sort(collect_list(col("n_name"))), ",").as("names"),
            array_join(array_sort(collect_set(col("n_regionkey") % 2)), ",").as("parities")),
      Some("""SELECT n_regionkey,
             |  array_to_string(list_sort(list(n_name)), ',') AS names,
             |  array_to_string(list_sort(list(DISTINCT n_regionkey % 2)), ',') AS parities
             |FROM nation GROUP BY n_regionkey""".stripMargin)),

    // ---- B-AGG8: mergeable aggregate state (-State/-Merge equivalent) ----
    QueryDef(
      "b_agg8_custom_state",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(round(graft.functions.StateAggregates.varSampState(col("l_quantity")), 6).as("var_qty")),
      Some("""SELECT l_returnflag, round(var_samp(l_quantity), 6) AS var_qty
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- statistical aggregates (stddev/var/corr/covar) ----
    QueryDef(
      "b_agg9_stats",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
            round(var_samp(col("l_quantity")), 6).as("var_qty"),
            round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
            round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cov_qp"),
            round(min(col("l_extendedprice")), 2).as("min_price"),
            round(max(col("l_extendedprice")), 2).as("max_price")),
      Some("""SELECT l_returnflag,
             |  round(stddev_samp(l_quantity), 6) AS sd_qty,
             |  round(var_samp(l_quantity), 6) AS var_qty,
             |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
             |  round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qp,
             |  round(min(l_extendedprice), 2) AS min_price,
             |  round(max(l_extendedprice), 2) AS max_price
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- B-AGG8b: serialized HLL sketch states (uniqState → uniqMerge,
    // the reference's AggregateFunction(uniq, T) opaque binary state,
    // native/types.rs:120-126). Partial sketches materialize as binary
    // columns, merge downstream — the distributable two-phase form.
    // Engine-native sketch bytes → no SQL oracle; AggregatesSpec asserts
    // merged-parts == whole-pass estimates. ----
    // ---- -If combinators (sumIf/countIf/avgIf): conditional aggregates,
    // the CH combinator surface as FILTER-style aggs — stays one
    // partial+final hash aggregate, conditions evaluated map-side ----
    QueryDef(
      "b_agg15_condif",
      (s, d) =>
        t(s, d, "orders")
          .groupBy(col("o_orderstatus"))
          .agg(
            round(sum(when(col("o_orderpriority") === "1-URGENT", col("o_totalprice"))), 2)
              .as("sum_urgent"),
            count(when(col("o_totalprice") > 200000.0, lit(1))).as("n_big"),
            round(avg(when(col("o_orderpriority") === "5-LOW", col("o_totalprice"))), 4)
              .as("avg_low")),
      Some("""SELECT o_orderstatus,
             |  round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 2) AS sum_urgent,
             |  count(*) FILTER (WHERE o_totalprice > 200000.0) AS n_big,
             |  round(avg(o_totalprice) FILTER (WHERE o_orderpriority = '5-LOW'), 4) AS avg_low
             |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // ---- fixed-bin histogram via width_bucket ----
    QueryDef(
      "b_agg16_histogram",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(width_bucket(col("l_quantity"), lit(0d), lit(50d), lit(10)).as("bucket"))
          .agg(count(lit(1)).as("n"),
            round(min(col("l_quantity")), 2).as("lo"),
            round(max(col("l_quantity")), 2).as("hi")),
      // DuckDB has no width_bucket — same bucketing spelled arithmetically
      Some("""SELECT CAST(CASE WHEN l_quantity < 0 THEN 0
             |            WHEN l_quantity >= 50 THEN 11
             |            ELSE floor(l_quantity / 5.0) + 1 END AS BIGINT) AS bucket,
             |  count(*) AS n, round(min(l_quantity), 2) AS lo, round(max(l_quantity), 2) AS hi
             |FROM lineitem GROUP BY 1""".stripMargin)),

    // ---- groupBitAnd / groupBitOr / groupBitXor (CH bitwise aggs) ----
    QueryDef(
      "b_agg14_bitwise",
      (s, d) =>
        t(s, d, "events")
          .groupBy(col("event_type"))
          .agg(
            bit_and(col("event_id")).as("band"),
            bit_or(col("event_id")).as("bor"),
            bit_xor(col("event_id")).as("bxor")),
      Some("""SELECT event_type, bit_and(event_id) AS band,
             |  bit_or(event_id) AS bor, bit_xor(event_id) AS bxor
             |FROM events GROUP BY event_type""".stripMargin)),

    // ---- uniqState/uniqMerge (CH `-State`/`-Merge` combinators) via
    // Datasketches HLL: partial sketches per (flag, bucket), merged to a
    // final estimate per flag. Oracled as an accuracy contract (like
    // b_agg3): DuckDB recomputes the exact distinct count; the merged
    // estimate must land within 5% (Datasketches lgK=12 ⇒ ~1.6% rse). ----
    QueryDef(
      "b_agg10_hll_state",
      (s, d) => {
        val est = t(s, d, "lineitem")
          // partial per (flag, order-bucket): the "-State" half
          .withColumn("bucket", pmod(col("l_orderkey"), lit(16)))
          .groupBy(col("l_returnflag"), col("bucket"))
          .agg(hll_sketch_agg(col("l_partkey")).as("state"))
          // merge to final per flag: the "-Merge" half
          .groupBy(col("l_returnflag"))
          .agg(hll_sketch_estimate(hll_union_agg(col("state"))).as("est"))
        val exact = t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_partkey")).as("nd_exact"))
        est.join(exact, Seq("l_returnflag"))
          .select(col("l_returnflag"), col("nd_exact"),
            (abs(col("est") - col("nd_exact"))
              <= col("nd_exact") * lit(0.05)).as("within_5pct"))
      },
      Some("""SELECT l_returnflag,
             |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_exact,
             |  true AS within_5pct
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- sumKahan (CH): compensated summation through the mergeable-
    // state Aggregator path (partial per partition, compensation carried
    // through merge). Oracled against DuckDB's own compensated sum
    // (`fsum`), rounded to cents — two Kahan sums agree to ~1 ulp of
    // the total, far inside the rounding. The adversarial case where a
    // NAIVE engine sum is wrong stays pinned in FunctionsSpec. ----
    QueryDef(
      "b_agg39_kahan_sum",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(round(graft.functions.StateAggregates.sumKahan(
            col("l_extendedprice")), 2).as("ksum")),
      Some("""SELECT l_returnflag, round(fsum(l_extendedprice), 2) AS ksum
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- quantiles(...) ARRAY form (CH's plural quantiles returns one
    // array per group): exact interpolated percentiles over integer
    // cents (the cross-engine interpolation-parity trick), serialized
    // for the oracle. One pass; the array is the aggregate's output. ----
    QueryDef(
      "b_agg44_quantile_array",
      (s, d) => {
        val cents = expr("CAST(round(l_extendedprice * 100) AS LONG)")
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(array_join(
            transform(
              percentile(cents, array(lit(0.1), lit(0.5), lit(0.9))),
              x => round(x, 2).cast("string")), ",").as("q_arr"))
      },
      Some("""SELECT l_returnflag,
             |  array_to_string(list_transform(
             |    quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT),
             |                  [0.1, 0.5, 0.9]),
             |    x -> CAST(round(x, 2) AS VARCHAR)), ',') AS q_arr
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- quantileTDigest-style SKETCH quantile (the 100-TB path the
    // exact Spectrum queries (b_agg31/b_agg40) deliberately don't take):
    // Spark's ApproximatePercentile is the built-in mergeable
    // constant-state quantile sketch — partials per partition, merged
    // state, no corpus-sized shuffle. Oracled as an accuracy contract:
    // DuckDB pins the exact p50 and the estimates must land inside the
    // exact [p45,p55] / [p93,p97] rank windows (accuracy=10000 ⇒ rank
    // error ≤ 0.01 percentile, ~500× inside the bound). ----
    QueryDef(
      "b_agg48_sketch_quantile",
      (s, d) => {
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50_exact"),
            expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("e50"),
            expr("approx_percentile(l_extendedprice, 0.95, 10000)").as("e95"),
            expr("percentile(l_extendedprice, 0.45)").as("lo50"),
            expr("percentile(l_extendedprice, 0.55)").as("hi50"),
            expr("percentile(l_extendedprice, 0.93)").as("lo95"),
            expr("percentile(l_extendedprice, 0.97)").as("hi95"))
          .select(col("l_returnflag"), col("p50_exact"),
            col("e50").between(col("lo50"), col("hi50")).as("ok50"),
            col("e95").between(col("lo95"), col("hi95")).as("ok95"))
      },
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_exact,
             |  true AS ok50, true AS ok95
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // ---- Shannon entropy of a column's value distribution (CH
    // `entropy(x)`): one hash-aggregate over the corpus → a
    // distinct-value-bounded spectrum; the normalization window runs over
    // that tiny spectrum, never the corpus. ----
    QueryDef(
      "b_agg45_entropy",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val counts = t(s, d, "events")
          .groupBy(col("event_type")).agg(count(lit(1)).cast("double").as("c"))
        val p = col("c") / sum(col("c")).over(Window.partitionBy())
        counts
          .select(p.as("p"))
          .agg(round(-sum(col("p") * log2(col("p"))), 4).as("entropy"))
      },
      Some("""SELECT round(-sum(p * log2(p)), 4) AS entropy FROM (
             |  SELECT CAST(count(*) AS DOUBLE) /
             |         (SELECT count(*) FROM events) AS p
             |  FROM events GROUP BY event_type)""".stripMargin)),

    // ---- grouping() discriminator over ROLLUP (CH `WITH ROLLUP` rows
    // are distinguished the same way): subtotal rows labeled by the
    // grouping bit so consumers can split detail from rollup. ----
    QueryDef(
      "b_agg38_grouping_id",
      (s, d) =>
        t(s, d, "orders")
          .rollup(col("o_orderstatus"), col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n"),
            grouping(col("o_orderstatus")).cast("long").as("g_status"),
            grouping(col("o_orderpriority")).cast("long").as("g_prio")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
             |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio
             |FROM orders
             |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin)),

    // ---- uniqTheta set algebra (CH `uniqTheta` + union/intersect/not):
    // per-partition sketches, driver-side merge (see ThetaSketches
    // scaladoc for the 100-TB shape). Below k=4096 distinct keys theta
    // sketches are EXACT — the sf0.01 fixture stays in that regime, so
    // the oracle compares true distinct counts; the approximate regime's
    // error bound is asserted in ThetaSpec. ----
    QueryDef(
      "b_agg32_theta_setops",
      (s, d) => {
        import s.implicits._
        val o = t(s, d, "orders")
        val a = graft.functions.ThetaSketches.distinctSketch(
          o.where(col("o_orderpriority") === "1-URGENT"), "o_custkey")
        val b = graft.functions.ThetaSketches.distinctSketch(
          o.where(col("o_orderpriority") === "2-HIGH"), "o_custkey")
        Seq((
          math.round(a.getEstimate),
          math.round(b.getEstimate),
          math.round(graft.functions.ThetaSketches.union(a, b).getEstimate),
          math.round(graft.functions.ThetaSketches.intersect(a, b).getEstimate),
          math.round(graft.functions.ThetaSketches.aNotB(a, b).getEstimate)))
          .toDF("u_urgent", "u_high", "u_union", "u_inter", "u_diff")
      },
      Some("""WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
             |b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH')
             |SELECT
             |  CAST((SELECT count(*) FROM a) AS BIGINT) AS u_urgent,
             |  CAST((SELECT count(*) FROM b) AS BIGINT) AS u_high,
             |  CAST((SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) AS BIGINT) AS u_union,
             |  CAST((SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS BIGINT) AS u_inter,
             |  CAST((SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)) AS BIGINT) AS u_diff""".stripMargin)),

    // ---- quantileExactWeighted / weighted median (CH): the classic
    // "median price weighted by quantity". Phase 1 collapses to the
    // per-(group, DISTINCT value) weight spectrum — the only pass over
    // the corpus; phase 2 walks it with Spectrum's range-partitioned
    // prefix sum (round 9; a nearly-continuous value makes the spectrum
    // corpus-sized, and the previous partition-by-group window
    // serialized each group into ONE task — 3 tasks for 600k rows at
    // sf0.1, and a scale hazard at 100 TB). Group totals are a tiny
    // per-group aggregate broadcast back, not a second window pass.
    // Deliberate local-cost tradeoff, measured: the 3-task window form
    // benched 1.0 s at sf0.1 vs ~1.5 s for this shape (range exchange +
    // offsets pass) — but its per-group task would serialize ~2 B
    // distinct values per flag at 100 TB, while every stage here stays
    // width-parallel (the b_agg34 spearman precedent). ----
    QueryDef(
      "b_agg33_weighted_median",
      (s, d) => {
        // fused spectrum build + walk (r15): ONE corpus range shuffle —
        // the (flag, v) aggregate rides the range exchange and the
        // cumulative is a streaming per-partition pass. Totals come from
        // a plain 3-group aggregate over the raw rows (partial-agg, no
        // groupBy-by-value, no checkpoint — a per-rep localCheckpoint
        // write cost more than the duplicate subtree it saved)
        val raw = t(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_extendedprice").as("v"),
            col("l_quantity").cast("double").as("q"))
        val cum = Spectrum.aggregateWithRunningSums(
          raw, Seq("l_returnflag"), "v",
          Seq((sum(col("q")), "w")), Seq("w" -> "cum"))
        val tot = raw.groupBy(col("l_returnflag"))
          .agg(sum(col("q")).as("tot"))
        cum.join(broadcast(tot), "l_returnflag")
          .where(col("cum") >= col("tot") / 2)
          .groupBy(col("l_returnflag"))
          .agg(min(col("v")).as("wmedian"))
      },
      Some("""WITH g AS (
             |  SELECT l_returnflag, l_extendedprice AS v,
             |    sum(CAST(l_quantity AS DOUBLE)) AS w
             |  FROM lineitem GROUP BY 1, 2),
             |c AS (
             |  SELECT l_returnflag, v,
             |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
             |                 ROWS UNBOUNDED PRECEDING) AS cum,
             |    sum(w) OVER (PARTITION BY l_returnflag) AS tot
             |  FROM g)
             |SELECT l_returnflag, min(v) AS wmedian
             |FROM c WHERE cum >= tot / 2 GROUP BY l_returnflag""".stripMargin))
  )
}
