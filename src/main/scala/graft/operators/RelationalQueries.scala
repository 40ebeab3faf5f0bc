package graft.operators

import graft.{QueryDef, QueryRegistry, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Layer-B relational surface: scans, projection, filtering, joins, set
  * operations, sort/limit/top-k (SURVEY.md §2.2 B-SRC / B-PRJ / B-FLT /
  * B-JN / B-SET / B-SRT / B-LIM / B-TOPK).
  *
  * The reference delegates all of these to ClickHouse as opaque SQL
  * (`clickhouse-arrow/src/query.rs:186-196`, `src/client.rs:643`); here
  * each is a declarative DataFrame program so Catalyst does pushdown,
  * pruning, join selection and AQE for free (SURVEY.md §4.1).
  *
  * Scale notes are attached per query: dimension joins are broadcast,
  * fact-fact joins shuffle on their keys, top-k never collects.
  */
object RelationalQueries extends QueryRegistry {

  private def t(s: SparkSession, d: String, n: String) = Tables.t(s, d, n)

  val defs: Seq[QueryDef] = Seq(

    // ---- B-SRC1: table scan (parquet → DataFrame, full schema) ----
    QueryDef(
      "b_src1_scan",
      (s, d) => t(s, d, "nation"),
      Some("SELECT * FROM nation")),

    // ---- B-SRC2: virtual source (system.numbers equivalent) ----
    QueryDef(
      "b_src2_range",
      (s, _) => s.range(1000).toDF("id"),
      Some("SELECT CAST(range AS BIGINT) AS id FROM range(1000)")),

    // ---- B-PRJ1: projection, aliasing, row-level arithmetic ----
    // Per-row FP arithmetic is order-independent → bit-exact vs oracle.
    QueryDef(
      "b_prj1_project",
      (s, d) =>
        t(s, d, "lineitem").select(
          col("l_orderkey"),
          col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("charge"),
          (col("l_quantity") + lit(10.0)).as("qty10")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  l_extendedprice * (1.0 - l_discount) AS net,
             |  l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge,
             |  l_quantity + 10.0 AS qty10
             |FROM lineitem""".stripMargin)),

    // ---- B-PRJ2: SELECT * EXCEPT(...) REPLACE(...) column modifiers ----
    // CH's star modifiers; Spark-side they are schema-driven drop/
    // withColumn — still a pure codegen'd projection, the star expansion
    // happens at plan build so nothing extra is scanned.
    QueryDef(
      "b_prj2_except_replace",
      (s, d) =>
        t(s, d, "orders")
          .withColumn("o_orderpriority", upper(col("o_orderpriority")))
          .drop("o_totalprice", "o_orderdate"),
      Some("""SELECT * EXCLUDE (o_totalprice, o_orderdate)
             |  REPLACE (upper(o_orderpriority) AS o_orderpriority)
             |FROM orders""".stripMargin)),

    // ---- B-PRJ3: SELECT * APPLY(agg) — aggregate every numeric column ----
    // The column list is derived from the schema programmatically (the
    // point of APPLY); grouping key stays explicit.
    QueryDef(
      "b_prj3_apply",
      (s, d) => {
        val orders = t(s, d, "orders")
        val numeric = orders.schema.fields.collect {
          case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
            && f.name != "o_orderkey" => f.name
        }
        // double on both sides: DuckDB sum(BIGINT) is HUGEINT otherwise
        orders.groupBy(col("o_orderstatus"))
          .agg(
            round(sum(col(numeric.head).cast("double")), 2).as(s"sum_${numeric.head}"),
            numeric.tail.map(c => round(sum(col(c).cast("double")), 2).as(s"sum_$c")).toSeq: _*)
      },
      Some("""SELECT o_orderstatus,
             |  round(sum(CAST(o_custkey AS DOUBLE)), 2) AS sum_o_custkey,
             |  round(sum(CAST(o_totalprice AS DOUBLE)), 2) AS sum_o_totalprice
             |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // ---- B-FLT1: comparison / boolean / IN / BETWEEN / LIKE ----
    QueryDef(
      "b_flt1_predicates",
      (s, d) =>
        t(s, d, "lineitem")
          .filter(
            col("l_returnflag").isin("A", "N") &&
              col("l_quantity").between(5, 45) &&
              col("l_discount") >= 0.02 &&
              col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_linestatus").like("F%"))
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
             |FROM lineitem
             |WHERE l_returnflag IN ('A','N') AND l_quantity BETWEEN 5 AND 45
             |  AND l_discount >= 0.02 AND l_shipdate >= TIMESTAMP '1996-01-01'
             |  AND l_linestatus LIKE 'F%'""".stripMargin)),

    // ---- B-FLT2: CASE WHEN / if / coalesce / nullIf ----
    QueryDef(
      "b_flt2_conditional",
      (s, d) =>
        t(s, d, "lineitem").select(
          col("l_orderkey"),
          col("l_linenumber"),
          when(col("l_quantity") < 10, "low")
            .when(col("l_quantity") < 30, "mid")
            .otherwise("high").as("qty_band"),
          coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("flag2"),
          when(col("l_discount") > 0.05, "disc").otherwise("nodisc").as("disc_band"),
          (nullif(col("l_discount"), lit(0.0)).isNull).cast("int").cast("long").as("zero_disc")),
      Some("""SELECT l_orderkey, l_linenumber,
             |  CASE WHEN l_quantity < 10 THEN 'low' WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS qty_band,
             |  coalesce(nullif(l_returnflag, 'N'), 'none') AS flag2,
             |  CASE WHEN l_discount > 0.05 THEN 'disc' ELSE 'nodisc' END AS disc_band,
             |  CAST(CAST(nullif(l_discount, 0.0) IS NULL AS INTEGER) AS BIGINT) AS zero_disc
             |FROM lineitem""".stripMargin)),

    // ---- B-JN1 + B-JN6: star join, dims broadcast (TPC-H Q5 shape) ----
    // lineitem⋈orders shuffles on the fact key; customer/nation/region are
    // broadcast so the 100 TB plan has exactly one big shuffle.
    QueryDef(
      "b_jn1_inner",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val o = t(s, d, "orders")
        val c = t(s, d, "customer")
        val n = t(s, d, "nation")
        val r = t(s, d, "region")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "ASIA" || col("r_name") === "R2")
          .groupBy(col("n_name"))
          .agg(
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some("""SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
             |  count(*) AS n_items
             |FROM lineitem
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation   ON c_nationkey = n_nationkey
             |JOIN region   ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA' OR r_name = 'R2'
             |GROUP BY n_name""".stripMargin)),

    // ---- B-JN2: left outer ----
    QueryDef(
      "b_jn2_left",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders").filter(col("o_totalprice") > 400000.0)
        c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
          .select("c_custkey", "o_orderkey", "o_totalprice")
      },
      Some("""SELECT c_custkey, o_orderkey, o_totalprice
             |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
             |ON c_custkey = o_custkey""".stripMargin)),

    // ---- B-JN2: right outer ----
    QueryDef(
      "b_jn2_right",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders").filter(col("o_totalprice") > 450000.0)
        o.join(c, col("c_custkey") === col("o_custkey"), "right_outer")
          .select("c_custkey", "o_orderkey", "o_totalprice")
      },
      Some("""SELECT c_custkey, o_orderkey, o_totalprice
             |FROM (SELECT * FROM orders WHERE o_totalprice > 450000.0) o
             |RIGHT JOIN customer ON c_custkey = o_custkey""".stripMargin)),

    // ---- B-JN2: full outer ----
    QueryDef(
      "b_jn2_full",
      (s, d) => {
        val a = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey").as("a_key"), col("o_totalprice").as("a_price"))
        val b = t(s, d, "orders").filter(col("o_totalprice") > 300000.0)
          .select(col("o_orderkey").as("b_key"), col("o_totalprice").as("b_price"))
        a.join(b, col("a_key") === col("b_key"), "full_outer")
      },
      Some("""SELECT a.a_key, a.a_price, b.b_key, b.b_price
             |FROM (SELECT o_orderkey AS a_key, o_totalprice AS a_price FROM orders WHERE o_orderpriority = '1-URGENT') a
             |FULL OUTER JOIN (SELECT o_orderkey AS b_key, o_totalprice AS b_price FROM orders WHERE o_totalprice > 300000.0) b
             |ON a.a_key = b.b_key""".stripMargin)),

    // ---- B-JN3: left semi (EXISTS) ----
    QueryDef(
      "b_jn3_semi",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders").filter(col("o_totalprice") > 400000.0)
        c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)""".stripMargin)),

    // ---- B-JN3: left anti (NOT EXISTS) ----
    QueryDef(
      "b_jn3_anti",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders").filter(col("o_totalprice") > 450000.0)
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)""".stripMargin)),

    // ---- B-JN4: cross join (tiny × tiny only; never fact × fact) ----
    QueryDef(
      "b_jn4_cross",
      (s, d) => t(s, d, "region").crossJoin(t(s, d, "nation")).select("r_name", "n_name"),
      Some("SELECT r_name, n_name FROM region CROSS JOIN nation")),

    // ---- B-JN5: theta (non-equi) join — BroadcastNestedLoop on a dim ----
    QueryDef(
      "b_jn5_theta",
      (s, d) => {
        val n1 = t(s, d, "nation").select(col("n_nationkey").as("k1"), col("n_name").as("name1"))
        val n2 = t(s, d, "nation").select(col("n_nationkey").as("k2"), col("n_name").as("name2"))
        n1.join(n2, col("k1") < col("k2"))
      },
      Some("""SELECT n1.n_nationkey AS k1, n1.n_name AS name1, n2.n_nationkey AS k2, n2.n_name AS name2
             |FROM nation n1 JOIN nation n2 ON n1.n_nationkey < n2.n_nationkey""".stripMargin)),

    // ---- B-JN6: explicit broadcast hint ----
    QueryDef(
      "b_jn6_broadcast",
      (s, d) => {
        val sup = t(s, d, "supplier")
        val n = t(s, d, "nation")
        sup.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "s_name", "n_name")
      },
      Some("""SELECT s_suppkey, s_name, n_name
             |FROM supplier JOIN nation ON s_nationkey = n_nationkey""".stripMargin)),

    // ---- B-JN7: AS-OF join (union-window form, see AsOfJoin) ----
    // For each event: the latest purchase by the same user at ts <= event ts.
    QueryDef(
      "b_jn7_asof",
      (s, d) => {
        val e = t(s, d, "events").select("event_id", "user_id", "ts")
        val p = t(s, d, "events")
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id").as("prior_purchase"))
        AsOfJoin
          .leftAsOf(e, p, Seq("user_id"), "ts", "ts", Seq("prior_purchase"))
          .select("event_id", "user_id", "prior_purchase")
      },
      Some("""SELECT e.event_id, e.user_id, p.event_id AS prior_purchase
             |FROM events e
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
             |ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin)),

    // ---- B-JN7b: forward AS-OF (direction "<": the next purchase
    // STRICTLY after each event) ----
    QueryDef(
      "b_jn7_asof_forward",
      (s, d) => {
        val e = t(s, d, "events").select("event_id", "user_id", "ts")
        val p = t(s, d, "events")
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id").as("next_purchase"))
        AsOfJoin
          .leftAsOf(e, p, Seq("user_id"), "ts", "ts", Seq("next_purchase"), direction = "<")
          .select("event_id", "user_id", "next_purchase")
      },
      Some("""SELECT e.event_id, e.user_id, p.event_id AS next_purchase
             |FROM events e
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
             |ON e.user_id = p.user_id AND e.ts < p.ts""".stripMargin)),

    // ---- B-JN7c: range-bucketed AS-OF — the 100-TB/skew variant. Same
    // semantics as b_jn7_asof (and the same DuckDB oracle), but every
    // sort is bounded by (key, time-bucket) so one hot key cannot
    // become a straggler task; a per-key grid of bucket carries fills
    // across empty buckets. Width: 6 h of event time. ----
    QueryDef(
      "b_jn17_asof_bucketed",
      (s, d) => {
        val e = t(s, d, "events").select("event_id", "user_id", "ts")
        val p = t(s, d, "events")
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id").as("prior_purchase"))
        AsOfJoin
          .leftAsOfBucketed(e, p, Seq("user_id"), "ts", "ts",
            Seq("prior_purchase"), 21600000000L)
          .select("event_id", "user_id", "prior_purchase")
      },
      Some("""SELECT e.event_id, e.user_id, p.event_id AS prior_purchase
             |FROM events e
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
             |ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin)),

    // ---- B-SET1: UNION ALL / UNION DISTINCT ----
    QueryDef(
      "b_set1_union_all",
      (s, d) => {
        val o = t(s, d, "orders")
        val a = o.filter(col("o_orderstatus") === "F" && col("o_totalprice") > 350000.0)
        val b = o.filter(col("o_orderstatus") === "O" && col("o_totalprice") > 350000.0)
        a.select("o_orderkey", "o_totalprice").unionAll(b.select("o_orderkey", "o_totalprice"))
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 350000.0
             |UNION ALL
             |SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 350000.0""".stripMargin)),

    QueryDef(
      "b_set1_union_distinct",
      (s, d) => {
        val o = t(s, d, "orders")
        val a = o.filter(col("o_totalprice") > 400000.0).select("o_custkey")
        val b = o.filter(col("o_totalprice") > 420000.0).select("o_custkey")
        a.union(b).distinct()
      },
      Some("""SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0
             |UNION
             |SELECT o_custkey FROM orders WHERE o_totalprice > 420000.0""".stripMargin)),

    // ---- B-SET2: INTERSECT [ALL] ----
    QueryDef(
      "b_set2_intersect",
      (s, d) => {
        val o = t(s, d, "orders")
        o.filter(col("o_totalprice") > 300000.0).select("o_custkey")
          .intersect(o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"))
      },
      Some("""SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0
             |INTERSECT
             |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin)),

    QueryDef(
      "b_set2_intersect_all",
      (s, d) => {
        val o = t(s, d, "orders")
        o.filter(col("o_totalprice") > 300000.0).select("o_custkey")
          .intersectAll(o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"))
      },
      Some("""SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0
             |INTERSECT ALL
             |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin)),

    // ---- B-SET3: EXCEPT [ALL] ----
    QueryDef(
      "b_set3_except",
      (s, d) => {
        val o = t(s, d, "orders")
        o.filter(col("o_totalprice") > 300000.0).select("o_custkey")
          .except(o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"))
      },
      Some("""SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0
             |EXCEPT
             |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin)),

    QueryDef(
      "b_set3_except_all",
      (s, d) => {
        val o = t(s, d, "orders")
        o.filter(col("o_totalprice") > 300000.0).select("o_custkey")
          .exceptAll(o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"))
      },
      Some("""SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0
             |EXCEPT ALL
             |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin)),

    // ---- B-JN12: banded range join via bucket expansion ----
    // |t_a - t_b| <= band joins are theta joins (cartesian at scale).
    // The scalable form: quantize time into band-width buckets, explode
    // ONE side into its 3 adjacent buckets, equi-join on the bucket, then
    // refine with the exact predicate — one hash shuffle, candidates
    // bounded by 3× the true band population, never O(N·M). The oracle
    // runs the naive theta join (fine at fixture scale) to prove the
    // rewrite is exact.
    QueryDef(
      "b_jn12_banded_range",
      (s, d) => {
        val bandUs = 60L * 1000000L // 1 minute
        val ev = t(s, d, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            unix_micros(col("ts")).as("tc"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
            unix_micros(col("ts")).as("tp"))
        // integer `div`: double division on epoch micros (> 2^50) loses
        // ulps exactly at bucket boundaries
        val expanded = clicks
          .withColumn("bkt",
            explode(array(expr(s"tc div $bandUs") - 1,
              expr(s"tc div $bandUs"),
              expr(s"tc div $bandUs") + 1)))
        expanded.join(
            purchases.withColumn("bkt", expr(s"tp div $bandUs")),
            Seq("bkt"))
          .where(col("user_id") === col("p_user") && abs(col("tc") - col("tp")) <= bandUs)
          .select(col("user_id"), col("click_id"), col("purchase_id"),
            (col("tp") - col("tc")).as("gap_us"))
      },
      Some("""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
             |FROM events c JOIN events p
             |  ON c.user_id = p.user_id
             | AND c.event_type = 'click' AND p.event_type = 'purchase'
             | AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= 60000000""".stripMargin)),

    // ---- B-SET4: UNION by name with missing columns (null-filled) ----
    // CH's `UNION ALL` matches by position and errors on arity mismatch;
    // the schema-evolution-friendly variant unions heterogenous slices
    // by NAME, null-filling absent columns — the same contract as
    // b_src10's merged read, but as a set operation.
    QueryDef(
      "b_set4_union_missing",
      (s, d) => {
        val o = t(s, d, "orders")
        val recent = o.filter(col("o_totalprice") > 400000.0)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        val legacy = o.filter(col("o_totalprice") < 1000.0)
          .select(col("o_orderkey"), col("o_totalprice"))
        recent.unionByName(legacy, allowMissingColumns = true)
      },
      Some("""SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
             |WHERE o_totalprice > 400000.0
             |UNION ALL
             |SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority FROM orders
             |WHERE o_totalprice < 1000.0""".stripMargin)),

    // ---- B-SRT1: multi-key ORDER BY + LIMIT (TakeOrderedAndProject) ----
    QueryDef(
      "b_srt1_sort_limit",
      (s, d) =>
        t(s, d, "orders")
          .orderBy(col("o_totalprice").desc_nulls_last, col("o_orderkey").asc)
          .limit(100)
          .select("o_orderkey", "o_totalprice", "o_orderpriority"),
      Some("""SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
             |ORDER BY o_totalprice DESC NULLS LAST, o_orderkey LIMIT 100""".stripMargin)),

    // ---- B-SRT2: full global sort (no limit) — range-partitioned ----
    // Spark samples the sort key and range-partitions before the
    // per-partition sort, so a 100-TB ORDER BY parallelizes instead of
    // funneling through one task (RelationalSpec asserts the
    // rangepartitioning exchange). TopK stays b_srt1; this is the
    // full-ordering path (export / merge-ready output).
    QueryDef(
      "b_srt2_global_sort",
      (s, d) =>
        t(s, d, "orders")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .select("o_orderkey", "o_custkey", "o_orderstatus"),
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
             |ORDER BY o_orderdate, o_orderkey""".stripMargin)),

    // ---- B-LIM1: LIMIT / OFFSET over a total order ----
    QueryDef(
      "b_lim1_limit_offset",
      (s, d) =>
        t(s, d, "orders")
          .orderBy(col("o_orderkey"))
          .offset(50)
          .limit(100)
          .select("o_orderkey", "o_custkey"),
      Some("SELECT o_orderkey, o_custkey FROM orders ORDER BY o_orderkey LIMIT 100 OFFSET 50")),

    // ---- B-LIM2: client-side truncation with stats (A11 equivalent) ----
    QueryDef(
      "b_lim2_truncate",
      (s, d) => {
        val ordered = t(s, d, "lineitem")
          .orderBy(col("l_orderkey"), col("l_linenumber"))
          .select("l_orderkey", "l_linenumber", "l_quantity")
        val (limited, _) = graft.limits.Limited(ordered, graft.limits.QueryLimits(maxRows = Some(1000)))
        limited
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |ORDER BY l_orderkey, l_linenumber LIMIT 1000""".stripMargin)),

    // ---- B-TOPK1: LIMIT BY (per-group top-k without collect) ----
    QueryDef(
      "b_topk1_limit_by",
      (s, d) =>
        LimitBy.limitBy(
          t(s, d, "orders").select("o_orderpriority", "o_orderkey", "o_totalprice"),
          Seq(col("o_orderpriority")),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc),
          3),
      Some("""SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
             |  SELECT o_orderpriority, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) WHERE rn <= 3""".stripMargin)),

    // ---- B-JN8: salted skew join — must produce EXACTLY the plain-join
    // result (the oracle is the unsalted join), while fanning any hot key
    // over `salt` tasks ----
    QueryDef(
      "b_jn8_salted_skew",
      (s, d) => {
        val orders = t(s, d, "orders")
        val cust = t(s, d, "customer")
          .withColumnRenamed("c_custkey", "o_custkey")
          .select("o_custkey", "c_mktsegment")
        SkewJoin.saltedJoin(orders, cust, Seq("o_custkey"), salt = 8)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n_orders,
             |  round(sum(o_totalprice), 2) AS revenue
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_mktsegment""".stripMargin))
  )
}
