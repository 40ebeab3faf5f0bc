package graft.operators

import graft.{QueryDef, QueryRegistry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Subquery surface (ClickHouse supports IN/EXISTS/scalar subqueries;
  * all reach the reference as passthrough SQL, `src/client.rs:643`).
  * Catalyst rewrites every form below into joins
  * (`RewriteCorrelatedScalarSubquery`, `RewritePredicateSubquery` —
  * SURVEY §4.1), so none of them cartesian-explodes at scale;
  * SubqueriesSpec asserts the decorrelated plan shape.
  */
object SubqueriesQueries extends QueryRegistry {

  private def withViews(s: SparkSession, d: String): Unit = {
    Tables.t(s, d, "orders").createOrReplaceTempView("sq_orders")
    Tables.t(s, d, "customer").createOrReplaceTempView("sq_customer")
    Tables.t(s, d, "lineitem").createOrReplaceTempView("sq_lineitem")
  }

  private def q(s: SparkSession, d: String, sql: String): DataFrame = {
    withViews(s, d)
    s.sql(sql)
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- B-SUB1: uncorrelated IN subquery (→ left-semi join) ----
    QueryDef(
      "b_sub1_in",
      (s, d) => q(s, d,
        """SELECT o_orderkey, o_custkey, o_totalprice FROM sq_orders
          |WHERE o_custkey IN (SELECT c_custkey FROM sq_customer WHERE c_acctbal > 9000.0)""".stripMargin),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000.0)""".stripMargin)),

    // ---- B-SUB2: scalar subquery in a predicate ----
    QueryDef(
      "b_sub2_scalar",
      (s, d) => q(s, d,
        """SELECT l_orderkey, l_linenumber, l_quantity FROM sq_lineitem
          |WHERE l_quantity > (SELECT avg(l_quantity) + 20 FROM sq_lineitem)""".stripMargin),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_quantity > (SELECT avg(l_quantity) + 20 FROM lineitem)""".stripMargin)),

    // ---- B-SUB3: correlated EXISTS (→ decorrelated semi join) ----
    QueryDef(
      "b_sub3_exists",
      (s, d) => q(s, d,
        """SELECT c_custkey, c_mktsegment FROM sq_customer c
          |WHERE EXISTS (SELECT 1 FROM sq_orders o
          |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)""".stripMargin),
      Some("""SELECT c_custkey, c_mktsegment FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)""".stripMargin)),

    // ---- B-SUB4: correlated NOT EXISTS (→ anti join) ----
    QueryDef(
      "b_sub4_not_exists",
      (s, d) => q(s, d,
        """SELECT c_custkey FROM sq_customer c
          |WHERE NOT EXISTS (SELECT 1 FROM sq_orders o
          |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)""".stripMargin),
      Some("""SELECT c_custkey FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o
             |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)""".stripMargin))
  )
}
