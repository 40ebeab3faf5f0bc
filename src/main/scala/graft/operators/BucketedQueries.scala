package graft.operators

import graft.{QueryDef, QueryRegistry}
import org.apache.spark.sql.functions._

/** The declared queries over [[Bucketed]]: each row builds its result
  * with the library calls and checks it against a DuckDB oracle. */
object BucketedQueries extends QueryRegistry {
  import Bucketed._

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "b_jn10_bucketed",
      (s, d) => {
        val (li, ord) = tables(s, d)
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("rev"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority""".stripMargin))
  )
}
