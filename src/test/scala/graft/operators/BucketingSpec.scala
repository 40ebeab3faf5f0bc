package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Plan evidence for the bucketing strategy: a join of two tables
  * bucketed on the join key must read co-located buckets directly —
  * no ShuffleExchange on either side. */
class BucketingSpec extends SparkSpec {

  test("bucketed fact-fact join runs with zero exchanges") {
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (li, ord) = Bucketed.tables(spark, sf0001)
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("ShuffleExchange") && !p.contains("Exchange hashpartitioning"), p)
      // and it is not just an empty plan — the join actually matches
      assert(joined.limit(1).count() == 1)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("bucketed join matches the plain parquet join") {
    val (li, ord) = Bucketed.tables(spark, sf0001)
    val bucketed = li.join(ord, col("l_orderkey") === col("o_orderkey")).count()
    val plain = graft.Tables.t(spark, sf0001, "lineitem")
      .join(graft.Tables.t(spark, sf0001, "orders"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(bucketed == plain)
  }

  test("bucketed copies live under a directory naming this process") {
    val (li, ord) = Bucketed.tables(spark, sf0001)
    val mine = s"graft-${ProcessHandle.current().pid()}-"
    val files = li.inputFiles ++ ord.inputFiles
    assert(files.nonEmpty)
    files.foreach { f =>
      assert(new java.net.URI(f).getPath.split('/').exists(_.startsWith(mine)), f)
    }
  }
}
