package graft.operators

import graft.{Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed co-located join — the pre-shuffle strategy that makes the
  * fact⋈fact join survive 100 TB (SURVEY §6: "co-locate joins via
  * bucketing"; the reference pushes this to ClickHouse's sharding key,
  * the Spark-native equivalent is `bucketBy` on the join key).
  *
  * Both sides are written once per session as parquet tables bucketed
  * into the same number of buckets on the join key; the join then reads
  * co-located buckets directly — ZERO exchange on either side
  * (BucketingSpec asserts this), vs two full shuffles for the plain
  * parquet join. At 100 TB that is the difference between a network-bound
  * and an IO-bound join; the one-time bucketed write amortizes across
  * every subsequent join on that key.
  */
object Bucketed {

  private val written = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** Bucketed copies of lineitem/orders keyed on the join key; written
    * once per (process, sfDir) under the process's [[graft.Scratch]]
    * root — two JVMs on one fixture never overwrite each other's copy —
    * and registered in the session catalog.
    */
  def tables(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val names = written.computeIfAbsent(d, _ => {
      val suffix = math.abs(d.hashCode).toString
      val dir = Scratch.root.resolve("graft_buckets")
      val li = s"graft_bkt_lineitem_$suffix"
      val ord = s"graft_bkt_orders_$suffix"
      Tables.t(s, d, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", dir.resolve(s"li_$suffix").toString)
        .saveAsTable(li)
      Tables.t(s, d, "orders")
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", dir.resolve(s"ord_$suffix").toString)
        .saveAsTable(ord)
      (li, ord)
    })
    (s.table(names._1), s.table(names._2))
  }

}
