package graft

/** Local stand-in for the driver's t1 smoke: `entry` on sf0.001 must
  * return rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("4", "4")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"ENTRY_ROWS=$n")
    require(n > 0, "entry returned no rows")
    spark.stop()
    System.exit(0)
  }
}
