package graft.sources

import org.apache.spark.sql.SparkSession

/** Parquet file maintenance: the OPTIMIZE-style small-file merge. */
object Formats {

  /** Rewrite a fragmented parquet directory into ceil(bytes/targetBytes)
    * files (the OPTIMIZE merge). Coalesce, not repartition: no shuffle —
    * each output task concatenates whole input splits.
    */
  def compact(s: SparkSession, in: String, out: String, targetBytes: Long): Int = {
    val bytes = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length()
        else 0L
      walk(new java.io.File(in))
    }
    val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    s.read.parquet(in).coalesce(n).write.mode("overwrite").parquet(out)
    n
  }
}
