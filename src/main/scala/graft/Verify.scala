package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus, cpus)
    new java.io.File(outDir).mkdirs()
    // Dev convenience (driver leaves it unset → full dump): restrict the
    // dump to comma-separated name prefixes, e.g. SPARK_GRAFT_ONLY=b_agg26
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith))
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // a null oracle string (object-init-order bug: a val referenced from
    // `defs` before its declaration) must not kill the dump after every
    // query already ran — drop it loudly instead
    val json = SparkEntry.oracleSql
      .filter { case (k, v) =>
        if (v == null) System.err.println(s"[verify] $k: NULL oracle sql (init order?) — skipped")
        v != null
      }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // the connector queries hold an in-process HTTP stub whose dispatcher
    // thread is non-daemon; never let it block the forked JVM's exit
    System.exit(0)
  }
}
