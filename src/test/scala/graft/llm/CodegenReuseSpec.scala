package graft.llm

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** A graft session sizes Spark's per-JVM codegen cache to hold what a
  * standing-index batch compiles, so repeating the batch's plans reuses
  * the classes instead of recompiling them. */
class CodegenReuseSpec extends SparkSpec {

  /** The sources Spark's code generator compiles while `body` runs, read
    * from its compile log (raised to WARN for the duration). */
  private def compiled(body: => Unit): Seq[String] = {
    val sources = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-codegen-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.endsWith(".codegen.CodeGenerator") && e.getLevel == Level.WARN)
          sources.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val logger = ctx.getConfiguration.getLoggerConfig(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
    logger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    spark.conf.set("spark.sql.codegen.logLevel", "WARN")
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try body
    finally {
      spark.conf.unset("spark.sql.codegen.logLevel")
      logger.removeAppender(appender.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    val out = sources.asScala.toSeq
    assert(out.size == CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before,
      "the compile log missed compiles")
    out
  }

  test("a second pass of both cold probes compiles only the stages Spark renames per plan") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
    val d = sf001
    val root = s"${ArtifactQueries.tempRoot(spark)}/spec/codegen_reuse"
    TextOps.saveBm25Index(spark, d, s"$root/bm25")
    Similarity.saveIvfPqIndex(spark, d, s"$root/ivfpq")
    val docs = graft.Tables.t(spark, d, "documents")
    val emb = graft.Tables.t(spark, d, "embeddings")
    def pass(): Unit = {
      TextOps.bm25ColdProbe(spark, s"$root/bm25",
        docs.where(col("doc_id") % 50 === 0 && col("doc_id") < 5000), k = 5).collect()
      Similarity.ivfPqColdProbe(spark, s"$root/ivfpq", Similarity.corpusOf(emb),
        emb.filter(col("vec_id") % 25 === 0), k = 5).collect()
    }
    val first = compiled(pass())
    val second = compiled(pass())
    // Spark names a generated LIMIT's counter from a JVM-wide sequence,
    // one name per plan instance (`BaseLimitExec.newLimitCountTerm`), so
    // a stage holding a LIMIT (the IVF-PQ probe's tile gather) is new
    // source on every execution. Every other class comes from the cache.
    val renamed = (src: String) => src.replaceAll("_limit_counter_\\d+", "_limit_counter_N")
    val fresh = second.filterNot(_.contains("_limit_counter_"))
    assert(fresh.isEmpty, s"the repeated pass compiled ${fresh.size} cacheable classes " +
      s"(${second.size} in all, the first pass ${first.size})")
    assert(second.map(renamed).toSet.subsetOf(first.map(renamed).toSet))
  }
}
