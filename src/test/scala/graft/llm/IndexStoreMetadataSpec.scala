package graft.llm

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IndexStore's metadata plane (listing, footer reads, schema
  * resolution) runs on the driver with no OS process and no Spark job:
  * the local FileSystem forks `ls -ld` for any file permission it is
  * asked for, and Spark's schema inference is a job per scan. */
class IndexStoreMetadataSpec extends SparkSpec {
  import spark.implicits._

  /** A partitioned artifact with two segments (a save and an append), a
    * Spark-written aux table (`stats`, not a local relation) and a
    * driver-written one (`model`). */
  private lazy val artifact: String = {
    val path = java.nio.file.Files.createTempDirectory("graft_meta_plane_").toString
    val rows = spark.range(0, 40).select(col("id").as("doc_id"),
      (col("id") % 4).cast("int").as("cell"), (col("id") * 0.5).as("w"))
    IndexStore.save(rows, path, Map("kind" -> "t", "key" -> "doc_id"),
      partitionBy = Seq("cell"),
      aux = Map("stats" -> rows.groupBy("cell").agg(count(lit(1)).as("n")),
        IndexStore.ModelTable -> IndexStore.modelDf(spark,
          Map("centroids" -> Array(Array(1.0, 2.0), Array(3.0, 4.0))))))
    IndexStore.append(Seq((100L, 1, 7.5), (101L, 2, 8.0)).toDF("doc_id", "cell", "w"), path)
    path
  }

  private def segDirs(path: String): Seq[String] =
    IndexStore.manifestEntries(spark, path).map(e => s"$path/${e.dir}")

  /** Jobs started from this thread while `body` runs, counted after an
    * exact drain of the listener bus. Jobs are matched on a local
    * property of this thread, so another suite's jobs never count. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.spec.tag") == tag)
          n.incrementAndGet()
    }
    GraftListenerBus.drain(sc)
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.spec.tag", tag)
    try {
      val r = body
      GraftListenerBus.drain(sc)
      (r, n.get)
    } finally {
      sc.setLocalProperty("graft.spec.tag", null)
      sc.removeSparkListener(l)
    }
  }

  test("the metadata plane starts no OS process from the calling thread") {
    val path = artifact
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val tid = Thread.currentThread().getId
    rec.start()
    try {
      IndexStore.manifestEntries(spark, path)
      IndexStore.readMeta(spark, path)
      IndexStore.load(spark, path)
      IndexStore.loadAux(spark, path, "stats")
      IndexStore.verifyManifest(spark, path)
      IndexStore.dataFileCount(spark, path)
      IndexStore.segmentsFor(spark, path, Seq(5L, 100L))
    } finally rec.stop()
    val file = java.nio.file.Files.createTempFile("graft_meta_plane_", ".jfr")
    try {
      rec.dump(file)
      val started = jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.filter { e =>
        e.getEventType.getName == "jdk.ProcessStart" &&
          e.getThread != null && e.getThread.getJavaThreadId == tid
      }.map(_.getString("command"))
      assert(started.isEmpty,
        s"${started.size} processes started: ${started.take(5).mkString("; ")}")
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(file)
    }
  }

  test("load and loadAux build their frames without a job") {
    val path = artifact
    assert(segDirs(path).size == 2)
    val (loaded, loadJobs) = jobsDuring(IndexStore.load(spark, path))
    assert(loadJobs == 0, s"IndexStore.load launched $loadJobs jobs")
    val (_, auxJobs) = jobsDuring {
      IndexStore.loadAux(spark, path, "stats")
      IndexStore.loadAux(spark, path, IndexStore.ModelTable)
    }
    assert(auxJobs == 0, s"IndexStore.loadAux launched $auxJobs jobs")
    assert(loaded.count() == 42)
  }

  test("the footer schema equals the schema Spark infers for the same directories") {
    val path = artifact
    val inferred: DataFrame =
      segDirs(path).map(spark.read.parquet(_)).reduce(_ unionByName _)
    assert(IndexStore.load(spark, path).schema == inferred.schema)
    val gen = IndexStore.resolveDir(spark, path)
    Seq("stats", IndexStore.ModelTable).foreach { aux =>
      assert(IndexStore.loadAux(spark, path, aux).schema ==
        spark.read.parquet(s"$gen/$aux").schema, s"aux table $aux")
    }
    // an unpartitioned artifact loads as one scan over its segments
    val flat = java.nio.file.Files.createTempDirectory("graft_meta_flat_").toString
    IndexStore.save(spark.range(5).select(col("id"), col("id").cast("string").as("s")),
      flat, Map("kind" -> "t"))
    IndexStore.append(Seq((9L, "9")).toDF("id", "s"), flat)
    assert(IndexStore.load(spark, flat).schema ==
      spark.read.parquet(segDirs(flat): _*).schema)
  }

  test("append without a derive launches only its write's jobs") {
    val path = java.nio.file.Files.createTempDirectory("graft_meta_append_").toString
    IndexStore.save(spark.range(10).select(col("id").as("doc_id"),
      (col("id") % 3).cast("int").as("cell")), path, Map("kind" -> "t"),
      partitionBy = Seq("cell"))
    val batch = Seq((20L, 1), (21L, 2)).toDF("doc_id", "cell")
    val scratch = java.nio.file.Files.createTempDirectory("graft_meta_write_").toString
    val (_, writeJobs) = jobsDuring(
      batch.write.mode("overwrite").partitionBy("cell").parquet(scratch))
    val (added, appendJobs) = jobsDuring(IndexStore.append(batch, path))
    assert(added)
    assert(appendJobs == writeJobs,
      s"append launched $appendJobs jobs, its segment write alone takes $writeJobs")
    assert(IndexStore.load(spark, path).count() == 12)
  }
}
