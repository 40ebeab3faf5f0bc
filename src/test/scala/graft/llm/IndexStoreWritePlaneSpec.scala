package graft.llm

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{GraftLocalFileSystem, SparkSpec}
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IndexStore's write plane (segment writes, the output-commit protocol,
  * manifests, sidecars, aux tables and the pointer flip) creates its
  * files and directories without an OS process: a graft session's
  * `file:` FileSystem is [[GraftLocalFileSystem]], which sets
  * permissions in-process with the bits Hadoop's own would set. */
class IndexStoreWritePlaneSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  /** Permission bits of a local path, sticky/setuid/setgid included. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  private def octal(s: String): Short = Integer.parseInt(s, 8).toShort

  test("a graft session resolves file: to the graft FileSystem") {
    assert(FileSystem.get(new URI("file:///"), conf).getClass == classOf[GraftLocalFileSystem])
    assert(FileSystem.getLocal(conf).getClass == classOf[GraftLocalFileSystem])
    assert(new Path(System.getProperty("java.io.tmpdir")).getFileSystem(conf).getClass ==
      classOf[GraftLocalFileSystem])
  }

  test("save, append with and without derive, and compact start no OS process on any thread") {
    def rows(lo: Long, hi: Long): DataFrame = spark.range(lo, hi).select(col("id").as("doc_id"),
      (col("id") % 4).cast("int").as("cell"), (col("id") * 0.5).as("w"))
    def stats(df: DataFrame): DataFrame = df.groupBy("cell").agg(count(lit(1)).as("n"))
    def cycle(path: String): Unit = {
      IndexStore.save(rows(0, 40), path, Map("kind" -> "t", "key" -> "doc_id"),
        partitionBy = Seq("cell"),
        aux = Map("stats" -> stats(rows(0, 40)),
          IndexStore.ModelTable -> IndexStore.modelDf(spark,
            Map("centroids" -> Array(Array(1.0, 2.0), Array(3.0, 4.0))))))
      assert(IndexStore.append(rows(40, 50), path))
      assert(IndexStore.append(rows(50, 60), path, Some((seg, meta) =>
        (Map("n" -> (meta.getOrElse("n", "0").toLong + seg.count()).toString),
          Map("stats" -> stats(seg))))))
      IndexStore.compact(spark, path)
    }
    val root = Files.createTempDirectory("graft_write_plane_").toString
    // one cycle before recording: a once-per-JVM probe (Hadoop's Shell
    // checks for `setsid` when its class loads) is not the write plane's
    cycle(s"$root/warm")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try cycle(s"$root/idx") finally rec.stop()
    val file = Files.createTempFile("graft_write_plane_", ".jfr")
    try {
      rec.dump(file)
      // Spark's heartbeat reads the page size once per JVM (`getconf
      // PAGESIZE`), whenever its first metrics poll falls; it writes no file
      def heartbeatProbe(e: jdk.jfr.consumer.RecordedEvent): Boolean =
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.spark.executor.ProcfsMetricsGetter")))
      val started = jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" && !heartbeatProbe(e))
        .map(e => s"${Option(e.getThread).map(_.getJavaName).orNull}: ${e.getString("command")}")
      assert(started.isEmpty,
        s"${started.size} processes started: ${started.take(5).mkString("; ")}")
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
    assert(IndexStore.load(spark, s"$root/idx").count() == 60)
    assert(IndexStore.readMeta(spark, s"$root/idx")("n") == "10")
  }

  test("files and directories get the permission bits Hadoop's stock local FileSystem gives") {
    val stock = new LocalFileSystem()
    stock.initialize(new URI("file:///"), conf)
    val graftFs = FileSystem.get(new URI("file:///"), conf)
    assert(graftFs.isInstanceOf[GraftLocalFileSystem] && !stock.isInstanceOf[GraftLocalFileSystem])
    val root = Files.createTempDirectory("graft_fs_bits_").toString
    def layout(fs: FileSystem, dir: String): Unit = {
      fs.mkdirs(new Path(s"$dir/a/b"))
      fs.mkdirs(new Path(s"$dir/m"), new FsPermission(octal("750")))
      fs.create(new Path(s"$dir/a/f")).close()
      FileSystem.create(fs, new Path(s"$dir/g"), new FsPermission(octal("640"))).close()
      fs.create(new Path(s"$dir/h")).close()
      fs.setPermission(new Path(s"$dir/h"), new FsPermission(octal("604")))
    }
    layout(stock, s"$root/stock")
    layout(graftFs, s"$root/graft")
    val names = Seq("a", "a/b", "m", "a/f", "a/.f.crc", "g", ".g.crc", "h", ".h.crc")
    names.foreach(n => assert(Files.exists(Paths.get(s"$root/graft/$n")), n))
    val diff = names.filter(n => mode(s"$root/graft/$n") != mode(s"$root/stock/$n"))
      .map(n => f"$n: ${mode(s"$root/graft/$n")}%o vs ${mode(s"$root/stock/$n")}%o")
    assert(diff.isEmpty, diff.mkString("; "))
    assert(mode(s"$root/graft/h") == octal("604"))
  }

  test("a permission request beyond rwx, such as the sticky bit, still takes effect") {
    val fs = FileSystem.get(new URI("file:///"), conf)
    val dir = Files.createTempDirectory("graft_fs_sticky_").toString
    fs.setPermission(new Path(dir), new FsPermission(octal("1777")))
    assert(mode(dir) == octal("1777"), f"${mode(dir)}%o")
    fs.setPermission(new Path(dir), new FsPermission(octal("700")))
    assert(mode(dir) == octal("700"), f"${mode(dir)}%o")
  }
}
