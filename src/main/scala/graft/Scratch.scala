package graft

/** This process's scratch root: one directory under `java.io.tmpdir`
  * whose name carries the process id, created on first use and removed,
  * with everything under it, by a JVM shutdown hook. Files a row writes
  * and then returns a LAZY frame over live here — the frame outlives
  * the row, so the row cannot delete them itself — and so do per-process
  * table copies that two JVMs on one machine must not share. */
object Scratch {
  lazy val root: java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(
      s"graft-${ProcessHandle.current().pid()}-")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)))
    dir
  }

  private val seq = new java.util.concurrent.atomic.AtomicLong()

  /** A fresh, not yet existing path under [[root]]: `<prefix>-<n>`. */
  def fresh(prefix: String): String =
    root.resolve(s"$prefix-${seq.incrementAndGet()}").toString
}
