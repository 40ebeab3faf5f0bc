package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What the declared llm queries share: where they keep their on-disk
  * artifacts, the bound on a stream drive's micro-batch, and the two
  * helpers their cold-probe certifications use — a save run once per
  * application, and a small result frame rebuilt inside another
  * session. */
object ArtifactQueries {

  /** Per-application scratch root for certification artifacts (the
    * rows own their save+load cost; reps overwrite in place). */
  def tempRoot(s: SparkSession): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_idx_${s.sparkContext.applicationId}"

  /** The artifact `name` of the fixture at `d`, under [[tempRoot]]. */
  def artifactPath(s: SparkSession, d: String, name: String): String =
    s"${tempRoot(s)}/${java.lang.Integer.toHexString(d.hashCode)}/$name"

  /** Largest micro-batch slice a stream-drive harness may collect to
    * feed MemoryStream (the drives are certification harnesses — a
    * production loop ingests from a real source and never collects).
    * Enforced with the one-execution limit-probe pattern at every
    * drive's collect. */
  private[llm] val maxStreamSlice: Int = 1 << 20

  private val savedOnce =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()

  /** Run `save` once per (application, path): the on-disk artifact IS
    * the standing index, so writing it is the amortized one-time build
    * — cold-probe rows then measure the marginal restart path (load +
    * probe), the same cost convention the warm probes follow with their
    * pinned frames. The full artifact-write cost class has a dedicated
    * owner (`x_sim_index_rebuild` rebuilds its artifact and saves it
    * over the live one every rep). */
  def saveOnce(s: SparkSession, path: String)(save: => Unit): Unit =
    if (savedOnce.add((s.sparkContext.applicationId, path))) save

  /** Largest frame [[recreate]] may collect — certification results are
    * |queries| × k probe outputs or fixture-bounded candidate sets, so a
    * breach means a corpus-sized frame was handed to a certification
    * helper by mistake. */
  private[llm] val maxRecreateRows: Long = 1L << 20

  /** Rebuild a SMALL result frame inside another session of the same
    * context (cold-probe certification joins a fresh-session result
    * against warm-session baselines; plans from different sessions must
    * not mix in one tree). Bounded by the certification contract — probe
    * outputs are |queries| × k, candidate sets fixture-bounded. */
  def recreate(target: SparkSession, df: DataFrame): DataFrame = {
    // budget the collect loudly, in ONE execution: collect at most
    // budget+1 rows — a breach still dies with the contract named and
    // never OOMs the driver, but the certification pipeline (often a
    // whole cold probe) is not run twice for a count
    val bounded = df.limit((maxRecreateRows + 1).toInt).collect()
    require(bounded.length <= maxRecreateRows,
      s"ArtifactQueries.recreate: frame carries at least ${maxRecreateRows + 1} " +
        s"rows, over maxRecreateRows ($maxRecreateRows; the one-execution " +
        "probe stops counting at budget+1) — recreate is for " +
        "certification-sized probe outputs, not corpus-scale frames")
    val rows = new java.util.ArrayList[Row]()
    bounded.foreach(rows.add)
    target.createDataFrame(rows, df.schema)
  }
}
